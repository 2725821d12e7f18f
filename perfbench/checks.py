"""Output checks for the medallion workload, made with DuckDB on the
parquet files the pipeline wrote, independently of Spark.

Known baseline failure: from the second daily batch on, silver ``users``
holds duplicate emails, so the quality gate's ``users``/``email``
``duplicate_check`` fails. ``upsert`` keys silver users on ``user_id``
while ``transform_users`` deduplicates by email, so two days can keep
two user ids for one email. It is counted as a failed operation; it
does not make the run incorrect.
"""

from __future__ import annotations

import os

import duckdb

SILVER_KEYS = {
    "products": "product_id",
    "carts": "cart_id",
    "users": "user_id",
    "orders": "order_id",
}
KNOWN_BASELINE = ("users", "duplicate_check", "email")


def quality_rows(created: dict[tuple[str, int], int]) -> list[tuple]:
    """The quality-check rows one batch appended: (table, check, column,
    violations, passed)."""
    files = sorted(
        p for (p, _ino) in created if f"{os.sep}quality_results{os.sep}" in p and p.endswith(".parquet")
    )
    if not files:
        return []
    con = duckdb.connect()
    try:
        return con.execute(
            'SELECT "table", "check", "column", violations, passed FROM read_parquet(?) '
            'ORDER BY 1, 2, 3',
            [files],
        ).fetchall()
    finally:
        con.close()


def _silver(base: str, t: str) -> str:
    return f"read_parquet('{base}/silver/{t}/*.parquet')"


def medallion_day(base: str, quality: list[tuple], gate: bool | None, verify: bool) -> list[str]:
    """Problems with one daily batch: failed quality checks, a gate
    result that disagrees with them, and, when ``verify``, quality
    counts that disagree with a recount and silver keys that are not
    unique."""
    problems = [f"quality {t}.{c} {chk}: {v} violations" for t, chk, c, v, ok in quality if not ok]
    if gate is None or gate != (not problems and bool(quality)):
        problems.append(f"quality gate returned {gate} for {len(quality)} check rows")
    if not verify:
        return problems
    con = duckdb.connect()
    try:
        for t, chk, c, v, _ok in quality:
            if chk == "null_check":
                sql = f'SELECT count(*) FROM {_silver(base, t)} WHERE "{c}" IS NULL'
            else:
                sql = (
                    f'SELECT count(*) FROM (SELECT "{c}" FROM {_silver(base, t)} '
                    f'WHERE "{c}" IS NOT NULL GROUP BY 1 HAVING count(*) > 1)'
                )
            expected = con.execute(sql).fetchone()[0]
            if expected != v:
                problems.append(f"quality {t}.{c} {chk} reported {v}, recount {expected}")
        for t, key in SILVER_KEYS.items():
            n, distinct = con.execute(f'SELECT count(*), count(DISTINCT "{key}") FROM {_silver(base, t)}').fetchone()
            if n != distinct:
                problems.append(f"silver {t} has {n - distinct} repeated {key} values")
    finally:
        con.close()
    return problems


def known_baseline(problems: list[str], day: int) -> bool:
    """True when the only problem is the documented baseline failure,
    on the second day or later."""
    t, chk, c = KNOWN_BASELINE
    return day >= 1 and len(problems) == 1 and problems[0].startswith(f"quality {t}.{c} {chk}:")
