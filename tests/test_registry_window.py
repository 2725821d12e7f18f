"""The query registry must be well-formed: queries() serves its one dict
literal as declared, with no repeated key, the 50-entry check window
at its head, and every name bound to a callable."""

import ast
import json
import os

import __spark_entry__ as entrymod

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WINDOW = 50


def _records_through(last_round):
    rec = set()
    for r in range(1, last_round + 1):
        path = os.path.join(HERE, f"CORRECTNESS_r0{r}.json")
        with open(path) as f:
            rec.update(json.load(f))
    return rec


def _registry_source():
    with open(entrymod.__file__) as f:
        return f.read()


def _registry_keys(src):
    """(name, line) for each key of the dict literal inside queries()."""
    tree = ast.parse(src)
    fn = next(
        n
        for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == "queries"
    )
    d = next(n for n in ast.walk(fn) if isinstance(n, ast.Dict))
    return [(k.value, k.lineno) for k in d.keys]


def test_window_names_resolve_and_lead():
    """The window is the head of the literal: the end-of-window marker
    sits between entry 50 and entry 51, and every window name maps to
    a callable."""
    src = _registry_source()
    keys = _registry_keys(src)
    assert len(keys) >= WINDOW, f"registry has only {len(keys)} entries"
    marker = next(
        i
        for i, line in enumerate(src.splitlines(), start=1)
        if "end of 50-entry check window" in line
    )
    assert keys[WINDOW - 1][1] < marker < keys[WINDOW][1], (
        "end-of-window marker must follow entry 50"
    )
    q = entrymod.queries()
    for name, _ in keys[:WINDOW]:
        assert callable(q[name]), name


def test_reorder_loses_nothing():
    """queries() serves the literal as declared: same names, same order,
    every one bound to a callable."""
    q = entrymod.queries()
    assert len(q) >= 336
    assert list(q) == [name for name, _ in _registry_keys(_registry_source())]
    for name, fn in q.items():
        assert callable(fn), name


def test_registry_literal_has_no_duplicate_keys():
    """A repeated key in a dict literal keeps its FIRST position and its
    LAST value, so an entry copied into the window without deleting the
    original passes every order and callable check while the second
    line is dead."""
    names = [name for name, _ in _registry_keys(_registry_source())]
    dups = sorted({n for n in names if names.count(n) > 1})
    assert not dups, f"repeated registry keys: {dups}"


def test_ledger_complete_through_r8():
    """Since r8 every registry entry has a driver record — the
    currency-rotation precondition."""
    missing = set(entrymod.queries()) - _records_through(8)
    assert not missing, f"entries with no driver record: {sorted(missing)}"


def test_oracle_sql_values_have_no_doubled_backslash():
    """Escape-hygiene guard (r6 regression class): a doubled backslash
    in an oracle SQL VALUE means a regex literal like \\s+ arrives at
    DuckDB escaped — string_split_regex silently stops splitting and
    six shingle-family twins go degenerate at sf0.1 while the unit
    suite stays green. Source-level escape style is free (raw vs
    non-raw strings); the VALUE must never carry a double backslash.

    Allowlist mechanism (ADVICE r6): an oracle that genuinely needs to
    match a literal backslash character (DuckDB regex value `\\\\`)
    earns an entry in _DOUBLED_BACKSLASH_OK with a comment saying
    which literal it matches; the guard then checks the rest.
    """
    _DOUBLED_BACKSLASH_OK: set[str] = set()  # none today

    bad = {
        k
        for k, v in entrymod.oracle_sql().items()
        if "\\\\" in v and k not in _DOUBLED_BACKSLASH_OK
    }
    assert not bad, f"doubled backslash in oracle SQL value(s): {sorted(bad)}"
