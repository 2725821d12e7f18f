"""spark-graft benchmark: one workload per run, one closed-loop client.

    python3 perfbench/run.py --workload relational_mix --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. A run sets up once, in a fresh JVM:
it builds the SparkSession and touches every input. It then runs passes
over the workload until ``--seconds`` have passed, at least one. The
first pass in the fresh JVM is what a freshly started batch job pays; it
also checks every operation's output, outside the timers. With
``--trace 0`` the last stdout line holds the end-to-end metrics. With
``--trace 1`` the same run is made with Spark's event log on, a job
group per operation phase and spans around the program's layer entry
points, and the last line holds the per-layer metrics. Generated inputs, warehouses, event
logs and span dumps go under ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
from datetime import date

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workloads as wl  # noqa: E402

DATA_SEED = 42  # the registry tables are fixed; the run seed orders the queries
CONF_PREFIXES = ("spark.master", "spark.driver.memory", "spark.sql.", "spark.eventLog.enabled")


def driver_mem() -> str:
    """A quarter of the host's memory, at most 4 GiB."""
    with open("/proc/meminfo") as f:
        kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return f"{max(1, min(4, kb // (4 * 1024 * 1024)))}g"


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_s(pids: list[int]) -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by the given processes."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples above it, as
    (value, percentile, sample count); the maximum when fewer than 21
    samples leave no such percentile above the median."""
    s = sorted(samples)
    n = len(s)
    k = n - 11 if n > 20 else n - 1
    return s[k], 100.0 * k / max(n - 1, 1), n


class Bench:
    def __init__(self, w: wl.Workload, seed: int, seconds: float, traced: bool, work: str):
        self.w, self.seed, self.seconds, self.traced = w, seed, seconds, traced
        self.work = work
        self.cpus = len(os.sched_getaffinity(0))
        self.rng = random.Random(seed)
        self.spark = None
        self.tracer = None
        self.wrappers = None
        self.event_log = os.path.join(work, f"eventlog-{os.getpid()}") if traced else None
        self.pids: list[int] = []  # this process and the driver JVM
        self.passes: list[dict] = []
        self.unexpected: list[str] = []
        self.known: list[str] = []

    # -- session -------------------------------------------------------

    def build(self) -> float:
        from doeecommerce_datapipeline_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
        }
        if self.event_log:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.event_log,
                    "spark.eventLog.rolling.enabled": "false",
                    "spark.eventLog.compress": "false",
                }
            )
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=self.cpus, shuffle_partitions=self.cpus, extra_conf=conf)
        return time.perf_counter() - t0

    def shutdown(self) -> float:
        """Stop Spark, end the JVM and wait for it; return the JVM's
        peak resident memory in MB."""
        from pyspark import SparkContext

        proc = SparkContext._gateway.proc
        self.spark.stop()
        self.spark = None
        hwm = vm_hwm_mb(proc.pid)
        SparkContext._gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
        return hwm

    # -- inputs --------------------------------------------------------

    def prepare(self) -> None:
        if self.w.kind == "registry":
            import datagen

            self.sf_dir = datagen.ensure(os.path.join(self.work, "data"), self.w.sf, DATA_SEED)
            spec = importlib.util.spec_from_file_location("perfbench_oracle", os.path.join("tests", "oracle.py"))
            self.oracle = importlib.util.module_from_spec(spec)
            spec.loader.exec_module(self.oracle)
            import __spark_entry__ as entry

            reg, sql = entry.queries(), entry.oracle_sql()
            self.queries = {n: reg[n] for n in self.w.queries}
            self.oracle_sql = {n: sql[n] for n in self.w.queries}
        else:
            self.days = wl.daily_records(self.w, self.seed)
            self.input_bytes = sum(wl.records_bytes(d) for d in self.days)
            self.kpi_date = date.today()

    def touch_inputs(self) -> None:
        """Read one row of every input: each parquet table through
        ``io.table``, each source's records through ``RecordsSource``."""
        if self.w.kind == "registry":
            from doeecommerce_datapipeline_spark.io import TABLES, table

            for t in TABLES:
                table(self.spark, self.sf_dir, t).limit(1).collect()
        else:
            from doeecommerce_datapipeline_spark.pipelines.runner import RAW_SCHEMAS
            from doeecommerce_datapipeline_spark.sources.rest import RecordsSource

            for t in wl.MEDALLION_TABLES:
                RecordsSource(self.spark, RAW_SCHEMAS[t]).to_df(self.days[0][t]).limit(1).collect()

    def setup(self) -> tuple[float, float]:
        """Start the JVM, build the session and touch every input, the
        cold start a freshly started job pays; return the times of (session
        build, whole set-up)."""
        t0 = time.perf_counter()
        build = self.build()
        self.touch_inputs()
        return build, time.perf_counter() - t0

    # -- one operation -------------------------------------------------

    def op_span(self, op: str):
        if not self.tracer:
            return contextlib.nullcontext()
        self.tracer.op = op
        return self.tracer.span("op")

    @contextlib.contextmanager
    def phase(self, name: str):
        """A span and a job group for one phase of an operation. The group
        is cleared on exit, so jobs of the untimed output check that
        follows carry none and no layer counts them."""
        if not self.tracer:
            yield
            return
        sc = self.spark.sparkContext
        group = f"{self.tracer.op}:{name}"
        sc.setJobGroup(group, name)
        try:
            with self.tracer.span(name, group=group):
                yield
        finally:
            sc._jsc.clearJobGroup()

    def cache_left(self) -> tuple[int, int]:
        """Relations in Spark's CacheManager, and bytes its storage holds."""
        entries = self.spark._jsparkSession.sharedState().cacheManager().numCachedEntries()
        info = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return int(entries), int(sum(i.memSize() + i.diskSize() for i in info))

    def registry_op(self, name: str, check: bool) -> dict:
        """Run one query to the noop sink. Wall and CPU time cover the
        query alone; the output check runs after both are read."""
        from doeecommerce_datapipeline_spark.operators import session_cache

        # cold-state rule: no operator memo or SQL-cache entry survives
        # from the previous operation
        session_cache.clear_all()
        self.spark.catalog.clearCache()
        problems: list[str] = []
        with self.op_span(name):
            t0, c0 = time.perf_counter(), cpu_s(self.pids)
            try:
                with self.phase("operators.construct"):
                    df = self.queries[name](self.spark, self.sf_dir)
                with self.phase("plan"):
                    df._jdf.queryExecution().executedPlan()
                with self.phase("exec"):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # a raising operation counts as failed
                problems.append(f"raised {exc!r}"[:500])
            wall, cpu = time.perf_counter() - t0, cpu_s(self.pids) - c0
        relations, nbytes = self.cache_left()
        if check and not problems:
            # untimed: collect the same DataFrame and compare it with the
            # DuckDB twin at the workload's scale
            try:
                problems = self.oracle.compare(df, self.oracle_sql[name], self.sf_dir)
            except Exception as exc:
                problems.append(f"check raised {exc!r}"[:500])
        self.unexpected += [f"{name}: {p}" for p in problems]
        return {"name": name, "wall": wall, "cpu": cpu, "failed": bool(problems),
                "cache_relations": relations, "cache_bytes": nbytes}

    def medallion_op(self, base: str, ledger, day: int, check: bool, before: wl.FileState) -> dict:
        import checks
        from doeecommerce_datapipeline_spark.pipelines import runner

        recs = self.days[day]
        tables = wl.day_tables(day)
        fns = {t: (lambda r=recs[t]: r) for t in tables}
        problems: list[str] = []
        gate = None
        with self.op_span(f"day{day + 1}"):
            t0, c0 = time.perf_counter(), cpu_s(self.pids)
            try:
                with self.phase("bronze"):
                    runner.run_ingestion(self.spark, base, ledger, tables, fns, "perfbench")
                with self.phase("silver"):
                    runner.run_transformation(self.spark, base, tables)
                with self.phase("quality"):
                    gate = runner.run_quality(self.spark, base)
                with self.phase("gold"):
                    runner.run_gold(self.spark, base, self.kpi_date)
            except Exception as exc:
                problems.append(f"raised {exc!r}"[:500])
            wall, cpu = time.perf_counter() - t0, cpu_s(self.pids) - c0
        relations, nbytes = self.cache_left()
        created = wl.FileState.scan(base).created_since(before)
        quality = checks.quality_rows(created)
        if not problems:
            problems = checks.medallion_day(base, quality, gate, verify=check)
        sink = self.known if checks.known_baseline(problems, day) else self.unexpected
        sink += [f"day{day + 1}: {p}" for p in problems]
        return {"name": f"day{day + 1}", "wall": wall, "cpu": cpu, "failed": bool(problems), "quality_rows": quality,
                "files_created": created, "cache_relations": relations, "cache_bytes": nbytes}

    # -- passes --------------------------------------------------------

    def registry_pass(self, check: bool) -> dict:
        order = wl.query_order(self.w.queries, self.rng)
        return {"ops": [self.registry_op(n, check) for n in order]}

    def medallion_pass(self, check: bool) -> dict:
        from doeecommerce_datapipeline_spark.audit.ledger import AuditLedger

        base = wl.fresh_warehouse(os.path.join(self.work, "warehouse"))
        ledger = AuditLedger(self.spark, f"{base}/audit/ingestion_log")
        state = wl.FileState.scan(base)
        ops, written = [], 0
        for day in range(self.w.days):
            op = self.medallion_op(base, ledger, day, check, state)
            state = wl.FileState.scan(base)
            written += sum(op["files_created"].values())
            ops.append(op)
        return {"ops": ops, "write_amp": written / self.input_bytes,
                "space_amp": state.total() / self.input_bytes}

    def run_passes(self) -> None:
        """Timed passes until ``seconds`` have passed, at least one. The
        first pass also checks every output, outside the timers. A pass's
        wall and CPU time are the sums over its operations."""
        one = self.registry_pass if self.w.kind == "registry" else self.medallion_pass
        from pyspark import SparkContext

        self.pids = [os.getpid(), SparkContext._gateway.proc.pid]
        t0 = time.perf_counter()
        while not self.passes or time.perf_counter() - t0 < self.seconds:
            p = one(check=not self.passes)
            p["cpu"] = sum(o["cpu"] for o in p["ops"])
            p["wall"] = sum(o["wall"] for o in p["ops"])
            self.passes.append(p)
            print(f"# pass {len(self.passes)}: {p['wall']:.3f} s; "
                  + ", ".join(f"{o['name']} {o['wall']:.3f}" for o in p["ops"]), flush=True)

    def start_tracing(self) -> None:
        import spans

        self.tracer = spans.Tracer()
        self.wrappers = spans.Wrappers(self.tracer)
        self.wrappers.install()

    # -- the run -------------------------------------------------------

    def run(self) -> dict:
        self.prepare()
        if self.event_log:
            shutil.rmtree(self.event_log, ignore_errors=True)
            os.makedirs(self.event_log)
        build_s, setup_s = self.setup()
        conf = sorted(
            (k, v) for k, v in self.spark.sparkContext.getConf().getAll() if k.startswith(CONF_PREFIXES)
        )
        for k, v in conf:
            print(f"# conf {k}={v}")
        if self.traced:
            self.start_tracing()
        try:
            self.run_passes()
        finally:
            if self.wrappers:
                self.wrappers.remove()
        rss_mb = vm_hwm_mb(os.getpid()) + self.shutdown()

        ops = [o for p in self.passes for o in p["ops"]]
        batch_wall = statistics.median(p["wall"] for p in self.passes)
        for line in self.known:
            print(f"# known baseline failure: {line}")
        for line in self.unexpected:
            print(f"# FAILED: {line}")
        samples = [o["wall"] for o in ops]
        tail_v, tail_p, n = tail(samples)
        ops_stats = {"op_wall_p50_s": statistics.median(samples), "op_wall_tail_s": tail_v, "peak_rss_mb": rss_mb}
        print(f"# op_wall_p50_s {ops_stats['op_wall_p50_s']:.3f}, op_wall_tail_s {tail_v:.3f} "
              f"(p{tail_p:.1f} of {n} operations), peak_rss_mb {rss_mb:.1f}")
        if self.traced:
            metrics = self.per_layer(build_s, batch_wall, ops_stats)
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "batch_wall_s": {"value": batch_wall, "unit": "s"},
                "batch_cpu_s": {"value": statistics.median(p["cpu"] for p in self.passes), "unit": "s"},
            }
        return {"correct": not self.unexpected, "attempted": len(ops),
                "failed": sum(o["failed"] for o in ops), "metrics": metrics}

    def per_layer(self, build_s: float, batch_wall: float, ops_stats: dict[str, float]) -> dict:
        import layers
        import spans

        dump = os.path.join(self.work, f"spans-{self.w.name}-{self.seed}.jsonl")
        self.tracer.dump(dump)
        print(f"# spans written to {os.path.relpath(dump)}")
        jobs, per_stage = spans.read_event_logs(self.event_log)
        shutil.rmtree(self.event_log, ignore_errors=True)
        return layers.per_layer(self.tracer.spans, jobs, per_stage, self.passes, self.cpus,
                                build_s=build_s, batch_wall_s=batch_wall, ops_stats=ops_stats)


def program_present(root: str) -> bool:
    return os.path.isfile(os.path.join(root, "__spark_entry__.py")) and os.path.isdir(
        os.path.join(root, "doeecommerce_datapipeline_spark")
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test size: sf0.001, small batches, one pass")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not program_present(root):
        print("perfbench: run from the root of a spark-graft checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(HERE, ".work")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    # both JVMs the Spark launcher starts: temp files in the checkout, and
    # no hsperfdata file under the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_DRIVER_MEM", driver_mem())

    w = wl.WORKLOADS[args.workload]
    if args.tiny:
        w = wl.tiny(w)
    result = Bench(w, args.seed, args.seconds, bool(args.trace), work).run()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
