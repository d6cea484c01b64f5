"""Seeded, checked benchmark of the engine's public entry points.

    python3 perfbench/run.py --workload llm_dedup --seed 1 --seconds 22 --trace 0

Run from the root of a checkout. One process, one closed-loop client (a
statement is sent when the previous one has returned) on
``local[min(cores, 4)]``. Every run builds the session and the
workload's fixtures, runs each distinct statement once untimed and checks
it against its DuckDB oracle, then times whole rounds over all
statements in a seeded order and checks every timed result too.
``peak_rss_mb`` is the driver JVM's peak over the whole run plus the
Python process's peak over the timed rounds, so that building fixtures
and running cold DuckDB oracles in the Python process does not count.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` traces every
other statement and prints the per-layer metrics, including the tracing
overhead (traced against untraced latency of the same statements). The
last stdout line is the JSON result; the line before it says how the
numbers were taken. Everything the run writes stays
under ``perfbench/.run``.
"""

import time

T0 = time.perf_counter()  # process start, for setup_s

import argparse  # noqa: E402
import fcntl  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

from checks import OracleCache, canonical, diff, plan_loss  # noqa: E402
from datagen import ensure_dataset  # noqa: E402
from layers import METRICS, per_layer  # noqa: E402
from tracing import (  # noqa: E402
    SparkProbe, Tracer, catalyst_phases, reset_peak_rss, vm_hwm_mb,
)
from workloads import WORKLOADS, write_kind  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(HERE, ".run")
WORK = os.path.join(STATE, "work")
# every statement gets at least two timed samples, and a traced run
# traces each statement in one round and leaves it untraced in the other
MIN_ROUNDS = 2


def prepare_environment() -> int:
    """Point every scratch location of Spark, the engine and Python at
    the run's work directory; pin parallelism. Returns the core count.
    Exits if another run holds the checkout: runs share ``.run``."""
    os.makedirs(STATE, exist_ok=True)
    lock = open(os.path.join(STATE, "lock"), "w")  # held until exit
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        sys.exit("perfbench: another run is using this checkout")
    globals()["_LOCK"] = lock
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("scratch", "local", "tmp"):
        os.makedirs(os.path.join(WORK, d))
    cores = min(4, len(os.sched_getaffinity(0)))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_SCRATCH": os.path.join(WORK, "scratch"),
        "SPARK_GRAFT_PROTECT": os.path.join(STATE, "data"),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "local"),
        "TMPDIR": os.path.join(WORK, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "TZ": "UTC",
    })
    time.tzset()
    sys.path.insert(0, ROOT)
    return cores


def build_session(workload, tracer):
    """The engine's own session; only scratch locations and logging are
    set here, so its driver memory and collector are what it ships with."""
    from hive_2_3_2_spark.session import ENGINE_CONFS, get_spark

    java_opts = (
        f"{ENGINE_CONFS['spark.driver.extraJavaOptions']} "
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    )
    with tracer.span("session.build_s"):
        spark = get_spark(
            app_name=f"perfbench-{workload.name}",
            extra_confs={
                "spark.driver.extraJavaOptions": java_opts,
                "spark.ui.showConsoleProgress": "false",
            },
        )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def tree_files(path: str) -> dict[str, int]:
    out = {}
    for dirpath, _, files in os.walk(path):
        for f in files:
            p = os.path.join(dirpath, f)
            out[p] = os.path.getsize(p)
    return out


class Runner:
    """Executes and checks statements; keeps latencies and trace records."""

    def __init__(self, spark, workload, tracer, con):
        from hive_2_3_2_spark.engine import rewrite_hiveql

        self.spark, self.w, self.tracer, self.con = spark, workload, tracer, con
        self.rewrite_hiveql = rewrite_hiveql
        self.reference: dict[str, object] = {}  # sid -> warm-up result
        self.census: dict[str, object] = {}  # sid -> warm-up plan census
        self.probe = None
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.samples: list[tuple[str, float, bool]] = []  # sid, latency, traced
        self.records: list[dict] = []
        self.seq = 0
        self.check_s = 0.0  # time spent checking results, not running them

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(msg)

    def run(self, stmt, phase: str, traced: bool) -> None:
        """Run one statement; ``phase`` is "warmup" or "timed"."""
        self.attempted += 1
        self.seq += 1
        gid = f"{stmt.sid}#{self.seq}"
        self.tracer.enabled = traced
        if traced and self.probe is None:
            self.probe = SparkProbe(self.spark)
        rec: dict = {"sid": stmt.sid, "kind": stmt.kind}
        try:
            if stmt.kind == "write":
                before = tree_files(self.w.paths[stmt.table]) if traced else None
                table_rows = self.con.execute(
                    f"SELECT count(*) FROM {stmt.table}"
                ).fetchone()[0]
            self.spark.catalog.clearCache()
            if traced:
                self.probe.begin(gid)
            layer = "suite.build_s" if stmt.kind == "entry" else "engine.sql_s"
            kind_span = (
                f"writers.{write_kind(stmt.text)}_s" if stmt.kind == "write"
                else "statement"
            )
            t0 = time.perf_counter()
            with self.tracer.span(kind_span, stmt=gid):
                with self.tracer.span(layer, stmt=gid):
                    df = self.w.build(stmt)
                t1 = time.perf_counter()
                with self.tracer.span("exec.action_s", stmt=gid):
                    rows = df.collect()
            t2 = time.perf_counter()
            if phase == "timed":
                self.samples.append((stmt.sid, t2 - t0, traced))
            if traced:
                rec.update(self._trace(stmt, gid, df, rows, t0, t1, t2))
                if stmt.kind == "write":
                    rec.update(self._write_stats(stmt, before, rows, table_rows))
                self.records.append(rec)
            self.tracer.enabled = False
            t3 = time.perf_counter()
            problem = self._check(stmt, phase, df, rows)
            self.check_s += time.perf_counter() - t3
        except Exception as exc:  # a statement that raised counts as failed
            traceback.print_exc(file=sys.stderr)
            problem = f"raised {type(exc).__name__}: {str(exc)[:200]}"
        finally:
            self.tracer.enabled = False
        if problem:
            self.fail(f"{phase} {stmt.sid}: {problem}")

    def _check(self, stmt, phase, df, rows) -> str | None:
        if stmt.kind == "write":
            got = rows[0]["rows_affected"]
            want = self.w.mirror_write(stmt, self.con)
            return None if got == want else f"rows_affected {got} != DuckDB {want}"
        if stmt.contains is not None:
            text = " ".join(str(v) for r in rows for v in r)
            return None if stmt.contains in text else f"result lacks {stmt.contains!r}"
        result = self._canon(stmt, df.columns, rows)
        problem = None
        if stmt.live or phase == "warmup":
            want = self.w.expected(stmt, self.con)
            if want is not None:
                if stmt.values_only:
                    want = self._values(want[1])
                problem = diff(want, result)
            if phase == "warmup":
                self.reference[stmt.sid] = result
        else:
            problem = diff(self.reference[stmt.sid], result)
        if stmt.kind in ("entry", "read") and problem is None:
            census, lost = plan_loss(df, self.census.get(stmt.sid))
            self.census.setdefault(stmt.sid, census)
            if lost:
                problem = f"plan lost computation: {lost}"
        return problem

    def _canon(self, stmt, columns, rows):
        if stmt.values_only:
            return self._values([[str(r[0])] for r in rows])
        return canonical(columns, rows)

    @staticmethod
    def _values(rows):
        return ["value"], sorted([str(r[0])] for r in rows)

    def _trace(self, stmt, gid, df, rows, t0, t1, t2) -> dict:
        counters = self.probe.end(gid)
        self.tracer.enabled = True
        self.tracer.add("exec", gid, **counters)
        rec = {
            "latency": t2 - t0, "build_s": t1 - t0, "action_s": t2 - t1,
            "layer": "suite" if stmt.kind == "entry" else "engine",
            "rows_out": len(rows), **counters,
            **{f"phase_{k}": v for k, v in catalyst_phases(df).items()},
        }
        if stmt.kind != "entry":
            t = time.perf_counter()
            with self.tracer.span("hiveql_rewrites.rewrite_ms", stmt=gid):
                try:
                    self.rewrite_hiveql(stmt.text, self.spark)
                except Exception:  # statements the text rewriter rejects
                    pass
            rec["rewrite_ms"] = (time.perf_counter() - t) * 1e3
        return rec

    def _write_stats(self, stmt, before, rows, table_rows) -> dict:
        after = tree_files(self.w.paths[stmt.table])
        new = {p: s for p, s in after.items() if before.get(p) != s}
        data_bytes = sum(s for p, s in before.items() if p.endswith(".parquet"))
        affected = rows[0]["rows_affected"]
        return {
            "write_kind": write_kind(stmt.text),
            "files_written": sum(1 for p in new if p.endswith(".parquet")),
            "bytes_written": sum(s for p, s in new.items() if p.endswith(".parquet")),
            "changed_bytes": affected * data_bytes / max(1, table_rows),
        }


def tail(latencies: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it."""
    xs = sorted(latencies)
    n = len(xs)
    k = max(0, n - 11)
    return xs[k], f"p{math.floor(100 * k / n)} of {n} samples"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cores = prepare_environment()
    try:
        import hive_2_3_2_spark  # noqa: F401  the engine under test
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable: {exc}", file=sys.stderr)
        return 2
    cls = WORKLOADS[args.workload]
    rng = random.Random(args.seed)

    marks = [("start", T0)]

    def mark(name: str) -> None:
        marks.append((name, time.perf_counter()))

    mark("imports")
    data, built = {}, {}
    for sf in {cls.sf, cls.check_sf} - {None}:
        data[sf], build_s, reused = ensure_dataset(os.path.join(STATE, "data"), sf)
        built[f"sf{sf:g}"] = {"build_s": round(build_s, 3), "reused": reused}
    mark("dataset")  # reported on its own, not in setup_s

    tracer = Tracer(bool(args.trace))
    spark = build_session(cls, tracer)
    mark("session")
    con = None
    try:
        w = cls(spark, data, OracleCache(os.path.join(STATE, "oracle")), rng)
        w.setup(tracer)
        setup_spans = {
            s["name"]: s["end"] - s["start"] for s in tracer.spans if "end" in s
        }
        mark("fixtures")
        con = w.oracle_connection()
        runner = Runner(spark, w, tracer, con)
        mark("oracle_connection")
        for unit in w.units:
            for stmt in unit:
                runner.run(stmt, "warmup", traced=False)
        mark("warmup")
        # the Python process built fixtures and ran cold oracles before
        # this point; its peak from here on is the engine's client side
        reset_peak_rss()
        phases = dict(
            (name, b - a) for (_, a), (name, b) in zip(marks, marks[1:])
        )
        setup_s = sum(v for k, v in phases.items()
                      if k not in ("dataset", "oracle_connection")) - runner.check_s

        rounds = max(MIN_ROUNDS, round(args.seconds / w.round_s))
        round_checks = 0.0
        for r in range(rounds):
            order = list(enumerate(w.units))
            rng.shuffle(order)
            for k, unit in order:
                # traced runs trace every other unit, alternating by round,
                # so each statement also has untraced samples to compare
                traced = bool(args.trace) and (k + r) % 2 == 1
                for stmt in unit:
                    runner.run(stmt, "timed", traced=traced)
            t = time.perf_counter()
            for msg in w.after_round():
                runner.attempted += 1
                runner.fail(f"round {r}: {msg}")
            round_checks += time.perf_counter() - t
        mark("timed")
        jvm_pid = spark._jvm.ProcessHandle.current().pid()
        rss = vm_hwm_mb() + vm_hwm_mb(jvm_pid)
        for msg in w.post_checks():
            runner.attempted += 1
            runner.fail(f"post check: {msg}")
        mark("post_checks")

        lat = [s[1] for s in runner.samples]
        untraced = [s[1] for s in runner.samples if not s[2]] or lat
        tail_s, tail_name = tail(untraced)
        if args.trace:
            metrics = {
                k: (v, METRICS[k][0]) for k, v in per_layer(
                    runner.records, runner.samples, setup_spans,
                    runner.attempted, runner.failed, cores).items()
            }
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "stmts_per_s": (len(lat) / sum(lat), "1/s"),
                "latency_p50_s": (statistics.median(lat), "s"),
                "latency_tail_s": (tail_s, "s"),
                "peak_rss_mb": (rss, "MiB"),
            }
        tracer.write(os.path.join(STATE, f"trace-{w.name}-{args.seed}.json"))
    finally:
        if con is not None:
            con.close()
        stop_session(spark)
    mark("stop")
    phases = dict((name, round(b - a, 3)) for (_, a), (name, b) in zip(marks, marks[1:]))
    print("perfbench: " + json.dumps({
        "workload": w.name, "seed": args.seed, "sf": w.sf, "cores": cores,
        "rounds": rounds, "timed_statements": len(lat),
        "latency_tail": tail_name, "datasets": built, "phases_s": phases,
        "round_checks_s": round(round_checks, 3),
        "statement_p50_s": {
            sid: round(statistics.median(x[1] for x in runner.samples if x[0] == sid), 4)
            for sid in dict.fromkeys(x[0] for x in runner.samples)
        },
        "error_rate": runner.failed / runner.attempted, "errors": runner.errors,
    }))
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
