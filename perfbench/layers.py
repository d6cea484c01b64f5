"""Per-layer metrics of the traced run, and which end-to-end metric each
should move on which workload.

Times are per-statement medians, counts and bytes per-statement means,
ratios are ratios of sums. A layer a workload bypasses reads 0.
"""

from __future__ import annotations

import statistics

# name: (unit, better, layer, the end-to-end metric it should move and where)
METRICS: dict[str, tuple[str, str, str, str]] = {
    "session.build_s": ("s", "lower", "session", "setup_s on all"),
    "catalog.engine_init_s": ("s", "lower", "catalog", "setup_s on hiveql_session"),
    "suite.build_s": ("s", "lower", "suite/llm/operators DataFrame construction",
                      "latency_p50_s on llm_dedup (connected_clusters)"),
    "engine.sql_s": ("s", "lower", "engine statement front end",
                     "latency_p50_s on hiveql_session; 0 on llm_dedup"),
    "hiveql_rewrites.rewrite_ms": ("ms", "lower", "hiveql_rewrites",
                                   "latency_p50_s on hiveql_session"),
    "catalyst.analysis_ms": ("ms", "lower", "Catalyst", "latency_p50_s on all"),
    "catalyst.optimization_ms": ("ms", "lower", "Catalyst", "latency_p50_s on all"),
    "catalyst.planning_ms": ("ms", "lower", "Catalyst", "latency_p50_s on all"),
    "exec.action_s": ("s", "lower", "execution", "latency_p50_s on all"),
    "exec.jobs": ("count", "lower", "execution", "latency_p50_s on all"),
    "exec.stages": ("count", "lower", "execution", "latency_p50_s on all"),
    "exec.tasks": ("count", "lower", "execution", "latency_p50_s on all"),
    "exec.failed_tasks": ("count", "lower", "execution", "error_rate on all"),
    "exec.executor_run_s": ("s", "lower", "execution", "stmts_per_s on llm_dedup"),
    "exec.busy_ratio": ("ratio", "higher", "execution", "stmts_per_s on llm_dedup"),
    "exec.shuffle_write_bytes": ("B", "lower", "execution", "stmts_per_s on llm_dedup"),
    "exec.spill_bytes": ("B", "lower", "execution", "peak_rss_mb on llm_dedup"),
    "exec.peak_exec_memory_bytes": ("B", "lower", "execution", "peak_rss_mb on llm_dedup"),
    "exec.join_rows_out": ("count", "lower", "execution",
                           "stmts_per_s on llm_dedup (jaccard candidates)"),
    "exec.rows_per_result_row": ("ratio", "lower", "execution",
                                 "stmts_per_s on llm_dedup"),
    "python_udf.eval_ms": ("ms", "lower", "Python workers",
                           "stmts_per_s on llm_dedup; 0 on hiveql_session"),
    "python_udf.rows": ("count", "lower", "Python workers", "stmts_per_s on llm_dedup"),
    "writers.insert_s": ("s", "lower", "sources/writers", "latency_p50_s on hiveql_session"),
    "writers.update_s": ("s", "lower", "sources/writers", "latency_p50_s on hiveql_session"),
    "writers.delete_s": ("s", "lower", "sources/writers", "latency_p50_s on hiveql_session"),
    "writers.merge_s": ("s", "lower", "sources/writers", "latency_p50_s on hiveql_session"),
    "writers.files_written": ("count", "lower", "sources/writers",
                              "stmts_per_s on hiveql_session"),
    "writers.write_amplification": ("ratio", "lower", "sources/writers",
                                    "stmts_per_s on hiveql_session"),
    "error_rate": ("ratio", "lower", "all", "correctness on all"),
    "trace.overhead_pct": ("%", "lower", "benchmark tracing", "nothing when tracing is off"),
}


def _median(values) -> float:
    values = [v for v in values if v is not None]
    return statistics.median(values) if values else 0.0


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def per_layer(records: list[dict], samples: list[tuple[str, float, bool]],
              setup_spans: dict[str, float], attempted: int, failed: int,
              cores: int) -> dict[str, float]:
    """``records``: one dict per traced statement; ``samples``: (statement
    id, latency, traced) for every timed statement."""

    def mean(key, rs=records):
        return statistics.fmean(r[key] for r in rs) if rs else 0.0

    reads = [r for r in records if r["kind"] in ("entry", "read")]
    writes = [r for r in records if r["kind"] == "write"]
    out = {
        "session.build_s": setup_spans.get("session.build_s", 0.0),
        "catalog.engine_init_s": setup_spans.get("catalog.engine_init_s", 0.0),
        "suite.build_s": _median(r["build_s"] for r in records if r["layer"] == "suite"),
        "engine.sql_s": _median(r["build_s"] for r in records if r["layer"] == "engine"),
        "hiveql_rewrites.rewrite_ms": _median(r.get("rewrite_ms") for r in records),
        "catalyst.analysis_ms": _median(r["phase_analysis"] for r in reads),
        "catalyst.optimization_ms": _median(r["phase_optimization"] for r in reads),
        "catalyst.planning_ms": _median(r["phase_planning"] for r in reads),
        "exec.action_s": _median(r["action_s"] for r in records),
        "exec.jobs": mean("jobs"),
        "exec.stages": mean("stages"),
        "exec.tasks": mean("tasks"),
        "exec.failed_tasks": mean("failed_tasks"),
        "exec.executor_run_s": mean("executor_run_ms") / 1e3,
        "exec.busy_ratio": _ratio(
            sum(r["executor_run_ms"] for r in records) / 1e3,
            sum(r["latency"] for r in records) * cores),
        "exec.shuffle_write_bytes": mean("shuffle_write_bytes"),
        "exec.spill_bytes": mean("spill_bytes"),
        "exec.peak_exec_memory_bytes": max(
            (r["peak_exec_memory_bytes"] for r in records), default=0),
        "exec.join_rows_out": mean("join_rows", reads),
        "exec.rows_per_result_row": _ratio(
            sum(r["scan_rows"] + r["join_rows"] for r in reads),
            sum(r["rows_out"] for r in reads)),
        "python_udf.eval_ms": mean("python_ms"),
        "python_udf.rows": mean("python_rows"),
    }
    for kind in ("insert", "update", "delete", "merge"):
        out[f"writers.{kind}_s"] = _median(
            r["latency"] for r in writes if r["write_kind"] == kind)
    out["writers.files_written"] = mean("files_written", writes)
    out["writers.write_amplification"] = _ratio(
        sum(r["bytes_written"] for r in writes),
        sum(r["changed_bytes"] for r in writes))
    out["error_rate"] = _ratio(failed, attempted)
    # tracing overhead: per statement, traced over untraced median latency
    by_sid: dict[str, dict[bool, list[float]]] = {}
    for sid, lat, traced in samples:
        by_sid.setdefault(sid, {True: [], False: []})[traced].append(lat)
    ratios = [
        statistics.median(v[True]) / statistics.median(v[False])
        for v in by_sid.values() if v[True] and v[False]
    ]
    out["trace.overhead_pct"] = 100 * (statistics.median(ratios) - 1) if ratios else 0.0
    return out
