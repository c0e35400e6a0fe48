"""Metric catalogue, summary statistics and the result line.

The names and units here are the single source of truth: ``run.py``
reports exactly these, ``BENCHMARK.json`` lists the subset the listed
workloads share, and the self-tests round-trip every name through
:func:`result_line` / :func:`parse_result`.
"""

from __future__ import annotations

import json
import math
import statistics

WORKLOADS = ("report_refresh", "behavior_batch", "corpus_dedup")

BEHAVIOR_QUERIES = (
    "q_funnel_conversion",
    "q_cohort_retention",
    "q_event_transitions",
    "q_event_dwell",
    "q_path_topk",
    "q_growth_accounting",
    "q_event_anomaly",
    "q_event_rfm",
    "q_event_attribution",
)
# (layer prefix, query): the per-layer name is ``<layer>.<query>.s``.
CORPUS_QUERIES = (
    ("dedup", "q_dedup_exact"),
    ("dedup", "q_dedup_near"),
    ("dedup", "q_dedup_simhash"),
    ("dedup", "q_dedup_semantic"),
    ("dedup", "q_dedup_embed_cosine"),
    ("similarity", "q_sim_ann"),
    ("text", "q_text_tfidf"),
)

# End-to-end metrics (trace off), per workload. ``failed_ratio`` is not
# among them: it is 0 on a healthy run, and a metric that reads 0 has
# no relative spread. The result line carries it exactly as ``failed``
# over ``attempted``, and the stderr summary prints it.
END_TO_END = {
    "report_refresh": {
        "setup_s": "s",
        "refresh_p50_s": "s",
        "refresh_p90_s": "s",
        "clicks_per_s": "clicks/s",
        "peak_rss_mb": "MB",
    },
    "behavior_batch": {"setup_s": "s", "pass_s": "s", "peak_rss_mb": "MB"},
    "corpus_dedup": {"setup_s": "s", "pass_s": "s", "peak_rss_mb": "MB"},
}

_SESSION = {"session.start_s": "s", "session.first_job_s": "s"}
_EXEC = {
    "exec.tasks": "count",
    "exec.stages": "count",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.executor_run_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.busy_share": "share",
}
_TRACE = {"trace.overhead_s": "s"}

# Per-layer metrics (trace on), per workload.
PER_LAYER = {
    "report_refresh": {
        **_SESSION,
        "source.latest_offset_ms": "ms",
        "source.get_batch_ms": "ms",
        "stream.query_planning_ms": "ms",
        "stream.add_batch_ms": "ms",
        "stream.wal_commit_ms": "ms",
        "stream.commit_offsets_ms": "ms",
        "state.commit_ms": "ms",
        "state.update_ms": "ms",
        "state.rows_total": "count",
        "state.rows_updated": "count",
        "state.memory_bytes": "bytes",
        "state.instances": "count",
        "report.render_ms": "ms",
        "report.jobs_per_refresh": "count",
        **_EXEC,
        **_TRACE,
    },
    "behavior_batch": {
        **_SESSION,
        **{f"behavior.{q}.s": "s" for q in BEHAVIOR_QUERIES},
        **_EXEC,
        **_TRACE,
    },
    "corpus_dedup": {
        **_SESSION,
        **{f"{layer}.{q}.s": "s" for layer, q in CORPUS_QUERIES},
        **_EXEC,
        **_TRACE,
    },
}


# The batch workloads share one per-layer set (the union of theirs), so a
# traced run of either reports every name; a query layer the workload
# does not run reads 0.
BATCH_PER_LAYER = {**PER_LAYER["behavior_batch"], **PER_LAYER["corpus_dedup"]}


def metric_names(workload: str, trace: bool) -> dict[str, str]:
    """name -> unit of every metric a run of ``workload`` reports."""
    if not trace:
        return END_TO_END[workload]
    return PER_LAYER[workload] if workload == "report_refresh" else BATCH_PER_LAYER


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def median_by_key(rows: list[dict]) -> dict[str, float]:
    """Per-key median over rows that share their keys."""
    keys = rows[0].keys() if rows else ()
    return {k: median([r[k] for r in rows]) for k in keys}


def tail_percentile(values: list[float], cap: float = 90.0) -> tuple[float, float]:
    """The highest percentile up to ``cap`` that still has at least ten
    samples beyond it, and its value (nearest-rank). Returns (p, value);
    with ten samples or fewer there is no such percentile and the
    maximum is returned with p = 100."""
    n = len(values)
    if n == 0:
        return 0.0, 0.0
    ordered = sorted(values)
    if n <= 10:
        return 100.0, ordered[-1]
    p = min(cap, 100.0 * (n - 10) / n)
    rank = max(1, math.ceil(p / 100.0 * n))
    return p, ordered[rank - 1]


def result_line(
    correct: bool,
    attempted: int,
    failed: int,
    values: dict[str, float],
    units: dict[str, str],
) -> str:
    """The last stdout line: one JSON object with exactly the keys
    ``correct``, ``attempted``, ``failed`` and ``metrics``."""
    missing = set(units) - set(values)
    if missing:
        raise ValueError(f"metrics not measured: {sorted(missing)}")
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {
                name: {"value": float(values[name]), "unit": unit}
                for name, unit in units.items()
            },
        },
        ensure_ascii=False,
    )


def parse_result(stdout: str) -> dict:
    """Parse the result line (the last non-empty stdout line) back into
    a dict and validate its shape."""
    line = [ln for ln in stdout.splitlines() if ln.strip()][-1]
    out = json.loads(line)
    if set(out) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"unexpected keys: {sorted(out)}")
    if not isinstance(out["attempted"], int) or out["attempted"] < 1:
        raise ValueError("attempted must be a whole number >= 1")
    if not isinstance(out["failed"], int):
        raise ValueError("failed must be a whole number")
    for name, m in out["metrics"].items():
        if set(m) != {"value", "unit"} or not isinstance(m["value"], (int, float)):
            raise ValueError(f"bad metric {name}: {m}")
    return out
