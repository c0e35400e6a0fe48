"""The batch workloads, and the context and outcome every workload
shares. Each workload is a closed loop with one client: the next
operation starts when the previous one has returned.

A workload function takes a :class:`Context` and returns an
:class:`Outcome` whose ``check`` runs the output checks; ``run.py``
calls it after the measured section and turns the outcome into the
result line. The streaming workload is in ``stream.py``.
"""

from __future__ import annotations

import dataclasses
import os
import time
import traceback
from typing import Callable

from . import checks, gen, metrics
from .trace import ExecCounters, Tracer


@dataclasses.dataclass
class Context:
    spark: object
    seed: int
    seconds: float
    run_dir: str
    tracer: Tracer
    exec_counters: ExecCounters | None  # set on traced runs only


@dataclasses.dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    warmup_s: float = 0.0  # the first, cold operation or pass (in setup_s)
    values: dict = dataclasses.field(default_factory=dict)  # metric -> value
    notes: list = dataclasses.field(default_factory=list)  # failures, counts
    details: dict = dataclasses.field(default_factory=dict)  # trace payload
    # the output checks, run after the measured section; they add to
    # ``failed`` and ``notes``
    check: Callable[[], None] = lambda: None


# --- batch workloads ----------------------------------------------------


def _consume(df) -> int:
    """Run the query to completion: ``sum(hash(*cols))``, never
    ``count()``, which lets Catalyst prune outer joins."""
    from pyspark.sql import functions as F

    return df.select(
        F.sum(F.hash(*[df[c] for c in df.columns]).cast("long"))
    ).collect()[0][0]


def _query_layers(workload: str) -> dict[str, str]:
    """query name -> per-layer metric name."""
    if workload == "behavior_batch":
        return {q: f"behavior.{q}.s" for q in metrics.BEHAVIOR_QUERIES}
    return {q: f"{layer}.{q}.s" for layer, q in metrics.CORPUS_QUERIES}


# Untimed warm-up passes before timing; only the first (cold) one
# counts in setup_s. For behavior_batch one is not enough: on a 4-core
# machine the JIT keeps shortening its passes (pass walls after one
# warm-up pass: 9.7, 8.9, 7.5, 6.8, 6.9, 6.4 s); a third did not narrow
# the run-to-run spread of pass_s. corpus_dedup's cold pass alone takes
# 15-25 s, and a second one does not fit the run-time budget.
WARMUP_PASSES = {"behavior_batch": 2, "corpus_dedup": 1}


def batch(ctx: Context, workload: str) -> Outcome:
    """behavior_batch / corpus_dedup: one pass runs every query of the
    workload once. WARMUP_PASSES untimed passes come first, then timed
    passes until ``seconds`` have passed, with ``evict_caches`` before
    every pass so each pass does the same work. The returned outcome's
    ``check`` runs one more pass that keeps each query's rows and
    compares them with the oracles."""
    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark import (
        registry,
        session,
    )

    spark, tr, out = ctx.spark, ctx.tracer, Outcome()
    data_dir = os.path.join(ctx.run_dir, "data")
    tables = [
        os.path.basename(p)[: -len(".parquet")]
        for p in gen.write_batch_inputs(workload, ctx.seed, data_dir)
    ]
    layers = _query_layers(workload)
    fns = registry.all_queries()
    broken: dict[str, str] = {}  # query -> first failure

    # warm-up: cold JIT and code generation; the first pass is the cold
    # one setup_s counts
    t0 = time.perf_counter()
    for w in range(WARMUP_PASSES[workload]):
        session.evict_caches(spark)
        with tr.span("warmup", index=w):
            for q in layers:
                if q in broken:
                    continue
                try:
                    _consume(fns[q](spark, data_dir))
                except Exception:  # the run goes on; the query counts as failed
                    broken[q] = traceback.format_exc(limit=3)
        if w == 0:
            out.warmup_s = time.perf_counter() - t0

    # timed passes; on a traced run, odd passes are traced and even ones
    # plain, and the difference is the tracing overhead
    walls: dict[bool, list[float]] = {True: [], False: []}
    per_query: dict[str, list[float]] = {q: [] for q in layers}
    ok_runs = dict.fromkeys(layers, 0)
    hashes: dict[str, set] = {q: set() for q in layers}
    exec_rows: list[dict] = []
    start = time.perf_counter()
    n = 0
    while True:
        traced = ctx.exec_counters is not None and n % 2 == 1
        session.evict_caches(spark)
        if traced:
            ctx.exec_counters.delta()  # drop the eviction's stages
        t_pass = time.perf_counter()
        with tr.span("pass", index=n, traced=traced):
            for q in layers:
                out.attempted += 1
                t_q = time.perf_counter()
                try:
                    with tr.span("query", query=q):
                        df = fns[q](spark, data_dir)
                        with tr.span("action", action="sum_hash"):
                            hashes[q].add(_consume(df))
                except Exception:
                    out.failed += 1
                    broken.setdefault(q, traceback.format_exc(limit=3))
                    continue
                ok_runs[q] += 1
                if traced:
                    per_query[q].append(time.perf_counter() - t_q)
            if traced:
                with tr.span("exec_counters"):
                    exec_rows.append(ctx.exec_counters.delta())
        wall = time.perf_counter() - t_pass
        walls[traced].append(wall)
        if traced:
            row = exec_rows[-1]
            row["exec.busy_share"] = row["exec.executor_run_ms"] / (
                wall * 1000.0 * len(os.sched_getaffinity(0))
            )
        n += 1
        timed_out = time.perf_counter() - start >= ctx.seconds
        if timed_out and walls[False] and (ctx.exec_counters is None or walls[True]):
            break

    out.details.update(
        passes=n, pass_walls_s={"plain": walls[False], "traced": walls[True]}
    )
    out.values["pass_s"] = metrics.median(walls[False])
    if ctx.exec_counters is not None:
        for q, name in layers.items():
            out.values[name] = metrics.median(per_query[q])
        out.values.update(metrics.median_by_key(exec_rows))
        out.values["trace.overhead_s"] = metrics.median(walls[True]) - metrics.median(
            walls[False]
        )

    def check() -> None:
        """Untimed: one more pass caches each result, hashes it the way
        the timed passes consume it and collects it from the cache, so
        the checked rows are the hashed rows. Then oracle == those rows
        and their hash == every timed pass's hash."""
        t_check = time.perf_counter()
        session.evict_caches(spark)
        rows: dict[str, tuple] = {}  # query -> (columns, rows, hash)
        for q in layers:
            if q in broken:
                continue
            try:
                df = fns[q](spark, data_dir).cache()
                rows[q] = (df.columns, df.collect(), _consume(df))
                df.unpersist()
            except Exception:
                broken[q] = traceback.format_exc(limit=3)
        bad = _check_batch(data_dir, tables, rows, hashes, broken)
        for q, why in bad.items():
            out.notes.append(why)
            out.failed += ok_runs[q]  # an unverified execution is a failed one
        out.details["check_s"] = time.perf_counter() - t_check

    out.check = check
    return out


def _check_batch(data_dir, tables, checked, hashes, broken) -> dict[str, str]:
    """query -> reason, for every query whose output is wrong."""
    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark import (
        registry,
    )

    bad = {q: f"{q}: raised\n{tb}" for q, tb in broken.items()}
    oracles = registry.all_oracles()
    con = checks.oracle_connection(data_dir, tables)
    try:
        for q, (cols, rows, checked_hash) in checked.items():
            if q in bad:
                continue
            if q in checks.ORACLE_IN_PYTHON:
                docs = con.execute("SELECT doc_id, text FROM documents").fetchall()
                dcols, drows = checks.near_dup_oracle(dict(docs))
            else:
                dcols, drows = checks.run_oracle(con, oracles[q])
            why = checks.compare(q, cols, rows, dcols, drows)
            if why is None and hashes[q] != {checked_hash}:
                # the timed passes must have produced the checked rows
                why = f"{q}: timed passes hashed {sorted(hashes[q])}, checked rows {checked_hash}"
            if why is not None:
                bad[q] = why
    finally:
        con.close()
    return bad
