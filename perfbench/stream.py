"""report_refresh: the paper's report loop, one refresh per operation.

The generator writes a ``users`` table, then one click file at a time.
Each operation publishes the next file into the watched directory by
atomic rename, calls ``processAllAvailable()`` and so waits until the
``foreachBatch`` sink (``render_pdf`` of the report model) has
returned. The stream is the package's own pipeline:
``fan_out_messages(readStream.parquet(...), users)`` into
``run_report_stream(..., trigger_seconds=0)``.

A refresh that raises is a failed operation. The stream is then
started again (``run_report_stream`` always starts from a fresh
checkpoint, so the restart re-reads every published file) and the next
operation tries again.
"""

from __future__ import annotations

import json
import os
import time
import traceback

import pyarrow.parquet as pq

from . import checks, gen, metrics
from .trace import progress_metrics
from .workloads import Context, Outcome


def report_refresh(ctx: Context) -> Outcome:
    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.streaming import (
        clickstream,
        report,
    )

    spark, tr, out = ctx.spark, ctx.tracer, Outcome()
    data = os.path.join(ctx.run_dir, "data")
    watched, staging = os.path.join(data, "clicks"), os.path.join(data, "staging")
    os.makedirs(watched)
    os.makedirs(staging)
    users_tbl = gen.users_table(ctx.seed)
    pq.write_table(users_tbl, os.path.join(data, "users.parquet"))
    users = spark.read.parquet(os.path.join(data, "users.parquet"))
    clicks = spark.readStream.schema(
        "ts timestamp, user_id long, service string"
    ).parquet(watched)
    messages = clickstream.fan_out_messages(clicks, users)

    pdf_path = os.path.join(ctx.run_dir, "raport.pdf")
    sink_state = {"model": None, "render_ms": []}

    def sink(model, epoch_id):
        t0 = time.perf_counter()
        with tr.span("sink", epoch=epoch_id):
            report.render_pdf(model, pdf_path)
        sink_state["render_ms"].append((time.perf_counter() - t0) * 1000.0)
        sink_state["model"] = model

    def start():
        return report.run_report_stream(messages, sink, trigger_seconds=0)

    query = start()
    published: list = []  # click tables, in publish order
    latencies: list[float] = []  # plain refreshes
    traced_latencies: list[float] = []
    clicks_done = 0
    ok_files = 0  # files covered by the last successful refresh
    progress: list[dict] = []
    jobs_per_refresh: list[int] = []
    exec_rows: list[dict] = []
    errors: dict[str, int] = {}
    start_t = None  # set after refresh 0, the untimed warm-up
    t_setup = time.perf_counter()
    try:
        while start_t is None or time.perf_counter() - start_t < ctx.seconds:
            i = len(published)
            tbl = gen.clicks_table(ctx.seed, i)
            tmp = os.path.join(staging, f"part-{i:05d}.parquet")
            pq.write_table(tbl, tmp)
            if query is None:
                query = start()
            # on a traced run, odd refreshes are traced and even ones plain
            traced = ctx.exec_counters is not None and i % 2 == 1
            if traced:
                ctx.exec_counters.delta()  # drop earlier stages
            out.attempted += 1
            jobs_before = _stream_jobs(spark, query)
            t0 = time.perf_counter()
            try:
                with tr.span("refresh", index=i):
                    os.rename(tmp, os.path.join(watched, os.path.basename(tmp)))
                    published.append(tbl)
                    query.processAllAvailable()
                ok = True
            except Exception as e:  # StreamingQueryException, py4j errors
                ok = False
                out.failed += 1
                key = _error_line(e)
                errors[key] = errors.get(key, 0) + 1
                out.details.setdefault("first_error", traceback.format_exc(limit=2))
                query.stop()
                query = None  # the next refresh starts the stream again
            dt = time.perf_counter() - t0
            if ok:
                ok_files = len(published)
            if start_t is None:
                out.warmup_s = time.perf_counter() - t_setup
                start_t = time.perf_counter()
                continue
            if not ok:
                continue
            if not traced:
                latencies.append(dt)
                clicks_done += tbl.num_rows
            else:
                traced_latencies.append(dt)
                jobs_per_refresh.append(_stream_jobs(spark, query) - jobs_before)
                row = ctx.exec_counters.delta()
                row["exec.busy_share"] = row["exec.executor_run_ms"] / (
                    dt * 1000.0 * len(os.sched_getaffinity(0))
                )
                exec_rows.append(row)
                progress.extend(_new_progress(query, progress))
    finally:
        if query is not None:
            query.stop()
    for key, n in errors.items():
        out.notes.append(f"{n} refreshes failed: {key}")

    def check() -> None:
        """Untimed: the last sink model against the Counter reference."""
        if sink_state["model"] is None:
            out.notes.append("report: no refresh succeeded, nothing to check")
            return
        ref = checks.report_reference(users_tbl, published[:ok_files])
        why = checks.compare_report(sink_state["model"], ref)
        if why is not None:
            out.notes.append(why)
            out.failed = out.attempted

    out.check = check

    p, p_val = metrics.tail_percentile(latencies)
    out.details.update(
        refreshes_timed=len(latencies),
        refresh_tail_percentile=f"p{p:.1f} of {len(latencies)} samples",
        files_published=len(published),
    )
    out.values.update(
        {
            "refresh_p50_s": metrics.median(latencies),
            "refresh_p90_s": p_val,
            "clicks_per_s": clicks_done / sum(latencies) if latencies else 0.0,
        }
    )
    if ctx.exec_counters is not None:
        out.values.update(metrics.median_by_key([progress_metrics(p) for p in progress]))
        out.values.update(metrics.median_by_key(exec_rows))
        out.values["report.render_ms"] = metrics.median(sink_state["render_ms"])
        out.values["report.jobs_per_refresh"] = metrics.median(jobs_per_refresh)
        out.values["trace.overhead_s"] = metrics.median(traced_latencies) - metrics.median(
            latencies
        )
        out.details["progress"] = progress
    return out


def _error_line(e: Exception) -> str:
    """The innermost Python error line of a failed refresh."""
    lines = [ln.strip() for ln in str(e).splitlines() if "Error" in ln]
    return (lines[-1] if lines else str(e).splitlines()[0])[:300]


def _stream_jobs(spark, query) -> int:
    """Jobs run so far under the stream's job group (its run id)."""
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(str(query.runId)))


def _new_progress(query, seen: list[dict]) -> list[dict]:
    """Progress records (as plain JSON dicts) of batches not yet seen."""
    done = {(p["runId"], p["batchId"]) for p in seen}
    new = [json.loads(p.json) for p in query.recentProgress]
    return [p for p in new if (p["runId"], p["batchId"]) not in done]
