"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Generates the workload's inputs from
``--seed`` under a per-run scratch directory, builds one Spark session
(``cpus = nproc``), measures for ``--seconds`` seconds, checks the
outputs, prints a human summary to stderr and, as the last stdout line,
one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``; a traced run also writes its spans to
``.perfbench_traces/``). Exits non-zero without a result line when the
program cannot be imported or a run cannot complete.
"""

from __future__ import annotations

import argparse
import os
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import host, metrics  # noqa: E402
from perfbench.trace import ExecCounters, Tracer, free_port  # noqa: E402


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=metrics.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def run(args: argparse.Namespace) -> tuple[str, str]:
    """Returns (summary, result line)."""
    from perfbench import stream, workloads

    trace = bool(args.trace)
    facts = host.host_facts()
    tracer = Tracer(trace)
    with host.RunDir() as run_dir, host.RssSampler() as rss:
        with tracer.span("setup.session"):
            spark, start_s, first_job_s = host.start_session(
                free_port() if trace else None
            )
        try:
            ctx = workloads.Context(
                spark=spark,
                seed=args.seed,
                seconds=args.seconds,
                run_dir=run_dir,
                tracer=tracer,
                exec_counters=ExecCounters(spark) if trace else None,
            )
            with tracer.span("workload", workload=args.workload, seed=args.seed):
                if args.workload == "report_refresh":
                    out = stream.report_refresh(ctx)
                else:
                    out = workloads.batch(ctx, args.workload)
            # the checks' rows and oracles are not the program's memory
            rss.stop()
            with tracer.span("checks"):
                out.check()
        finally:
            host.stop_session(spark)
    values = dict(out.values)
    values["session.start_s"] = start_s
    values["session.first_job_s"] = first_job_s
    values["setup_s"] = start_s + first_job_s + out.warmup_s
    values["peak_rss_mb"] = rss.peak_mb
    units = metrics.metric_names(args.workload, trace)
    for name in units:
        values.setdefault(name, 0.0)  # a query layer this workload does not run
    correct = out.failed == 0 and out.attempted > 0
    failed_ratio = out.failed / out.attempted if out.attempted else 1.0
    lines = [
        f"workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
        f"trace={args.trace} host={facts}",
        f"  attempted={out.attempted} failed={out.failed} "
        f"failed_ratio={failed_ratio:.4f} (failed/attempted) correct={correct}",
    ]
    lines += [f"  {n} = {values[n]:.6g} {u}" for n, u in units.items()]
    lines += [f"  note: {note}" for note in out.notes]
    lines += [f"  {k}: {v}" for k, v in out.details.items() if k != "progress"]
    if trace:
        path = os.path.join(host.TRACE_DIR, f"{args.workload}-seed{args.seed}.json")
        tracer.write(
            path,
            {
                "workload": args.workload,
                "seed": args.seed,
                "seconds": args.seconds,
                "host": facts,
                "attempted": out.attempted,
                "failed": out.failed,
                "metrics": values,
                "notes": out.notes,
                "details": out.details,
            },
        )
        lines.append(f"  trace written to {os.path.relpath(path, ROOT)}")
    result = metrics.result_line(correct, max(out.attempted, 1), out.failed, values, units)
    return "\n".join(lines), result


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if os.environ.get("PYTHONHASHSEED") != "0":
        # one fixed hash seed for this process, the JVM and the Python
        # workers it starts: set and dict order, and the plans built from
        # them, then repeat from run to run
        env = {**os.environ, "PYTHONHASHSEED": "0"}
        os.execve(sys.executable, [sys.executable, os.path.abspath(__file__), *argv], env)
    # on SIGTERM unwind normally: stop the JVM, remove the scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        import analyzing_user_behavior_on_a_website_using_apache_kafka_spark as pkg
    except ImportError as e:
        print(f"perfbench: the program is not importable here: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: the program is not in this checkout: {pkg.__file__}", file=sys.stderr)
        return 2
    t0 = time.perf_counter()
    summary, result = run(args)
    print(summary, file=sys.stderr)
    print(f"  run wall {time.perf_counter() - t0:.1f}s", file=sys.stderr)
    print(result, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
