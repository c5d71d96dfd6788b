"""Benchmark entry point.

    python3 perfbench/run.py --workload hourly_cron --seed 1 --seconds 10 --trace 0

Runs one workload in a fresh process on ``local[nproc]`` and prints, as
the last line of standard output, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics untraced (``--trace 0``), the per-layer metrics traced
(``--trace 1``).  The line before it carries the details: pinned
environment, every operation with its time and error, and the output
checks.  A traced run also writes its spans to
``.perfbench/traces/<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import env  # noqa: E402

WORKLOADS = ("hourly_cron", "query_surface")
E2E = {
    "setup_s": "s",
    "cold_s": "s",
    "warm_s": "s",
    "peak_rss_mb": "MB",
}


def parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse(argv)
    sys.path.insert(0, str(env.ROOT))
    work = env.WORK / "work"
    env.prepare(work)

    # the program must be importable from the checkout; without it this
    # raises and the run ends without a result
    import nr_rfc_dischargeobs_spark.session  # noqa: F401

    import cron
    import layers
    import surface
    from harness import Context, warm_seconds
    from tracer import Span, Tracer

    run_id = f"{args.workload}-{args.seed}"
    tracer = Tracer(enabled=bool(args.trace), run_id=run_id, sql_spans=layers.SQL_SPANS)
    t0 = time.perf_counter()
    spark = env.start_spark(f"perfbench-{args.workload}", bool(args.trace))
    session_s = time.perf_counter() - t0
    if args.trace:
        tracer.spans.append(
            Span(id=0, name="session.get_spark", parent=None, run=run_id,
                 start=t0, end=t0 + session_s)
        )
        tracer.bind(spark)
    store_class = None
    try:
        from nr_rfc_dischargeobs_spark.sources import ObservationStore

        store_class = (
            layers.traced_store_class(tracer) if args.trace else ObservationStore
        )
        ctx = Context(
            spark=spark, tracer=tracer, seed=args.seed, seconds=args.seconds,
            work=work, trace=bool(args.trace), store_class=store_class,
        )
        run = {
            "hourly_cron": cron.hourly_cron,
            "query_surface": surface.query_surface,
        }[args.workload]
        steal0, total0 = env.cpu_ticks()
        wl = run(ctx)
        steal1, total1 = env.cpu_ticks()
        wl.layer["old_gen_peak_mb"] = env.old_gen_peak_mb(spark)
        environment = env.describe(spark, args.seed)
    finally:
        env.stop_spark(spark)

    ops = wl.ops
    attempted = len(ops) if wl.attempted is None else wl.attempted
    failed = sum(1 for o in ops if not o.ok) if wl.failed is None else wl.failed
    warm = warm_seconds(ops, traced=False)
    cold = ops[0].seconds
    detail = {
        "workload": args.workload,
        "environment": environment,
        "session_s": session_s,
        # host contention while the workload ran
        "cpu_steal_frac": (steal1 - steal0) / max(1, total1 - total0),
        # setup_s is session_s plus the workload's own program set-up
        "workload_setup_s": wl.setup_s,
        "fixture_s": wl.fixture_s,
        "ops": [
            {"name": o.name, "s": round(o.seconds, 4), "ok": o.ok, "cold": o.cold,
             "settling": o.settling, "traced": o.traced, "error": o.error,
             **o.attrs}
            for o in ops
        ],
        "checks": wl.checks,
        "layer": wl.layer,
    }
    if args.trace:
        metrics = layers.figures(tracer, session_s, ops, wl.layer)
        units = {k: layers.unit(k) for k in metrics}
        out_dir = env.WORK / "traces"
        out_dir.mkdir(parents=True, exist_ok=True)
        (out_dir / f"{run_id}.json").write_text(
            json.dumps([s.as_dict() for s in tracer.spans])
        )
    else:
        metrics = {
            "setup_s": session_s + wl.setup_s,
            "cold_s": cold,
            "warm_s": statistics.median(warm) if warm else cold,
            "peak_rss_mb": wl.peak_rss_mb,
        }
        units = E2E
    print(json.dumps({"detail": detail}, default=str))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": int(attempted),
                "failed": int(failed),
                "metrics": {
                    k: {"value": v, "unit": units[k]} for k, v in metrics.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
