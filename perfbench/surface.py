"""The ``query_surface`` workload: registered queries in one session.

One operation is a pass over the benchmark's query list, each query
timed as plan build plus ``.count()``, with ``release_plan_caches()``
called after its clock stops (``bench.py``'s contract).  The first pass
is the cold one; the seed permutes the order within every pass.  A query
that fails in any pass is left out of every pass total.

The list is a fixed sample of the registered surface that keeps each
group's share of a warm pass: one whole warm pass over all 156 queries
(74 s on a 4-core machine, tables from ``tables.py``) spends 51 % in
``ext_sim``, 9 % in ``ext_dedup``, 8 % each in ``ext_text``, TPC-H and
the other extensions, 5 % each in the hydrometric ``events`` plans and
``ext_sample``, and about 2 % each in ``timeseries``, ``analytics`` and
``ext_mm``.  Each group contributes one query whose measured warm time
is about its share of a pass of about 3.3 s (within 2 points; cheap DuckDB
oracles preferred, since the checks run in every run); the whole surface
would take far beyond one run's time.
"""

from __future__ import annotations

import random
import statistics
import time

import checks
import env
import tables
from harness import Op, Workload, keep_going, role

QUERIES = [  # measured warm time on that machine, s
    "ext_sim_ivf_pq_topk",  # 1.65
    "ext_dedup_lsh_pairs",  # 0.32
    "tpch_q3_shipping_priority",  # 0.25
    "ext_text_repetition",  # 0.24
    "ext_sketch_hist_quantiles",  # 0.22
    "w1_ffill_hourly_gaps",  # 0.16
    "ext_sample_shard_plan",  # 0.16
    "an_rollup_subtotals",  # 0.11
    "ts_moving_avg_1h",  # 0.09
    "ext_mm_frame_sample",  # 0.08
]
EXT_FAMILIES = {
    "sim": "similarity", "text": "text", "dedup": "dedup",
    "sample": "sampling", "mm": "multimodal",
}
TABLE_SCALE = 1.0  # 60k lineitems: the 0.01 scale factor
SETTLING_PASSES = 1
MIN_WARM_PASSES = 2


def group(name: str, fn) -> str:
    """Plan module, or for ``plans.extensions`` the family its prefix
    names."""
    module = fn.__module__.rsplit(".", 1)[-1]
    if module != "extensions":
        return module
    return "extensions." + EXT_FAMILIES.get(name.split("_")[1], "other")


def query_surface(ctx, registry=None, oracle=None) -> Workload:
    """``registry``/``oracle`` default to the driver contract's
    ``_raw_queries()`` and ``_raw_oracle_sql()``."""
    # the program's own set-up: the entry module and its query registry
    t0 = time.perf_counter()
    import __spark_entry__ as entry
    from nr_rfc_dischargeobs_spark.plans.extensions import release_plan_caches

    registry = entry._raw_queries() if registry is None else registry
    setup_s = time.perf_counter() - t0
    oracle = entry._raw_oracle_sql() if oracle is None else oracle
    names = [n for n in QUERIES if n in registry]
    missing = [n for n in QUERIES if n not in registry]
    data = ctx.work / "tables"

    # the query tables: benchmark-written files, outside setup_s
    t0 = time.perf_counter()
    with ctx.tracer.span("bench.setup.tables"):
        tables.generate(data, ctx.seed, TABLE_SCALE)
    fixture_s = time.perf_counter() - t0
    want = checks.oracle_counts(data, {n: oracle[n] for n in names if n in oracle})
    env.reset_peak_rss()
    rng = random.Random(ctx.seed)
    tr = ctx.tracer

    def one_query(name: str) -> tuple[float, str | None]:
        fn = registry[name]
        count, error = None, None
        t0 = time.perf_counter()
        try:
            with tr.span("query", query=name):
                with tr.span(f"plans.{group(name, fn)}.build"):
                    df = fn(ctx.spark, str(data))
                with tr.span(f"plans.{group(name, fn)}.exec"):
                    count = df.count()
        except Exception as ex:  # noqa: BLE001 — a failed query is data
            error = f"{type(ex).__name__}: {str(ex).splitlines()[0][:200]}"
        finally:
            seconds = time.perf_counter() - t0
            release_plan_caches()
        if error is None and count != want.get(name):
            error = f"count {count} != oracle {want.get(name)}"
        return seconds, error

    failed: dict[str, str] = {n: "not registered" for n in missing}
    passes: list[dict[str, float]] = []
    deadline = None
    while keep_going(ctx, len(passes), deadline, SETTLING_PASSES, MIN_WARM_PASSES):
        p = len(passes)
        order = names[:]
        rng.shuffle(order)
        tr.enabled = role(ctx, p, SETTLING_PASSES)[2]
        times: dict[str, float] = {}
        with tr.span("op", op=f"pass{p}", cold=p == 0):
            for name in order:
                times[name], error = one_query(name)
                if error is not None:
                    failed.setdefault(name, error)
        tr.enabled = ctx.trace
        passes.append(times)
        if p == SETTLING_PASSES:
            deadline = time.perf_counter() + ctx.seconds

    rss = env.peak_rss_mb(ctx.spark)
    good = [n for n in names if n not in failed]
    ops = []
    for p, times in enumerate(passes):
        cold, settling, traced = role(ctx, p, SETTLING_PASSES)
        ops.append(Op(f"pass{p}", sum(times[n] for n in good), True, cold,
                      traced, settling=settling))
    warm = [passes[p] for p, o in enumerate(ops)
            if not (o.cold or o.settling or o.traced)]
    per_query = [t[n] for t in warm for n in good]
    return Workload(
        setup_s=setup_s,
        fixture_s=fixture_s,
        peak_rss_mb=rss,
        ops=ops,
        checks={"queries": len(QUERIES), "oracle_mismatch_or_error": failed},
        attempted=len(QUERIES) * len(passes),
        failed=len(failed) * len(passes),
        layer={
            "query_p50_s": statistics.median(per_query) if per_query else None,
            "query_p90_s": (
                statistics.quantiles(per_query, n=10)[-1]
                if len(per_query) >= 10 else None
            ),
            "query_samples": len(per_query),
            "per_query_median_s": {
                n: statistics.median(t[n] for t in warm) for n in good
            } if warm else {},
        },
    )
