"""Per-layer figures of a traced run, computed from its spans.

Layers are the package's own modules: ``session``, ``sources`` (the
conformers, the datamart reader, SWOB, NWIS and the
``ObservationStore``), ``pipelines`` and ``plans``, plus ``spark`` for the
engine's counters and ``bench`` for the benchmark's own code between
calls.  Calls the pipelines make into the store are seen through
:func:`traced_store_class`, a subclass that wraps the store's public
methods in spans; nothing inside the package is instrumented.

Figures are taken per traced warm operation (mean), except the ``cold.``
ones, which describe the first operation of the process.  Times that
only some workloads have are given as shares of the operation's wall
time, so a workload that never calls a layer reports a share of 0.
"""

from __future__ import annotations

import statistics

from harness import warm_seconds
from tracer import Span, Tracer, self_time, subtree, union_length

PLAN_GROUPS = (
    "tpch", "timeseries", "analytics", "events",
    "extensions.similarity", "extensions.text", "extensions.dedup",
    "extensions.sampling", "extensions.multimodal", "extensions.other",
)
SQL_SPANS = ("sources.store.upsert",)
PIPELINE_CALLS = ("ingest_instantaneous", "ingest_weather", "weather_wide")
SPARK_COUNTS = ("jobs", "stages", "tasks", "sql_executions", "codegen_compiles")
SPARK_BYTES = ("input_bytes", "output_bytes", "shuffle_write_bytes", "spill_bytes")


def traced_store_class(tracer: Tracer):
    """``ObservationStore`` whose public methods each open a span."""
    from nr_rfc_dischargeobs_spark.sources import ObservationStore

    def wrap(name):
        method = getattr(ObservationStore, name)

        def traced(self, *args, **kwargs):
            with tracer.span(f"sources.store.{name}"):
                return method(self, *args, **kwargs)

        traced.__doc__ = method.__doc__
        return traced

    names = ("read", "read_range", "write", "upsert", "exists", "merged_frame")
    return type(
        "TracedObservationStore",
        (ObservationStore,),
        {n: wrap(n) for n in names},
    )


def names() -> list[str]:
    """Every per-layer metric, in output order."""
    out = ["session.get_spark_s"]
    out += [f"spark.{k}" for k in SPARK_COUNTS]
    out += ["spark.driver_gap_s", "spark.task_cpu_s", "spark.gc_s"]
    out += [f"spark.{k}" for k in SPARK_BYTES]
    out += [
        "cold.spark.jobs", "cold.spark.codegen_compiles",
        "cold.spark.codegen_compile_ms", "cold.spark.driver_gap_s",
        "cold.op_s",
    ]
    out += [f"layer.{k}.self_share" for k in ("sources", "pipelines", "plans", "bench")]
    out += [
        "sources.conform_wsc.build_share", "sources.conform_provincial.build_share",
        "sources.conform_usgs.build_share", "sources.conform.rows_out_per_row_in",
        "sources.store.upsert.build_share", "sources.store.upsert.exec_share",
        "sources.store.upsert.bytes_written", "sources.store.upsert.files_written",
        "sources.store.upsert.write_amp", "sources.store.files_per_partition",
        "sources.store.bytes_per_obs",
    ]
    out += [f"pipelines.{f}.call_share" for f in PIPELINE_CALLS]
    for g in PLAN_GROUPS:
        out += [
            f"plans.{g}.build_share", f"plans.{g}.exec_share",
            f"plans.{g}.jobs", f"plans.{g}.codegen_compiles",
        ]
    out += ["jvm.old_gen_peak_mb", "trace.overhead_s", "trace.bookkeeping_s"]
    return out


UNITS = {
    "_s": "s", "_ms": "ms", "_mb": "MB", "_share": "ratio", "_bytes": "bytes",
    "bytes_read": "bytes", "bytes_written": "bytes", "bytes_per_obs": "bytes",
}


def unit(name: str) -> str:
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    if name.endswith(("write_amp", "per_row_in", "per_row_returned", "per_partition")):
        return "ratio"
    return "count"


class _Op:
    """One traced operation span with its subtree indexed."""

    def __init__(self, root: Span, kids: dict[int, list[Span]]):
        self.root = root
        self.kids = kids
        self.spans = subtree(root, kids)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def share(self, *names: str) -> float:
        total = sum(s.duration for n in names for s in self.named(n))
        return total / self.root.duration if self.root.duration else 0.0

    def self_of(self, s: Span) -> float:
        return self_time(s, self.kids.get(s.id, []))

    def own(self, spans: list[Span], key: str) -> float:
        """Spark counter ``key`` of the jobs launched under ``spans``."""
        return sum(d.own.get(key, 0) for s in spans for d in subtree(s, self.kids))

    def gap(self) -> float:
        jobs = [iv for s in self.spans for iv in s.job_intervals]
        return self.root.duration - union_length(jobs, self.root.start, self.root.end)


def _figures(op: _Op) -> dict[str, float]:
    f: dict[str, float] = {}
    root = op.root
    for k in ("jobs", "stages", "tasks"):
        f[f"spark.{k}"] = op.own([root], k)
    for k in ("sql_executions", "codegen_compiles"):
        f[f"spark.{k}"] = root.incl.get(k, 0)
    f["spark.driver_gap_s"] = op.gap()
    f["spark.task_cpu_s"] = op.own([root], "task_cpu_s")
    f["spark.gc_s"] = op.own([root], "gc_s")
    for k in SPARK_BYTES:
        f[f"spark.{k}"] = op.own([root], k)
    f["spark.codegen_compile_ms"] = root.incl.get("codegen_compile_ms", 0.0)

    selfs = {"sources": 0.0, "pipelines": 0.0, "plans": 0.0, "bench": 0.0}
    for s in op.spans:
        layer = s.name.split(".", 1)[0]
        selfs[layer if layer in selfs else "bench"] += op.self_of(s)
    for k, v in selfs.items():
        f[f"layer.{k}.self_share"] = v / root.duration if root.duration else 0.0

    for src in ("conform_wsc", "conform_provincial", "conform_usgs"):
        f[f"sources.{src}.build_share"] = op.share(f"sources.{src}")
    upserts = op.named("sources.store.upsert")
    f["sources.store.upsert.build_share"] = op.share(
        "sources.store.exists", "sources.store.merged_frame"
    )
    f["sources.store.upsert.exec_share"] = (
        sum(op.self_of(u) for u in upserts) / root.duration if upserts else 0.0
    )
    written = [
        n for u in upserts for n in u.sql_nodes if n["node"].startswith("Execute")
    ]
    f["sources.store.upsert.bytes_written"] = sum(
        u.own.get("output_bytes", 0) for u in upserts
    )
    f["sources.store.upsert.files_written"] = sum(
        n.get("number of written files", 0) for n in written
    )
    for fn in PIPELINE_CALLS:
        f[f"pipelines.{fn}.call_share"] = op.share(f"pipelines.{fn}")
    for g in PLAN_GROUPS:
        builds = op.named(f"plans.{g}.build")
        execs = op.named(f"plans.{g}.exec")
        f[f"plans.{g}.build_share"] = op.share(f"plans.{g}.build")
        f[f"plans.{g}.exec_share"] = op.share(f"plans.{g}.exec")
        f[f"plans.{g}.jobs"] = op.own(builds + execs, "jobs")
        f[f"plans.{g}.codegen_compiles"] = sum(
            s.incl.get("codegen_compiles", 0) for s in builds + execs
        )
    return f


def figures(
    tracer: Tracer, session_s: float, ops, extra: dict
) -> dict[str, float]:
    """Every metric of :func:`names` for one traced run.

    ``ops`` are the run's operations (traced and untraced); ``extra``
    carries figures the workload measured itself (store layout, input
    sizes)."""
    kids = tracer.children_index()
    roots = [s for s in tracer.spans if s.name == "op"]
    cold = [_Op(r, kids) for r in roots if r.attrs.get("cold")]
    warm = [_Op(r, kids) for r in roots if not r.attrs.get("cold")]
    per_op = [_figures(o) for o in warm] or [_figures(o) for o in cold]
    keys = per_op[0].keys() if per_op else []
    out = {k: statistics.fmean(p[k] for p in per_op) for k in keys}
    out["session.get_spark_s"] = session_s
    if cold:
        c = _figures(cold[0])
        out["cold.spark.jobs"] = c["spark.jobs"]
        out["cold.spark.codegen_compiles"] = c["spark.codegen_compiles"]
        out["cold.spark.codegen_compile_ms"] = c["spark.codegen_compile_ms"]
        out["cold.spark.driver_gap_s"] = c["spark.driver_gap_s"]
        out["cold.op_s"] = cold[0].root.duration

    # ratios that need the workload's own sizes
    out["sources.conform.rows_out_per_row_in"] = extra.get("conform_rows_out_per_in", 0.0)
    in_bytes = extra.get("incoming_parquet_bytes")
    out["sources.store.upsert.write_amp"] = (
        out.get("sources.store.upsert.bytes_written", 0.0) / in_bytes
        if in_bytes else 0.0
    )
    out["sources.store.files_per_partition"] = extra.get("store_files_per_partition", 0.0)
    out["sources.store.bytes_per_obs"] = extra.get("store_bytes_per_obs", 0.0)
    out["jvm.old_gen_peak_mb"] = extra.get("old_gen_peak_mb", 0.0)
    traced = warm_seconds(ops, traced=True)
    plain = warm_seconds(ops, traced=False)
    out["trace.overhead_s"] = (
        statistics.median(traced) - statistics.median(plain)
        if traced and plain else 0.0
    )
    n_traced = sum(1 for o in ops if o.traced) or 1
    out["trace.bookkeeping_s"] = tracer.bookkeeping_s / n_traced
    out.pop("spark.codegen_compile_ms", None)
    return {k: float(out.get(k, 0.0)) for k in names()}
