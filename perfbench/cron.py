"""The ``hourly_cron`` workload: EP1 ingest/upsert plus EP3 weather, the
write path.

Each operation is one closed-loop cycle as the reference's cron job runs
it; the next starts when the previous one ends.  Inputs for a cycle are
generated before its clock starts, and its outputs are checked after the
clock stops.
"""

from __future__ import annotations

import os
import statistics
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import checks
import env
import hydro
from harness import Workload, run_ops

SHAPE = hydro.HydroShape()
# A cycle takes about 11.5 s warm on 4 cores (30 s cold).  The first
# cycle after the cold one is the slowest and by far the least steady
# (IQR over seven seeds 26 % of its median, against 7 % for the next one):
# it settles, and the warm cycles that fit in the measuring time follow,
# at least one, which is what the benchmark's total time budget holds
SETTLING_CYCLES = 1
MIN_WARM_CYCLES = 1


def _store_layout(root: Path) -> dict:
    """Files and bytes on disk per hive partition of a store."""
    parts: dict[str, int] = {}
    total_bytes = 0
    for dirpath, _dirs, files in os.walk(root):
        data = [f for f in files if f.endswith(".parquet")]
        if data:
            parts[os.path.relpath(dirpath, root)] = len(data)
            total_bytes += sum(os.path.getsize(os.path.join(dirpath, f)) for f in data)
    return {
        "partitions": len(parts),
        "files": sum(parts.values()),
        "bytes": total_bytes,
        "files_per_partition": sum(parts.values()) / max(1, len(parts)),
    }


def write_hive(table: pa.Table, root: Path) -> None:
    """Write canonical rows in the store's hive layout
    (``year_month=YYYYMM/datatype=X/part-00000.parquet``), sorted by
    station and time like the program's own writer, timestamps as
    UTC-adjusted instants so Spark reads them as ``TIMESTAMP``."""
    months = table["obs_time"].to_numpy().astype("datetime64[M]")
    dtypes = table["datatype"].to_numpy(zero_copy_only=False)
    table = table.set_column(
        1, "obs_time", table["obs_time"].cast(pa.timestamp("us", tz="UTC"))
    ).drop(["datatype"])
    for month in np.unique(months):
        ym = str(month).replace("-", "")
        for dtype in ("Q", "H"):
            idx = np.flatnonzero((months == month) & (dtypes == dtype))
            if not len(idx):
                continue
            part = table.take(idx).sort_by(
                [("station_id", "ascending"), ("obs_time", "ascending")]
            )
            out = root / f"year_month={ym}" / f"datatype={dtype}"
            out.mkdir(parents=True, exist_ok=True)
            pq.write_table(part, str(out / "part-00000.parquet"))


# ------------------------------------------------------------ EP1 + EP3


def _cycle(ctx, store, inp: hydro.CycleInputs, net: hydro.Network) -> dict:
    """One hourly cron cycle through the program's public API; returns
    the collected wide weather matrices by variable."""
    from pyspark.sql import functions as F

    from nr_rfc_dischargeobs_spark import pipelines, schemas
    from nr_rfc_dischargeobs_spark.sources import (
        conform_provincial, conform_usgs, conform_wsc, nwis,
    )
    from nr_rfc_dischargeobs_spark.sources.swob import parse_swob_xml

    spark, tr = ctx.spark, ctx.tracer
    raw_wsc = tr.call(
        "sources.wsc_datamart.load",
        lambda: spark.read.format("wsc_datamart")
        .option("paths", ",".join(inp.wsc_paths)).load(),
    )
    wsc = tr.call("sources.conform_wsc", conform_wsc, raw_wsc)
    prov_dim = spark.createDataFrame(
        inp.prov_dim, schemas.PROVINCIAL_STATIONS_SCHEMA
    )
    w_start = F.lit(inp.start.strftime("%Y-%m-%d %H:%M:%S")).cast("timestamp")
    w_end = F.lit(inp.end.strftime("%Y-%m-%d %H:%M:%S")).cast("timestamp")
    prov = [
        tr.call(
            "sources.conform_provincial", conform_provincial,
            spark.read.csv(path, schema=schemas.PROVINCIAL_SCHEMA, header=True),
            prov_dim, dtype, w_start, w_end,
        )
        for dtype, path in (("Q", inp.prov_q_path), ("H", inp.prov_h_path))
    ]
    iv = tr.call("sources.nwis.iv_dataframe", nwis.iv_dataframe, spark, inp.usgs_payload)
    usgs = tr.call(
        "sources.conform_usgs", conform_usgs, iv,
        spark.createDataFrame(inp.usgs_dim, schemas.USGS_STATIONS_SCHEMA),
    )
    tr.call(
        "pipelines.ingest_instantaneous", pipelines.ingest_instantaneous,
        store, [wsc, *prov, usgs],
    )
    # EP3: SWOB payloads -> parse -> scaffold align -> wide TA/PC matrices
    payloads = spark.createDataFrame(
        inp.swob_rows, "station string, obs_hour timestamp, xml string"
    )
    parsed = tr.call("sources.swob.parse_swob_xml", parse_swob_xml, payloads)
    wdim = spark.createDataFrame([(s,) for s in net.weather], ["station_id"])
    weather = tr.call(
        "pipelines.ingest_weather", pipelines.ingest_weather,
        parsed, wdim, inp.weather_day,
    )
    wide = {}
    for var in ("air_temp", "pcpn_amt_pst1hr"):
        wide[var] = tr.call(
            "pipelines.weather_wide",
            lambda v=var: pipelines.weather_wide(weather, v, net.weather).collect(),
        )
    return wide


def hourly_cron(ctx) -> Workload:
    from nr_rfc_dischargeobs_spark.sources import WscDataMartDataSource

    net = hydro.network(SHAPE, ctx.seed)
    base_path = ctx.work / "base.parquet"
    store_root = ctx.work / "store"

    # the pre-cron store: benchmark-written files, outside setup_s
    t0 = time.perf_counter()
    with ctx.tracer.span("bench.setup.build_store"):
        base = hydro.base_store_rows(net)
        write_hive(base, store_root)
        hydro.write_table(base, base_path)
        del base
    fixture_s = time.perf_counter() - t0
    env.reset_peak_rss()

    # the program's own set-up: the datamart source and the store handle
    t0 = time.perf_counter()
    ctx.spark.dataSource.register(WscDataMartDataSource)
    store = ctx.store_class(ctx.spark, str(store_root))
    setup_s = time.perf_counter() - t0

    expected_paths: list[str] = [str(base_path)]
    in_bytes: list[int] = []
    rows_ratio: list[float] = []

    def one(i: int):
        inp = hydro.write_cycle(net, i, ctx.work / f"landing{i % 2}")
        exp_path = ctx.work / f"expected{i}.parquet"
        hydro.write_table(inp.expected, exp_path)
        expected_paths.append(str(exp_path))
        in_bytes.append(exp_path.stat().st_size)
        rows_ratio.append(inp.expected.num_rows / inp.raw_rows)

        def timed():
            return _cycle(ctx, store, inp, net)

        def verify(wide) -> str | None:
            return checks.weather(wide, inp.expected_weather, net.weather)

        return f"cycle{i}", timed, verify, {
            "raw_rows": inp.raw_rows, "expected_rows": inp.expected.num_rows,
        }

    ops = run_ops(ctx, one, SETTLING_CYCLES, MIN_WARM_CYCLES)
    rss = env.peak_rss_mb(ctx.spark)
    # the store check covers every cycle: on a mismatch each cycle counts
    # as failed, since none can be trusted to have landed correctly
    mismatch = checks.store_equals_merge(store_root, expected_paths)
    if mismatch:
        for op in ops:
            if op.ok:
                op.ok, op.error = False, f"store check: {mismatch}"
    layout = _store_layout(store_root)
    return Workload(
        setup_s=setup_s,
        fixture_s=fixture_s,
        peak_rss_mb=rss,
        ops=ops,
        checks={"store_matches_duckdb_merge": not mismatch, "detail": mismatch},
        layer={
            "store_bytes_per_obs": layout["bytes"] / max(1, checks.store_rows(store_root)),
            "store_files_per_partition": layout["files_per_partition"],
            "incoming_parquet_bytes": statistics.fmean(in_bytes),
            "conform_rows_out_per_in": statistics.fmean(rows_ratio),
        },
    )
