"""Tests of the benchmark's own code at tiny scale (no Spark session):

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import checks  # noqa: E402
import cron  # noqa: E402
import hydro  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import surface  # noqa: E402
import tables  # noqa: E402
from harness import Context  # noqa: E402
from tracer import Span, Tracer, self_time, union_length  # noqa: E402

TINY = hydro.HydroShape(
    n_wsc=4, n_prov=2, n_usgs=1, n_weather=3, cutoff_day=4, older_days=1
)


# ------------------------------------------------------------ generators


def _table_equal(a: pa.Table, b: pa.Table) -> bool:
    return a.equals(b)


def test_hydro_generators_are_deterministic(tmp_path):
    net_a, net_b = hydro.network(TINY, 5), hydro.network(TINY, 5)
    assert _table_equal(hydro.base_store_rows(net_a), hydro.base_store_rows(net_b))
    a = hydro.write_cycle(net_a, 2, tmp_path / "a")
    b = hydro.write_cycle(net_b, 2, tmp_path / "b")
    assert hydro.inputs_digest(a) == hydro.inputs_digest(b)
    assert _table_equal(a.expected, b.expected)
    assert a.expected_weather == b.expected_weather
    other = hydro.write_cycle(hydro.network(TINY, 6), 2, tmp_path / "c")
    assert hydro.inputs_digest(other) != hydro.inputs_digest(a)


def test_query_tables_are_deterministic(tmp_path):
    tables.generate(tmp_path / "a", 3, 0.05)
    tables.generate(tmp_path / "b", 3, 0.05)
    tables.generate(tmp_path / "c", 4, 0.05)
    for name in ("lineitem", "events", "documents", "embeddings"):
        a = pq.read_table(tmp_path / "a" / f"{name}.parquet")
        assert a.equals(pq.read_table(tmp_path / "b" / f"{name}.parquet"))
        assert not a.equals(pq.read_table(tmp_path / "c" / f"{name}.parquet"))


# ----------------------------------------------------------- store check


def _merged_store(tmp_path: Path, cycles: int) -> tuple[Path, list[str]]:
    """A store holding the existing-wins merge of the base rows and
    ``cycles`` cycles, merged here with pandas, plus the check's inputs."""
    net = hydro.network(TINY, 9)
    base = hydro.base_store_rows(net)
    inputs = [hydro.write_table(base, tmp_path / "base.parquet")]
    frames = [base.to_pandas().assign(prio=0)]
    for i in range(cycles):
        cyc = hydro.write_cycle(net, i, tmp_path / f"landing{i}")
        inputs.append(hydro.write_table(cyc.expected, tmp_path / f"exp{i}.parquet"))
        frames.append(cyc.expected.to_pandas().assign(prio=i + 1))
    df = pd.concat(frames, ignore_index=True)
    df["isnull"] = df["value"].isna()
    df = (
        df.sort_values(["isnull", "prio"], kind="stable")
        .drop_duplicates(["station_id", "obs_time", "datatype", "qc_level"])
        .drop(columns=["isnull", "prio"])
    )
    root = tmp_path / "store"
    cron.write_hive(pa.Table.from_pandas(df, schema=hydro.OBS_SCHEMA, preserve_index=False), root)
    return root, inputs


def test_store_check_passes_on_true_merge(tmp_path):
    root, inputs = _merged_store(tmp_path, cycles=2)
    assert checks.store_equals_merge(root, inputs) is None


def test_store_check_fails_on_a_corrupted_row(tmp_path):
    root, inputs = _merged_store(tmp_path, cycles=2)
    part = next(root.glob("year_month=202401/datatype=Q/*.parquet"))
    t = pq.read_table(part)
    values = t["value"].to_pylist()
    i = next(k for k, v in enumerate(values) if v is not None)
    values[i] += 1.0 / 64
    pq.write_table(t.set_column(t.schema.get_field_index("value"), "value",
                                pa.array(values, pa.float64())), part)
    assert "1 of" in checks.store_equals_merge(root, inputs)


def test_store_check_fails_when_incoming_wins(tmp_path):
    """A store merged the other way round (incoming wins) is caught."""
    root, inputs = _merged_store(tmp_path, cycles=2)
    assert checks.store_equals_merge(root, [inputs[0], inputs[2], inputs[1]])


# ---------------------------------------------------------- other checks


def test_weather_check(tmp_path):
    net = hydro.network(TINY, 1)
    cyc = hydro.write_cycle(net, 0, tmp_path)
    hours = sorted({h for (_s, h) in cyc.expected_weather})
    import datetime as dt

    def rows(var):
        out = []
        for h in hours:
            row = {"obs_time": dt.datetime.fromisoformat(h)}
            for s in net.weather:
                vals = cyc.expected_weather.get((s, h))
                row[s] = vals[var] if vals else None
            out.append(row)
        return out

    wide = {v: rows(v) for v in ("air_temp", "pcpn_amt_pst1hr")}
    assert checks.weather(wide, cyc.expected_weather, net.weather) is None
    key = next(k for k, v in cyc.expected_weather.items() if v["air_temp"] is not None)
    row = next(r for r in wide["air_temp"] if r["obs_time"].strftime("%Y-%m-%d %H:%M:%S") == key[1])
    row[key[0]] += 0.5
    assert checks.weather(wide, cyc.expected_weather, net.weather)


class _Counted:
    def __init__(self, n):
        self.n = n

    def count(self):
        return self.n


def _surface_run(tmp_path, registry_names, wrong=()):
    """Run the query-surface loop with stand-in plans whose ``count()``
    is the DuckDB oracle's own count (the true output), off by one for
    the names in ``wrong``."""
    import __spark_entry__ as entry

    oracle = entry._raw_oracle_sql()
    data = tmp_path / "work" / "tables"
    tables.generate(data, 1, surface.TABLE_SCALE)
    truth = checks.oracle_counts(data, {n: oracle[n] for n in surface.QUERIES})
    registry = {
        n: (lambda spark, d, n=n: _Counted(truth[n] + (1 if n in wrong else 0)))
        for n in registry_names
    }
    ctx = Context(spark=None, tracer=Tracer(False, "t"), seed=1, seconds=0.0,
                  work=tmp_path / "work", trace=False, store_class=object)
    return surface.query_surface(ctx, registry=registry, oracle=oracle)


def test_query_check_passes_on_true_counts(tmp_path):
    wl = _surface_run(tmp_path, surface.QUERIES)
    assert wl.failed == 0
    assert wl.attempted == len(surface.QUERIES) * len(wl.ops)


def test_query_check_fails_on_a_dropped_query(tmp_path):
    wl = _surface_run(tmp_path, surface.QUERIES[1:])
    assert wl.failed == len(wl.ops)
    assert surface.QUERIES[0] in wl.checks["oracle_mismatch_or_error"]


def test_query_check_fails_on_a_wrong_count(tmp_path):
    wl = _surface_run(tmp_path, surface.QUERIES, wrong={surface.QUERIES[3]})
    assert wl.failed == len(wl.ops)


# ------------------------------------------------------------- self time


def _span(i, start, end, parent=None):
    return Span(id=i, name=f"s{i}", parent=parent, run="r", start=start, end=end)


def test_union_length_merges_overlaps_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(0, 2), (1, 3), (5, 6)], 2.5, 5.5) == pytest.approx(1.0)
    assert union_length([], 0, 1) == 0
    assert union_length([(3, 4)], 0, 2) == 0


def test_self_time_subtracts_covered_part_once():
    parent = _span(1, 0.0, 10.0)
    kids = [_span(2, 1.0, 4.0, 1), _span(3, 3.0, 5.0, 1), _span(4, 9.0, 12.0, 1)]
    # children cover [1,5] and [9,10] of the parent: 5 of its 10 seconds
    assert self_time(parent, kids) == pytest.approx(5.0)
    assert self_time(kids[0], []) == pytest.approx(3.0)


def test_tracer_records_nesting_and_self_times():
    tr = Tracer(True, "r")
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer = next(s for s in tr.spans if s.name == "outer")
    inner = next(s for s in tr.spans if s.name == "inner")
    assert inner.parent == outer.id and outer.parent is None
    assert inner.run == outer.run == "r"
    st = tr.self_times()
    assert st[outer.id] == pytest.approx(outer.duration - inner.duration)


def test_disabled_tracer_records_nothing():
    tr = Tracer(False, "r")
    with tr.span("x"):
        pass
    assert tr.spans == []


# ------------------------------------------------------ metric contract


def test_benchmark_json_matches_the_code():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == [
        w for w in run.WORKLOADS if w in {x["name"] for x in spec["workloads"]}
    ]
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E
    names = layers.names()
    assert len(names) == len(set(names))
    assert [m["name"] for m in spec["per_layer"]] == names
    assert all(m["unit"] == layers.unit(m["name"]) for m in spec["per_layer"])
