"""Seeded generators for the cron workloads' inputs.

Everything here is plain numpy/pyarrow/stdlib: the program under test only
ever sees the files and payloads these functions produce.  Alongside every
raw feed the generator also returns the canonical long rows the feed should
conform to (``station_id, obs_time, datatype, value, qc_level, source``),
computed from the same arrays rather than by parsing the feed, so the
output checks compare the program against an independent derivation.

Time model: January 2024, when America/Vancouver and US/Pacific are both
fixed at UTC-8, so every local wall-clock time is UTC minus eight hours.
Observation values are multiples of 1/64: exact in binary and short in
decimal, so the feeds' CSV text carries them without rounding.
"""

from __future__ import annotations

import datetime as dt
import json
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SLOT = dt.timedelta(minutes=5)
UTC_OFFSET = dt.timedelta(hours=-8)
MONTH_START = dt.datetime(2024, 1, 1)
LOOKBACK = dt.timedelta(hours=48)
N_WSC_FEEDS = 6
WSC_HEADER = [
    "ID", "Date", "Water Level / Niveau d'eau (m)", "Grade",
    "Symbol / Symbole", "QA/QC", "Discharge / Débit (cms)", "Grade",
    "Symbol / Symbole", "QA/QC",
]
PROV_HEADER = [
    "Location ID", " Location Name", " Status", " Latitude", " Longitude",
    " Date/Time(UTC)", " Parameter", " Value",
]
OBS_SCHEMA = pa.schema(
    [
        ("station_id", pa.string()),
        ("obs_time", pa.timestamp("us")),
        ("datatype", pa.string()),
        ("value", pa.float64()),
        ("qc_level", pa.string()),
        ("source", pa.string()),
    ]
)
SWOB_VARS = ("air_temp", "avg_air_temp_pst1hr", "pcpn_amt_pst1hr")


@dataclass(frozen=True)
class HydroShape:
    """Sizes of one generated network.  ``cutoff_day`` is the January day
    at whose midnight the pre-built store ends; cycles land after it, one
    hour apart, so the 96 cycles up to the end of January each rewrite
    the same month.  The default holds about 750k rows in that month and
    lands about 51k canonical rows per cycle."""

    n_wsc: int = 30
    n_prov: int = 12
    n_usgs: int = 6
    n_weather: int = 30
    cutoff_day: int = 28
    older_days: int = 3

    @property
    def cutoff(self) -> dt.datetime:
        return MONTH_START + dt.timedelta(days=self.cutoff_day - 1)


@dataclass
class Network:
    """Station identities and per-station signal parameters."""

    shape: HydroShape
    seed: int
    wsc: list[str] = field(default_factory=list)
    prov_rfc: list[str] = field(default_factory=list)
    prov_loc: list[str] = field(default_factory=list)
    usgs: list[str] = field(default_factory=list)
    weather: list[str] = field(default_factory=list)
    params: dict[str, tuple[float, float, float]] = field(default_factory=dict)

    @property
    def stations(self) -> list[str]:
        return self.wsc + self.prov_rfc + self.usgs

    def stage_only(self, station: str) -> bool:
        """Every seventh WSC gauge reports stage only (no discharge)."""
        return station in self.wsc and self.wsc.index(station) % 7 == 3


def network(shape: HydroShape, seed: int) -> Network:
    rng = np.random.default_rng([seed, 1])
    net = Network(shape=shape, seed=seed)
    net.wsc = [f"08W{i:04d}" for i in range(shape.n_wsc)]
    net.prov_loc = [f"P{i:05d}" for i in range(shape.n_prov)]
    net.prov_rfc = [f"08P{i:04d}" for i in range(shape.n_prov)]
    net.usgs = [f"12U{i:04d}" for i in range(shape.n_usgs)]
    net.weather = [f"WX{i:03d}" for i in range(shape.n_weather)]
    for s in net.stations:
        base = float(rng.uniform(5, 400))
        amp = float(rng.uniform(0.05, 0.3))
        period_h = float(rng.uniform(12, 96))
        net.params[s] = (base, amp, period_h)
    return net


def _slots(start: dt.datetime, end: dt.datetime, step: dt.timedelta) -> np.ndarray:
    n = int((end - start) / step)
    return np.datetime64(start, "us") + np.arange(n) * np.timedelta64(
        int(step.total_seconds() * 1e6), "us"
    )


def _signal(
    net: Network, station: str, times: np.ndarray, datatype: str
) -> np.ndarray:
    """Deterministic smooth series quantized to 1/64."""
    base, amp, period_h = net.params[station]
    hours = (times - np.datetime64(MONTH_START, "us")) / np.timedelta64(1, "h")
    wave = 1.0 + amp * np.sin(2 * np.pi * hours / period_h)
    level = base * wave if datatype == "Q" else 0.5 + np.log1p(base) * wave
    return np.round(level * 64.0) / 64.0


def _revised(rng: np.random.Generator, values: np.ndarray) -> np.ndarray:
    """A later feed re-reports about a fifth of its overlap with a
    changed value; existing-wins must keep the first one."""
    bump = rng.integers(-3, 4, size=values.shape) / 64.0
    mask = rng.random(values.shape) < 0.2
    return np.where(mask, values + bump, values)


def _canonical(
    stations: np.ndarray,
    times: np.ndarray,
    datatype: np.ndarray,
    values: np.ndarray,
    source: str,
) -> pa.Table:
    n = len(stations)
    return pa.table(
        {
            "station_id": pa.array(stations, pa.string()),
            "obs_time": pa.array(times, pa.timestamp("us")),
            "datatype": pa.array(datatype, pa.string()),
            "value": pa.array(values, pa.float64(), mask=np.isnan(values)),
            "qc_level": pa.repeat(pa.scalar("raw"), n),
            "source": pa.repeat(pa.scalar(source), n),
        },
        schema=OBS_SCHEMA,
    )


def _long_rows(
    net: Network,
    stations: list[str],
    times: np.ndarray,
    source: str,
    rng: np.random.Generator | None,
) -> pa.Table:
    """Canonical rows for every (station, Q/H, time), station-major, with
    optional revisions; stage-only gauges carry a NULL discharge."""
    n_t = len(times)
    vals = []
    for s in stations:
        for dtype in ("Q", "H"):
            v = _signal(net, s, times, dtype)
            if rng is not None:
                v = _revised(rng, v)
            if dtype == "Q" and net.stage_only(s):
                v = np.full(n_t, np.nan)
            vals.append(v)
    n = n_t * 2 * len(stations)
    return _canonical(
        np.repeat(np.array(stations, dtype=str), 2 * n_t),
        np.tile(times, 2 * len(stations)),
        np.tile(np.repeat(np.array(["Q", "H"]), n_t), len(stations)),
        np.concatenate(vals) if vals else np.zeros(0),
        source,
    ) if n else _canonical(np.array([], dtype=str), times[:0], np.array([], dtype=str), np.zeros(0), source)


# ------------------------------------------------------------ the store


def base_store_rows(net: Network) -> pa.Table:
    """The store as it stands before the first cycle: the tail days of the
    two preceding months plus the current month up to the cutoff."""
    shape = net.shape
    spans = []
    for month_start in (dt.datetime(2023, 11, 1), dt.datetime(2023, 12, 1)):
        nxt = (month_start + dt.timedelta(days=32)).replace(day=1)
        spans.append((nxt - dt.timedelta(days=shape.older_days), nxt))
    spans.append((MONTH_START, shape.cutoff))
    parts = []
    for start, end in spans:
        times = _slots(start, end, SLOT)
        sources = (
            (net.wsc, "wsc"), (net.prov_rfc, "prov"), (net.usgs, "usgs")
        )
        for stations, source in sources:
            parts.append(_long_rows(net, stations, times, source, None))
    return pa.concat_tables(parts)


# ------------------------------------------------------------ one cycle


@dataclass
class CycleInputs:
    """Everything one hourly cron cycle lands, plus its canonical rows."""

    index: int
    end: dt.datetime  # exclusive end of the 2-day lookback (local)
    wsc_paths: list[str]
    prov_q_path: str
    prov_h_path: str
    prov_dim: list[tuple[str, str]]
    usgs_payload: dict
    usgs_dim: list[tuple[str, str]]
    swob_rows: list[tuple[str, dt.datetime, str]]
    weather_day: str
    expected: pa.Table  # canonical rows EP1 must upsert
    expected_weather: dict[tuple[str, str], dict[str, float | None]]
    raw_rows: int

    @property
    def start(self) -> dt.datetime:
        return self.end - LOOKBACK


def cycle_end(shape: HydroShape, index: int) -> dt.datetime:
    return shape.cutoff + dt.timedelta(hours=index + 1)


def _to_csv(rows: pd.DataFrame, path: Path, header: list[str]) -> None:
    """CSV with the feed's header; floats in shortest round-trip form,
    missing values as empty fields."""
    rows.to_csv(path, index=False, header=header, na_rep="")


def write_cycle(net: Network, index: int, landing: Path) -> CycleInputs:
    """Land the feeds of cycle ``index`` under ``landing`` and return the
    inputs with their expected canonical rows."""
    rng = np.random.default_rng([net.seed, 2, index])
    landing.mkdir(parents=True, exist_ok=True)
    end = cycle_end(net.shape, index)
    start = end - LOOKBACK
    expected = []
    raw_rows = 0

    # --- WSC DataMart: six CSV feeds, local time with the -08:00 offset
    times = _slots(start, end, SLOT)
    wsc = _long_rows(net, net.wsc, times, "wsc", rng)
    expected.append(wsc)
    n_t = len(times)
    qh = wsc["value"].to_numpy(zero_copy_only=False).reshape(len(net.wsc), 2, n_t)
    stamps = np.char.add(np.datetime_as_string(times, unit="s"), "-08:00")
    wsc_paths = []
    for feed in range(N_WSC_FEEDS):
        idx = np.arange(feed, len(net.wsc), N_WSC_FEEDS)
        rows = pd.DataFrame(
            {
                "ID": np.repeat(np.array(net.wsc)[idx], n_t),
                "Date": np.tile(stamps, len(idx)),
                "H": qh[idx, 1, :].ravel(),
                "g1": "", "s1": "", "q1": "1",
                "Q": qh[idx, 0, :].ravel(),
                "g2": "", "s2": "", "q2": "1",
            }
        )
        path = landing / f"wsc_{feed}.csv"
        _to_csv(rows, path, WSC_HEADER)
        raw_rows += len(rows)
        wsc_paths.append(str(path))

    # --- provincial F2: 3 days of UTC rows; the conformer's exclusive
    # 2-day window keeps the tail, and unknown locations are dropped
    prov_times = _slots(end - dt.timedelta(hours=72), end, SLOT)
    prov = _long_rows(net, net.prov_rfc, prov_times, "prov", rng)
    n_p = len(prov_times)
    pv = prov["value"].to_numpy(zero_copy_only=False).reshape(len(net.prov_rfc), 2, n_p)
    utc = np.char.add(
        " ",
        np.char.replace(
            np.datetime_as_string(
                prov_times - np.timedelta64(int(UTC_OFFSET.total_seconds()), "s"),
                unit="s",
            ),
            "T", " ",
        ),
    )
    stray = " " + (end - UTC_OFFSET).strftime("%Y-%m-%d %H:00:00")
    prov_paths = {}
    for k, dtype in enumerate(("Q", "H")):
        rows = pd.DataFrame(
            {
                "loc": np.concatenate(
                    [np.repeat(np.array(net.prov_loc), n_p),
                     # gauges missing from the station list
                     [f"X{i:05d}" for i in range(3)]]
                ),
                "m1": "", "m2": "", "m3": "", "m4": "",
                "ts": np.concatenate([np.tile(utc, len(net.prov_loc)), [stray] * 3]),
                "m5": "",
                "value": np.concatenate([pv[:, k, :].ravel(), [1.0] * 3]),
            }
        )
        path = landing / f"prov_{dtype}.csv"
        _to_csv(rows, path, PROV_HEADER)
        raw_rows += len(rows)
        prov_paths[dtype] = str(path)
    keep = pc.and_(
        pc.greater(prov["obs_time"], pa.scalar(start, pa.timestamp("us"))),
        pc.less(prov["obs_time"], pa.scalar(end, pa.timestamp("us"))),
    )
    expected.append(prov.filter(keep))

    # --- USGS NWIS: a WaterML-JSON payload at 15-minute resolution, in
    # the service's units (cfs, ft); the conformer converts and rounds
    usgs_times = _slots(start, end, dt.timedelta(minutes=15))
    series = []
    rows_q, rows_h = [], []
    for s in net.usgs:
        site = s.replace("U", "00")
        q = np.round(_signal(net, s, usgs_times, "Q"), 3)
        h = np.round(_signal(net, s, usgs_times, "H"), 3)
        rows_q.append(q)
        rows_h.append(h)
        stamps = [
            (t.astype(dt.datetime)).strftime("%Y-%m-%dT%H:%M:%S.000-08:00")
            for t in usgs_times
        ]
        for code, vals, factor, nd in (
            ("00060", q, 35.3147, 2), ("00065", h, 3.28084, 3)
        ):
            series.append(
                {
                    "sourceInfo": {"siteCode": [{"value": site}]},
                    "variable": {
                        "variableCode": [{"value": code}],
                        "noDataValue": -999999.0,
                    },
                    "values": [
                        {
                            "value": [
                                {"value": f"{v * factor:.{nd}f}", "dateTime": ts}
                                for v, ts in zip(vals, stamps)
                            ]
                        }
                    ],
                }
            )
        raw_rows += len(usgs_times)
    payload = {"value": {"timeSeries": series}}
    n_t = len(usgs_times)
    for dtype, arrs in (("Q", rows_q), ("H", rows_h)):
        expected.append(
            _canonical(
                np.repeat(np.array(net.usgs, dtype=object), n_t),
                np.tile(usgs_times, len(net.usgs)),
                np.full(n_t * len(net.usgs), dtype, dtype=object),
                np.concatenate(arrs) if arrs else np.array([]),
                "usgs",
            )
        )

    # --- SWOB weather: one XML payload per (station, UTC hour) of one day;
    # a few payloads never arrive and a few values read MSNG
    day = (end - dt.timedelta(hours=1)).date()
    swob_rows = []
    exp_weather: dict[tuple[str, str], dict[str, float | None]] = {}
    for s in net.weather:
        for hour in range(24):
            if rng.random() < 0.05:
                continue
            obs_hour = dt.datetime.combine(day, dt.time(hour))
            vals = {}
            elements = []
            for var in SWOB_VARS:
                if rng.random() < 0.04:
                    text, val = "MSNG", None
                else:
                    val = round(float(rng.uniform(-25, 10)), 1)
                    if var == "pcpn_amt_pst1hr":
                        val = abs(val) / 10.0
                    text = repr(val)
                vals[var] = val
                elements.append(f"<element name='{var}' value='{text}' uom='x'/>")
            xml = (
                "<om:ObservationCollection><om:result><elements>"
                + "".join(elements)
                + "</elements></om:result></om:ObservationCollection>"
            )
            swob_rows.append(("C" + s, obs_hour, xml))
            local = (obs_hour + UTC_OFFSET).strftime("%Y-%m-%d %H:%M:%S")
            exp_weather[(s, local)] = vals

    return CycleInputs(
        index=index,
        end=end,
        wsc_paths=wsc_paths,
        prov_q_path=prov_paths["Q"],
        prov_h_path=prov_paths["H"],
        prov_dim=list(zip(net.prov_loc, net.prov_rfc)),
        usgs_payload=payload,
        usgs_dim=[(s, f"USGS gauge {s}") for s in net.usgs],
        swob_rows=swob_rows,
        weather_day=day.isoformat(),
        expected=pa.concat_tables(expected),
        expected_weather=exp_weather,
        raw_rows=raw_rows,
    )


def write_table(table: pa.Table, path: Path) -> str:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, str(path))
    return str(path)


def inputs_digest(cycle: CycleInputs) -> str:
    """Digest of every landed byte of a cycle, for determinism tests."""
    import hashlib

    h = hashlib.sha256()
    for p in [*cycle.wsc_paths, cycle.prov_q_path, cycle.prov_h_path]:
        h.update(Path(p).read_bytes())
    h.update(json.dumps(cycle.usgs_payload, sort_keys=True).encode())
    for s, t, x in cycle.swob_rows:
        h.update(f"{s}|{t.isoformat()}|{x}".encode())
    return h.hexdigest()
