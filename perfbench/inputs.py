"""Seeded input generators for the benchmark workloads.

Everything here runs before the timed region and uses numpy/pyarrow only
(no Spark), so generation never competes with the measured jobs. Each
generator returns the closed-form facts the output checks compare against.
"""

from __future__ import annotations

import dataclasses
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

G = 9.81
T0 = pd.Timestamp("2021-09-01 00:00:00")


# --------------------------------------------------------------------------
# deploy_waves: a burst-sampled RBR pressure deployment and its stream feed
# --------------------------------------------------------------------------

FS = 2.0  # Hz
BURST_SECONDS = 1024  # recorded seconds per hourly burst
BURST_SAMPLES = int(FS * BURST_SECONDS)
SENSOR_HEIGHT = 0.5  # m above bed
# wave frequencies on exact Welch bins (nfft = 2048/16 = 128 → df = 1/64 Hz)
# so the spectral peak is the injected period with no bin quantization
PEAK_BINS = (6, 8, 10)
MET_OFFSET_S = 13  # met grid offset: nearest-time picks are tie-free


@dataclass
class Deployment:
    times: np.ndarray  # datetime64[ns], all samples in time order
    pressure: np.ndarray  # absolute (dbar) as written to the CSV
    corrected: np.ndarray  # pressure - nearest atmpres (the clean P_1ac)
    burst_index: np.ndarray  # burst number of each sample
    n_bursts: int
    period_s: float
    amplitude: float
    mean_depth: float
    good_dates: tuple[str, str]
    good_bursts: list[int]  # bursts entirely inside good_dates


def make_deployment(seed: int, n_bursts: int) -> Deployment:
    """Hourly bursts of 2 Hz pressure: a monochromatic wave of seeded
    period/amplitude on a seeded mean depth, plus the nearest 10-minute
    atmospheric pressure (so P - atmpres recovers depth + wave exactly)
    and a little seeded noise."""
    rng = np.random.default_rng(seed)
    period = 64.0 / float(rng.choice(PEAK_BINS))
    amp = float(rng.uniform(0.15, 0.35))
    depth = float(rng.uniform(4.0, 6.0))
    i = np.arange(BURST_SAMPLES)
    secs = (np.arange(n_bursts)[:, None] * 3600 + i[None, :] / FS).ravel()
    burst = np.repeat(np.arange(n_bursts), BURST_SAMPLES)
    phase = rng.uniform(0, 2 * np.pi, n_bursts)[burst]
    wave = amp * np.cos(2 * np.pi * secs / period + phase)
    noise = rng.normal(0.0, 0.001, secs.size)
    # quantize to the CSV's 6 decimals so the corrected series is exact
    corrected = np.round(depth + wave + noise, 6)
    met = met_series(seed, n_bursts)
    nearest = np.rint((secs - MET_OFFSET_S) / 600.0).astype(int)
    pressure = np.round(corrected + met[nearest], 6)
    corrected = pressure - met[nearest]
    times = (T0 + pd.to_timedelta(secs, unit="s")).to_numpy()
    # clip the first and last burst: good_dates sit in the gaps between
    start = T0 + pd.Timedelta(seconds=3600 - 1800)
    end = T0 + pd.Timedelta(seconds=(n_bursts - 1) * 3600 - 1800)
    return Deployment(
        times=times,
        pressure=pressure,
        corrected=corrected,
        burst_index=burst,
        n_bursts=n_bursts,
        period_s=period,
        amplitude=amp,
        mean_depth=depth,
        good_dates=(str(start), str(end)),
        good_bursts=list(range(1, n_bursts - 1)),
    )


def met_series(seed: int, n_bursts: int) -> np.ndarray:
    """10-minute atmospheric pressure (dbar) covering the deployment."""
    rng = np.random.default_rng(seed + 1)
    n = n_bursts * 6 + 2
    return np.round(10.1 + 0.05 * np.sin(np.arange(n) / 9.0) + rng.normal(0, 0.002, n), 4)


def write_deployment(dep: Deployment, seed: int, d: str) -> dict[str, str]:
    """The vendor CSV (pressure, temperature, turbidity) and the met
    parquet the clean stage's as-of correction reads."""
    os.makedirs(d, exist_ok=True)
    rng = np.random.default_rng(seed + 2)
    n = dep.times.size
    stamps = pd.DatetimeIndex(dep.times).strftime("%Y-%m-%d %H:%M:%S.%f").str[:-3]
    temp = np.round(18 + 2 * rng.random(n), 3)
    turb = np.round(40 * rng.random(n), 1)
    frame = pd.DataFrame(
        {"Time": stamps, "Pressure": dep.pressure, "Temperature": temp, "Turbidity": turb}
    )
    csv_path = os.path.join(d, "deployment.csv")
    frame.to_csv(csv_path, index=False, float_format="%.6f")
    met = met_series(seed, dep.n_bursts)
    met_times = T0 + pd.to_timedelta(np.arange(met.size) * 600 + MET_OFFSET_S, unit="s")
    met_path = os.path.join(d, "met")
    os.makedirs(met_path, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "time": pa.array(met_times.to_numpy(), pa.timestamp("us")),
                "atmpres": pa.array(met),
            }
        ),
        os.path.join(met_path, "part-0.parquet"),
    )
    return {"csv": csv_path, "met": met_path}


def wavenumber(omega: float, h: float) -> float:
    """Linear dispersion ω² = g k tanh(k h), Newton-solved."""
    k = omega / np.sqrt(G * h)
    for _ in range(50):
        f = G * k * np.tanh(k * h) - omega**2
        df = G * np.tanh(k * h) + G * k * h / np.cosh(k * h) ** 2
        k -= f / df
    return float(k)


def expected_hs(dep: Deployment, burst: int) -> float:
    """Closed-form significant wave height of one burst: the pressure
    amplitude lifted to the surface by the attenuation Kp at the peak,
    Hs = 4·sqrt(a²/2)/Kp."""
    h = float(dep.corrected[dep.burst_index == burst].mean()) + SENSOR_HEIGHT
    k = wavenumber(2 * np.pi / dep.period_s, h)
    kp = np.cosh(k * SENSOR_HEIGHT) / np.cosh(k * h)
    return 4.0 * np.sqrt(dep.amplitude**2 / 2.0) / kp


def first_bursts(dep: Deployment, n: int) -> Deployment:
    """The first ``n`` bursts inside good_dates, keeping their burst numbers."""
    keep = dep.good_bursts[:n]
    sel = np.isin(dep.burst_index, keep)
    return dataclasses.replace(
        dep, times=dep.times[sel], pressure=dep.pressure[sel], corrected=dep.corrected[sel],
        burst_index=dep.burst_index[sel], n_bursts=len(keep), good_bursts=keep,
    )


def write_feed(dep: Deployment, d: str) -> int:
    """The corrected pressure series as time-ordered parquet files, one per
    burst; the last file ends with an advancer row hours later whose
    watermark closes the last burst. Returns the number of files."""
    os.makedirs(d, exist_ok=True)
    adv = np.array([T0 + pd.Timedelta(hours=max(dep.good_bursts) + 6)], dtype="datetime64[ns]")
    for i, b in enumerate(dep.good_bursts):
        sel = dep.burst_index == b
        ts, vals = dep.times[sel], dep.corrected[sel]
        if b == dep.good_bursts[-1]:
            ts, vals = np.concatenate([ts, adv]), np.append(vals, dep.mean_depth)
        pq.write_table(
            pa.table({"ts": pa.array(ts, pa.timestamp("us", tz="UTC")), "value": pa.array(vals)}),
            os.path.join(d, f"part-{i:05d}.parquet"),
        )
    return len(dep.good_bursts)


# --------------------------------------------------------------------------
# registry_mix: the ten star-schema tables the registry queries read
# --------------------------------------------------------------------------

MIX_DATA_SEED = 20211  # fixed: the mix's expected row counts are frozen
DOC_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()


def write_star_tables(d: str, seed: int = MIX_DATA_SEED) -> str:
    """Tables shaped like the repository's sf0.01 test tables (same names,
    columns, types, row counts and value domains). Idempotent: a complete
    set in ``d`` is reused."""
    marker = os.path.join(d, "_COMPLETE")
    if os.path.exists(marker):
        return d
    os.makedirs(d, exist_ok=True)
    rng = np.random.default_rng(seed)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(d, f"{name}.parquet"))

    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    put("region", {
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s),
    })
    put("nation", {
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array(np.arange(25) % 5, i32),
    })
    nc, ns, npart, no, nl, ne, nd = 1500, 100, 2000, 15000, 60000, 10000, 500
    segs = ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
    put("customer", {
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2), f64),
        "c_mktsegment": pa.array(rng.choice(segs, nc), s),
    })
    put("supplier", {
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, ns), 2), f64),
    })
    adjs = ["small", "red", "blue", "green", "large", "shiny", "old", "new"]
    nouns = ["ring", "widget", "gear", "bolt", "panel", "valve", "spring", "lamp"]
    put("part", {
        "p_partkey": pa.array(np.arange(npart), i64),
        "p_name": pa.array([f"{rng.choice(adjs)} {rng.choice(nouns)}" for _ in range(npart)], s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)], s),
        "p_type": pa.array(rng.choice(["ECONOMY", "MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL"], npart), s),
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": pa.array(np.round(900 + (np.arange(npart) % 1000) * 0.1, 2), f64),
    })
    day0 = np.datetime64("1995-01-01", "us")
    odays = rng.integers(0, 2400, no)
    put("orders", {
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": pa.array(rng.choice(["P", "O", "F"], no), s),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, no), 2), f64),
        "o_orderdate": pa.array(day0 + odays.astype("timedelta64[D]"), ts),
        "o_orderpriority": pa.array(rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no), s),
    })
    lok = rng.integers(0, no, nl)
    put("lineitem", {
        "l_orderkey": pa.array(lok, i64),
        "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(float), f64),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, nl), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(["R", "A", "N"], nl), s),
        "l_linestatus": pa.array(rng.choice(["O", "F"], nl), s),
        "l_shipdate": pa.array(day0 + (odays[lok] + rng.integers(1, 100, nl)).astype("timedelta64[D]"), ts),
    })
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne))
    put("events", {
        "event_id": pa.array(np.arange(ne), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"), ts),
        "user_id": pa.array(rng.integers(0, 150, ne), i64),
        "event_type": pa.array(rng.choice(["signup", "error", "click", "view", "purchase"], ne), s),
        "value": pa.array(np.round(rng.uniform(0.01, 490.0, ne), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], s),
    })
    texts = []
    for i in range(nd):
        if i % 20 == 19:  # near-duplicate of an earlier doc, as in the test tables
            texts.append(texts[i - 7] + " dup")
        else:
            texts.append(" ".join(rng.choice(DOC_WORDS, int(rng.integers(10, 100)))))
    put("documents", {
        "doc_id": pa.array(np.arange(nd), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(["en", "en", "en", "zh", "es", "de", "fr"], nd), s),
        "source": pa.array([f"src{i % 20}" for i in range(nd)], s),
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    emb = rng.normal(size=(nd, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": pa.array(np.arange(nd), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nd), i32),
    })
    open(marker, "w").close()
    return d
