"""The benchmark's workloads. Each drives the production public functions
(``pipeline``, ``queries``, ``streaming``) with inputs generated from the
seed, and checks every output outside the timed region.

Interface used by ``harness.run``:

- ``generate(seed, work)`` writes the inputs and returns a record of them;
- ``op(spark, tracer)`` is one timed operation; ``check(spark, out)``
  returns a list of problems with its output (empty when correct);
- ``info()`` returns workload figures for the info record (not gated).
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import time

import numpy as np

from perfbench import inputs

HERE = os.path.dirname(os.path.abspath(__file__))


class Workload:
    name = ""

    def info(self) -> dict:
        return {}


# --------------------------------------------------------------------------
class DeployWaves(Workload):
    """One deployment: ingest → clean → waves on a seeded RBR burst
    deployment, then its streaming twin drains the first bursts of the same
    (atmosphere-corrected) pressure series, one file per micro-batch."""

    name = "deploy_waves"
    N_BURSTS = 10
    STREAM_BURSTS = 1

    def generate(self, seed: int, work: str) -> dict:
        self.dep = inputs.make_deployment(seed, self.N_BURSTS)
        paths = inputs.write_deployment(self.dep, seed, os.path.join(work, "deploy_in"))
        self.config = deploy_config(paths, os.path.join(work, "deploy_zones"), self.dep)
        self.expected_hs = {b: inputs.expected_hs(self.dep, b) for b in self.dep.good_bursts}
        self.stream = StreamTwin(self.dep, self.STREAM_BURSTS, work)
        return {
            "samples": int(self.dep.times.size),
            "bursts": self.dep.n_bursts,
            "bursts_in_good_dates": len(self.dep.good_bursts),
            "peak_period_s": self.dep.period_s,
            "csv_mb": os.path.getsize(paths["csv"]) / 1e6,
            "stream_samples": self.stream.samples,
            "stream_files": self.stream.n_files,
        }

    def op(self, spark, tracer):
        from stglib_spark import pipeline

        with tracer.span("pipeline.ingest"):
            pipeline.run_ingest(spark, self.config)
        with tracer.span("pipeline.clean"):
            clean = pipeline.run_clean(spark, self.config)
        with tracer.span("pipeline.waves"):
            waves = pipeline.run_waves(spark, self.config)
        return clean, waves, self.stream.drain(spark, tracer)

    def check(self, spark, out) -> list[str]:
        return check_deploy(spark, out[:2], self.dep, self.expected_hs) + self.stream.check(
            spark, out[2]
        )

    def info(self) -> dict:
        return self.stream.info()


WH_RTOL = 0.01  # closed-form Hs vs the spectral estimate (Hann leakage, noise)


def deploy_config(paths: dict, out_dir: str, dep) -> dict:
    return {
        "instrument": "rbr_csv",
        "input_path": paths["csv"],
        "output_dir": out_dir,
        "filename": "bench",
        "good_dates": [dep.good_dates],
        "atmpres_path": paths["met"],
        "initial_instrument_height": inputs.SENSOR_HEIGHT,
        "Turb_ssc_coeffs": [2.0, 5.0],
        "T_28_min": 18.2,
        "Turb_max": 38.0,
        "wave_interval": 3600,
        "sample_interval": 1.0 / inputs.FS,
        "wave_duration": inputs.BURST_SECONDS,
        # the default Jones–Monismith cutoff rejects these bursts (NaN
        # statistics); a user cutoff keeps them finite and exact
        "wave_fcut": 0.4,
    }


def naive(t):
    """A UTC timestamp without its zone (zones read back through pyarrow
    carry UTC; Spark collects naive session-zone times)."""
    import pandas as pd

    t = pd.Timestamp(t)
    return t.tz_convert(None) if t.tzinfo else t


def check_deploy(spark, out, dep, expected_hs: dict) -> list[str]:
    import pandas as pd
    import pyarrow.parquet as pq

    clean_path, waves_path = out
    problems = []
    n_clean = pq.read_table(clean_path, columns=[]).num_rows
    want = int(np.isin(dep.burst_index, dep.good_bursts).sum())
    if n_clean != want:
        problems.append(f"clean rows {n_clean} != samples inside good_dates {want}")
    w = pq.read_table(waves_path, columns=["burst_time", "wp_peak", "wh_4061"]).to_pandas()
    starts = {pd.Timestamp(inputs.T0 + pd.Timedelta(hours=b)): b for b in dep.good_bursts}
    got = {naive(t): r for t, r in zip(w["burst_time"], w.itertuples())}
    if sorted(got) != sorted(starts):
        problems.append(f"waves bursts {len(got)} != expected {len(starts)}")
    for t, b in starts.items():
        r = got.get(t)
        if r is None:
            continue
        if not abs(r.wp_peak - dep.period_s) <= 1e-9 * dep.period_s:
            problems.append(f"burst {b}: wp_peak {r.wp_peak} != injected {dep.period_s}")
        if not abs(r.wh_4061 - expected_hs[b]) <= WH_RTOL * expected_hs[b]:
            problems.append(f"burst {b}: wh_4061 {r.wh_4061} vs closed form {expected_hs[b]}")
    return problems


# --------------------------------------------------------------------------
class StreamTwin:
    """``streaming.bursts.streaming_wave_stats`` over the first bursts of a
    deployment, drained with ``availableNow`` and ``maxFilesPerTrigger=1``."""

    def __init__(self, dep, n_bursts: int, work: str):
        self.dep = inputs.first_bursts(dep, n_bursts)
        self.work = work
        self.feed = os.path.join(work, "feed")
        shutil.rmtree(self.feed, ignore_errors=True)
        self.n_files = inputs.write_feed(self.dep, self.feed)
        self.samples = int(self.dep.times.size)
        self.config = {
            "sample_interval": 1.0 / inputs.FS,
            "initial_instrument_height": inputs.SENSOR_HEIGHT,
            "wave_fcut": 0.4,
        }
        self.drains = 0
        self.batch_s: list[float] = []
        self.rows_per_s: list[float] = []
        self.reference = None

    def drain(self, spark, tracer):
        from stglib_spark.streaming import streaming_wave_stats

        self.drains += 1
        name = f"bench_waves_{self.drains}"
        ckpt = os.path.join(self.work, "ckpt")
        shutil.rmtree(ckpt, ignore_errors=True)
        schema = spark.read.parquet(self.feed).schema
        t0 = time.perf_counter()
        with tracer.span("streaming.drain"):
            src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(self.feed)
            q = (
                streaming_wave_stats(src, self.config, burst_seconds=3600, watermark="2 hours")
                .writeStream.format("memory").queryName(name).outputMode("append")
                .option("checkpointLocation", ckpt).trigger(availableNow=True).start()
            )
            q.awaitTermination()
            progress = [json.loads(p.json) if hasattr(p, "json") else p for p in q.recentProgress]
            tracer.add_stream(progress)
        dt = time.perf_counter() - t0
        rows = sum(p.get("numInputRows", 0) for p in progress)
        self.rows_per_s.append(rows / dt)
        self.batch_s.extend(p["durationMs"]["triggerExecution"] / 1000.0 for p in progress if p.get("numInputRows"))
        return name

    def check(self, spark, name) -> list[str]:
        got = spark.sql(f"SELECT * FROM {name}").toPandas()
        spark.catalog.dropTempView(name)
        if self.reference is None:
            self.reference = stream_reference(spark, self.dep, self.config)
        return compare_stream(got, self.reference)

    def info(self) -> dict:
        if not self.batch_s:  # the drain failed
            return {}
        return {
            "stream_rows_per_s": statistics.median(self.rows_per_s),
            "stream_batch_p50_s": statistics.median(self.batch_s),
            "stream_batches": len(self.batch_s),
        }


def stream_reference(spark, dep, config):
    """Batch ``make_waves_ds`` over the identical samples."""
    import pandas as pd

    from stglib_spark.operators.waves import make_waves_ds

    pdf = pd.DataFrame({
        "burst_time": pd.to_datetime(inputs.T0) + pd.to_timedelta(dep.burst_index, unit="h"),
        "sample": np.arange(dep.times.size) % inputs.BURST_SAMPLES,
        "P_1ac": dep.corrected,
    })
    return make_waves_ds(spark.createDataFrame(pdf), config).toPandas()


def compare_stream(got, ref) -> list[str]:
    problems = []
    ref_by = {naive(t): r for t, r in zip(ref["burst_time"], ref.itertuples())}
    got_by = {naive(t): r for t, r in zip(got["burst_time"], got.itertuples())}
    if sorted(got_by) != sorted(ref_by):
        problems.append(f"stream emitted {len(got_by)} bursts, batch has {len(ref_by)}")
    for t, r in got_by.items():
        b = ref_by.get(t)
        if b is None:
            continue
        if r.n != inputs.BURST_SAMPLES:
            problems.append(f"burst {t}: n {r.n}")
        for c in ("wh_4061", "wp_4060", "wp_peak", "m0"):
            x, y = getattr(r, c), getattr(b, c)
            if not abs(x - y) <= 1e-9 * abs(y):
                problems.append(f"burst {t}: {c} stream {x} != batch {y}")
    return problems


# --------------------------------------------------------------------------
class RegistryMix(Workload):
    """A frozen mix of registry queries, each through the noop sink; the
    seed shuffles the order of every pass."""

    name = "registry_mix"

    def generate(self, seed: int, work: str) -> dict:
        with open(os.path.join(HERE, "mix.json"), encoding="utf-8") as f:
            self.mix = json.load(f)["queries"]
        self.sf_dir = inputs.write_star_tables(os.path.join(work, "star"))
        self.rng = random.Random(seed)
        self.query_s: list[float] = []
        return {"queries": len(self.mix), "tables": self.sf_dir.rsplit(os.sep, 1)[-1],
                "data_seed": inputs.MIX_DATA_SEED}

    def op(self, spark, tracer):
        return run_mix(spark, tracer, self.sf_dir, self.rng.sample(sorted(self.mix), len(self.mix)),
                       self.query_s)

    def check(self, spark, counts) -> list[str]:
        return [f"{q}: {n} rows, expected {self.mix[q]}" for q, n in counts.items() if n != self.mix[q]]

    def info(self) -> dict:
        if not self.query_s:  # the first query failed
            return {}
        return {"mix_query_p50_s": statistics.median(self.query_s), "mix_query_samples": len(self.query_s)}


def run_mix(spark, tracer, sf_dir: str, names: list[str], query_s: list[float]) -> dict[str, int]:
    """One pass: construct, plan and run each query through the noop sink;
    the row count rides on an Observation of the same write."""
    from pyspark.sql import Observation, functions as F

    from stglib_spark import queries as registry
    from perfbench.trace import family_of

    counts = {}
    for name in names:
        fam = family_of(name)
        obs = Observation(f"rows_{name}")
        t0 = time.perf_counter()
        with tracer.span(f"queries.{fam}.construct"):
            df = registry.QUERIES[name](spark, sf_dir)
        with tracer.span(f"queries.{fam}.plan"):
            df._jdf.queryExecution().executedPlan()
        with tracer.span(f"queries.{fam}.exec"):
            df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
        query_s.append(time.perf_counter() - t0)
        counts[name] = int(obs.get["n"])
    return counts


WORKLOADS = {w.name: w for w in (DeployWaves, RegistryMix)}
