"""Tests of the benchmark itself: the frozen mix against its DuckDB oracle,
the output checks against corrupted outputs, and the counting of failed
checks in the result line.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tests"))

from perfbench import harness, inputs, workloads  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402


class _CorruptSecond(workloads.Workload):
    """Every operation succeeds; the check finds the second one's output
    corrupted (a warm operation: it does not change op_s, only the
    failure count)."""

    name = "stub"

    def generate(self, seed, work):
        self.n = 0
        return {}

    def op(self, spark, tracer):
        self.n += 1
        return spark.range(self.n).count()

    def check(self, spark, out):
        return ["corrupted output"] if out == 2 else []


def test_failed_check_is_counted(tmp_path):
    # runs before the module's shared session: harness.run builds and
    # stops its own
    result, info = harness.run(_CorruptSecond(), ROOT, str(tmp_path), 1, 5.0, trace=False)
    assert result["attempted"] >= 3
    assert result["failed"] == 1
    assert result["correct"] is False
    assert info["ops_failed"] == 1 and info["problems"] == ["corrupted output"]
    assert set(result["metrics"]) == {"op_s", "setup_s"}


@pytest.fixture(scope="module")
def spark():
    from stglib_spark.session import get_spark

    s = get_spark("perfbench-tests", cpus=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_mix_matches_oracle(spark, tmp_path_factory):
    """Every frozen mix row equals its DuckDB oracle on the generated
    tables, and its row count equals the frozen expectation."""
    from oracle_harness import compare, duck_connection

    from stglib_spark import queries as registry

    mix = workloads.RegistryMix()
    mix.generate(0, str(tmp_path_factory.mktemp("mix")))
    con = duck_connection(mix.sf_dir)
    oracles = registry.oracle_sql()
    for name, rows in mix.mix.items():
        df = registry.QUERIES[name](spark, mix.sf_dir)
        assert compare(df, con.sql(oracles[name]).df(), name) == [], name
        assert df.count() == rows, name
    counts = workloads.run_mix(spark, Tracer("", False), mix.sf_dir, sorted(mix.mix), [])
    assert mix.check(spark, counts) == []
    name = sorted(counts)[0]
    counts[name] += 1
    assert mix.check(spark, counts) == [f"{name}: {mix.mix[name] + 1} rows, expected {mix.mix[name]}"]


def test_deploy_checks_flag_corrupted_outputs(spark, tmp_path):
    dep = workloads.DeployWaves()
    dep.N_BURSTS = 4
    dep.generate(7, str(tmp_path))
    out = dep.op(spark, Tracer(str(tmp_path), False))
    assert dep.check(spark, out) == []

    # corrupt one burst of the persisted waves zone
    clean_path, waves_path, _ = out
    pdf = spark.read.parquet(waves_path).toPandas()
    pdf.loc[0, "wh_4061"] *= 1.05
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(waves_path)
    problems = workloads.check_deploy(spark, (clean_path, waves_path), dep.dep, dep.expected_hs)
    assert len(problems) == 1 and "wh_4061" in problems[0]

    # a stream burst that differs from the batch reference
    ref = dep.stream.reference
    bad = ref.assign(n=inputs.BURST_SAMPLES)
    assert workloads.compare_stream(bad, ref) == []
    bad.loc[0, "wp_peak"] += 1e-6
    assert len(workloads.compare_stream(bad, ref)) == 1
