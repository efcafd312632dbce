"""Tests of the benchmark's own pieces: the output checksum, the event-log
parser and seeded input generation.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = ROOT + (
    os.pathsep + os.environ["PYTHONPATH"] if os.environ.get("PYTHONPATH") else ""
)

from perfbench import inputs  # noqa: E402
from perfbench.checks import checksum  # noqa: E402
from perfbench.trace import EventLog  # noqa: E402


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    """A small session with Spark's event log on, as a traced run has it."""
    from pyofs_spark.session import get_session

    evdir = tmp_path_factory.mktemp("eventlog")
    spark = get_session(
        app_name="perfbench-tests",
        master="local[2]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{evdir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    yield spark, str(evdir)
    spark.stop()


def _rows(spark, rows, parts):
    return spark.createDataFrame(rows, "k long, s string, x double").repartition(parts)


def test_checksum_is_order_insensitive_and_duplicate_sensitive(traced):
    spark, _ = traced
    rows = [(i, f"v{i % 7}", i / 3.0) for i in range(200)]
    base = checksum(_rows(spark, rows, 1))
    assert base[0] == 200
    assert checksum(_rows(spark, list(reversed(rows)), 7)) == base
    dup = checksum(_rows(spark, rows + rows[:1], 3))
    assert dup[0] == 201 and dup[1] != base[1]
    # a duplicated pair does not cancel out, as it would under bit_xor
    twice = checksum(_rows(spark, rows + rows[:2], 3))
    assert twice[1] not in (base[1], dup[1])


def test_checksum_equals_the_decimal_hash_sum(traced):
    spark, _ = traced
    df = _rows(spark, [(i, None if i % 5 else "x", i * 1.5) for i in range(500)], 4)
    want = spark.sql(
        "SELECT sum(cast(xxhash64(k, s, cast(x AS float)) AS decimal(38,0))) AS h "
        "FROM {df}",
        df=df,
    ).collect()[0]["h"]
    assert checksum(df) == (500, int(want))


def test_checksum_ignores_float_noise_in_the_last_bits(traced):
    spark, _ = traced
    a = spark.createDataFrame([(0.1 + 0.2, [1.0 / 3.0])], "x double, v array<double>")
    b = spark.createDataFrame([(0.3, [0.3333333333333333])], "x double, v array<double>")
    assert checksum(a) == checksum(b)
    c = spark.createDataFrame([(0.31, [0.3333333333333333])], "x double, v array<double>")
    assert checksum(c) != checksum(a)


def test_event_log_parser_on_tiny_run(traced, tmp_path):
    """One Arrow-kernel query on an sf0.001-sized corpus (50 documents),
    run under a job group; the parser attributes its jobs, tasks and Arrow
    bytes to that group."""
    from pyofs_spark.plans.queries import get_queries

    spark, evdir = traced
    gen = inputs.load_sf_scaled(ROOT)
    rng = np.random.default_rng(0)
    pq.write_table(gen.gen_documents(rng, 50), str(tmp_path / "documents.parquet"))
    spark.sparkContext.setJobGroup("op-under-test", "tiny run")
    rows, _ = checksum(get_queries()["dedup_minhash_lsh"](spark, str(tmp_path)))
    spark.sparkContext.setJobGroup("other", "after")
    spark.range(10).count()
    app_id = spark.sparkContext.applicationId
    spark.stop()

    log = EventLog(os.path.join(evdir, app_id))
    g = log.groups["op-under-test"]
    assert rows > 0
    assert g["jobs"] >= 1 and g["tasks"] >= 1
    assert g["cpu_ns"] > 0 and g["run_ms"] >= 0
    assert g["scan_rows"] >= 50 and g["scan_rows"] % 50 == 0
    assert g["arrow_bytes_to_python"] > 0 and g["arrow_bytes_from_python"] > 0
    assert log.groups["other"]["jobs"] >= 1
    assert {j[1] for j in log.jobs} >= {"op-under-test", "other"}
    assert all(end >= start for _, _, start, end in log.jobs)


@pytest.mark.parametrize("workload", ["text_dedup", "daily_raster"])
def test_inputs_are_deterministic_per_seed(workload, tmp_path):
    a = inputs.prepare(ROOT, str(tmp_path / "a"), workload, inputs.variant_of(3))
    b = inputs.prepare(ROOT, str(tmp_path / "b"), workload, inputs.variant_of(11))
    c = inputs.prepare(ROOT, str(tmp_path / "c"), workload, inputs.variant_of(4))
    names = sorted(f for f in os.listdir(a) if f.endswith(".parquet"))
    assert names and names == sorted(f for f in os.listdir(b) if f.endswith(".parquet"))
    for name in names:
        ta, tb = pq.read_table(os.path.join(a, name)), pq.read_table(os.path.join(b, name))
        assert ta.equals(tb)
        assert not ta.equals(pq.read_table(os.path.join(c, name)))
    assert inputs.daily_days(3) == inputs.daily_days(3)
