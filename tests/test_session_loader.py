"""Loader must work on ANY SparkSession, not just get_spark()'s.

Round-1 regression: the driver harness builds a vanilla session (no
ENGINE_DEFAULTS), and the round-1 testdata parquet carried
TIMESTAMP(NANOS) columns — a conf-less read fails with
PARQUET_TYPE_ILLEGAL. The loader now self-applies the nanosAsLong conf
at runtime (and falls back to an explicit footer-derived schema if the
conf cannot be set).

Later testdata generations write micros, so the nanos-specific tests
run against a synthesized nanos parquet fixture — the regression
coverage must not depend on which resolution the driver happens to
emit this round — while the conf-less smoke test always runs against
the real testdata at whatever resolution it has.
"""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from pipelines_rj_sms_spark.session import (
    _long_for_nanos_schema,
    _nanos_timestamp_columns,
    load_tables,
    read_parquet_normalized,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata not present")


@pytest.fixture(scope="module")
def nanos_parquet(tmp_path_factory):
    """A parquet file with a genuine TIMESTAMP(NANOS) column."""
    path = str(tmp_path_factory.mktemp("nanos") / "events_ns.parquet")
    table = pa.table({
        "event_id": pa.array([1, 2, 3], pa.int64()),
        "ts": pa.array([1_700_000_000_000_000_001,
                        1_700_000_600_000_000_002,
                        1_700_001_200_000_000_003], pa.timestamp("ns")),
        "value": pa.array([1.5, 2.5, 3.5], pa.float64()),
    })
    pq.write_table(table, path)
    return path


def test_read_nanos_without_session_conf(spark, nanos_parquet):
    """Simulate the driver's vanilla session: unset the nanos conf and
    prove read_parquet_normalized still loads nanos-timestamp parquet."""
    assert _nanos_timestamp_columns(nanos_parquet) == ["ts"]
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    try:
        df = read_parquet_normalized(spark, nanos_parquet)
        row = df.selectExpr("count(*) n", "max(ts) mx").collect()[0]
        assert row["n"] == 3
        # conversion produced a real timestamp column, not a long
        assert isinstance(df.schema["ts"].dataType, T.TimestampType)
        assert row["mx"] is not None
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def test_read_real_testdata_without_session_conf(spark):
    """Whatever resolution this round's testdata uses, a conf-less
    session must load it through the normalized reader."""
    path = os.path.join(SF_DIR, "events.parquet")
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    try:
        df = read_parquet_normalized(spark, path)
        row = df.selectExpr("count(*) n", "max(ts) mx").collect()[0]
        assert row["n"] > 0
        # NTZ or instant depending on the generator's isAdjustedToUTC flag
        assert isinstance(df.schema["ts"].dataType,
                          (T.TimestampType, T.TimestampNTZType))
        assert row["mx"] is not None
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def test_load_tables_reregisters_after_unset(spark):
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    try:
        # force re-registration (memo may hold this sf_dir already)
        if hasattr(spark, "_rj_sms_registered_tables"):
            delattr(spark, "_rj_sms_registered_tables")
        load_tables(spark, SF_DIR)
        assert spark.sql("select count(*) n from lineitem").collect()[0]["n"] > 0
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def test_explicit_schema_fallback(spark, nanos_parquet):
    """The belt-and-braces path: read with the footer-derived schema that
    maps ns-timestamps to long — must agree with the conf-based read."""
    schema = _long_for_nanos_schema(nanos_parquet)
    assert isinstance(schema["ts"].dataType, T.LongType)
    df = spark.read.schema(schema).parquet(nanos_parquet)
    n_fallback = df.count()
    n_normal = read_parquet_normalized(spark, nanos_parquet).count()
    assert n_fallback == n_normal


def test_footer_schema_matches_spark_timestamp_inference(spark, tmp_path):
    """The footer-derived schema types each timestamp as Spark infers
    it: tz-less micros -> TIMESTAMP_NTZ, UTC-adjusted micros ->
    TIMESTAMP, nanos -> bigint under nanosAsLong."""
    path = str(tmp_path / "ts_kinds.parquet")
    us = [1_700_000_000_000_001, 1_700_000_600_000_002]
    pq.write_table(pa.table({
        "a": pa.array(us, pa.timestamp("us")),
        "b": pa.array(us, pa.timestamp("us", tz="UTC")),
        "c": pa.array([u * 1000 for u in us], pa.timestamp("ns")),
    }), path)
    assert _long_for_nanos_schema(path) == spark.read.parquet(path).schema


@pytest.mark.slow
def test_python_workers_resolve_package_from_neutral_cwd():
    """Executor Python workers must import pipelines_rj_sms_spark no
    matter the driver's cwd: a pandas-UDF kernel importing the package
    runs in a fresh worker whose sys.path has the WORKER's cwd — from
    a neutral cwd every mapInPandas/UDTF/Python-DataSource query died
    with ModuleNotFoundError until get_spark pinned the repo root onto
    PYTHONPATH. Run the real thing in a subprocess from /tmp."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    code = (
        "import sys; sys.path.insert(0, %r)\n"
        "from pipelines_rj_sms_spark.session import get_spark\n"
        "from pyspark.sql import functions as F\n"
        "spark = get_spark('cwd-test', master='local[2]')\n"
        "spark.sparkContext.setLogLevel('ERROR')\n"
        "df = spark.range(4).selectExpr('id as media_id')\n"
        "from pipelines_rj_sms_spark.operators.imagehash import "
        "dhash_images\n"
        "import pandas as pd\n"
        "def gen(batches):\n"
        "    import numpy as np\n"
        "    from pipelines_rj_sms_spark.operators.multimodal import "
        "encode_bmp\n"
        "    for pdf in batches:\n"
        "        px = np.zeros((14, 20, 3), dtype=np.uint8)\n"
        "        yield pd.DataFrame({'media_id': pdf['media_id'],"
        " 'content': [bytearray(encode_bmp(px))] * len(pdf)})\n"
        "wavs = df.mapInPandas(gen, 'media_id long, content binary')\n"
        "n = dhash_images(wavs).count()\n"
        "assert n == 4, n\n"
        "print('WORKER_IMPORT_OK')\n"
        "spark.stop()\n" % repo
    )
    out = subprocess.run([sys.executable, "-c", code], cwd="/tmp",
                         env=env, capture_output=True, text=True,
                         timeout=300)
    assert "WORKER_IMPORT_OK" in out.stdout, out.stderr[-2000:]
