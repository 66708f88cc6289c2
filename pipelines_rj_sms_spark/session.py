"""SparkSession factory with the engine's physical-execution defaults.

The reference pins every timestamp to America/Sao_Paulo
(reference: pipelines/utils/tasks.py:663, pipelines/utils/time.py:74) and
relies on BigQuery for optimization; here Catalyst + AQE take that role
(SURVEY.md §4). Defaults chosen for a large multi-executor cluster but
harmless on local[*]:

- AQE on (runtime partition coalescing + skew-join splitting) so a plan
  tuned at sf0.1 survives a 1000x scale-up without re-tuning.
- dynamic partition overwrite, so `mode("overwrite")` replaces only the
  date partitions present in the incoming batch (the reference's
  append/overwrite lakehouse semantics, utils/tasks.py:812-933).
- Arrow enabled for any Pandas-UDF path (the sanctioned slow path).
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

ENGINE_DEFAULTS: dict[str, str] = {
    # UTC so naive timestamps round-trip bit-exact (the DuckDB oracle and
    # parquet NTZ data agree); reference pipelines pin America/Sao_Paulo —
    # pass extra_conf={"spark.sql.session.timeZone": "America/Sao_Paulo"}
    # for that behavior (see SURVEY §1.2).
    "spark.sql.session.timeZone": "UTC",
    # driver testdata writes TIMESTAMP(NANOS); Spark has no nanos type, so
    # read them as long and convert in load_tables (micros precision).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # the reference's sources genuinely arrive in cp1252/cp850
    # (vitacare_gdrive/utils.py:388-453); Spark 4's default charset
    # whitelist would reject them
    "spark.sql.legacy.javaCharsets": "true",
    "spark.sql.parquet.compression.codec": "snappy",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # spark.sql.shuffle.partitions is absent on purpose: it is the initial
    # hint AQE coalesces down from, and persist()ed frames freeze it, so a
    # count fixed for one box cuts cached rescans into tiny tasks on a
    # smaller one. get_spark sizes it from a local session's cores; on a
    # cluster, spark-submit's --conf (or Spark's default) stands.
    # Scale-adaptive reduce parallelism (r13, guide §2.2): AQE can only
    # coalesce partitions DOWN from the initial number, never split them,
    # so a core-sized hint serializes data-bound reduce stages at 10x the
    # data (~sf1 heavy tier: part_link_prediction's 12 GB wedge exchange
    # ran 1.8x faster 512-way than 32-way, which spilled). Left unset
    # locally (= shuffle.partitions): the wide exchange costs per-round
    # overhead in the iterative graph operators at bench scale (headline
    # 58.4 s -> 68.2 s with a 512 default, in kcore/pagerank/LPA). Set
    # SPARK_GRAFT_INITIAL_PARTITIONS where exchanges carry data-sized
    # payloads (clusters: ~2-3x total cores; tools/heavy_bench.py sets
    # 512). See OPTIMIZATION_r13.md.
    **({"spark.sql.adaptive.coalescePartitions.initialPartitionNum":
        os.environ["SPARK_GRAFT_INITIAL_PARTITIONS"]}
       if os.environ.get("SPARK_GRAFT_INITIAL_PARTITIONS") else {}),
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # Local mode runs driver and executors in ONE JVM; the 1g default
    # heap can't hold broadcast builds + iterative-operator
    # localCheckpoint blocks at bench scale. Heap is lazily committed,
    # so a roomy ceiling costs nothing when idle. Ignored on a real
    # cluster (spark-submit sizes the already-running driver JVM).
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM",
                                          "16g"),
}


def get_spark(
    app_name: str = "pipelines_rj_sms_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when unset so the
    same entry point works in tests and under the driver harness; on a
    real cluster pass ``None`` and let spark-submit decide. A local
    session this call creates gets one shuffle partition per core
    (``defaultParallelism``) unless ``extra_conf`` sets the count.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and not os.environ.get("SPARK_CONNECT_MODE_ENABLED"):
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    conf = {**ENGINE_DEFAULTS, **(extra_conf or {})}
    for k, v in conf.items():
        builder = builder.config(k, v)
    size_shuffle = ((master or "").startswith("local")
                    and "spark.sql.shuffle.partitions" not in conf
                    and SparkContext._active_spark_context is None)
    # Executor Python workers must resolve this package no matter the
    # driver's cwd: a kernel that does `import pipelines_rj_sms_spark`
    # inside a pandas-UDF runs in a fresh worker whose sys.path has the
    # WORKER's cwd, not the driver's repo checkout — launched from a
    # neutral cwd, every mapInPandas/UDTF/Python-DataSource query dies
    # with ModuleNotFoundError while plain-expression queries pass.
    # Prepend the repo root to PYTHONPATH (inherited by local-mode
    # workers) and to spark.executorEnv.PYTHONPATH (cluster executors).
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + pp if pp else ""))
    builder = builder.config(
        "spark.executorEnv.PYTHONPATH",
        os.environ["PYTHONPATH"])
    spark = builder.getOrCreate()
    if size_shuffle:
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(spark.sparkContext.defaultParallelism))
    return spark


def _footer_path(path: str) -> str:
    """A concrete parquet file for footer inspection: ``path`` itself
    for a single-file table (the driver testdata layout), or the first
    part file inside a Spark-written directory table (e.g. the
    heavy-tier dataset) — pyarrow footer readers need a file."""
    if not os.path.isdir(path):
        return path
    for entry in sorted(os.listdir(path)):
        if entry.endswith(".parquet") and not entry.startswith(("_", ".")):
            return os.path.join(path, entry)
    return path


def _nanos_timestamp_columns(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) — footer-only read."""
    try:
        import pyarrow.parquet as pq
        import pyarrow as pa
    except ImportError:  # pragma: no cover
        return []
    schema = pq.read_schema(_footer_path(path))
    return [
        f.name for f in schema
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    ]


def read_parquet_normalized(spark: SparkSession, path: str):
    """Parquet read that converts nanos-timestamp columns (read as long
    under nanosAsLong) back to proper timestamps at micros precision.
    The footer inspection is driver-side metadata only — no data read.

    Self-contained on ANY SparkSession: the nanosAsLong conf is set at
    runtime (it is runtime-settable on Spark 4) so callers that build a
    vanilla session — e.g. an external harness — can still read the
    TIMESTAMP(NANOS) parquet the test generator writes. Without this,
    a conf-less session fails with PARQUET_TYPE_ILLEGAL at load time.
    """
    from pyspark.sql import functions as F

    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:  # pragma: no cover - conf locked (e.g. Connect policy)
        pass

    nanos_cols = _nanos_timestamp_columns(path)
    try:
        df = spark.read.parquet(path)
    except Exception:
        if not nanos_cols:
            raise
        # Belt-and-braces: if the conf did not take effect (locked conf,
        # older build), read with an explicit schema derived from the
        # pyarrow footer, mapping ns-timestamps to long.
        df = spark.read.schema(_long_for_nanos_schema(path)).parquet(path)
    for name in nanos_cols:
        df = df.withColumn(name, F.expr(f"timestamp_micros(`{name}` DIV 1000)"))
    return df


def _long_for_nanos_schema(path: str):
    """Spark schema from the parquet footer with ns-timestamp cols as
    long; a timestamp without a time zone maps to TIMESTAMP_NTZ, as
    Spark's own parquet schema inference does."""
    import pyarrow.parquet as pq
    import pyarrow as pa
    from pyspark.sql import types as T

    def _to_spark(t) -> T.DataType:
        if pa.types.is_timestamp(t):
            if t.unit == "ns":
                return T.LongType()
            return T.TimestampType() if t.tz else T.TimestampNTZType()
        mapping = {
            pa.int8(): T.ByteType(), pa.int16(): T.ShortType(),
            pa.int32(): T.IntegerType(), pa.int64(): T.LongType(),
            pa.float32(): T.FloatType(), pa.float64(): T.DoubleType(),
            pa.string(): T.StringType(), pa.large_string(): T.StringType(),
            pa.bool_(): T.BooleanType(), pa.binary(): T.BinaryType(),
            pa.large_binary(): T.BinaryType(), pa.date32(): T.DateType(),
        }
        if t in mapping:
            return mapping[t]
        if pa.types.is_decimal(t):
            return T.DecimalType(t.precision, t.scale)
        if pa.types.is_list(t) or pa.types.is_large_list(t):
            return T.ArrayType(_to_spark(t.value_type))
        if pa.types.is_struct(t):
            return T.StructType([
                T.StructField(f.name, _to_spark(f.type)) for f in t
            ])
        if pa.types.is_map(t):
            return T.MapType(_to_spark(t.key_type), _to_spark(t.item_type))
        raise TypeError(f"unmapped arrow type {t} in {path}")

    schema = pq.read_schema(_footer_path(path))
    return T.StructType([
        T.StructField(f.name, _to_spark(f.type), f.nullable) for f in schema
    ])


# registration costs ~100ms/table in JVM round-trips (listing + footer
# schema), so repeated load_tables calls against the same directory (one
# per query in a 70-query sweep) must be free. The memo is stashed as an
# attribute ON the session object — not keyed by id(), which a new
# session can reuse after the old one is garbage-collected.
_REGISTERED_ATTR = "_rj_sms_registered_tables"


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)) -> None:
    """Register the driver's parquet tables as temp views (idempotent and
    memoized per session+directory; a different sf_dir re-registers).

    Parquet scans get column pruning + filter pushdown from the DataSource
    V2 reader for free; registering views keeps queries in pure Spark SQL.
    """
    state = (os.path.abspath(sf_dir), names)
    if getattr(spark, _REGISTERED_ATTR, None) == state:
        return
    found = 0
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            read_parquet_normalized(spark, path).createOrReplaceTempView(name)
            found += 1
    if not found:
        # without this, a bad sf_dir would silently reuse views from a
        # previous load_tables call — fail loudly instead
        raise FileNotFoundError(f"no *.parquet tables found under {sf_dir}")
    setattr(spark, _REGISTERED_ATTR, state)
