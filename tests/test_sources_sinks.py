import os
import sqlite3

import pytest
from pyspark.sql import functions as F

from pipelines_rj_sms_spark.sources.files import (
    dump_rows_for_table,
    read_csv_raw,
    read_fixed_width,
    read_sql_dump,
    sniff_separator,
)
from pipelines_rj_sms_spark.sinks.jdbc_upsert import upsert, validate_statement
from pipelines_rj_sms_spark.sinks.lakehouse import read_table, write_table


def test_read_csv_raw_all_string(spark, tmp_path):
    p = tmp_path / "x.csv"
    p.write_text("a;b;c\n1;;x\n2;0;\n")
    df = read_csv_raw(spark, str(p), sep=";")
    assert all(t == "string" for _, t in df.dtypes)
    rows = df.orderBy("a").collect()
    assert rows[0]["b"] == ""  # empty stays '', not null
    assert rows[1]["c"] == ""


def test_sniff_separator(spark, tmp_path):
    p = tmp_path / "semi.csv"
    p.write_text("a;b;c\n1;2;3\n")
    assert sniff_separator(str(p)) == ";"


def test_read_fixed_width(spark, tmp_path):
    p = tmp_path / "fw.txt"
    p.write_text("0001JOAO      2024\n0002MARIA     2023\n")
    df = read_fixed_width(spark, str(p), [("id", 1, 4), ("nome", 5, 10), ("ano", 15, 4)])
    rows = {r["id"]: (r["nome"], r["ano"]) for r in df.collect()}
    assert rows["0001"] == ("JOAO", "2024")
    assert rows["0002"] == ("MARIA", "2023")


def test_read_sql_dump(spark, tmp_path):
    p = tmp_path / "dump.sql"
    p.write_text(
        "INSERT INTO public.t1 (a, b) VALUES (1, 'x'), (2, 'y,z');\n"
        "INSERT INTO t2 VALUES (9, 'w');\n"
        "-- comment line\n"
    )
    dump = read_sql_dump(spark, str(p))
    assert dump.count() == 3
    routed = dump_rows_for_table(dump, "public.t1")
    fields = sorted(tuple(r["fields"]) for r in routed.collect())
    assert fields == [("1", "x"), ("2", "y,z")]
    # the tuple split must stay JVM-side (from_csv), never a Python UDF
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    # explicit arity path skips the sample fetch
    t2 = dump_rows_for_table(dump, "t2", ncols=2).collect()
    assert sorted(tuple(r["fields"]) for r in t2) == [("9", "w")]
    # empty route: no rows, fields column still present
    empty = dump_rows_for_table(dump, "nope")
    assert empty.count() == 0 and "fields" in empty.columns


def test_lakehouse_write_partitioned(spark, tmp_path):
    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [("a", "2024-01-01 10:00:00"), ("b", "2024-02-01 10:00:00")], ["v", "ts"]
    ).select("v", F.col("ts").cast("timestamp").alias("ts"))
    write_table(df, path, mode="append", ts_col="ts")
    assert os.path.isdir(os.path.join(path, "ano_particao=2024", "mes_particao=1"))
    back = read_table(spark, path)
    assert back.count() == 2

    # dynamic partition overwrite: rewriting Jan must not clobber Feb
    jan = spark.createDataFrame([("a2", "2024-01-01 11:00:00")], ["v", "ts"]).select(
        "v", F.col("ts").cast("timestamp").alias("ts"))
    write_table(jan, path, mode="overwrite", ts_col="ts")
    vals = sorted(r["v"] for r in read_table(spark, path).collect())
    assert vals == ["a2", "b"]

    # empty-input short-circuit (Q9)
    write_table(df.limit(0), path, mode="overwrite", ts_col="ts")
    assert read_table(spark, path).count() == 2


def test_validate_statement_blocks_destructive():
    with pytest.raises(ValueError):
        validate_statement("INSERT INTO t VALUES (1); DROP TABLE t")
    validate_statement("INSERT INTO t (a) VALUES (?)")


def test_jdbc_upsert_sqlite(spark, tmp_path):
    db = str(tmp_path / "up.db")
    conn = sqlite3.connect(db)
    conn.execute("CREATE TABLE t (k INTEGER PRIMARY KEY, v TEXT)")
    conn.execute("INSERT INTO t VALUES (1, 'old')")
    conn.commit()
    conn.close()

    df = spark.createDataFrame([(1, "new"), (2, "b")], ["k", "v"]).coalesce(1)
    upsert(df, "t", ["k"],
           connection_factory=lambda: sqlite3.connect(db),
           dialect="sqlite")
    got = dict(sqlite3.connect(db).execute("SELECT k, v FROM t").fetchall())
    assert got == {1: "new", 2: "b"}


def test_lakehouse_merge_upsert_partition_scoped(spark, tmp_path):
    from pipelines_rj_sms_spark.sinks.lakehouse import merge_upsert

    path = str(tmp_path / "merge_tbl")

    def mk(rows):
        return spark.createDataFrame(rows, ["k", "val", "version", "ts"]).select(
            "k", "val", "version", F.col("ts").cast("timestamp").alias("ts"))

    # initial: key 1 and 2 on Jan 1, key 3 on Feb 1
    merge_upsert(spark, path, mk([
        (1, "one-v1", 1, "2024-01-01 10:00:00"),
        (2, "two-v1", 1, "2024-01-01 11:00:00"),
        (3, "three-v1", 1, "2024-02-01 10:00:00"),
    ]), keys=["k"], order_col="version", ts_col="ts")

    # upsert: update key 1 (higher version), insert key 4 — Jan only
    merge_upsert(spark, path, mk([
        (1, "one-v2", 2, "2024-01-01 10:00:00"),
        (4, "four-v1", 1, "2024-01-01 12:00:00"),
    ]), keys=["k"], order_col="version", ts_col="ts")

    got = {r["k"]: r["val"] for r in read_table(spark, path).collect()}
    assert got == {1: "one-v2", 2: "two-v1", 3: "three-v1", 4: "four-v1"}

    # stale update (lower version) must NOT win
    merge_upsert(spark, path, mk([
        (1, "one-v0", 0, "2024-01-01 10:00:00"),
    ]), keys=["k"], order_col="version", ts_col="ts")
    got = {r["k"]: r["val"] for r in read_table(spark, path).collect()}
    assert got[1] == "one-v2"

    # equal version: the incoming row wins (replace semantics)
    merge_upsert(spark, path, mk([
        (2, "two-v1-replaced", 1, "2024-01-01 11:00:00"),
    ]), keys=["k"], order_col="version", ts_col="ts")
    got = {r["k"]: r["val"] for r in read_table(spark, path).collect()}
    assert got[2] == "two-v1-replaced"

    # empty updates are a no-op
    empty = mk([(9, "x", 1, "2024-01-01 10:00:00")]).limit(0)
    merge_upsert(spark, path, empty, keys=["k"],
                 order_col="version", ts_col="ts")
    assert read_table(spark, path).count() == 4


def test_lakehouse_merge_upsert_job_budget(spark, tmp_path, count_jobs):
    """A merge into an existing table runs at most 5 Spark jobs (the
    touched-partition collect first, then the pruned read and rewrite);
    an empty batch into a new table writes nothing (Q9)."""
    from pipelines_rj_sms_spark.sinks.lakehouse import merge_upsert

    path = str(tmp_path / "merge_budget")

    def mk(rows):
        return spark.createDataFrame(rows, ["k", "version", "ts"]).select(
            "k", "version", F.col("ts").cast("timestamp").alias("ts"))

    merge_upsert(spark, path, mk([(1, 1, "2024-01-01 10:00:00")]).limit(0),
                 keys=["k"], order_col="version", ts_col="ts")
    assert not os.path.exists(path)
    merge_upsert(spark, path, mk([(1, 1, "2024-01-01 10:00:00")]),
                 keys=["k"], order_col="version", ts_col="ts")
    _, jobs = count_jobs(lambda: merge_upsert(
        spark, path, mk([(1, 2, "2024-01-01 10:00:00"),
                         (2, 1, "2024-01-02 10:00:00")]),
        keys=["k"], order_col="version", ts_col="ts"))
    assert jobs <= 5, jobs
    assert sorted(tuple(r) for r in read_table(spark, path)
                  .select("k", "version").collect()) == [(1, 2), (2, 1)]


@pytest.mark.slow
def test_lakehouse_compact_partitions(spark, tmp_path):
    from pipelines_rj_sms_spark.sinks.lakehouse import (
        compact_partitions,
        partition_stats,
    )

    path = str(tmp_path / "frag")
    # fragment one date with 8 tiny appends; keep another date healthy (1 file)
    for i in range(8):
        df = spark.createDataFrame(
            [(i * 10 + j, "2024-01-01") for j in range(5)], "k long, data_particao string")
        df.coalesce(1).write.mode("append").partitionBy("data_particao").parquet(path)
    healthy = spark.createDataFrame(
        [(900 + j, "2024-01-02") for j in range(5)], "k long, data_particao string")
    healthy.coalesce(1).write.mode("append").partitionBy("data_particao").parquet(path)

    before = {r["partition"]: r["n_files"] for r in partition_stats(spark, path).collect()}
    assert before["data_particao=2024-01-01"] == 8

    n = compact_partitions(spark, path, target_file_bytes=64 * 1024 * 1024,
                           sort_cols=["k"])
    assert n == 1  # only the fragmented date rewritten

    after = {r["partition"]: r["n_files"] for r in partition_stats(spark, path).collect()}
    assert after["data_particao=2024-01-01"] < before["data_particao=2024-01-01"]
    assert after["data_particao=2024-01-02"] == 1  # untouched

    got = sorted(r["k"] for r in read_table(spark, path).collect())
    want = sorted([i * 10 + j for i in range(8) for j in range(5)]
                  + [900, 901, 902, 903, 904])
    assert got == want


@pytest.mark.slow
def test_lakehouse_compact_sorted_files_carry_tight_stats(spark, tmp_path):
    """After compaction with sort_cols, each surviving file's min/max k
    range must not overlap another file's — the property that makes
    footer-stats data skipping work."""
    import glob

    import pyarrow.parquet as pq

    from pipelines_rj_sms_spark.sinks.lakehouse import compact_partitions

    path = str(tmp_path / "sorted")
    for i in range(6):
        df = spark.createDataFrame(
            [(i * 100 + j, "2024-03-01") for j in range(50)],
            "k long, data_particao string")
        df.coalesce(1).write.mode("append").partitionBy("data_particao").parquet(path)

    compact_partitions(spark, path, target_file_bytes=8 * 1024, sort_cols=["k"])

    ranges = []
    for f in glob.glob(f"{path}/data_particao=2024-03-01/*.parquet"):
        ks = pq.read_table(f, columns=["k"])["k"].to_pylist()
        assert ks == sorted(ks)  # sorted within file
        ranges.append((min(ks), max(ks)))
    ranges.sort()
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # non-overlapping -> skippable


def test_build_upsert_sql_all_dialects():
    from pipelines_rj_sms_spark.sinks.jdbc_upsert import build_upsert_sql

    cols, keys = ["id", "ts", "v"], ["id"]
    mysql = build_upsert_sql("t", cols, keys, "mysql")
    assert "ON DUPLICATE KEY UPDATE ts=VALUES(ts), v=VALUES(v)" in mysql
    assert mysql.count("%s") == 3

    pg = build_upsert_sql("t", cols, keys, "postgres")
    assert "ON CONFLICT(id) DO UPDATE SET ts=excluded.ts" in pg
    assert pg.count("%s") == 3

    lite = build_upsert_sql("t", cols, keys, "sqlite")
    assert "ON CONFLICT(id)" in lite and lite.count("?") == 3

    ms = build_upsert_sql("t", cols, keys, "mssql")
    assert ms.startswith("MERGE INTO t AS t ")
    assert "WHEN MATCHED THEN UPDATE SET t.ts = src.ts" in ms
    assert "WHEN NOT MATCHED THEN INSERT (id, ts, v)" in ms
    assert ms.rstrip().endswith(";") and ms.count("?") == 3

    import pytest as _pytest
    with _pytest.raises(ValueError, match="unknown dialect"):
        build_upsert_sql("t", cols, keys, "oracle9i")


def test_expire_partitions_retention(spark, tmp_path):
    from datetime import date

    from pipelines_rj_sms_spark.sinks import lakehouse

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (2, "2024-01-20 00:00:00"),
         (3, "2024-02-05 00:00:00")], ["id", "ts"])
    path = str(tmp_path / "lake")
    lakehouse.write_table(df.withColumn("ts", df.ts.cast("timestamp")),
                          path, mode="append", ts_col="ts")

    # dry run reports but deletes nothing
    plan = lakehouse.expire_partitions(
        path, keep_days=30, today=date(2024, 2, 10), dry_run=True)
    assert len(plan) == 1 and "2024-01-01" in plan[0]
    assert spark.read.parquet(path).count() == 3

    removed = lakehouse.expire_partitions(
        path, keep_days=30, today=date(2024, 2, 10))
    assert removed == plan
    left = sorted(r.id for r in spark.read.parquet(path).collect())
    assert left == [2, 3]

    import pytest as _pytest
    with _pytest.raises(ValueError, match="full wipe"):
        lakehouse.expire_partitions(path, keep_days=0)


def test_scd2_merge_history(spark, tmp_path):
    from pyspark.sql import functions as F

    from pipelines_rj_sms_spark.sinks.lakehouse import scd2_merge

    path = str(tmp_path / "dim")
    day1 = spark.createDataFrame(
        [(1, "POSTO A", "2024-01-01 00:00:00"),
         (2, "POSTO B", "2024-01-01 00:00:00")],
        ["cnes", "nome", "ts"]).withColumn("ts", F.col("ts").cast("timestamp"))
    scd2_merge(spark, path, day1, keys=["cnes"], ts_col="ts")

    # day 2: cnes=1 renamed, cnes=2 unchanged (re-delivered), cnes=3 new
    day2 = spark.createDataFrame(
        [(1, "POSTO A NOVO", "2024-01-02 00:00:00"),
         (2, "POSTO B", "2024-01-02 00:00:00"),
         (3, "POSTO C", "2024-01-02 00:00:00")],
        ["cnes", "nome", "ts"]).withColumn("ts", F.col("ts").cast("timestamp"))
    scd2_merge(spark, path, day2, keys=["cnes"], ts_col="ts")

    rows = spark.read.parquet(path).collect()
    open_rows = {r.cnes: r.nome for r in rows if r.valid_to is None}
    closed = [(r.cnes, r.nome) for r in rows if r.valid_to is not None]
    assert open_rows == {1: "POSTO A NOVO", 2: "POSTO B", 3: "POSTO C"}
    assert closed == [(1, "POSTO A")]          # only the real change
    assert len(rows) == 4                      # no snapshot inflation

    # idempotent replay of day 2 changes nothing
    scd2_merge(spark, path, day2, keys=["cnes"], ts_col="ts")
    assert spark.read.parquet(path).count() == 4
