"""Config-driven ingestion jobs — the engine's top-level entry point.

The reference drives ~34 extract-load flows from parameter tables
(pipelines/datalake/extract_load/subpav_mysql/schedules.py:33-80
TABELAS_CONFIG: table, schema, frequency, dump_mode, relative date
filter) through a fixed shape: acquire -> conform -> partition -> load,
with quality gates (SURVEY §3.1 entry point A). ``run_ingestion`` is
that shape as one function over a declarative ``IngestionConfig``: a
user of the reference moves a row of TABELAS_CONFIG here 1:1.

Everything stays lazy until the single write action; quality gates run
on the write's own row count (non-empty) and on the files it added
(count reconciliation), mirroring the reference's alert-then-fail
posture.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pipelines_rj_sms_spark.operators.conform import (
    conform,
    ensure_columns,
    safe_cast_columns,
)
from pipelines_rj_sms_spark.quality.checks import CheckResult, reconcile_counts
from pipelines_rj_sms_spark.sinks import lakehouse
from pipelines_rj_sms_spark.sources.files import read_csv_raw, sniff_separator
from pipelines_rj_sms_spark.sources.formats import detect_encoding, read_dbf


@dataclass
class IngestionConfig:
    """One TABELAS_CONFIG row, Spark-side."""

    name: str                                  # logical table name
    source_format: str                         # csv | parquet | json | dbf | xlsx
    # a CSV source is sniffed on the driver: it must be a local path
    # (file, directory or glob) unless csv_sep and csv_encoding are set
    source_path: str
    sink_path: str
    dump_mode: str = "append"                  # append | overwrite
    ts_col: str | None = None                  # drives ano/mes/data_particao
    csv_sep: str | None = None                 # None -> sniff (F8)
    csv_encoding: str | None = None            # None -> detect (F7)
    expected_columns: dict[str, str] = field(default_factory=dict)
    casts: dict[str, str] = field(default_factory=dict)
    run_id: str | None = None
    reconcile_tolerance: float = 0.05
    # escape hatch for fetch-stage sources (sliced/scroll scans, API
    # fan-out): a callable (spark, cfg) -> DataFrame used instead of
    # source_format when set — the acquire stage stays pluggable the
    # way the reference's per-flow extract tasks are
    reader: object | None = None
    # privacy release gate: (quasi-identifier columns, k) — the load is
    # flagged (report.ok False) when any quasi combination identifies
    # fewer than k rows; column names are the POST-conform cleaned ones
    k_anon: tuple[list[str], int] | None = None


@dataclass
class IngestionReport:
    name: str
    rows_read: int
    rows_written: int
    checks: list[CheckResult]

    @property
    def ok(self) -> bool:
        return all(c.passed for c in self.checks)


def _read_source(spark: SparkSession, cfg: IngestionConfig) -> DataFrame:
    if cfg.reader is not None:
        return cfg.reader(spark, cfg)
    fmt = cfg.source_format.lower()
    if fmt == "csv":
        sep = cfg.csv_sep or sniff_separator(_first_local_file(cfg.source_path))
        enc = cfg.csv_encoding or detect_encoding(_first_local_file(cfg.source_path))
        return read_csv_raw(spark, cfg.source_path, sep=sep, encoding=enc)
    if fmt == "parquet":
        return spark.read.parquet(cfg.source_path)
    if fmt == "json":
        return spark.read.json(cfg.source_path)
    if fmt == "dbf":
        sample = _first_local_file(cfg.source_path)
        return read_dbf(spark, cfg.source_path, sample)
    if fmt == "xlsx":
        from pipelines_rj_sms_spark.sources.formats import read_xlsx
        return read_xlsx(spark, _first_local_file(cfg.source_path))
    raise ValueError(f"unknown source_format: {cfg.source_format!r}")


def _first_local_file(path_glob: str) -> str:
    import glob as _glob
    import os

    if os.path.isdir(path_glob):
        path_glob = os.path.join(path_glob, "*")
    # like Spark's reader, skip directories and _SUCCESS-style files
    matches = sorted(p for p in _glob.glob(path_glob) if os.path.isfile(p)
                     and not os.path.basename(p).startswith("_"))
    if not matches:
        raise FileNotFoundError(path_glob)
    return matches[0]


def run_ingestion(spark: SparkSession, cfg: IngestionConfig) -> IngestionReport:
    """acquire -> conform -> (casts/contract) -> partitioned write -> verify.

    ``rows_read`` is counted by the write job, after conform (which keeps
    rows). The reconciliation reads back only the files this load added.
    """
    df = conform(_read_source(spark, cfg), source=cfg.name)
    if cfg.run_id is not None:
        df = df.withColumn("_run_id", F.lit(cfg.run_id))
    if cfg.expected_columns:
        df = ensure_columns(df, cfg.expected_columns)
    if cfg.casts:
        df = safe_cast_columns(df, cfg.casts)

    before = lakehouse.data_files(cfg.sink_path)
    # cfg.ts_col refers to the post-conform (cleaned) column name
    rows_read = lakehouse.write_table(df, cfg.sink_path, mode=cfg.dump_mode,
                                      ts_col=cfg.ts_col)
    added = sorted(lakehouse.data_files(cfg.sink_path) - before)
    written = (spark.read.option("basePath", cfg.sink_path).parquet(*added)
               if added else df.limit(0))
    reconciled = reconcile_counts(rows_read, written, cfg.reconcile_tolerance)
    checks = [CheckResult("non_empty", rows_read > 0, {}), reconciled]
    if cfg.k_anon is not None:
        from pipelines_rj_sms_spark.quality.checks import (
            k_anonymity_violations)

        quasi, k = cfg.k_anon
        n_bad = k_anonymity_violations(written, quasi, k).count()
        checks.append(CheckResult(
            "k_anonymity", n_bad == 0,
            {"quasi": quasi, "k": k, "violating_groups": n_bad}))
    return IngestionReport(cfg.name, rows_read, reconciled.details["loaded"],
                           checks)


def run_many(spark: SparkSession, configs: list[IngestionConfig],
             parallelism: int = 1) -> list[IngestionReport]:
    """The manager fan-out (O1/O2): one report per config row, in config
    order. ``parallelism`` mirrors the reference's intra-flow
    LocalDaskExecutor(num_workers=2) (relational_db/flows.py:104):
    driver threads submit concurrent Spark jobs and the scheduler
    interleaves their stages — useful when single tables underfill the
    cluster (small files, skinny JDBC slices). Each job is already
    internally parallel, so keep this small (the reference uses 2).
    Use the progress table (operators/progress.py) for resumability.
    """
    if parallelism <= 1:
        return [run_ingestion(spark, cfg) for cfg in configs]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(min(parallelism, len(configs))) as pool:
        return list(pool.map(lambda c: run_ingestion(spark, c), configs))
