"""End-to-end config-driven ingestion (SURVEY §3.1 entry point A)."""

import os
from pathlib import Path

import pytest

from pipelines_rj_sms_spark.jobs import IngestionConfig, run_ingestion, run_many


def test_csv_ingestion_end_to_end(spark, tmp_path):
    src = tmp_path / "src.csv"
    # cp1252 encoding + ';' separator + accented headers: the full conform
    # path (sniff F8, detect F7, clean names C1, audit cols, partitions)
    src.write_bytes(
        "Código;Situação;Data Atualização\n"
        "1;ativo;2024-01-01 10:00:00\n"
        "2;inativo;2024-02-15 11:30:00\n"
        "3;;2024-02-15 12:00:00\n".encode("cp1252")
    )
    sink = str(tmp_path / "lake" / "tbl")
    cfg = IngestionConfig(
        name="estabelecimentos",
        source_format="csv",
        source_path=str(src),
        sink_path=sink,
        ts_col="data_atualizacao",
        casts={"data_atualizacao": "timestamp"},
        run_id="r1",
    )
    rep = run_ingestion(spark, cfg)
    assert rep.ok and rep.rows_read == 3 and rep.rows_written == 3

    out = spark.read.option("basePath", sink).parquet(sink)
    assert set(["codigo", "situacao", "data_atualizacao", "_loaded_at",
                "_source", "_run_id", "ano_particao", "mes_particao",
                "data_particao"]) <= set(out.columns)
    # Hive partition dirs on disk (the reference's exact layout)
    parts = {p.name for p in Path(sink).glob("ano_particao=*/mes_particao=*/data_particao=*")}
    assert "data_particao=2024-02-15" in parts
    # empty CSV field stayed '' through conform, not null
    assert out.filter("codigo = '3'").first()["situacao"] == ""


def test_ingestion_append_then_overwrite_partition(spark, tmp_path):
    sink = str(tmp_path / "lake2")
    d1 = tmp_path / "d1.csv"
    d1.write_text("id,ts\n1,2024-01-01 00:00:00\n2,2024-01-02 00:00:00\n")
    cfg1 = IngestionConfig(name="t", source_format="csv", source_path=str(d1),
                           sink_path=sink, ts_col="ts", csv_sep=",",
                           csv_encoding="utf-8", run_id="r1")
    assert run_ingestion(spark, cfg1).ok

    # day-2 re-run overwrites ONLY its own partition (dynamic overwrite)
    d2 = tmp_path / "d2.csv"
    d2.write_text("id,ts\n9,2024-01-02 00:00:00\n")
    cfg2 = IngestionConfig(name="t", source_format="csv", source_path=str(d2),
                           sink_path=sink, ts_col="ts", csv_sep=",",
                           csv_encoding="utf-8", dump_mode="overwrite", run_id="r2")
    run_ingestion(spark, cfg2)

    out = spark.read.option("basePath", sink).parquet(sink)
    ids = sorted(r["id"] for r in out.select("id").collect())
    assert ids == ["1", "9"]  # day-1 row kept, day-2 row replaced


def test_default_config_reconciles_each_append_against_its_own_rows(
        spark, tmp_path):
    """Without a run_id there is no tag to filter the read-back on: the
    second nightly append must still be checked against its own 2 rows,
    not the 4 the table now holds. Overwrite replaces its partition."""
    sink = str(tmp_path / "lake_default")
    reports = []
    for night, mode in ((1, "append"), (2, "append"), (3, "overwrite")):
        src = tmp_path / f"night{night}.csv"
        src.write_text(f"id,ts\n{night}1,2024-01-01 00:00:00\n"
                       f"{night}2,2024-01-02 00:00:00\n")
        reports.append(run_ingestion(spark, IngestionConfig(
            name="t", source_format="csv", source_path=str(src),
            sink_path=sink, ts_col="ts", csv_sep=",", csv_encoding="utf-8",
            dump_mode=mode)))
    for rep in reports:
        assert rep.ok and (rep.rows_read, rep.rows_written) == (2, 2), rep
    assert spark.read.option("basePath", sink).parquet(sink).count() == 2


def test_run_many(spark, tmp_path):
    a = tmp_path / "a.csv"
    a.write_text("x,ts\n1,2024-01-01 00:00:00\n")
    cfgs = [
        IngestionConfig(name=f"t{i}", source_format="csv", source_path=str(a),
                        sink_path=str(tmp_path / f"lake_{i}"), ts_col="ts",
                        csv_sep=",", csv_encoding="utf-8")
        for i in range(2)
    ]
    reps = run_many(spark, cfgs)
    assert all(r.ok for r in reps) and len(reps) == 2


def test_xlsx_ingestion_and_custom_reader(spark, tmp_path):
    from test_xlsx import _make_xlsx

    wb = tmp_path / "wb.xlsx"
    _make_xlsx(wb)
    cfg = IngestionConfig(name="x", source_format="xlsx",
                          source_path=str(wb),
                          sink_path=str(tmp_path / "lake_x"))
    rep = run_ingestion(spark, cfg)
    assert rep.ok and rep.rows_written == 2

    # injectable acquire stage (the sliced/scroll/API sources plug here)
    def fake_reader(spark_, cfg_):
        return spark_.createDataFrame([("7", "2024-01-01 00:00:00")],
                                      ["id", "ts"])

    cfg2 = IngestionConfig(name="r", source_format="custom",
                           source_path="", reader=fake_reader,
                           sink_path=str(tmp_path / "lake_r"), ts_col="ts")
    rep2 = run_ingestion(spark, cfg2)
    assert rep2.ok and rep2.rows_written == 1


def test_run_many_parallel_threads(spark, tmp_path):
    a = tmp_path / "p.csv"
    a.write_text("x,ts\n1,2024-01-01 00:00:00\n2,2024-01-02 00:00:00\n")
    cfgs = [
        IngestionConfig(name=f"p{i}", source_format="csv", source_path=str(a),
                        sink_path=str(tmp_path / f"plake_{i}"), ts_col="ts",
                        csv_sep=",", csv_encoding="utf-8")
        for i in range(3)
    ]
    reps = run_many(spark, cfgs, parallelism=2)
    assert [r.name for r in reps] == ["p0", "p1", "p2"]  # order preserved
    assert all(r.ok and r.rows_written == 2 for r in reps)


def test_k_anonymity_gate_flags_release(spark, tmp_path):
    a = tmp_path / "k.csv"
    # bairro B identifies a single person -> k=2 must flag
    a.write_text("bairro,idade,ts\nA,30,2024-01-01 00:00:00\n"
                 "A,30,2024-01-01 00:00:00\nB,44,2024-01-01 00:00:00\n")
    cfg = IngestionConfig(name="k", source_format="csv", source_path=str(a),
                          sink_path=str(tmp_path / "klake"), ts_col="ts",
                          csv_sep=",", csv_encoding="utf-8",
                          k_anon=(["bairro", "idade"], 2))
    rep = run_ingestion(spark, cfg)
    kcheck = [c for c in rep.checks if c.name == "k_anonymity"][0]
    assert not kcheck.passed and kcheck.details["violating_groups"] == 1
    assert not rep.ok


def _csv_cfg(tmp_path, body, run_id=None):
    src = tmp_path / "batch.csv"
    src.write_text(body)
    return IngestionConfig(name="t", source_format="csv",
                           source_path=str(src), sink_path=str(tmp_path / "lake"),
                           ts_col="ts", csv_sep=",", csv_encoding="utf-8",
                           run_id=run_id)


@pytest.mark.parametrize("run_id", [None, "r1"])
def test_empty_first_load_reports_instead_of_raising(spark, tmp_path, run_id):
    """A header-only batch into a table that does not exist yet: the load
    writes nothing (Q9), so no table directory appears, and the report
    fails non_empty with 0 rows instead of raising on the read-back."""
    cfg = _csv_cfg(tmp_path, "id,ts\n", run_id=run_id)
    rep = run_ingestion(spark, cfg)
    checks = {c.name: c.passed for c in rep.checks}
    assert checks == {"non_empty": False, "count_reconciliation": True}
    assert (rep.rows_read, rep.rows_written) == (0, 0)
    assert not os.path.exists(cfg.sink_path)


def test_retried_load_reconciles_against_its_own_rows(spark, tmp_path):
    """The same append config run twice with one run_id, as a task retry
    does: each report checks only the rows its own write added."""
    cfg = _csv_cfg(tmp_path, "id,ts\n1,2024-01-01 00:00:00\n"
                             "2,2024-01-02 00:00:00\n", run_id="r1")
    reports = [run_ingestion(spark, cfg) for _ in range(2)]
    for rep in reports:
        assert rep.ok and (rep.rows_read, rep.rows_written) == (2, 2), rep
    assert spark.read.parquet(cfg.sink_path).count() == 4


@pytest.mark.parametrize("pattern", ["dir", "dir/*.csv"])
def test_csv_source_dir_or_glob_is_sniffed_from_its_first_file(
        spark, tmp_path, pattern):
    src = tmp_path / "dir"
    src.mkdir()
    for i in (1, 2):
        (src / f"part{i}.csv").write_text(f"id;ts\n{i};2024-01-01 00:00:00\n")
    rep = run_ingestion(spark, IngestionConfig(
        name="t", source_format="csv", source_path=str(tmp_path / pattern),
        sink_path=str(tmp_path / "lake"), ts_col="ts"))
    assert rep.ok and (rep.rows_read, rep.rows_written) == (2, 2), rep


def test_load_into_existing_table_job_budget(spark, tmp_path, count_jobs):
    """One load into an existing table runs at most 6 Spark jobs: CSV
    header inference, the Q9 probe and the write (which counts the rows),
    then the read-back of the load's own files. A new probe or a second
    scan of the source or the table would break this."""
    body = "id,ts\n1,2024-01-01 00:00:00\n2,2024-01-02 00:00:00\n"
    run_ingestion(spark, _csv_cfg(tmp_path, body, run_id="r1"))
    rep, jobs = count_jobs(lambda: run_ingestion(
        spark, _csv_cfg(tmp_path, body, run_id="r2")))
    assert rep.ok and rep.rows_written == 2
    assert jobs <= 6, jobs
