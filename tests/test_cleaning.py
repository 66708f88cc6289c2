import pytest
from pyspark.sql import functions as F

from pipelines_rj_sms_spark.functions.cleaning import (
    clean_column_name,
    clean_column_names,
    dedupe_column_names,
    parse_decimal_comma,
    scrub_control_chars,
    strip_accents,
)


def test_clean_column_name_reference_semantics():
    # accent strip + lower + non-alnum -> _ (ref utils/data_cleaning.py:11-47)
    assert clean_column_name("Município") == "municipio"
    assert clean_column_name("Data de Atualização") == "data_de_atualizacao"
    assert clean_column_name("CNES!!") == "cnes"
    assert clean_column_name("1a_coluna") == "_1a_coluna"
    assert clean_column_name("ação/reação") == "acao_reacao"
    assert clean_column_name("") == "col"
    # idempotent
    for name in ["Município", "1a_coluna", "a b c"]:
        once = clean_column_name(name)
        assert clean_column_name(once) == once


def test_dedupe_column_names():
    assert dedupe_column_names(["a", "b", "a", "a"]) == ["a", "b", "a_1", "a_2"]


def test_clean_column_names_df(spark):
    df = spark.createDataFrame([(1, 2, 3)], ["Município", "MUNICÍPIO!", "ok"])
    assert clean_column_names(df).columns == ["municipio", "municipio_1", "ok"]


def test_strip_accents_values(spark):
    df = spark.createDataFrame([("São Gonçalo ÀÉÎÕÜ ç",)], ["s"])
    out = df.select(strip_accents("s").alias("s")).first()["s"]
    assert out == "Sao Goncalo AEIOU c"


def test_scrub_control_chars(spark):
    df = spark.createDataFrame([("a\x00b​c d",)], ["s"])
    out = df.select(scrub_control_chars("s").alias("s")).first()["s"]
    assert out == "abc d"


def test_parse_decimal_comma(spark):
    df = spark.createDataFrame([("1.234,56",), ("10,5",), ("abc",)], ["v"])
    out = [r["v"] for r in df.select(parse_decimal_comma("v").alias("v")).collect()]
    assert out[0] == 1234.56
    assert out[1] == 10.5
    assert out[2] is None


def test_shorten_column_name_bounds_and_keeps_meaning():
    from pipelines_rj_sms_spark.functions.cleaning import shorten_column_name

    long = "Quando a criança brinca de faz de conta, ela usa objetos?"
    out = shorten_column_name(long, max_len=30)
    assert len(out) <= 30
    assert "crianca" in out and "brinca" in out   # content words survive
    assert "quando" not in out                    # filler dropped
    # short names pass through untouched
    assert shorten_column_name("CNES") == "cnes"
    # junk patterns are caller-scoped (the TEA export's r/f artifacts)
    assert shorten_column_name("Resp R/F campo", max_len=30,
                               junk_patterns=(r"r[ _/-]*f",)) == "resp_campo"
    # protected prefixes never drop
    out2 = shorten_column_name(
        "mchat quando vc aponta para algo muito distante la fora",
        max_len=20, keep_prefixes=("mchat",))
    assert out2.startswith("mchat") and len(out2) <= 20


def test_shorten_column_names_frame_dedup(spark):
    from pipelines_rj_sms_spark.functions.cleaning import shorten_column_names

    df = spark.createDataFrame(
        [(1, 2)], ["Pergunta de rastreio numero um e alguma coisa mais",
                   "Pergunta de rastreio numero um e alguma coisa menos"])
    out = shorten_column_names(df, max_len=24)
    a, b = out.columns
    assert a != b and all(len(c) <= 26 for c in (a, b))  # _N suffix may add


@pytest.mark.slow
def test_normalize_unicode_nfc_composes(spark):
    import pytest

    from pipelines_rj_sms_spark.functions.cleaning import normalize_unicode
    df = spark.createDataFrame(
        [("Café",), ("Å",), (None,)], "t string")
    got = [r[0] for r in df.select(normalize_unicode("t")).collect()]
    assert got == ["Café", "Å", None]
    with pytest.raises(ValueError, match="normalization form"):
        normalize_unicode("t", form="NFX")


def test_normalize_unicode_nfkc_casefold_dedup_key(spark):
    from pipelines_rj_sms_spark.functions.cleaning import normalize_unicode
    # compatibility digits/ligatures + casefold (ß -> ss, not lower)
    df = spark.createDataFrame(
        [("① ﬁle STRASSE",), ("1 file strasse",)], "t string")
    got = [r[0] for r in
           df.select(normalize_unicode("t", form="NFKC",
                                       casefold=True)).collect()]
    assert got[0] == got[1] == "1 file strasse"
