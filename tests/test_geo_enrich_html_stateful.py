"""Tests: geo reprojection (C20), HTTP/LLM enrichment (C21/C22),
HTML extraction (C23), stateful streaming sessionization."""

import json
import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from pipelines_rj_sms_spark.functions.geo import (
    lonlat_to_utm23s,
    lonlat_to_utm_udf,
    utm23s_to_lonlat,
    utm_to_lonlat_udf,
)
from pipelines_rj_sms_spark.functions.html import (
    html_sections_udf,
    html_to_text,
    split_sections,
)
from pipelines_rj_sms_spark.operators.enrich import enrich_http, llm_enrich_udf


def test_geo_roundtrip_numpy():
    # Rio de Janeiro city points (EPSG:31983 zone): forward then inverse
    lon = np.array([-43.2096, -43.3300, -43.1729])
    lat = np.array([-22.9035, -22.8700, -22.9068])
    e, n = lonlat_to_utm23s(lon, lat)
    # UTM 23S plausibility: Rio ~ easting 600-700 km, northing ~7.45-7.48 Mm
    assert ((e > 600_000) & (e < 720_000)).all()
    assert ((n > 7_400_000) & (n < 7_500_000)).all()
    lon2, lat2 = utm23s_to_lonlat(e, n)
    np.testing.assert_allclose(lon2, lon, atol=1e-8)
    np.testing.assert_allclose(lat2, lat, atol=1e-8)


def test_geo_udfs(spark):
    df = spark.createDataFrame(
        [(1, 680000.0, 7465000.0)], "id long, easting double, northing double"
    )
    out = (
        df.withColumn("p", utm_to_lonlat_udf()("easting", "northing"))
        .select("id", "p.lon", "p.lat")
        .withColumn("q", lonlat_to_utm_udf()("lon", "lat"))
        .select("id", "lon", "lat", "q.easting", "q.northing")
        .first()
    )
    assert abs(out["easting"] - 680000.0) < 1e-4
    assert abs(out["northing"] - 7465000.0) < 1e-4
    assert -44 < out["lon"] < -42 and -24 < out["lat"] < -22


def test_enrich_http_retry_and_error(spark):
    df = spark.createDataFrame(
        [("a", "addr1"), ("b", "boom"), ("c", "addr3")], "k string, req string"
    )

    def fetcher(req):
        if req == "boom":
            raise ValueError("no such address")
        return {"geocoded": req.upper()}

    out = {r["key"]: (r["status"], json.loads(r["payload"]))
           for r in enrich_http(df, "k", "req", fetcher).collect()}
    assert out["a"] == ("ok", {"geocoded": "ADDR1"})
    assert out["c"][0] == "ok"
    assert out["b"][0] == "error" and "no such address" in out["b"][1]["error"]


def test_llm_enrich_batching(spark):
    df = spark.createDataFrame([(i, f"classify doc {i}") for i in range(10)],
                               "id long, prompt string").coalesce(1)
    seen_sizes = []

    def model(prompts):
        seen_sizes.append(len(prompts))
        return [json.dumps({"label": "ok", "n": len(p)}) for p in prompts]

    udf = llm_enrich_udf(model, batch_size=4)
    rows = df.withColumn("resp", udf("prompt")).collect()
    assert all(json.loads(r["resp"])["label"] == "ok" for r in rows)


def test_llm_enrich_error_capture(spark):
    df = spark.createDataFrame([(1, "p")], "id long, prompt string")

    def broken(prompts):
        raise RuntimeError("quota")

    rows = df.withColumn("resp", llm_enrich_udf(broken)("prompt")).collect()
    assert "quota" in json.loads(rows[0]["resp"])["error"]


HTML_DOC = """
<html><head><style>.x{color:red}</style><script>var x=1;</script></head>
<body>Preamble &amp; intro.
<h1>Se&ccedil;&atilde;o A</h1><p>Body <b>A</b> text.</p>
<h2>Section B</h2><div>Body B &nbsp; text.</div>
</body></html>
"""


def test_html_to_text_expression(spark):
    df = spark.createDataFrame([(HTML_DOC,)], "doc string")
    txt = df.select(html_to_text("doc").alias("t")).first()["t"]
    assert "var x=1" not in txt and "color:red" not in txt
    assert "Preamble & intro." in txt
    assert "Body A text." in txt


def test_split_sections_pure():
    secs = split_sections(HTML_DOC)
    assert [s["title"] for s in secs] == ["", "Seção A", "Section B"]
    assert secs[1]["body"] == "Body A text."


def test_html_sections_udf_explode(spark):
    df = spark.createDataFrame([(1, HTML_DOC)], "doc_id long, doc string")
    out = (
        df.withColumn("sec", F.explode(html_sections_udf()("doc")))
        .select("doc_id", "sec.title", "sec.body")
        .collect()
    )
    assert len(out) == 3
    assert out[2]["title"] == "Section B" and "Body B" in out[2]["body"]


@pytest.mark.slow
def test_stateful_sessionize(spark, tmp_path):
    from pipelines_rj_sms_spark.streaming.stateful import sessionize

    src = tmp_path / "src"
    src.mkdir()
    chk = str(tmp_path / "chk")
    out_dir = str(tmp_path / "out")
    # user 1: two sessions separated by an 900s gap; user 2: one session
    rows = [
        {"user_id": 1, "ts": "2024-01-01 00:00:00"},
        {"user_id": 1, "ts": "2024-01-01 00:02:00"},
        {"user_id": 1, "ts": "2024-01-01 00:17:00"},
        {"user_id": 2, "ts": "2024-01-01 01:00:00"},
    ]
    (src / "batch1.json").write_text("\n".join(json.dumps(r) for r in rows))

    stream = (
        spark.readStream.schema("user_id long, ts string")
        .json(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    sessions = sessionize(stream, gap_s=300.0)
    q = (
        sessions.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", chk)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir).collect()
    # deterministic: the 15-min gap closes user 1's first session within
    # the batch. The two still-open sessions flush only if a later
    # micro-batch runs after the processing-time timeout — timing-
    # dependent under availableNow, so only bounded here.
    sess1 = [r for r in got if r["user_id"] == 1 and r["n_events"] == 2]
    assert len(sess1) == 1
    s = sess1[0]
    assert s["session_end"] - s["session_start"] == 120.0
    assert 1 <= len(got) <= 3
    assert all(r["session_end"] >= r["session_start"] for r in got)
