"""Incremental LSH dedup: batch-vs-store semantics, signature-store
append loop, and the no-corpus-rescan property."""

import pytest
from pyspark.sql import functions as F

from pipelines_rj_sms_spark.operators.dedup import (
    incremental_lsh_dedup,
    lsh_bands,
    minhash_signature,
    sig_agreement,
)
from pipelines_rj_sms_spark.operators.cache import release

TXT = ("the quick brown fox jumps over the lazy dog and runs far away "
       "into the deep green forest tonight")
NEAR = ("the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep green forest today")
OTHER = ("completely different content about spark partition shuffles "
         "and broadcast joins at terabyte scale with adaptive execution")


def _sig_store(spark, rows):
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    return minhash_signature(df, "text", num_hashes=16, shingle_n=3) \
        .select("doc_id", "minhash")


def test_incremental_drops_store_matches_keeps_unique(spark):
    store = _sig_store(spark, [(1, TXT)])
    new = spark.createDataFrame(
        [(10, TXT),      # exact dup of stored 1 -> dropped
         (11, NEAR),     # near dup of stored 1 -> dropped
         (12, OTHER)],   # novel -> kept
        ["doc_id", "text"])
    accepted, accepted_sigs = incremental_lsh_dedup(
        new, store, "doc_id", "text", num_hashes=16, bands=8,
        sim_threshold=0.5)
    assert sorted(r.doc_id for r in accepted.collect()) == [12]
    assert sorted(r.doc_id for r in accepted_sigs.collect()) == [12]
    release(accepted)


def test_incremental_within_batch_lowest_id_wins(spark):
    new = spark.createDataFrame(
        [(20, TXT), (21, TXT), (22, OTHER)], ["doc_id", "text"])
    accepted, _ = incremental_lsh_dedup(
        new, None, "doc_id", "text", num_hashes=16, bands=8)
    assert sorted(r.doc_id for r in accepted.collect()) == [20, 22]
    release(accepted)


def test_incremental_append_loop_rejects_reingest(spark):
    """Accepted sigs appended to the store make a re-ingest of the same
    content (fresh ids) reject everything — the idempotent-load shape."""
    batch1 = spark.createDataFrame([(1, TXT), (2, OTHER)],
                                   ["doc_id", "text"])
    accepted1, sigs1 = incremental_lsh_dedup(
        batch1, None, "doc_id", "text", num_hashes=16, bands=8)
    assert accepted1.count() == 2
    store = sigs1

    batch2 = spark.createDataFrame([(31, TXT), (32, OTHER), (33, NEAR)],
                                   ["doc_id", "text"])
    accepted2, _ = incremental_lsh_dedup(
        batch2, store, "doc_id", "text", num_hashes=16, bands=8,
        sim_threshold=0.5)
    assert accepted2.count() == 0
    release(accepted1)
    release(accepted2)


def test_store_participates_without_text_column(spark):
    """The store side needs only (id, minhash) — proving the corpus
    text is never required after first ingest."""
    store = _sig_store(spark, [(1, TXT)]).select("doc_id", "minhash")
    assert store.columns == ["doc_id", "minhash"]
    new = spark.createDataFrame([(40, TXT)], ["doc_id", "text"])
    accepted, _ = incremental_lsh_dedup(
        new, store, "doc_id", "text", num_hashes=16, bands=8)
    assert accepted.count() == 0
    release(accepted)


@pytest.mark.slow
def test_sig_agreement_estimates_jaccard(spark):
    sigs = _sig_store(spark, [(1, TXT), (2, NEAR), (3, OTHER)])
    a = sigs.filter("doc_id = 1").select(F.col("minhash").alias("_a"))
    for other, lo, hi in [(2, 0.5, 1.0), (3, 0.0, 0.3)]:
        b = sigs.filter(f"doc_id = {other}") \
            .select(F.col("minhash").alias("_b"))
        est = a.crossJoin(b).select(
            sig_agreement(F.col("_a"), F.col("_b"), 16).alias("j")
        ).collect()[0]["j"]
        assert lo <= est <= hi, (other, est)


def test_lsh_bands_pure_projection_roundtrip(spark, tmp_path):
    """Bands derived from a parquet-roundtripped store equal bands from
    the in-memory signatures (store and batch band identically)."""
    sigs = _sig_store(spark, [(1, TXT), (2, OTHER)])
    out = str(tmp_path / "store")
    sigs.write.parquet(out)
    back = spark.read.parquet(out)
    a = set(map(tuple, lsh_bands(sigs, "doc_id", 16, 8).collect()))
    b = set(map(tuple, lsh_bands(back, "doc_id", 16, 8).collect()))
    assert a == b and len(a) == 16


def test_stream_corpus_dedup_end_to_end(spark, tmp_path):
    """Two paced microbatches with near-dup overlap, then a second
    stream run re-ingesting similar content: survivors accumulate
    exactly once, the store carries only accepted signatures."""
    import json

    from pipelines_rj_sms_spark.streaming.incremental import (
        run_stream_once, stream_corpus_dedup)

    src = tmp_path / "src"
    src.mkdir()
    # batch 1: one unique doc + an internal near-dup pair
    (src / "a.json").write_text("\n".join(json.dumps(r) for r in [
        {"doc_id": 1, "text": TXT},
        {"doc_id": 2, "text": NEAR},      # near-dup of 1 -> dropped
        {"doc_id": 3, "text": OTHER},
    ]))
    # batch 2 (second file): re-sends TXT content under a new id
    (src / "b.json").write_text(json.dumps(
        {"doc_id": 10, "text": TXT}))

    out, store, ck = (str(tmp_path / "out"), str(tmp_path / "store"),
                      str(tmp_path / "ck"))
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).json(str(src)))
    q = stream_corpus_dedup(
        stream, out, store, ck, "doc_id", "text",
        num_hashes=16, bands=8, sim_threshold=0.5)
    run_stream_once(q)

    accepted = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert accepted == {1, 3}
    sig_ids = {r["doc_id"] for r in spark.read.parquet(store).collect()}
    assert sig_ids == {1, 3}

    # a later run (fresh checkpoint, new ids, same content) rejects all
    src2 = tmp_path / "src2"
    src2.mkdir()
    (src2 / "c.json").write_text("\n".join(json.dumps(r) for r in [
        {"doc_id": 20, "text": TXT}, {"doc_id": 21, "text": OTHER}]))
    stream2 = (spark.readStream.schema("doc_id long, text string")
               .json(str(src2)))
    q2 = stream_corpus_dedup(
        stream2, out, store, str(tmp_path / "ck2"), "doc_id", "text",
        num_hashes=16, bands=8, sim_threshold=0.5)
    run_stream_once(q2)
    accepted2 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert accepted2 == {1, 3}  # nothing new survived
