import collections

import pytest

from pipelines_rj_sms_spark.operators.tokenizer import (
    bpe_encode_udf, bpe_train, word_freq_table)


def _ref_bpe(word_freqs, n_merges, min_pair_count=2):
    """Independent reference: the classic Sennrich dictionary-based
    trainer with the same deterministic tie-break (count desc, then
    (left, right) lexicographic)."""
    vocab = {tuple(list(w) + ["</w>"]): f for w, f in word_freqs.items()}
    merges = []
    for _ in range(n_merges):
        pairs = collections.Counter()
        for sym, f in vocab.items():
            for i in range(len(sym) - 1):
                pairs[(sym[i], sym[i + 1])] += f
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        (l, r), c = best
        if c < min_pair_count:
            break
        merges.append((l, r, c))
        new_vocab = {}
        for sym, f in vocab.items():
            out, i = [], 0
            while i < len(sym):
                if i < len(sym) - 1 and sym[i] == l and sym[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
        vocab = new_vocab
    return merges


CORPUS = ["low low low low low",
          "lower lower newest newest newest",
          "newest newest newest widest widest"]


def test_bpe_train_matches_reference(spark):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(CORPUS)],
                               ["doc_id", "text"])
    wf = {r["w"]: r["freq"]
          for r in word_freq_table(df, "text").collect()}
    expect = _ref_bpe(wf, n_merges=12)
    got = bpe_train(df, "text", n_merges=12)
    assert got == expect
    # classic example: 'es'/'est'/'est</w>' family emerges from newest
    merged_symbols = {l + r for l, r, _ in got}
    assert "es" in merged_symbols or "st" in merged_symbols


def test_bpe_train_early_stop(spark):
    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    # every word is one char; only (char, </w>) pairs with freq 1
    got = bpe_train(df, "text", n_merges=10, min_pair_count=2)
    assert got == []


def test_bpe_encode_applies_merges_in_rank_order(spark):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(CORPUS)],
                               ["doc_id", "text"])
    merges = bpe_train(df, "text", n_merges=20, min_pair_count=2)
    enc = bpe_encode_udf(merges)
    out = {r["doc_id"]: r["toks"] for r in df.select(
        "doc_id", enc("text").alias("toks")).collect()}
    # a fully-merged frequent word collapses to one token
    flat = [t for ts in out.values() for t in ts]
    assert "low</w>" in flat
    # every token stream reassembles to the original text
    joined = "".join(out[0]).replace("</w>", " ").strip()
    assert joined == CORPUS[0]


def test_bpe_encode_unseen_word_falls_back_to_chars(spark):
    merges = [("l", "o", 5), ("lo", "w", 4)]
    enc = bpe_encode_udf(merges)
    df = spark.createDataFrame([(1, "xyz low")], ["doc_id", "text"])
    toks = df.select(enc("text").alias("t")).collect()[0]["t"]
    assert toks == ["x", "y", "z", "</w>", "low", "</w>"]


@pytest.mark.slow
def test_bpe_batched_rounds_match_sequential(spark):
    """Batched training (max_batch=16) must be bit-identical to the
    one-merge-per-round trainer AND the reference, in far fewer
    rounds — the batch rule only accepts prefixes whose sequential
    equivalence is provable from the round's own counts."""
    corpus = CORPUS + [
        "hugging bugging tugging jogging logging",
        "painter painted painting paints repaint",
        "sunlight moonlight lighting lightest lighter",
        "transformer transforms transformed transform",
    ] * 3
    df = spark.createDataFrame([(i, t) for i, t in enumerate(corpus)],
                               ["doc_id", "text"])
    wf = {r["w"]: r["freq"]
          for r in word_freq_table(df, "text").collect()}
    expect = _ref_bpe(wf, n_merges=40)
    seq_stats, bat_stats, drv_stats = {}, {}, {}
    # force the distributed path for the sequential/batched comparison
    seq = bpe_train(df, "text", n_merges=40, max_batch=1,
                    driver_vocab_limit=0, stats=seq_stats)
    bat = bpe_train(df, "text", n_merges=40, max_batch=16,
                    driver_vocab_limit=0, stats=bat_stats)
    drv = bpe_train(df, "text", n_merges=40, stats=drv_stats)
    assert seq == expect
    assert bat == expect
    assert drv == expect                      # driver fast path
    assert drv_stats == {"rounds": 0, "mode": "driver"}
    assert seq_stats["rounds"] == len(seq)
    assert bat_stats["mode"] == "distributed"
    # batching never does worse, and helps despite char-level overlap
    assert bat_stats["rounds"] < seq_stats["rounds"], bat_stats
