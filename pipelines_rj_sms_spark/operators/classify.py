"""Distributed multinomial Naive Bayes text classification.

The reference's enrichment surface includes LLM-backed categorization of
free-text records (reference: pipelines/datalake/transform utilities and
the LLM enrichment tasks); a training-data pipeline needs the cheap,
corpus-trained counterpart — the fastText-style quality / language
classifier used to score billions of documents (CCNet, GPT-3 WebText
filtering both use exactly this shape: a linear bag-of-words model).
Multinomial NB with add-one smoothing is that model, and it trains and
scores entirely in hash aggregations — no gradient loop, no Python.

Scale shape (100 TB corpus, |V| vocab, |C| classes):
- TRAIN is two hash aggregations over (label, term) — narrow rows after
  the tokenize+explode projection; document bodies never shuffle. The
  model is |V|x|C| rows at most (in practice far sparser) plus a |C|-row
  class table — megabytes, independent of corpus size.
- SCORE decomposes the joint log-likelihood so that the model joins the
  per-doc term-frequency rows with a plain INNER equi-join on the term:

      score(d, c) = ln prior_c  -  dl_d * ln(tok_c + V)
                    + sum_{t in d} tf_t * ln(n_{t,c} + 1)

  Terms absent from class c contribute ln(0 + 1) = 0, so the inner join
  IS the smoothing — no outer join, no missing-pair densification. The
  model side is broadcast (it is bounded by vocab, not data), so the
  corpus-side term rows never shuffle for the join; the only Exchange is
  the per-(doc, class) partial-sum aggregation on narrow keys.
- The per-class constants (prior, denominator) ride in as a broadcast
  |C|-row frame cross-joined under each document — never a driver
  collect of data-dependent size beyond the class list.

Scores are rounded to 6 decimals BEFORE the argmax so the winning label
is a pure function of the data across engines/accumulation orders (ties
break on the label ascending).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pipelines_rj_sms_spark.functions.numeric import \
    pin_round6 as _p6

from pipelines_rj_sms_spark.functions.numeric import (LOG_SCALE,
                                                      det_log_units,
                                                      det_sum, pin_units)
from pipelines_rj_sms_spark.functions.text import tokens
from pipelines_rj_sms_spark.operators.cache import track

__all__ = ["nb_train", "nb_score", "nb_predict"]


def nb_train(df: DataFrame, label_col: str, text_col: str,
             ) -> tuple[DataFrame, DataFrame]:
    """Train multinomial NB; returns ``(model_terms, model_classes)``.

    ``model_terms``: (label, term, lw) where ``lw = ln(n_{t,c} + 1)``.
    ``model_classes``: (label, ln_prior, ln_denom) where
    ``ln_denom = ln(tok_c + |V|)`` — the add-one denominator.

    Every ln is pinned to the shared 1e-6 grid (``det_log_units``; see
    functions/numeric.py "pinned transcendental values"): the model
    weights are then derived from integers identical in any IEEE
    engine, so scoring arithmetic downstream is bit-replayable
    cross-engine — a raw runtime ln here is the r6 driver-red class.

    Both are small (bounded by vocab x classes) and are meant to be
    broadcast by :func:`nb_score`; persist them when scoring many
    batches so training aggregations run once.
    """
    toks = df.select(F.col(label_col).alias("label"),
                     F.explode(tokens(text_col)).alias("term"))
    term_counts = toks.groupBy("label", "term").agg(
        F.count("*").alias("_n_lt"))
    model_terms = term_counts.select(
        "label", "term",
        (det_log_units(F.col("_n_lt") + F.lit(1.0))
         / F.lit(float(LOG_SCALE))).alias("lw"))

    class_tokens = term_counts.groupBy("label").agg(
        F.sum("_n_lt").alias("_tok_c"))
    vocab = F.broadcast(term_counts.agg(
        F.count_distinct("term").cast("double").alias("_vocab")))
    priors = df.groupBy(F.col(label_col).alias("label")).agg(
        F.count("*").alias("_n_c"))
    total = F.broadcast(priors.agg(F.sum("_n_c").cast("double").alias("_n")))
    model_classes = (
        priors.join(class_tokens, "label")
        .crossJoin(vocab).crossJoin(total)
        .select(
            "label",
            (det_log_units(F.col("_n_c") / F.col("_n"))
             / F.lit(float(LOG_SCALE))).alias("ln_prior"),
            (det_log_units(F.col("_tok_c") + F.col("_vocab"))
             / F.lit(float(LOG_SCALE))).alias("ln_denom")))
    return model_terms, model_classes


def nb_score(df: DataFrame, id_col: str, text_col: str,
             model_terms: DataFrame, model_classes: DataFrame) -> DataFrame:
    """Joint log-likelihood of every (document, class) pair.

    Returns (id, label, score) with one row per document per class;
    ``score`` is rounded to 6 decimals. The model sides are broadcast —
    the corpus never shuffles for the model join.
    """
    docs = df.select(F.col(id_col),
                     tokens(text_col).alias("_toks")).select(
        id_col,
        F.size("_toks").cast("double").alias("_dl"),
        F.explode_outer("_toks").alias("term"))
    tf = docs.groupBy(id_col, "_dl", "term").agg(F.count("*").alias("_tf"))
    # det_sum, not SUM(double): the per-class log-likelihood feeds a
    # rounded compare AND nb_predict's argmax — both must be immune to
    # partial-aggregation order (see functions/numeric.py)
    hits = (tf.join(F.broadcast(model_terms), "term")
            .groupBy(id_col, "label")
            .agg(det_sum(F.col("_tf") * F.col("lw")).alias("_hit")))
    frame = (df.select(F.col(id_col),
                       F.size(tokens(text_col)).cast("double").alias("_dl"))
             .crossJoin(F.broadcast(model_classes)))
    return (frame.join(hits, [id_col, "label"], "left")
            .select(
                id_col, "label",
                F.round(
                    F.col("ln_prior") - F.col("_dl") * F.col("ln_denom")
                    + F.coalesce(F.col("_hit"), F.lit(0.0)),
                    6).alias("score")))


def nb_predict(df: DataFrame, id_col: str, text_col: str,
               model_terms: DataFrame, model_classes: DataFrame) -> DataFrame:
    """Argmax class per document: (id, label, score).

    The argmax runs over the 6-decimal-rounded scores (ties break on the
    label ascending) so the winner is replayable bit-for-bit in any
    engine; one window over |C| rows per document.
    """
    scores = nb_score(df, id_col, text_col, model_terms, model_classes)
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("label").asc())
    return (scores.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1).drop("_rk"))


def classification_report(df: DataFrame, actual_col: str,
                          predicted_col: str) -> DataFrame:
    """Per-class precision / recall / F1 / support from (actual,
    predicted) pairs — the evaluation half of the classifier loop.

    One hash aggregation collapses the data to the confusion-matrix
    joint counts (|C|² rows at most); every derived metric is computed
    on that tiny rollup (diagonal = TP, row margins = support, column
    margins = predicted counts) — the raw predictions are scanned
    once. Classes present only in predictions (or only in truth) get
    the conventional 0 for the undefined ratio. Floats round to 6.
    """
    joint = (df.groupBy(F.col(actual_col).alias("_a"),
                        F.col(predicted_col).alias("_p"))
             .agg(F.count("*").alias("_n"))
             .persist())
    classes = (joint.select(F.col("_a").alias("label"))
               .unionByName(joint.select(F.col("_p").alias("label")))
               .distinct())
    tp = (joint.filter(F.col("_a") == F.col("_p"))
          .select(F.col("_a").alias("label"), F.col("_n").alias("_tp")))
    support = joint.groupBy(F.col("_a").alias("label")).agg(
        F.sum("_n").alias("support"))
    pred_n = joint.groupBy(F.col("_p").alias("label")).agg(
        F.sum("_n").alias("_pn"))
    out = (classes.join(tp, "label", "left")
           .join(support, "label", "left")
           .join(pred_n, "label", "left")
           .select("label",
                   F.coalesce("_tp", F.lit(0)).alias("_tp"),
                   F.coalesce("support", F.lit(0)).alias("support"),
                   F.coalesce("_pn", F.lit(0)).alias("_pn")))
    prec = F.when(F.col("_pn") > 0, F.col("_tp") / F.col("_pn")) \
        .otherwise(F.lit(0.0))
    rec = F.when(F.col("support") > 0, F.col("_tp") / F.col("support")) \
        .otherwise(F.lit(0.0))
    f1 = F.when(prec + rec > 0, 2.0 * prec * rec / (prec + rec)) \
        .otherwise(F.lit(0.0))
    return track(
        out.select("label",
                   F.col("support").cast("bigint").alias("support"),
                   F.round(prec, 6).alias("precision"),
                   F.round(rec, 6).alias("recall"),
                   F.round(f1, 6).alias("f1")),
        joint)


def calibration_report(df: DataFrame, score_col: str, correct_col: str,
                       n_buckets: int = 10) -> DataFrame:
    """Score-calibration diagnostic: bucket predictions into
    equal-population score deciles and report accuracy per bucket —
    "are higher-confidence predictions actually more often right?"
    (the reliability-diagram table; for log-likelihood scores it reads
    as a ranking diagnostic rather than probability calibration).

    Same no-global-sort discipline as `equi_depth_histogram`: exact
    interpolated percentile boundaries (6dp-pinned, one broadcast
    row), codegen'd count-of-boundaries-below assignment, one hash
    aggregation. Returns (bucket, n, mean_score, accuracy), floats
    rounded to 6.
    """
    qs = [i / n_buckets for i in range(1, n_buckets)]
    bounds = F.broadcast(df.agg(F.transform(
        F.expr(f"percentile({score_col}, "
               f"array({', '.join(map(str, qs))}))"),
        lambda b: F.round(b, 6)).alias("_b")))
    bucket = F.size(F.filter(F.col("_b"),
                             lambda b: b < F.col(score_col)))
    return (df.crossJoin(bounds)
            .select(bucket.alias("bucket"), F.col(score_col).alias("_s"),
                    F.col(correct_col).cast("int").alias("_c"))
            .groupBy("bucket")
            # mean_score via det_sum/count: the scores are doubles, so
            # a plain avg drifts with combine order; accuracy's 0/1
            # ints would stay exact either way but mirror the spelling
            .agg(F.count("*").alias("n"),
                 # pin_round6: unit-sum/count and int ratios are the
                 # .5e-6-tie class (functions/numeric.py)
                 _p6(det_sum(F.col("_s")) / F.count("*"))
                 .alias("mean_score"),
                 _p6(F.sum("_c").cast("double") / F.count("*"))
                 .alias("accuracy")))


def binary_auc(df: DataFrame, score_col: str, label_col) -> DataFrame:
    """Exact ROC-AUC for a binary label over a score column — the
    threshold-free companion to :func:`classification_report` (which
    needs a hard argmax) and :func:`calibration_report` (which needs
    binning). AUC is the probability a random positive outranks a
    random negative, i.e. the Mann-Whitney statistic normalized:

        AUC = (R_pos − n_pos(n_pos+1)/2) / (n_pos · n_neg)

    with R_pos the positives' rank sum under AVERAGE ranks — which is
    exactly the trapezoidal tie correction (tied scores count 1/2).

    Exactness and scale follow ``quality/stats.mann_whitney_u``: the
    data collapses to per-distinct-score (positives, total) counts in
    one hash aggregation; the rank window runs over the collapsed
    score support; rank sums are DECIMAL(38,0) integers in half-units;
    AUC is one final double division, bit-identical to the oracle.
    One row: (n_pos, n_neg, auc). Pass ``label_col`` as a column name
    or boolean Column expression.
    """
    from pyspark.sql import Column, Window

    lab = (label_col if isinstance(label_col, Column)
           else F.col(label_col)).cast("int")
    base = (df.filter(F.col(score_col).isNotNull() & lab.isNotNull())
            .select(F.col(score_col).alias("_s"), lab.alias("_y")))
    sv = base.groupBy("_s").agg(F.sum("_y").alias("_p"),
                                F.count("*").alias("_t"))
    # distributed rank cumsum over the collapsed score support — no
    # SinglePartition exchange (operators/ids.global_cumsum)
    from pipelines_rj_sms_spark.operators.ids import global_cumsum
    sv = global_cumsum(sv, ["_s"], ["_t"])
    d38 = "decimal(38,0)"
    r2 = (2 * F.col("_cum__t") - F.col("_t") + 1).cast(d38)
    agg = (sv.select("_p", "_t", r2.alias("_r2"))
           .agg(F.sum("_p").cast(d38).alias("_np"),
                F.sum(F.col("_t") - F.col("_p")).cast(d38).alias("_nn"),
                F.sum(F.col("_p").cast(d38) * F.col("_r2"))
                .alias("_rp2")))
    np_, nn = F.col("_np"), F.col("_nn")
    auc = F.when(
        (np_ > 0) & (nn > 0),
        (F.col("_rp2") - np_ * (np_ + 1)).cast("double")
        / (2 * np_ * nn).cast("double"))
    return track(agg.select(
        np_.cast("bigint").alias("n_pos"),
        nn.cast("bigint").alias("n_neg"),
        F.round(auc, 6).alias("auc")), sv)


def brier_decomposition(df: DataFrame, prob_col: str, outcome_col: str,
                        n_bins: int = 10) -> DataFrame:
    """Brier score with the Murphy (1973) calibration decomposition —
    the probability-forecast quality readout `calibration_report`'s
    accuracy table doesn't quantify (public formulas):

        BS   = mean (p − o)²                 (raw score, lower better)
        REL  = Σ_k (n_k/N)·(p̄_k − ō_k)²      (calibration error)
        RES  = Σ_k (n_k/N)·(ō_k − ō)²        (discrimination)
        UNC  = ō·(1 − ō)                     (outcome entropy)

    with equal-width probability bins k (clamped to [0, n_bins−1]).
    For bin-constant forecasts BS = REL − RES + UNC exactly; on raw
    forecasts the remainder is the within-bin term
    E_k[var_k(p)] − 2·E_k[cov_k(p, o)] (sign-indefinite) — returned
    so the identity is auditable.

    Exactness: ō_k / ō are exact integer ratios; p̄_k and the raw BS
    det-quantize their double sums; REL/RES addends are (n_k/N)-
    weighted squared deviations ≤ 1, det-summed over ≤ n_bins rows.
    Scale: one row-level hash agg into bins + one ≤ n_bins rollup.
    One row: (n, base_rate, brier, reliability, resolution,
    uncertainty, within_bin_var) @6dp.
    """
    from pipelines_rj_sms_spark.functions.numeric import det_sum

    p = F.col(prob_col).cast("double")
    o = F.col(outcome_col).cast("int")
    b = F.least(F.floor(p * float(n_bins)).cast("int"),
                F.lit(n_bins - 1))
    rows = df.select(p.alias("_p"), o.alias("_o"), b.alias("_b"))
    per = rows.groupBy("_b").agg(
        F.count("*").alias("_nk"),
        F.sum("_o").cast("bigint").alias("_ok"),
        det_sum(F.col("_p")).alias("_sp"),
        det_sum((F.col("_p") - F.col("_o"))
                * (F.col("_p") - F.col("_o"))).alias("_sq"))
    tot = F.broadcast(per.agg(
        F.sum("_nk").cast("bigint").alias("_n"),
        F.sum("_ok").cast("bigint").alias("_opos")))
    nd = F.col("_n").cast("double")
    obar = F.col("_opos").cast("double") / nd
    pbar_k = F.col("_sp") / F.col("_nk").cast("double")
    obar_k = F.col("_ok").cast("double") / F.col("_nk").cast("double")
    wk = F.col("_nk").cast("double") / nd
    agg = (per.crossJoin(tot)
           .agg(F.max("_n").alias("n"), F.max(obar).alias("_obar"),
                det_sum(wk * (pbar_k - obar_k) * (pbar_k - obar_k))
                .alias("_rel"),
                det_sum(wk * (obar_k - obar) * (obar_k - obar))
                .alias("_res"),
                det_sum(F.col("_sq") / nd).alias("_bs")))
    unc = F.col("_obar") * (F.lit(1.0) - F.col("_obar"))
    return agg.select(
        F.col("n").cast("bigint").alias("n"),
        F.round("_obar", 6).alias("base_rate"),
        F.round("_bs", 6).alias("brier"),
        F.round("_rel", 6).alias("reliability"),
        F.round("_res", 6).alias("resolution"),
        F.round(unc, 6).alias("uncertainty"),
        F.round(F.col("_bs") - (F.col("_rel") - F.col("_res") + unc),
                6).alias("within_bin_term"))


# --- hashed logistic regression (fastText-style quality classifier) ------


def _weight_units(w: dict | None, bucket):
    """Weight units of ``bucket`` under the driver-held weights ``w``
    (bucket -> units): one dense BIGINT array literal over the
    [min, max] bucket range, sent as a single string literal that
    Catalyst constant-folds once. Buckets absent from ``w`` read 0."""
    if not w:
        return F.lit(0).cast("long")
    lo, hi = min(w), max(w)
    arr = F.split(F.lit(",".join(str(w.get(b, 0))
                                 for b in range(lo, hi + 1))),
                  ",").cast("array<bigint>")
    return F.when(bucket.between(lo, hi),
                  F.element_at(arr, (bucket - F.lit(lo - 1)).cast("int"))
                  ).otherwise(F.lit(0).cast("long"))


def logreg_hashed_train(df: DataFrame, target, text_col: str = "text",
                        id_col: str = "doc_id",
                        n_buckets: int = 256, n_iter: int = 5,
                        lr_num: int = 1, lr_den: int = 2,
                        hash_fn: str = "poly",
                        ) -> tuple[DataFrame, DataFrame]:
    """Full-batch gradient-descent logistic regression over
    hashing-trick unigram features — the discriminative sibling of
    DSIR and the gradient-trained counterpart of :func:`nb_train`
    (the fastText/CCNet-style quality-classifier recipe: a linear
    model over hashed bag-of-words, trained to separate a target
    slice from the pool; Joulin et al. 2016, Wenzek et al. 2020,
    public formulations). Returns ``(weights, features)``:
    ``weights`` = (b, wu) final per-bucket weights in integer 1e-6
    units (bucket -1 is the intercept), ``features`` = the persisted
    (id, b, tf, y) design frame for scoring reuse.

    Deterministic by the repo's integer-grid contract: weights live
    on the 1e-6 unit grid, margins are exact DECIMAL(38,0) sums of
    (tf x weight-units), the sigmoid is the ONLY transcendental and
    is pinned to the grid immediately (``pin_units`` — same accepted
    libm-ulp flip surface as the pinned-ln family), residuals and
    gradients are exact DECIMAL(38,0) sums, and the update step
    rounds lr*G/n half-away-from-zero in exact integer arithmetic
    (the ``grid_mean`` construction). Same inputs => bit-identical
    weights on any engine at any partitioning.

    Scale shape (the MLlib gradient-descent shape): the design frame
    is one token explode + hash agg, hash-partitioned by id and
    persisted once. Each iteration is ONE collect: the per-doc margin
    is a window sum over (id, y) — no exchange, the frame is already
    clustered by id — the pinned-sigmoid residual rides on every row,
    and a per-bucket hash agg returns sum(tf x residual) and the row
    count, at most ``n_buckets + 1`` rows (bounded by the model, not
    the data; bucket -1's count is the doc count n). The update runs
    on the driver in Python integers — the driver holds at most
    ``n_buckets + 1`` weights — and the next round reads them from one
    array literal (:func:`_weight_units`).

    EAGER EXECUTION CONTRACT: training runs at call time (n_iter
    collects); only the ``features`` persist stays on the returned
    frames' release ledger, and it is unpersisted before any error
    propagates.
    """
    from pipelines_rj_sms_spark.operators.curation import feature_bucket

    toks = df.select(
        F.col(id_col).alias("_id"),
        target.cast("int").alias("_y"),
        F.explode(tokens(text_col)).alias("_t"))
    feat = (toks
            .select("_id", "_y",
                    feature_bucket(F.col("_t"), n_buckets,
                                   hash_fn=hash_fn).alias("_b"))
            .groupBy("_id", "_y", "_b")
            .agg(F.count("*").alias("_tf")))
    # intercept: bucket -1 with tf=1 under every doc
    feat = feat.unionByName(
        df.select(F.col(id_col).alias("_id"),
                  target.cast("int").alias("_y"),
                  F.lit(-1).cast("long").alias("_b"),
                  F.lit(1).cast("long").alias("_tf")))
    # hash(_id) placement satisfies every round's margin window over
    # (_id, _y) and logreg_score's (id, y) agg (subset clustering), and
    # the in-partition sort is the window's required ordering — so one
    # exchange + sort at build time serves every round
    feat = (feat.repartition("_id").sortWithinPartitions("_id", "_y")
            .persist())
    w = None
    try:
        for _ in range(n_iter):
            mu = F.sum((F.col("_tf") * _weight_units(w, F.col("_b")))
                       .cast("decimal(38,0)")).over(
                Window.partitionBy("_id", "_y"))
            # pinned sigmoid (the only transcendental; grid flip
            # surface is per DISTINCT margin — the pinned-ln contract)
            ru = (pin_units(F.lit(1.0) / (F.lit(1.0) + F.exp(
                      -(mu.cast("double") / F.lit(float(LOG_SCALE))))))
                  - F.col("_y") * F.lit(LOG_SCALE))
            rows = (feat.select("_b", "_tf", ru.alias("_ru"))
                    .groupBy("_b")
                    .agg(F.sum((F.col("_tf") * F.col("_ru"))
                               .cast("decimal(38,0)")).alias("_g"),
                         F.count("*").alias("_c"))
                    .collect())
            n = next((r["_c"] for r in rows if r["_b"] == -1), 0)
            # exact half-away-from-zero Δu = round(lr*G / n): the
            # grid_mean construction — a - a%b is exactly divisible
            old, w, b = w or {}, {}, 2 * n * lr_den
            for r in rows:
                g = int(r["_g"])
                a = abs(g) * 2 * lr_num + n * lr_den
                w[r["_b"]] = (old.get(r["_b"], 0)
                              - (a - a % b) // b * (-1 if g < 0 else 1))
        if w is None:
            w = {r["_b"]: 0 for r in feat.select("_b").distinct().collect()}
    except BaseException:
        feat.unpersist()
        raise
    weights = feat.sparkSession.createDataFrame(sorted(w.items()),
                                                "b long, wu long")
    features = track(feat.select(F.col("_id").alias(id_col),
                                 F.col("_y").alias("y"),
                                 F.col("_b").alias("b"),
                                 F.col("_tf").alias("tf")), feat)
    return weights, features


def logreg_score(features: DataFrame, weights: DataFrame,
                 id_col: str = "doc_id") -> DataFrame:
    """Score the :func:`logreg_hashed_train` design frame with a
    weight frame: (id, y, margin, prob, predicted). Margin is the
    exact integer dot product emitted on the 1e-6 grid; prob is the
    pinned sigmoid of that margin; predicted = prob >= 0.5 (margin
    sign — exact). The (at most n_buckets + 1) weights are collected
    and read through the training loop's array literal; the score is
    one hash agg, exchange-free on the id-partitioned design frame."""
    w = {r["b"]: r["wu"] for r in weights.collect()}
    # DECIMAL(38,0) margin accumulation for engine symmetry with the
    # oracle's HUGEINT sum (same contract as the training loop)
    m = (features.groupBy(F.col(id_col), F.col("y"))
         .agg(F.sum((F.col("tf") * _weight_units(w, F.col("b")))
                    .cast("decimal(38,0)")).alias("_mu")))
    margin = F.col("_mu").cast("double") / F.lit(float(LOG_SCALE))
    prob = pin_units(F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))) \
        / F.lit(float(LOG_SCALE))
    return track(m.select(
        F.col(id_col), F.col("y"),
        margin.alias("margin"),
        prob.alias("prob"),
        (F.col("_mu") >= 0).cast("int").alias("predicted")), features)
