"""Distributed n-gram LM perplexity scoring — the CCNet LM-quality leg
(Wenzek et al. 2020 §3.3): train a smoothed bigram LM on a reference
corpus, score every document's cross-entropy under it, and bucket the
corpus head / middle / tail by perplexity terciles. Together with
``paragraph_dedup`` (CCNet's line dedup) this completes the CCNet
recipe next to Gopher (``gopher_filter``) and C4 (``c4_line_filter``).

CCNet itself scores with a 5-gram KenLM; the graft is the distributed
SHAPE of that step — count-based training as two word-count shuffles,
scoring as equi-joins against the model, bucketing by terciles — with a
bigram add-one model (higher orders are the identical plan with longer
join keys). Everything is pure JVM expressions; the only Python is in
the DuckDB oracle.

Scale shape (100 TB):
- TRAIN: explode ref tokens / adjacent pairs -> two map-side-combined
  HashAggregates (the canonical word-count plan). The vocabulary size V
  rides a broadcast 1-row frame — no driver action anywhere.
- SCORE: exploded doc bigrams LEFT JOIN the bigram/unigram count tables.
  The model side is the small side by construction (CCNet trains on a
  curated reference ~1000x smaller than the web corpus being scored);
  AQE broadcasts it when it fits, else it is a plain shuffled equi-join
  keyed on words — never a crossJoin, never Python.
- EXACTNESS: per-pair log-probs are fixed-point ``round(ln(p)*1e6)``
  BIGINTs, so the per-doc sum is exact integer math — order-independent
  across partitions and bit-identical between Spark and DuckDB (the
  same two exact integers enter both engines' ln; IEEE division of the
  exact per-doc sums then yields the same double on both sides).
- BUCKETS: tercile CUTOFF VALUES come from a cumulative histogram over
  the DISTINCT rounded scores (groupBy ce -> one small single-task
  window over |distinct scores| rows, the pack_shards bucket-frame
  trick — never a corpus-wide ntile sort), broadcast back as a 1-row
  frame. Ties share a bucket (threshold semantics, as CCNet applies its
  sampled percentile thresholds), so the assignment is a pure row
  function of (ce, cuts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from text_ocr_spark.ops.text_stats import WS_RE

#: fixed-point scale for per-pair log-probs (micro-nats)
LP_SCALE = 1_000_000


def lm_tokens() -> F.Column:
    """Lowercased whitespace tokens of ``text``, empties dropped, NULL
    text -> [].
    Lowercasing matches CCNet's case-insensitive LM; the empty-drop
    keeps all-whitespace and NULL docs at zero tokens in BOTH engines.
    """
    toks = F.split(
        F.lower(F.trim(F.coalesce(F.col("text"), F.lit("")))), WS_RE
    )
    return F.filter(toks, lambda t: F.length(t) > 0)


def _bigrams(arr: F.Column) -> F.Column:
    """Adjacent-pair structs over a token array: zip(arr[:-1], arr[1:])."""
    n = F.size(arr)
    m = F.greatest(n - 1, F.lit(0))
    return F.zip_with(
        F.slice(arr, 1, m),
        F.slice(arr, 2, m),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )


def lm_train(ref: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Bigram add-one LM counts over a reference corpus.

    -> (uni, bi, vocab): ``uni(w, c1)`` unigram counts, ``bi(w1, w2,
    c2)`` bigram counts, ``vocab(v)`` a 1-row frame with V = distinct
    unigrams + 1 (the +1 reserves OOV mass). Two word-count shuffles;
    the smoothed log-prob of any pair is ln((c2+1) / (c1+V)) with
    missing counts defaulting to 0 — one uniform formula, so unseen
    bigrams and unseen head words need no special-case branches.
    """
    arr = lm_tokens()
    uni = (
        ref.select(F.explode(arr).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c1"))
    )
    bi = (
        ref.select(F.explode(_bigrams(arr)).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c2"))
    )
    vocab = uni.agg((F.count("*") + 1).alias("v"))
    return uni, bi, vocab


def lm_perplexity(docs: DataFrame, ref: DataFrame) -> DataFrame:
    """Score ``docs`` under a bigram add-one LM trained on ``ref``.

    -> (doc_id, n_pairs, n_unseen_bigrams, sum_lp_micro, ce, ppl_bucket)
    one row per input doc:
    - n_pairs: adjacent token pairs in the doc (0 for empty/1-token/NULL
      text — such docs get ce = 0.0 and ppl_bucket = 'unscored', never
      NULL, per the gopher_filter output discipline);
    - sum_lp_micro: exact BIGINT sum of round(ln(p)*1e6) over the doc's
      pairs (0 when unscored);
    - n_unseen_bigrams: pairs absent from the ref bigram table;
    - ce: cross-entropy in nats, round(-sum_lp_micro/(n_pairs*1e6), 6)
      — perplexity is exp(ce), omitted as a monotone transform;
    - ppl_bucket: 'head' | 'middle' | 'tail' by exact terciles of ce
      over the scoreable docs (head = lowest perplexity, as CCNet's
      head/middle/tail split): cut_k = the smallest distinct ce whose
      cumulative scoreable-doc count reaches ceil(k*n/3).
    """
    arr = lm_tokens()
    uni, bi, vocab = lm_train(ref)

    pairs = docs.select(
        "doc_id", F.explode(_bigrams(arr)).alias("p")
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))

    lp_micro = (
        F.round(
            F.log(
                (F.coalesce(F.col("c2"), F.lit(0)) + 1)
                / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v"))
            )
            * LP_SCALE
        )
    ).cast("long")
    scored = (
        pairs.join(bi, ["w1", "w2"], "left")
        .join(uni.withColumnRenamed("w", "w1"), "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.sum(lp_micro).alias("sum_lp_micro"),
            F.sum(F.col("c2").isNull().cast("int")).alias(
                "n_unseen_bigrams"
            ),
        )
    )

    base = docs.select(
        "doc_id", F.greatest(F.size(arr) - 1, F.lit(0)).alias("n_pairs")
    ).join(scored, "doc_id", "left")
    ce = F.when(
        F.col("n_pairs") > 0,
        F.round(
            -F.col("sum_lp_micro") / (F.col("n_pairs") * float(LP_SCALE)), 6
        ),
    ).otherwise(F.lit(0.0))
    base = base.select(
        "doc_id",
        "n_pairs",
        F.coalesce("n_unseen_bigrams", F.lit(0)).alias("n_unseen_bigrams"),
        F.coalesce("sum_lp_micro", F.lit(0)).alias("sum_lp_micro"),
        ce.alias("ce"),
    )

    # tercile cutoffs from the cumulative histogram over DISTINCT ce
    # values — the single-task window runs over |distinct scores| rows,
    # not the corpus (pack_shards' bucket-frame shape)
    hist = (
        base.where(F.col("n_pairs") > 0)
        .groupBy("ce")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.orderBy("ce").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "ce", F.sum("cnt").over(w).alias("cum")
    ).crossJoin(F.broadcast(hist.agg(F.sum("cnt").alias("n"))))
    cuts = cum.agg(
        F.min(
            F.when(F.col("cum") >= F.expr("(n + 2) DIV 3"), F.col("ce"))
        ).alias("cut1"),
        F.min(
            F.when(F.col("cum") >= F.expr("(2 * n + 2) DIV 3"), F.col("ce"))
        ).alias("cut2"),
    )

    return base.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        "n_pairs",
        "n_unseen_bigrams",
        "sum_lp_micro",
        "ce",
        F.when(F.col("n_pairs") == 0, F.lit("unscored"))
        .when(F.col("ce") <= F.col("cut1"), F.lit("head"))
        .when(F.col("ce") <= F.col("cut2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("ppl_bucket"),
    )
