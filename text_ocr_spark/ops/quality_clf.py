"""Trained quality classifier — the GPT-3 / LLaMA / RedPajama
"Wikipedia-vs-CommonCrawl" filter: a logistic model over hashed
bag-of-words features, trained on a curated-positive vs raw-negative
sample, then applied to the full corpus as the keep/drop gate. This is
the learned sibling of the heuristic `quality_score` and the LM-based
`lm_perplexity`; production pipelines run exactly this shape (fastText
supervised ≈ mean-pooled hashed-unigram logistic regression, which is
what this implements).

Model: z(doc) = w0 + (sum over token occurrences of w[bucket]) / n_tok
(mean-pooled hashed-unigram embedding, fastText's architecture with a
1-d output), p = sigmoid(z), keep iff z >= 0 (== p >= 0.5, compared in
EXACT integer micro-units — the verdict never touches exp()).

Determinism (the ivf_train discipline — the whole training is a pure
function of (pos, neg, hyperparams), replayable in pure Python):
- weights live as int64 MICRO units on the driver; per-doc scores are
  exact int64 sums of occurrence weights (order-independent);
- the only transcendental, sigmoid, is computed from an exact-int z
  and its per-doc residual is immediately quantized to micro before
  entering the gradient, so partial-aggregation order cannot perturb
  the update (gradient terms are int64 sums of _half_up-quantized
  per-(doc, bucket) contributions);
- full-batch gradient descent with a FIXED iteration count (no
  early-stop heuristic to replicate), md5-free: no randomness anywhere
  (zero-initialized weights; the objective is convex).

Scale shape (100 TB):
- TRAINING runs over bounded labeled samples (production trains on
  10^4-10^6 docs, not the corpus); the feature frame is computed once
  and localCheckpoint-ed (the resolve_pairs precedent) so each of the
  ITERS epochs is two joins + two long-only HashAggregates over the
  materialized frame — the driver holds B+1 int64 weights (80 KB at
  the default B) and each epoch moves <= B+1 aggregate rows to it.
- CLASSIFY is the corpus-scale path and is ONE pass: the <= B+1-row
  weight table broadcasts, the occurrence stream joins it, and the
  per-doc aggregate map-side-combines to one row per document before
  the only corpus-wide shuffle — the dsir_select scoring shape, no
  Python anywhere (plan-gated in tests/test_quality_clf.py).

Cross-engine note: keep/z_micro/n_tokens are exact integers; `prob` is
round(sigmoid(z), 6) where z is a double built from exact ints — the
committed pure-Python replay runs the same IEEE ops (exp() agreeing to
well under the 1e-6 rounding grain).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from text_ocr_spark.ops.dsir import _hash_bucket
from text_ocr_spark.ops.lm import LP_SCALE, lm_tokens

#: hashed-unigram feature buckets (fastText's default ballpark)
N_BUCKETS = 10_000

#: training hyperparameters — fixed, documented, replayed by the golden
#: (ops/lang_clf.py trains on the same schedule). Every constant here
#: is read at call time so tests can patch it.
ITERS = 8
LR = 2.0


def _unigram_occurrences(docs: DataFrame) -> DataFrame:
    """-> (doc_id, b): one row per token occurrence, hashed to a bucket
    (the dsir md5 idiom, unigrams only — fastText's word-level mode).
    NULL/empty text emits nothing."""
    return docs.select(
        "doc_id", F.explode(lm_tokens()).alias("tok")
    ).select("doc_id", _hash_bucket(F.col("tok"), N_BUCKETS).alias("b"))


def quality_train(pos: DataFrame, neg: DataFrame) -> DataFrame:
    """Train the logistic quality model on labeled samples.

    -> (b, w_micro): int64 micro-unit weights for every bucket that
    occurs in the training data, plus the bias row at b = -1. Feed to
    ``quality_classify``. Docs with zero tokens train the bias only
    (their z is exactly w0).
    """
    return _train(pos, neg, _unigram_occurrences)


def _train(pos: DataFrame, neg: DataFrame, occurrences) -> DataFrame:
    """``quality_train`` over any featurizer: ``occurrences`` maps
    (doc_id, text) docs to one (doc_id, b) row per feature occurrence
    (hashed word unigrams here; ops/lang_clf.py passes hashed char
    n-grams)."""
    spark = pos.sparkSession
    # re-key internally (2*id+label) so a doc_id appearing in BOTH
    # samples cannot join-duplicate its features with opposite labels;
    # training ids never leave this function (weights carry no ids)
    labeled = pos.select(
        (F.col("doc_id") * 2 + 1).alias("doc_id"),
        "text",
        F.lit(1.0).alias("y"),
    ).unionByName(
        neg.select(
            (F.col("doc_id") * 2).alias("doc_id"),
            "text",
            F.lit(0.0).alias("y"),
        )
    )
    # (doc_id, b, c, n, y): per-doc bucket counts c, the doc's total
    # count n and its label
    occ = occurrences(labeled.select("doc_id", "text"))
    feats = (
        occ.groupBy("doc_id", "b")
        .agg(F.count("*").alias("c"))
        .join(occ.groupBy("doc_id").agg(F.count("*").alias("n")), "doc_id")
        .join(labeled.select("doc_id", "y"), "doc_id")
        .localCheckpoint()  # bounded training frame, reused every epoch
    )
    n_docs = feats.select("doc_id").distinct().count()
    if n_docs == 0:
        return spark.createDataFrame([(-1, 0)], "b long, w_micro long")

    w: dict[int, int] = {}  # bucket -> micro weight (int)
    w0 = 0  # bias, micro

    for _ in range(ITERS):
        wdf = F.broadcast(
            spark.createDataFrame(
                [(int(b), int(m)) for b, m in sorted(w.items())] or [(-1, 0)],
                "b long, w_micro long",
            )
        )
        # exact per-doc score: S = sum over (b) of c * w_micro (int64),
        # z = w0/1e6 + S/(n * 1e6); residual quantized to micro at once
        scored = (
            feats.join(wdf, "b", "left")
            .groupBy("doc_id", "y", "n")
            .agg(
                F.sum(
                    F.col("c") * F.coalesce(F.col("w_micro"), F.lit(0))
                ).alias("s_micro")
            )
            .select(
                "doc_id",
                "n",
                F.round(
                    (
                        F.lit(1.0)
                        / (
                            F.lit(1.0)
                            + F.exp(
                                -(
                                    F.lit(float(w0) / LP_SCALE)
                                    + F.col("s_micro")
                                    / (F.col("n") * F.lit(float(LP_SCALE)))
                                )
                            )
                        )
                        - F.col("y")
                    )
                    * LP_SCALE
                )
                .cast("long")
                .alias("rq"),
            )
        )
        # bucket gradients: sum over docs of rq * c / n, quantized per
        # (doc, bucket) term so the int64 sum is order-independent
        grads = (
            feats.join(scored.select("doc_id", "rq"), "doc_id")
            .select(
                "b",
                F.round(F.col("rq") * F.col("c") / F.col("n"))
                .cast("long")
                .alias("g"),
            )
            .groupBy("b")
            .agg(F.sum("g").alias("gsum"))
            .collect()
        )
        bias_g = scored.agg(F.sum("rq").alias("g")).collect()[0]["g"] or 0
        # zero-token docs never enter feats; their residual still moves
        # the bias. They are rare in curated training samples; document
        # the approximation: bias learns from featured docs only.
        for r in grads:
            b = int(r["b"])
            step = _half_up(LR * int(r["gsum"]) / n_docs)
            w[b] = w.get(b, 0) - step
        w0 -= _half_up(LR * int(bias_g) / n_docs)

    rows = [(-1, int(w0))] + [(int(b), int(m)) for b, m in sorted(w.items())]
    return spark.createDataFrame(rows, "b long, w_micro long")


def _half_up(x: float) -> int:
    """Spark F.round semantics (HALF_UP, away from zero)."""
    import math

    return int(math.floor(x + 0.5)) if x >= 0 else int(math.ceil(x - 0.5))


def _check_weights(
    weights: DataFrame, who: str, per: str | None = None
) -> dict:
    """-> {head: bias w_micro} for a (b, w_micro) weight table, or one
    head per value of the ``per`` column (key None without). Raises
    unless each head has exactly one bias row (b == -1) and no feature
    key repeats: a missing bias row would empty the output, a duplicated
    one multiply it, a repeated feature double its weight through the
    broadcast join or the pivot. One bounded driver action."""
    keys = [per, "b"] if per else ["b"]
    flagged = (
        weights.groupBy(*keys)
        .agg(F.count("*").alias("n"), F.min("w_micro").alias("w_micro"))
        .where((F.col("b") == -1) | (F.col("n") > 1))
        .collect()
    )
    bias_rows = [r for r in flagged if r["b"] == -1]
    if not bias_rows or any(r["n"] != 1 for r in bias_rows):
        found = sorted(
            (r[per], r["n"]) if per else r["n"] for r in bias_rows
        )
        raise ValueError(
            f"{who}: weight table must contain exactly one bias row "
            f"(b == -1){f' per {per}' if per else ''}; found {found}"
        )
    dups = sorted(
        tuple(r[k] for k in keys) for r in flagged if r["b"] != -1
    )
    if dups:
        raise ValueError(
            f"{who}: weight table repeats feature buckets {dups[:5]} "
            f"({len(dups)} in all, keyed on {', '.join(keys)})"
        )
    return {r[per] if per else None: int(r["w_micro"]) for r in bias_rows}


def quality_classify(docs: DataFrame, weights: DataFrame) -> DataFrame:
    """Apply a trained model to a corpus (the 100 TB path — one pass).

    -> (doc_id, n_tokens, z_micro, prob, keep): z_micro is the exact
    int64 micro-unit logit (w0 + mean occurrence weight, rounded once),
    prob = round(sigmoid, 6), keep = (z_micro >= 0) — an integer
    comparison, so the verdict is exact regardless of exp() ulps.
    Zero-token docs score the bias alone. Raises ValueError on a
    malformed weight table (``_check_weights``).
    """
    w0_micro = _check_weights(weights, "quality_classify")[None]
    wtab = weights.where(F.col("b") != -1)
    # ONE corpus tokenize pass: a LEFT join keeps unweighted
    # occurrences (buckets unseen in training score 0 but still count
    # toward n_tokens), so the count and the weight sum share one
    # aggregate — a second occurrence pass here would re-explode the
    # corpus (the dsir_select lesson)
    scored = (
        _unigram_occurrences(docs)
        .join(F.broadcast(wtab), "b", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.coalesce(F.col("w_micro"), F.lit(0))).alias("s_micro"),
        )
    )
    z_micro = (
        F.lit(w0_micro).cast("long")
        + F.when(
            F.col("n_tokens") > 0,
            F.round(
                F.coalesce("s_micro", F.lit(0))
                / F.col("n_tokens").cast("double")
            ).cast("long"),
        ).otherwise(F.lit(0))
    ).alias("z_micro")
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            z_micro,
        )
        .select(
            "doc_id",
            "n_tokens",
            "z_micro",
            F.round(
                F.lit(1.0)
                / (
                    F.lit(1.0)
                    + F.exp(-(F.col("z_micro") / F.lit(float(LP_SCALE))))
                ),
                6,
            ).alias("prob"),
            (F.col("z_micro") >= 0).cast("int").alias("keep"),
        )
    )
