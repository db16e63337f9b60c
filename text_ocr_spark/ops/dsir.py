"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023):
score every raw document by how much more likely its hashed-n-gram bag
is under a TARGET corpus' distribution than under the raw corpus' own,
then resample top-k by Gumbel-perturbed log-weight — the standard
"pick web data that looks like my curated set" step between cleaning
(gopher/c4/ccnet) and mixing (sample_stratified / pack_shards).

The published recipe, re-expressed shuffle-native:

1. FEATURES: unigrams + bigrams of the lowercased whitespace tokens
   (``lm_tokens`` — one tokenizer across all LM-shaped ops), hashed
   into N_BUCKETS slots. The hash is the first 8 hex chars of md5
   as an integer mod B — computable bit-identically in Spark
   (``conv(substring(md5(tok), 1, 8), 16, 10)``) and DuckDB
   (``('0x' || substr(md5(tok), 1, 8))::BIGINT``), the same
   cross-engine idiom as ``sample_stratified``'s draw.
2. MODELS: two bag-of-buckets multinomials with add-one smoothing —
   p from the target corpus, q from the raw corpus being scored
   (the paper fits q on a raw sample; here the scored corpus IS the
   sample). Each is ONE map-side-combined groupBy(bucket) whose
   result is bounded by B rows regardless of corpus size; the totals
   are window sums over the single full-outer-joined model frame
   (no driver action anywhere).
3. WEIGHTS: log w(doc) = sum over doc features c_b * (ln p_b - ln q_b).
   Per-bucket log-ratios are fixed-point ``round(ln(.)*1e6)`` BIGINTs
   (the ``lm_perplexity`` trick), so the per-doc sum is exact integer
   math — order-independent across partitions and bit-identical
   between engines.
4. RESAMPLE: the paper adds Gumbel noise to log-weights and takes the
   top k (Gumbel-top-k == sampling without replacement with
   probability proportional to w). The "noise" here is deterministic:
   u = (md5-draw + 0.5) / 2^32 in (0,1), g = -ln(-ln(u)), rounded to
   the same 1e6 fixed point, so key = logw_micro + gumbel_micro is an
   exact BIGINT and the selected set is a pure function of
   (corpus, target, SEED) — stable under any partitioning or cluster
   size, and exactly reproducible by the DuckDB oracle.

Scale shape (100 TB):
- The corpus is tokenized exactly TWICE — once to fit the q model
  (explode -> map-side-combined groupBy(bucket), <= B result rows),
  once to score (explode -> broadcast join against the <= B-row
  log-ratio table -> groupBy(doc_id), partial aggs combine to
  <= n_docs rows per mapper, so the only corpus-wide shuffle carries
  one row per document). Two passes is the published algorithm's
  inherent shape: the importance model must be fit before any doc can
  be scored. Never a (doc_id, bucket) shuffle — an early version
  shuffled per-doc feature vectors (5.9M partial rows at bench scale)
  and recomputed them per consumer; see the plan-shape notes below.
- Model totals (P, Q) come from window sums over the single
  full-outer-joined model frame (<= 2B rows, one partition — the
  lm_perplexity small-frame pattern), NOT from separate aggregates
  whose subtrees would re-tokenize the corpus once each.
- Selection is TakeOrderedAndProject on (key desc, doc_id) — the
  driver holds k (key, doc_id) pairs, never the corpus. The threshold
  branch deliberately references every `base` column (they ride the
  boundary struct's tail, never reached by the lexicographic compare
  since (key, -doc_id) is unique) so column pruning leaves BOTH
  consumers with the identical `scored` subtree and AQE's exchange
  reuse materializes the scoring shuffle ONCE — asymmetric pruning
  here silently doubles the corpus work (regression-gated in
  tests/test_dsir.py::test_dsir_runtime_reuses_the_scoring_exchange).
  For k beyond driver memory (selecting billions of docs), swap the
  exact boundary for an approx_percentile threshold on key_micro at
  1 - k/n and keep everything above it — same plan minus the exact-k
  guarantee; the exact form is the contract-checked default.
- No Python anywhere (plan-gated in tests/test_dsir.py).

Reference anchor: the reference app ranks OCR candidate regions by a
trained scorer before decoding (ocrcvlib ocr.cpp score maps / region
filtering); this is the corpus-level analog — score raw candidates
against a target model, keep the top mass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from text_ocr_spark.ops.curate import _md5_draw
from text_ocr_spark.ops.lm import LP_SCALE, lm_tokens, _bigrams

#: the paper's bucket count (10k hashed n-gram features) and the
#: Gumbel draw's md5 seed; read at call time so tests can patch them
N_BUCKETS = 10_000
SEED = 42


def _hash_bucket(col: F.Column, n_buckets: int) -> F.Column:
    """First 8 md5 hex chars as an int, mod n_buckets — the
    cross-engine feature hash (operand < 2^32, so no sign issues)."""
    return (
        F.conv(F.substring(F.md5(col.cast("binary")), 1, 8), 16, 10)
        .cast("long")
        % n_buckets
    )


def _occurrences(docs: DataFrame) -> DataFrame:
    """-> (doc_id, b): one row per hashed n-gram OCCURRENCE over
    unigrams + bigrams (bigram text = w1 || ' ' || w2, unambiguous for
    whitespace-split tokens). NULL/empty text emits nothing.

    Deliberately NOT aggregated per (doc_id, b): both consumers
    aggregate further anyway (bucket totals for the model, per-doc sums
    for scoring), and a (doc_id, b) pre-aggregate would both shuffle
    millions of barely-combined partial rows AND be collapsed by the
    optimizer's aggregate-merge rewrite into branch-specific subtrees
    that exchange reuse can never match."""
    arr = lm_tokens()
    grams = F.concat(
        arr,
        F.transform(
            _bigrams(arr), lambda p: F.concat_ws(" ", p["w1"], p["w2"])
        ),
    )
    return docs.select(
        "doc_id", F.explode(grams).alias("tok")
    ).select("doc_id", _hash_bucket(F.col("tok"), N_BUCKETS).alias("b"))


def dsir_select(docs: DataFrame, target: DataFrame, k: int) -> DataFrame:
    """-> (doc_id, n_feats, logw_micro, key_micro, selected): DSIR
    importance weights for every doc in ``docs`` against ``target``,
    plus the deterministic Gumbel-top-k selection verdict.

    - n_feats: total hashed n-gram occurrences in the doc (0 for
      NULL/empty/1-token-less docs — they carry log-weight 0, i.e.
      importance weight 1, and compete on the Gumbel draw alone);
    - logw_micro: exact BIGINT sum of c_b * round((ln p_b - ln q_b)
      * 1e6) over the doc's buckets (add-one smoothing both sides:
      p_b = (cp_b + 1) / (P + B), q_b = (cq_b + 1) / (Q + B));
    - key_micro: logw_micro + round(-ln(-ln(u)) * 1e6) with u the
      md5(SEED:doc_id) draw — the Gumbel-perturbed sort key;
    - selected: 1 for the k largest (key_micro, then lowest doc_id)
      rows, 0 otherwise; exactly min(k, n) rows are selected.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")

    # model fit: ONE map-side-combined bucket count per corpus (<= B
    # result rows each), full-outer joined so target-only buckets still
    # contribute to P's total; P/Q totals are window sums over that
    # single <= 2B-row frame — separate .agg() frames would each embed
    # (and re-run) a corpus tokenize pass
    raw = _occurrences(docs).groupBy("b").agg(
        F.count("*").alias("cq")
    )
    tgt = _occurrences(target).groupBy("b").agg(
        F.count("*").alias("cp")
    )
    whole = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    model = raw.join(tgt, "b", "full").select(
        "b",
        "cq",
        "cp",
        F.coalesce(F.sum("cp").over(whole), F.lit(0)).alias("pn"),
        F.coalesce(F.sum("cq").over(whole), F.lit(0)).alias("qn"),
    )
    # log-ratio per bucket seen in the raw corpus (every scoring-side
    # occurrence lands in `raw` by construction, so target-only buckets
    # can drop out after the totals are taken)
    lp = model.where(F.col("cq").isNotNull()).select(
        "b",
        F.round(
            (
                F.log(
                    (F.coalesce(F.col("cp"), F.lit(0)) + 1)
                    / (F.col("pn") + F.lit(N_BUCKETS))
                )
                - F.log(
                    (F.col("cq") + 1) / (F.col("qn") + F.lit(N_BUCKETS))
                )
            )
            * LP_SCALE
        )
        .cast("long")
        .alias("lp"),
    )
    # scoring: logw(doc) = sum_b c_db * lp_b == sum over OCCURRENCES of
    # lp_b — so the occurrence stream joins the broadcast model directly
    # and the per-doc aggregate map-side-combines to <= n_docs rows per
    # mapper; the only corpus-wide shuffle carries one row per document
    scored = (
        _occurrences(docs)
        .join(F.broadcast(lp), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_feats"),
            F.sum("lp").alias("logw_micro"),
        )
    )

    draw = F.conv(_md5_draw(SEED), 16, 10).cast("long")
    u = (draw + F.lit(0.5)) / F.lit(float(2**32))
    gumbel_micro = F.round(-F.log(-F.log(u)) * LP_SCALE).cast("long")

    base = (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_feats", F.lit(0)).alias("n_feats"),
            F.coalesce("logw_micro", F.lit(0)).alias("logw_micro"),
            (F.coalesce("logw_micro", F.lit(0)) + gumbel_micro).alias(
                "key_micro"
            ),
        )
    )

    # exact top-k boundary: TakeOrderedAndProject brings k (key, doc_id)
    # pairs up, one struct-min finds the boundary row (lowest key in the
    # top-k; among boundary-key ties the HIGHEST doc_id is the last one
    # in, since order is doc_id-ascending within a key). n_feats and
    # logw_micro ride the struct's TAIL — (key_micro, -doc_id) is unique
    # so the comparison never reaches them and they cannot change the
    # min — purely so column pruning leaves this branch's `base` subtree
    # identical to the output branch's and the scoring shuffle
    # materializes once (exchange reuse; see the module docstring)
    thr = (
        base.orderBy(F.desc("key_micro"), F.asc("doc_id"))
        .limit(k)
        .agg(
            F.min(
                F.struct(
                    F.col("key_micro").alias("tk"),
                    (-F.col("doc_id")).alias("nd"),
                    F.col("n_feats").alias("_nf"),
                    F.col("logw_micro").alias("_lw"),
                )
            ).alias("m")
        )
        .select(
            F.col("m.tk").alias("tk"), (-F.col("m.nd")).alias("td")
        )
    )
    return base.crossJoin(F.broadcast(thr)).select(
        "doc_id",
        "n_feats",
        "logw_micro",
        "key_micro",
        (
            (F.col("key_micro") > F.col("tk"))
            | (
                (F.col("key_micro") == F.col("tk"))
                & (F.col("doc_id") <= F.col("td"))
            )
        )
        .cast("int")
        .alias("selected"),
    )
