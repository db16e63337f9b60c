"""Substring-span dedup — exact duplicated-window removal (the Lee et
al. 2021 "Deduplicating Training Data Makes Language Models Better"
primitive): find every word n-gram window (n = NGRAM) whose exact text
occurs >= MIN_COUNT times corpus-wide, merge the hits into maximal
per-document token intervals, and optionally cut those intervals out
of the text.

Unlike document-level dedup (``ops/dedup.py``) this removes PARTIAL
duplication — licence blocks, boilerplate headers, quoted reposts —
while keeping the unique remainder of each document, which is what the
suffix-array pass in the paper (and its production descendants) is for.
Here the suffix array is replaced by the shuffle-native equivalent:
fixed-width window hashing, one corpus-wide count aggregate, and a
windowed interval merge — every stage JVM-side, no Python anywhere
(plan-gated).

Scale shape at 100 TB:

- Windows are hashed to 8-byte ``xxhash64`` keys BEFORE the count
  shuffle, so the corpus-wide frequency aggregate moves (hash, count)
  pairs, never 13-gram strings, and is map-side combined. A 64-bit
  collision merges two windows' counts (the paper's own tolerance);
  at the oracle-checked test scales collisions are absent, so the
  DuckDB twin — which groups on the window STRING — agrees exactly.
- The duplicated-hash set joins back to the window stream as a
  LEFT SEMI equi-join on the 8-byte key; AQE broadcasts it when small
  (boilerplate vocabularies usually are) and shuffle-joins otherwise.
- The interval merge is one window over (doc_id, pos) — the same
  partitioning the semi-join output already has when the join
  shuffled on doc_id-free keys is re-used where possible; at worst it
  is one additional doc_id exchange of (doc_id, pos) longs.
- ``strip_dup_spans`` folds the per-doc span list (collect_list over
  the merged intervals — bounded by text length / NGRAM, not corpus
  size) back onto the corpus with ONE equi-join on doc_id, then cuts
  tokens with JVM higher-order functions (zip_with + filter + exists);
  reconstruction never leaves the executor row.

Reference anchor: the reference's recognition post-processing collapses
repeated glyph runs per line (ocrlib CTC decode); this is the corpus-
level analog a training-data pipeline needs — repeated RUNS across
documents, not within a line.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from text_ocr_spark.ops.text_stats import WS_RE, ws_tokens  # noqa: F401

#: the paper's canonical window width (50 BPE tokens ~ 13 words) and
#: its duplication floor: `dup_spans(docs)` is the published operating
#: point. Read at call time so tests can patch them.
NGRAM = 13
MIN_COUNT = 2


def _windows(docs: DataFrame, ngram: int) -> DataFrame:
    """-> (doc_id, pos, h): every word n-gram window with its 0-based
    token start position and 64-bit hash. Documents shorter than
    ``ngram`` tokens emit nothing (a window that does not exist cannot
    be duplicated — unlike ``tokens_col``'s whole-doc clamp, which
    serves set-jaccard semantics, span semantics need real offsets)."""
    return (
        docs.where(F.col("text").isNotNull())
        .select("doc_id", ws_tokens().alias("arr"))
        # guard BEFORE sequence(): sequence(1, 0) steps backwards
        .where(F.size("arr") >= ngram)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.size("arr") - F.lit(ngram - 1)),
                    lambda i: F.concat_ws(" ", F.slice("arr", i, ngram)),
                )
            ).alias("pos", "sh"),
        )
        .select("doc_id", "pos", F.xxhash64("sh").alias("h"))
    )


def dup_spans(docs: DataFrame) -> DataFrame:
    """-> (doc_id, span_start, span_end): maximal merged token-index
    intervals [span_start, span_end) covered by n-gram windows whose
    exact text occurs >= MIN_COUNT times across the whole corpus
    (within-doc repeats count, as in the paper). Intervals that overlap
    or touch merge; output is disjoint with gaps >= 1 token.
    """
    wins = _windows(docs, NGRAM)
    dup = (
        wins.groupBy("h")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") >= MIN_COUNT)
        .select("h")
    )
    hits = wins.join(dup, "h", "left_semi").select("doc_id", "pos")

    # gaps-and-islands: a hit starts a new interval iff it clears the
    # running max end of everything before it (NULL prev -> new)
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + F.lit(NGRAM)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    brk = F.when(F.col("pos") <= prev_end, 0).otherwise(1)
    grouped = hits.withColumn(
        "g", F.sum(brk).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        grouped.groupBy("doc_id", "g")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(NGRAM)).alias("span_end"),
        )
        .select("doc_id", "span_start", "span_end")
    )


def strip_dup_spans(docs: DataFrame) -> DataFrame:
    """-> (doc_id, clean_text, n_cut): each document with every
    duplicated span cut out (survivor tokens re-joined by single
    spaces) and the count of removed tokens. Docs with no duplicated
    spans pass through with n_cut = 0 (text whitespace-normalized the
    same way, so the column means one thing); NULL text stays NULL.
    """
    spans = (
        dup_spans(docs)
        .groupBy("doc_id")
        .agg(
            F.collect_list(
                F.struct(
                    F.col("span_start").alias("s"),
                    F.col("span_end").alias("e"),
                )
            ).alias("spans")
        )
    )
    toks = F.when(F.col("text").isNotNull(), ws_tokens())
    # (token, index) pairs, JVM-side; keep tokens outside every span
    indexed = F.zip_with(
        toks,
        F.sequence(F.lit(0), F.size(toks) - 1),
        lambda t, i: F.struct(t.alias("t"), i.alias("i")),
    )
    kept = F.filter(
        indexed,
        lambda x: ~F.exists(
            F.col("spans"),
            lambda sp: (x["i"] >= sp["s"]) & (x["i"] < sp["e"]),
        ),
    )
    joined = docs.join(spans, "doc_id", "left").withColumn(
        "spans", F.coalesce("spans", F.array())
    )
    return joined.select(
        "doc_id",
        F.when(
            F.col("text").isNotNull(),
            F.concat_ws(" ", F.transform(kept, lambda x: x["t"])),
        ).alias("clean_text"),
        F.when(
            F.col("text").isNotNull(), F.size(toks) - F.size(kept)
        ).alias("n_cut"),
    )
