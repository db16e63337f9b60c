"""Cross-corpus decontamination: flag training documents that leak an
evaluation/test document — the train/test-overlap removal step every
LLM training-data pipeline runs before training (GPT-3 / Gopher /
RefinedWeb all document a variant). No reference analog (the reference
is an OCR engine); this is a first-class pipeline operator with an
exact DuckDB oracle in __spark_entry__.

Semantics: a train doc is contaminated iff its text EXACTLY matches any
test doc (md5 equality, NULL-safe) or its token/shingle-set jaccard
against some test doc clears ``THRESHOLD``. The reported best match is
deterministic: exact beats near; within a kind, max jaccard then min
test_id.

Scale shape (train >> test, the production regime): the exact arm is a
join on md5(text) — Catalyst broadcasts the test hash set, so the train
corpus never shuffles for it. The near arm is probe-routed between two
EXACT physical strategies, the cross-corpus analog of jaccard_pairs'
routing:

- **dense broadcast GEMM** (small test corpus — the production shape):
  a pair's intersection can only contain tokens from the TEST
  vocabulary, so train masks only need |test-vocab| bits while the TRUE
  train cardinality rides alongside; the test masks collect to the
  driver (bounded by the route caps) and broadcast, and the whole near
  arm becomes ONE mapInPandas over the train corpus — zero shuffles,
  no join, each Arrow batch scoring against the test set as a single
  f32 matmul (exact for counts <= 4096 bits). This is the route that
  survives the degenerate common-token regime where every train doc
  shares a token with every test doc and an inverted index materializes
  |train| x |test| candidate rows.
- **inverted-index cross join** (large test corpus or vocabulary):
  train tokens x test tokens on the token — pairs must share >= 1
  token, the train side never self-joins, and a small-ish test side's
  exploded token list broadcasts (AQE). Cardinalities ride the exploded
  rows as constants (min() in the group — a long aggregate, keeping the
  HashAggregate map-side-combined; a string aggregate would demote to
  SortAggregate).

Both routes emit bit-identical jaccard doubles (int intersection /
int union in IEEE double, the same math the DuckDB oracle runs) —
pytest-pinned equal on randomized corpora.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from text_ocr_spark.ops.dedup import DENSE_VOCAB_LIMIT, tokens_col

#: jaccard cut of ``decontaminate``'s near arm; read at call time on
#: the driver and handed to the scoring closure
THRESHOLD = 0.8

#: word window of ``decontaminate_ngrams`` (GPT-3's 13-gram rule)
COLLISION_NGRAM = 13

#: dense-route cap on TEST CORPUS SIZE: bounds the driver collect, the
#: broadcast (<= 4096 masks x 512 B packed), and the per-batch GEMM
#: width (4096 x 4096 f32 unpacked = 64 MB per worker). Bigger eval
#: suites take the inverted-index route.
DENSE_MAX_TEST_DOCS = 4096

#: decontaminate_ngrams broadcasts the distinct test window-hash set
#: only below this row count (4M hashes = 32 MB raw, a comfortably
#: broadcastable relation); above it the hit join falls back to a
#: plain shuffled left join instead of OOMing the driver with a forced
#: broadcast of an unbounded eval suite
NGRAM_BROADCAST_LIMIT = 1 << 22

#: rows of the train-side Arrow batch scored per GEMM chunk: bounds the
#: per-task numpy working set (chunk x DENSE_MAX_TEST_DOCS int64/f64
#: temporaries ~ 60 MB) independently of arrow.maxRecordsPerBatch
DENSE_SCORE_CHUNK = 512


def _mask_rows(vid: dict, nbytes: int, id_name: str):
    """mapInPandas kernel: (id, toks) -> (id, packed mask over the test
    vocabulary, TRUE distinct cardinality). Tokens outside the test
    vocab set no bits (they can never intersect) but still count toward
    the cardinality — so jaccard denominators stay exact."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[int] = []
            masks: list[bytes] = []
            cards: list[int] = []
            for i, toks in zip(pdf[id_name], pdf["toks"]):
                if toks is None:
                    continue
                bits = np.zeros(nbytes * 8, dtype=np.uint8)
                for t in toks:
                    j = vid.get(t)
                    if j is not None:
                        bits[j] = 1
                ids.append(int(i))
                masks.append(np.packbits(bits).tobytes())
                cards.append(len(toks))
            yield pd.DataFrame({id_name: ids, "mask": masks, "card": cards})

    return fn


def _near_dense_cross(
    tr: DataFrame, te: DataFrame, threshold: float, ngram: int,
    vocab: list[str],
) -> DataFrame:
    """Dense broadcast-GEMM near arm: -> (doc_id, test_id, jaccard),
    all cross pairs sharing >= 1 token with jaccard >= threshold."""
    spark = tr.sparkSession
    vid = {w: i for i, w in enumerate(vocab)}
    nbytes = ((len(vocab) + 63) // 64) * 8

    te_rows = (
        te.select("test_id", tokens_col("text", ngram).alias("toks"))
        .mapInPandas(
            _mask_rows(vid, nbytes, "test_id"),
            schema="test_id long, mask binary, card int",
        )
        .collect()  # bounded: <= DENSE_MAX_TEST_DOCS rows (route gate)
    )
    if not te_rows:
        return spark.createDataFrame(
            [], "doc_id long, test_id long, jaccard double"
        )
    ids_s = np.array([r["test_id"] for r in te_rows], dtype=np.int64)
    card_s = np.array([r["card"] for r in te_rows], dtype=np.int64)
    raw = np.frombuffer(
        b"".join(bytes(r["mask"]) for r in te_rows), dtype=np.uint8
    ).reshape(len(te_rows), nbytes)
    # broadcast PACKED masks (<= 4096 x 512 B = 2 MB, 32x smaller than
    # the f32 matrix); each Python worker unpacks once on first use
    bc = spark.sparkContext.broadcast((ids_s, card_s, raw))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        t_ids, t_cards, t_raw = bc.value
        # called once per partition: one unpack amortizes over batches
        t_bits = np.unpackbits(t_raw, axis=1).astype(np.float32)
        for pdf in _mask_rows(vid, nbytes, "doc_id")(batches):
            if not len(pdf):
                continue
            ids_b = pdf["doc_id"].to_numpy(dtype=np.int64)
            card_b = pdf["card"].to_numpy(dtype=np.int64)
            rawb = np.frombuffer(
                b"".join(pdf["mask"]), dtype=np.uint8
            ).reshape(len(pdf), nbytes)
            # chunk the GEMM: a full 10k-row Arrow batch against 4096
            # test masks would peak >1 GB in int64/f64 temporaries;
            # DENSE_SCORE_CHUNK rows cap the working set at ~60 MB per
            # task while the math stays bit-identical
            for lo in range(0, len(pdf), DENSE_SCORE_CHUNK):
                hi = lo + DENSE_SCORE_CHUNK
                ids_a, card_a = ids_b[lo:hi], card_b[lo:hi]
                bits_a = np.unpackbits(rawb[lo:hi], axis=1).astype(
                    np.float32
                )
                # f32 GEMM exact for counts <= 4096 (same argument as
                # the dedup tile kernel); jaccard math identical to the
                # oracle: CAST(n_inter AS DOUBLE) / (card_t + card_s -
                # n_inter)
                inter = (bits_a @ t_bits.T).astype(np.int64)
                union = card_a[:, None] + card_s[None, :] - inter
                jac = inter.astype(np.float64) / union
                # inter > 0 mirrors the inverted-index route: pairs
                # must share at least one token (matters at threshold
                # 0.0)
                keep = (jac >= threshold) & (inter > 0)
                ai, si = np.nonzero(keep)
                yield pd.DataFrame(
                    {
                        "doc_id": ids_a[ai],
                        "test_id": t_ids[si],
                        "jaccard": jac[ai, si],
                    }
                )

    return tr.select(
        "doc_id", tokens_col("text", ngram).alias("toks")
    ).mapInPandas(score, schema="doc_id long, test_id long, jaccard double")


def _near_inverted(
    tr: DataFrame, te: DataFrame, threshold: float, ngram: int
) -> DataFrame:
    """Inverted-index near arm: -> (doc_id, test_id, jaccard)."""
    tok_t = tr.select(
        "doc_id", tokens_col("text", ngram).alias("toks")
    ).select(
        "doc_id",
        F.size("toks").alias("card_t"),
        F.explode("toks").alias("w"),
    )
    tok_s = te.select(
        "test_id", tokens_col("text", ngram).alias("toks")
    ).select(
        "test_id",
        F.size("toks").alias("card_s"),
        F.explode("toks").alias("w"),
    )
    return (
        tok_t.join(tok_s, "w")
        .groupBy("doc_id", "test_id")
        .agg(
            F.count("*").alias("n_inter"),
            F.min("card_t").alias("card_t"),
            F.min("card_s").alias("card_s"),
        )
        .withColumn(
            "jaccard",
            F.col("n_inter")
            / (F.col("card_t") + F.col("card_s") - F.col("n_inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_id", "test_id", "jaccard")
    )


def decontaminate(
    train: DataFrame, test: DataFrame, ngram: int = 1
) -> DataFrame:
    """-> (doc_id, contaminated, match_kind, best_test_id, best_jaccard)
    for EVERY train doc (a verdict table, like gopher_filter — consumers
    quarantine ``contaminated == 1``).

    ``ngram > 1`` matches on w-shingles instead of token sets (the
    order-sensitive unit production decontamination uses, e.g. 13-gram
    collision in GPT-3's cleanup); NULL-text train docs are never
    contaminated (they match nothing, mirroring tokens_col's NULL
    discipline).

    The near-arm route comes from a probe: two bounded driver actions
    over the TEST side only — a <= DENSE_VOCAB_LIMIT+1-row vocab
    collect and a count, the same bounded-probe idiom as
    dedup._probe_corpus; the 100 TB train side is never touched by the
    probe. Tests force the inverted arm with DENSE_MAX_TEST_DOCS = 0."""
    threshold = THRESHOLD
    tr = train.select("doc_id", "text")
    te = test.select(F.col("doc_id").alias("test_id"), "text")

    # exact arm: md5 equality (128-bit — collision-free at any corpus
    # size, unlike a 64-bit hash at 10^10 docs); both sides filter
    # NULL text BEFORE hashing, so NULL never matches NULL (no
    # sentinel needed — unlike dedup's text_hash_col, which must keep
    # null docs as singleton groups)
    h = F.md5(F.col("text").cast("binary")).alias("h")
    ex = (
        tr.where(F.col("text").isNotNull())
        .select("doc_id", h)
        .join(te.where(F.col("text").isNotNull()).select("test_id", h), "h")
        .select(
            "doc_id",
            "test_id",
            F.lit(0).alias("kind_rank"),
            F.lit(1.0).cast("double").alias("jaccard"),
        )
    )

    rows = (
        te.select(F.explode(tokens_col("text", ngram)).alias("w"))
        .distinct()
        .limit(DENSE_VOCAB_LIMIT + 1)
        .collect()
    )
    if len(rows) <= DENSE_VOCAB_LIMIT and te.count() <= DENSE_MAX_TEST_DOCS:
        vocab = sorted(r.w for r in rows)
        near_pairs = _near_dense_cross(tr, te, threshold, ngram, vocab)
    else:
        near_pairs = _near_inverted(tr, te, threshold, ngram)
    near = near_pairs.select(
        "doc_id", "test_id", F.lit(1).alias("kind_rank"), "jaccard"
    )

    best = (
        ex.unionByName(near)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(
                    "kind_rank", F.desc("jaccard"), "test_id"
                )
            ),
        )
        .where(F.col("rn") == 1)
    )
    # sentinel values (not NULLs) for clean docs keep the verdict table
    # fully typed — same contract discipline as gopher_filter post
    # ADVICE r3 #3; jaccard stays the raw double (bit-identical to the
    # oracle's n/(a+b-n) on the same int inputs — rounding could
    # tie-break differently across engines)
    return tr.select("doc_id").join(best, "doc_id", "left").select(
        "doc_id",
        F.col("test_id").isNotNull().cast("int").alias("contaminated"),
        F.when(F.col("kind_rank") == 0, F.lit("exact"))
        .when(F.col("kind_rank") == 1, F.lit("near"))
        .otherwise(F.lit("none"))
        .alias("match_kind"),
        F.coalesce("test_id", F.lit(-1)).alias("best_test_id"),
        F.coalesce("jaccard", F.lit(0.0)).alias("best_jaccard"),
    )


def decontaminate_ngrams(train: DataFrame, test: DataFrame) -> DataFrame:
    """N-gram-collision decontamination (the GPT-3 appendix-C /
    PaLM-style rule, distinct from ``decontaminate``'s whole-document
    jaccard): a train document is flagged iff ANY of its
    COLLISION_NGRAM-word windows occurs verbatim anywhere in the test
    corpus. Reports enough per-doc signal for both published policies —
    GPT-3's "any collision removes the doc" and PaLM's "high
    seen-fraction removes the doc".

    -> (doc_id, n_windows, n_hits, hit_frac, first_hit_pos,
    contaminated) for EVERY train doc: n_windows = total n-gram windows
    in the doc (0 for NULL/short docs — never contaminated, a window
    that does not exist cannot collide), n_hits = windows found in the
    test corpus, hit_frac = n_hits / n_windows rounded to 6 places
    (0.0 at n_windows = 0), first_hit_pos = token index of the first
    colliding window (-1 when clean; the span machinery in
    ops/span_dedup.py turns positions into cut intervals when a caller
    wants PaLM-style span surgery instead of doc removal),
    contaminated = (n_hits >= 1).

    Scale shape (train >> test, the production regime): both sides hash
    windows to 8-byte xxhash64 keys via the SAME ``_windows`` kernel as
    dup_spans (a 64-bit collision can only over-flag — conservative in
    the removal direction, and absent at oracle scale where the DuckDB
    twin matches on window STRINGS). The distinct test-hash set
    broadcasts when a bounded small-side probe says it fits
    (NGRAM_BROADCAST_LIMIT; an oversized eval suite falls back to a
    shuffled left join instead of a forced-broadcast driver OOM); the
    train window stream LEFT-joins it for a hit flag and collapses in
    ONE map-side-combined groupBy(doc_id) of long aggregates — the
    train corpus shuffles one row per document, strings never shuffle,
    no Python anywhere (plan-gated in tests/test_decontam.py, both
    routes differential-tested).
    """
    from text_ocr_spark.ops.span_dedup import _windows

    wins = _windows(train.select("doc_id", "text"), COLLISION_NGRAM)
    th = (
        _windows(test.select("doc_id", "text"), COLLISION_NGRAM)
        .select("h")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    # broadcast is the production shape (train >> test) but must be
    # GATED, not forced: a hinted broadcast ignores
    # autoBroadcastJoinThreshold entirely, so a giant eval suite would
    # OOM the driver where a shuffled left join just works. The probe
    # is one bounded driver action over the SMALL side only (the
    # decontaminate probe discipline — the train corpus is never
    # touched by it), and it is limit-bounded (ADVICE r4): a full
    # th.count() would run the whole distinct shuffle job solely to
    # pick the join strategy; limit(LIMIT+1) lets Spark stop as soon
    # as the set is provably too big, and the decision
    # (count <= LIMIT  <=>  probe <= LIMIT) is unchanged.
    if th.limit(NGRAM_BROADCAST_LIMIT + 1).count() <= NGRAM_BROADCAST_LIMIT:
        th = F.broadcast(th)
    per_doc = (
        wins.join(th, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_windows"),
            F.coalesce(F.sum("hit"), F.lit(0)).alias("n_hits"),
            F.min(F.when(F.col("hit") == 1, F.col("pos"))).alias("fpos"),
        )
    )
    return train.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_windows", F.lit(0)).cast("long").alias("n_windows"),
        F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
        F.when(
            F.coalesce("n_windows", F.lit(0)) > 0,
            F.round(
                F.coalesce("n_hits", F.lit(0))
                / F.col("n_windows").cast("double"),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("hit_frac"),
        F.coalesce("fpos", F.lit(-1)).cast("long").alias("first_hit_pos"),
        (F.coalesce("n_hits", F.lit(0)) >= 1).cast("int").alias("contaminated"),
    )
