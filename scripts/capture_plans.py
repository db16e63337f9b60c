"""Regenerate PLANS.md: annotated physical plans of the headline
queries. Run after any plan-shaping change:

    PYTHONPATH=/root/repo python scripts/capture_plans.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.001"


def _index_dir(prefix: str) -> str:
    """A temp directory for an index whose probe plan is captured,
    removed when the script exits (the plans are written by then)."""
    import atexit
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, tmp, True)
    return tmp


def _incremental_edges_df(spark, docs):
    from pyspark.sql import functions as F

    from text_ocr_spark.ops.dedup import collapse_exact
    from text_ocr_spark.ops.incremental import (
        build_neardup_index,
        incremental_edges,
    )

    corpus = docs.filter(F.col("doc_id") % 5 != 4)
    delta = docs.filter(F.col("doc_id") % 5 == 4)
    tmp = _index_dir("plans_idx_")
    build_neardup_index(corpus, tmp)
    n_reps, _ = collapse_exact(delta)
    return incremental_edges(spark, n_reps, tmp)


def _embed_incremental_edges_df(spark, emb):
    from pyspark.sql import functions as F

    from text_ocr_spark.ops.incremental import (
        build_embed_index,
        embed_incremental_edges,
    )

    corpus = emb.filter(F.col("vec_id") % 5 != 4)
    delta = emb.filter(F.col("vec_id") % 5 == 4)
    tmp = _index_dir("plans_eidx_")
    build_embed_index(corpus, tmp)
    return embed_incremental_edges(spark, delta, tmp)


def _dup_spans_df(docs):
    from text_ocr_spark.ops.span_dedup import dup_spans

    return dup_spans(docs)


def _strip_dup_spans_df(docs):
    from text_ocr_spark.ops.span_dedup import strip_dup_spans

    return strip_dup_spans(docs)


def _c4_line_filter_df(docs):
    from text_ocr_spark.ops.cleaning import c4_line_filter

    return c4_line_filter(docs)


def _pack_shards_df(docs):
    from text_ocr_spark.ops.curate import pack_shards

    return pack_shards(docs, max_tokens=2048)


def _sample_stratified_df(docs):
    from text_ocr_spark.ops.curate import sample_stratified

    fractions = {"en": 0.25, "de": 1.0, "fr": 0.5, "es": 0.0}
    return sample_stratified(docs, fractions)


def _lm_perplexity_df(spark, docs):
    from pyspark.sql import functions as F

    from text_ocr_spark.ops.lm import lm_perplexity

    ref = docs.where(F.col("doc_id") % 7 == 0).select("doc_id", "text")
    return lm_perplexity(docs, ref)


def _dsir_select_df(spark, docs):
    from pyspark.sql import functions as F

    from text_ocr_spark.ops.dsir import dsir_select

    target = docs.where(F.col("doc_id") % 11 == 0).select("doc_id", "text")
    return dsir_select(docs, target, k=100)


def _bpe_tokenize_df(spark, docs):
    from text_ocr_spark.ops.bpe import bpe_tokenize, bpe_train

    return bpe_tokenize(docs, bpe_train(docs))


def _quality_classify_df(spark, docs):
    from pyspark.sql import functions as F

    from text_ocr_spark.ops.quality_clf import quality_classify, quality_train

    pos = docs.where(F.col("doc_id") % 11 == 0).select("doc_id", "text")
    neg = docs.where(
        (F.col("doc_id") % 11 != 0) & (F.col("doc_id") % 3 == 0)
    ).select("doc_id", "text")
    return quality_classify(docs, quality_train(pos, neg))


def _semdedup_df(spark):
    from text_ocr_spark.ops.dedup import semdedup

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    return semdedup(emb)


def _decontaminate_ngrams_df(spark, docs):
    from pyspark.sql import functions as F

    from text_ocr_spark.ops.decontam import decontaminate_ngrams

    test = docs.where(F.col("doc_id") % 13 == 0).select("doc_id", "text")
    return decontaminate_ngrams(docs, test)


def _decontaminate_df(docs, mod=13, ngram=1):
    from pyspark.sql import functions as F

    from text_ocr_spark.ops.decontam import decontaminate

    test = docs.where(F.col("doc_id") % mod == 0).select("doc_id", "text")
    return decontaminate(docs, test, ngram=ngram)


def _embed_prefilter_df(emb):
    """The prefilter engages past EXHAUSTIVE_BLOCK_LIMIT blocks, i.e.
    over 16 x DENSE_BLOCK vectors; this corpus holds 500, so DENSE_BLOCK
    is patched to 16 while the plan is built."""
    from unittest import mock

    from text_ocr_spark.ops import dedup

    with mock.patch.object(dedup, "DENSE_BLOCK", 16):
        return dedup.embed_pairs(emb)


def _pretrain_segments(spark):
    from pyspark.sql import functions as F

    from text_ocr_spark.ops.curate import (
        _pretrain_clean,
        _pretrain_gate,
        _pretrain_select_pack,
        _pretrain_strip,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    gate = _pretrain_gate(spark, SF)
    gated = gate.localCheckpoint(eager=False)
    strip = _pretrain_strip(gated)
    stripped = strip.localCheckpoint(eager=False)
    clean = _pretrain_clean(
        stripped, docs.where("doc_id % 13 = 0").select("doc_id", "text")
    )
    cleaned = clean.localCheckpoint(eager=False)
    final = _pretrain_select_pack(
        cleaned,
        docs.where("doc_id % 11 = 0").select("doc_id", "text"),
        dsir_k=128,
        max_tokens=2048,
    )
    return gate, final


def _langid_classify_df(spark, docs):
    from text_ocr_spark.ops.lang_clf import langid_classify

    w = spark.read.parquet(
        os.path.join(REPO, "fixturedata/langid_weights.parquet")
    )
    return langid_classify(docs.select("doc_id", "text"), w)


def main() -> int:
    from text_ocr_spark.ops.dedup import minhash_dedup
    from text_ocr_spark.ops.text_stats import frequent_ngrams
    from text_ocr_spark.ops.joins import purchase_error_window, purchases_asof_view
    from text_ocr_spark.ops.relational import (
        q1_pricing_summary,
        q5_region_supplier_volume,
    )
    from text_ocr_spark.ops.similarity import brute_topk
    from text_ocr_spark.pipeline import (
        conv_chunk_expr,
        extract_corpus,
        extract_docs,
        ordered,
        session_builder,
    )

    spark = session_builder(master="local[4]", app="plans").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def plan(df, mode="formatted"):
        em = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
        return df._jdf.queryExecution().explainString(em)

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    # every text twice: a 50% exact-dup rate engages the collapse
    heavy = docs.unionByName(docs.withColumn("doc_id", docs.doc_id + 100000))

    sections = [
        (
            "extract_corpus (flagship pipeline)",
            "Scan reads ONLY (doc_id, text) — ReadSchema pruned. Exactly one "
            "Exchange: hashpartitioning on (conv_id-expr, salt-expr) — the "
            "partition keys are computed expressions, so no metadata columns "
            "materialize before the shuffle. One MapInPandas (fused payload "
            "build + extract); conv_id/turn_idx/role/ts attach afterwards as "
            "JVM Projects (codegen). At 100 TB: the exchange moves the raw "
            "turn bytes once; everything downstream is embarrassingly "
            "parallel per turn.",
            extract_corpus(spark, SF, num_partitions=8),
        ),
        (
            "ordered() output contract",
            "Range partition + in-partition sort (global=false) on "
            "(conv_id, turn_idx): a total order across output files without "
            "ever funneling through one partition.",
            ordered(extract_corpus(spark, SF, num_partitions=8), 8),
        ),
        (
            "q1_pricing_summary",
            "Predicate pushes to parquet (PushedFilters: LessThanOrEqual on "
            "l_shipdate — the literal folds because timestamp_seconds(lit) "
            "is constant); ReadSchema carries 7 of 16 lineitem columns. "
            "Partial HashAggregate before the exchange (map-side combine) — "
            "6 groups travel, not 6M rows.",
            q1_pricing_summary(spark, SF),
        ),
        (
            "q5_region_supplier_volume (6-table join)",
            "All dimension chains (region/nation/supplier, customer) ride "
            "BroadcastHashJoins — no sort-merge shuffle of a dim, no "
            "cartesian; the orderdate filter pushes to the orders scan. "
            "At 100 TB only orders x lineitem pay a shuffle.",
            q5_region_supplier_volume(spark, SF),
        ),
        (
            "brute_topk (similarity baseline)",
            "Tiny query side broadcasts (BroadcastNestedLoopJoin) so the "
            "corpus never shuffles; per-query top-k via window over the "
            "scored partitions.",
            brute_topk(emb),
        ),
        (
            "purchases_asof_view (sort-based as-of join)",
            "No Join node at all: tag + union + one hash exchange for the "
            "per-key window carrying the last right row forward. Each row "
            "moves once; a naive theta join would materialize every "
            "same-key (left x right) pair first.",
            purchases_asof_view(spark, SF),
        ),
        (
            "purchase_error_window (bucketized range join)",
            "The interval predicate rides a plain hash equi-join on "
            "(key, bucket) — left rows explode to <= 2 buckets, the exact "
            "BETWEEN filters after. No BroadcastNestedLoopJoin.",
            purchase_error_window(spark, SF),
        ),
        (
            "resumable chunk extraction (scan-side chunk predicate)",
            "The chunk filter (pmod(xxhash64(conv_id-expr(doc_id)), n) = "
            "cid) sits BELOW the Arrow stage, directly on the scan output "
            "— each chunk reads, exchanges, and extracts only its own "
            "conversations. Round 1 filtered the extraction OUTPUT, which "
            "Catalyst cannot push below MapInPandas, so every chunk "
            "re-extracted the whole corpus. On an Iceberg table bucketed "
            "by conv_id the same predicate prunes data files.",
            extract_docs(docs.where(conv_chunk_expr(8) == 3), num_partitions=8),
        ),
        (
            "embed_pairs with LSH candidate-block prefilter (DENSE_BLOCK "
            "patched to 16: 32 blocks)",
            "Tile enumeration bounded by the sign-random-projection "
            "candidate-block join: the per-(block, table, bucket) distinct "
            "set self-joins on (table, bucket), broadcasts, and only "
            "colliding block pairs become GEMM tiles — the blanket "
            "B(B+1)/2 cross join disappears above EXHAUSTIVE_BLOCK_LIMIT "
            "blocks.",
            _embed_prefilter_df(emb),
        ),
        (
            "minhash_dedup (default at this corpus: gate-skipped collapse, "
            "dense strategy)",
            "The r4 dup-rate gate: this corpus is ~dup-free, so the probe "
            "skips the exact-dup collapse entirely (no rep semi-join, no "
            "membership-expansion joins — the r3 constant overhead is "
            "gone) and the vocab probe routes straight to the dense "
            "bitset kernel over the raw docs: one masks mapInPandas, a "
            "tiny blocks aggregate, the block-pair tile cross join "
            "(B(B+1)/2 rows), the popcount tile kernel. Token arrays "
            "never shuffle. Output provably identical to the collapsed "
            "plan (pytest-pinned both directions).",
            minhash_dedup(docs),
        ),
        (
            "minhash_dedup over 3-shingles of a 50%-dup corpus (LSH "
            "banding, collapse engaged)",
            "The 100 TB boilerplate path (what the gate engages whenever "
            "the exact-dup rate clears 2%): collapse exact "
            "duplicates to one representative per md5(text) (so the band "
            "self-join sees ONE signature per distinct text — "
            "million-copy boilerplate can never form an O(k^2) hot "
            "bucket; the collapse exchange computes once and is "
            "ReuseExchange'd by every downstream reference), band "
            "signatures via one mapInPandas, bucket self-join, JVM "
            "exact-jaccard verify, then expansion of verified pairs "
            "through the exact-dup groups (the quadratic duplication "
            "term lives only in this final membership equi-join, not in "
            "any band bucket).",
            minhash_dedup(heavy, ngram=3),
        ),
        (
            "decontaminate (probe-routed dense arm — this corpus)",
            "Train >> test is the production regime and the plan matches: "
            "the exact arm is a BroadcastHashJoin on md5(text) (the test "
            "hash set broadcasts — the train corpus never shuffles for "
            "it). The probe (two bounded TEST-side driver actions; the "
            "train side is never probed) routes this small-vocab corpus "
            "to the dense near arm: ONE mapInPandas over the train "
            "corpus scoring each Arrow batch against the broadcast test "
            "masks as a single f32 GEMM — zero shuffles, no join (a "
            "pair's intersection can only contain TEST-vocabulary "
            "tokens, so masks are test-vocab-wide while true train "
            "cardinalities ride alongside). The best-match row_number "
            "rides WindowGroupLimit (per-partition top-1 BEFORE the "
            "shuffle), and the final verdict attach scans train as "
            "doc_id-only (ReadSchema pruned; AQE broadcasts the bounded "
            "match set at runtime).",
            _decontaminate_df(docs),
        ),
        (
            "decontaminate (inverted-index arm — 3-shingles of a 1-in-3 "
            "test slice, over 4096 distinct)",
            "The big-eval-suite route (test corpus over 4096 docs or "
            "4096 distinct tokens): train tokens join exploded test "
            "tokens on the token — pairs must share >= 1 token, the "
            "train side never self-joins, the candidate aggregate is "
            "map-side-combined (cardinalities ride as long min()s), and "
            "the output is bounded by true cross-candidate mass. No "
            "Python anywhere on this route (pytest plan gate).",
            _decontaminate_df(docs, mod=3, ngram=3),
        ),
        (
            "frequent_ngrams (corpus boilerplate profile)",
            "Per-doc DISTINCT 3-shingles (JVM sequence/transform/slice) "
            "explode into one map-side-combined HashAggregate keyed on "
            "the shingle; the top-k is TakeOrderedAndProject (streaming "
            "heap per partition + k-row driver merge), never a global "
            "sort of the shingle vocabulary — the property that keeps "
            "the op viable when the vocabulary is billions of rows.",
            frequent_ngrams(docs),
        ),
        (
            "incremental dedup delta probe (index side joins only)",
            "Delta reps band via MapInPandas (delta-sized Python only: "
            "the probe side plus both arms of the delta self-join); the "
            "persisted corpus index enters as parquet SCANS joined on "
            "(band, band_key) / text_hash / rep_id — the corpus is never "
            "re-banded or re-tokenized beyond the colliding candidates' "
            "stored texts (JVM tokens_col). Delta cost is independent of "
            "corpus size.",
            _incremental_edges_df(spark, docs),
        ),
        (
            "embed incremental delta probe (colliding blocks only)",
            "Delta vectors hash+bucket via MapInPandas (delta-sized); "
            "the stored block-bucket sets join on (table, bucket) to "
            "enumerate candidate OLD blocks, a leftsemi prunes the "
            "stored vecs scan to colliding blocks, and only those tiles "
            "run the GEMM verification kernel. The corpus is never "
            "re-hashed; old endpoints contract to their stored cluster "
            "labels before resolution.",
            _embed_incremental_edges_df(spark, emb),
        ),
        (
            "dup_spans (substring-span dedup)",
            "The suffix-array pass of Lee et al. 2021 re-expressed "
            "shuffle-native: windows hash to 8-byte xxhash64 keys "
            "BEFORE the corpus-wide count shuffle (one map-side-combined "
            "HashAggregate over longs — 13-gram strings never shuffle), "
            "the duplicated-hash set comes back as a LEFT SEMI equi-join "
            "(AQE broadcasts small boilerplate vocabularies), and the "
            "interval merge is one (doc_id, pos) window over long pairs. "
            "No Python anywhere (pytest plan gate).",
            _dup_spans_df(docs),
        ),
        (
            "strip_dup_spans (cut-text product)",
            "The per-doc span list (bounded by text length, not corpus "
            "size) folds back with ONE equi-join on doc_id; token "
            "cutting is JVM higher-order functions (zip_with + filter + "
            "exists) inside the project — reconstruction never leaves "
            "the executor row, and the only addition over dup_spans is "
            "the join exchange.",
            _strip_dup_spans_df(docs),
        ),
        (
            "c4_line_filter (C4 line-level cleaning)",
            "Zero-exchange map-only plan: one split + higher-order "
            "filter + array_join per row, substring/contains primitives "
            "only (no regex alternation to diverge between engines) — "
            "like sample_stratified it composes with downstream ops "
            "without a barrier.",
            _c4_line_filter_df(docs),
        ),
        (
            "pack_shards (token-budget sharding)",
            "Two-level distributed prefix sum: the per-bucket token "
            "sums aggregate map-side-combined, the ONLY non-partitioned "
            "window runs over that small bucket frame (n/BUCKET_SIZE "
            "rows), offsets broadcast-join back, and the corpus-wide "
            "cumsum windows BY bucket — parallel, each task bounded by "
            "BUCKET_SIZE. A naive global-order window would collapse "
            "the corpus into one task; output is pytest-pinned "
            "identical to that form.",
            _pack_shards_df(docs),
        ),
        (
            "lm_perplexity (CCNet LM-quality scoring)",
            "Training is two map-side-combined word-count aggregates "
            "over the reference slice; V rides a broadcast 1-row frame. "
            "Scoring explodes doc bigrams once and LEFT-joins the "
            "unigram/bigram count tables (AQE broadcasts a small model, "
            "else a plain shuffled equi-join); per-pair log-probs are "
            "fixed-point BIGINTs so the per-doc sums stay exact-integer "
            "HashAggregates. Tercile cutoffs come from a cumulative "
            "histogram over DISTINCT rounded scores — the only "
            "non-partitioned window runs over that small frame, never "
            "the corpus — and broadcast back as one row. No Python "
            "anywhere (pytest plan gate).",
            _lm_perplexity_df(spark, docs),
        ),
        (
            "bpe_tokenize (learned BPE, corpus pass)",
            "Tokenization is a single zero-exchange Arrow stage: the "
            "learned merge ranks travel in the UDF closure (n_merges "
            "entries) and per-word encodings memoize per batch. "
            "Training (not shown) touches the corpus exactly once — a "
            "map-side-combined word-count aggregate cut by "
            "TakeOrderedAndProject — and runs the Sennrich merge loop "
            "driver-side over the bounded dictionary, as every "
            "production trainer does.",
            _bpe_tokenize_df(spark, docs),
        ),
        (
            "quality_classify (trained quality filter, corpus pass)",
            "The 100 TB path of the trained classifier: ONE tokenize "
            "pass — the occurrence stream LEFT-joins the broadcast "
            "<= B+1-row weight table so the token count and the weight "
            "sum share a single map-side-combined groupBy(doc_id) (a "
            "second occurrence pass would re-explode the corpus — the "
            "dsir lesson); keep is an exact integer comparison "
            "(z_micro >= 0), so the verdict never touches exp(). "
            "Training (not shown) runs over bounded localCheckpoint-ed "
            "labeled samples; the driver holds B+1 int64 weights.",
            _quality_classify_df(spark, docs),
        ),
        (
            "semdedup (within-cell semantic dedup)",
            "Pairwise work is bounded by the k-means partition: the "
            "trained centroids broadcast into the assignment, cells "
            "split into PER-CELL-adaptive ceil(n_c/DENSE_BLOCK) xxhash64 "
            "sub-blocks (the k-row size frame broadcasts), and only "
            "same-cell sub-block pairs reach the shared GEMM tile "
            "kernel — one bounded mapInPandas, never an O(n^2) pair "
            "shuffle. Components resolve with the star-contraction "
            "machinery; the farthest-from-centroid keep rule is a "
            "two-pass long-only min + back-join (a min_by over wide "
            "rows would demote to SortAggregate).",
            _semdedup_df(spark),
        ),
        (
            "decontaminate_ngrams (n-gram-collision decontamination)",
            "Both corpora hash windows to xxhash64 longs on the map "
            "side (strings never shuffle); the distinct test-hash set "
            "broadcasts under a bounded small-side probe gate (an "
            "oversized eval suite falls back to a shuffled left join); "
            "the train corpus collapses in ONE map-side-combined "
            "groupBy(doc_id) of long aggregates — one row per document "
            "crosses the wire. No Python anywhere.",
            _decontaminate_ngrams_df(spark, docs),
        ),
        (
            "dsir_select (DSIR importance resampling)",
            "Two corpus tokenize passes — the algorithm's inherent "
            "shape (the q model must be fit before any doc can be "
            "scored): one explode -> map-side-combined groupBy(bucket) "
            "for the model (<= B result rows), one explode -> broadcast "
            "join against the <= B-row log-ratio table -> "
            "groupBy(doc_id) for scoring, whose partial aggs combine "
            "to one row per document before the only corpus-wide "
            "shuffle. Model totals are window sums over the single "
            "full-outer-joined <= 2B-row model frame, never separate "
            "aggregates that would each re-tokenize the corpus. The "
            "exact top-k boundary is TakeOrderedAndProject; its branch "
            "references every base column so column pruning stays "
            "symmetric and AQE reuses the scoring shuffle instead of "
            "recomputing it (runtime-reuse pytest gate).",
            _dsir_select_df(spark, docs),
        ),
        (
            "sample_stratified (domain mixing)",
            "Deterministic per-key Bernoulli sampling compiles to a "
            "single pushed Filter over a 2-column pruned scan — ZERO "
            "exchanges, zero Python: the md5 draw is a pure row "
            "function, so membership is identical under any "
            "partitioning and the sample composes with downstream ops "
            "without a barrier.",
            _sample_stratified_df(docs),
        ),
    ]

    pre_gate, pre_final = _pretrain_segments(spark)
    sections.append(
        (
            "pretrain_pipeline stage 1 (extract -> Gopher row-filter gate)",
            "The capstone's spine: the Gopher verdict applies as a row "
            "FILTER (gopher_keep_expr) on the extraction output itself, "
            "so the whole stage is the extraction's ONE salted exchange "
            "+ ONE fused MapInPandas — the extraction Arrow stage "
            "appears exactly once in the whole pipeline. Each stage "
            "materializes at a lazy localCheckpoint barrier (the "
            "Iceberg stage-write stand-in): without barriers the "
            "downstream self-join arms prune different columns, their "
            "subtrees canonicalize differently, ReuseExchange cannot "
            "dedupe them, and the plan measured 1399 duplicated "
            "Arrow-stage nodes (~25x wall-clock).",
            pre_gate,
        )
    )
    sections.append(
        (
            "pretrain_pipeline stage 4 (DSIR select -> pack_shards)",
            "The selection/packing segment above the stage-3 barrier is "
            "entirely JVM (zero Arrow stages, plan-gated): dsir scoring "
            "rides its broadcast log-ratio table, packing is the "
            "two-level prefix sum, and conv/turn re-attach by the pure "
            "INVERSE of the doc-id mapping — never a join back through "
            "the extraction subtree.",
            pre_final,
        )
    )
    sections.append(
        (
            "langid_classify (trained lang-id, corpus pass)",
            "The weight table pivots to one column per language and "
            "broadcasts; ONE map-side-combined groupBy(doc_id) computes "
            "the gram count and every language's weight sum together "
            "(one Generate = one char-3-gram explode), and the argmax "
            "is an array_max over exact-integer (z, -rank, lang) "
            "structs — no Python, one corpus-wide shuffle of one row "
            "per document.",
            _langid_classify_df(spark, docs),
        )
    )

    out = [
        "# PLANS — captured physical plans (regenerate: "
        "scripts/capture_plans.py)\n",
        "Plan-shape regressions are pytest-gated in tests/test_plans.py; "
        "this file is the human-readable tour.\n",
    ]
    for title, commentary, df in sections:
        out.append(f"## {title}\n")
        out.append(commentary + "\n")
        out.append("```\n" + plan(df).strip() + "\n```\n")

    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
