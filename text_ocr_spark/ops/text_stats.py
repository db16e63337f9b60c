"""Text analysis operators over ``documents`` — all pure JVM expressions
(whole-stage codegen, zero Python), each with an exact DuckDB-SQL twin in
__spark_entry__.oracle_sql.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: whitespace class with IDENTICAL semantics in Java regex (Spark) and
#: RE2 (DuckDB): Java's \s matches \x0B, RE2's does not, so a bare \s
#: would silently diverge between the engines on vertical-tab payloads.
#: Canonical home for the whole repo (cleaning.py re-exports).
WS_RE = r"[ \t\n\f\r]+"

#: BPE-ish token grammar: letter runs, digit runs, single other glyphs
#: (explicit whitespace class, same cross-engine reason as WS_RE)
BPE_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9 \t\n\f\r]"

#: tiny fixed stopword list (explicit table, not locale-dependent)
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")

#: language marker words (rule-based lang-id; explicit tables)
LANG_MARKERS = {
    "en": ("the", "a", "and", "of"),
    "es": ("el", "la", "de", "que"),
    "fr": ("le", "la", "et", "les"),
}


#: frequent_ngrams' shingle width and top-k cut
FREQUENT_N = 3
FREQUENT_K = 20


def ws_tokens() -> F.Column:
    return F.split(F.trim(F.col("text")), WS_RE)


def token_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, n_ws_tokens, n_bpe_tokens, n_chars_trim)."""
    return docs.select(
        "doc_id",
        F.size(ws_tokens()).alias("n_ws_tokens"),
        F.regexp_count(F.col("text"), F.lit(BPE_PATTERN)).alias("n_bpe_tokens"),
        F.length(F.trim(F.col("text"))).alias("n_chars_trim"),
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Length / stopword-ratio / mean-token-length quality signals + bucket.

    score = 0.5*min(1, n_tokens/64) + 0.3*stopword_ratio_capped
            + 0.2*min(1, mean_tok_len/8); bucket = high/medium/low.
    """
    toks = ws_tokens()
    n_tok = F.size(toks).cast("double")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))).cast(
        "double"
    )
    mean_len = F.length(F.regexp_replace(F.trim(F.col("text")), WS_RE, "")) / n_tok
    score = (
        0.5 * F.least(F.lit(1.0), n_tok / 64.0)
        + 0.3 * F.least(F.lit(1.0), 4.0 * n_stop / n_tok)
        + 0.2 * F.least(F.lit(1.0), mean_len / 8.0)
    )
    return docs.select(
        "doc_id",
        n_tok.cast("int").alias("n_tokens"),
        F.round(n_stop / n_tok, 6).alias("stopword_ratio"),
        F.round(mean_len, 6).alias("mean_tok_len"),
        F.round(score, 6).alias("quality"),
        F.when(score >= 0.8, "high")
        .when(score >= 0.5, "medium")
        .otherwise("low")
        .alias("bucket"),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Rule-based language id: argmax of marker-word hits, tie-break by
    language code ascending, zero hits -> 'und'."""
    toks = ws_tokens()

    def _hit(markers: tuple[str, ...]):
        # single-arg lambda: a 2-arg lambda would be read as (value, index)
        return lambda t: t.isin(*markers)

    hits = {
        lang: F.size(F.filter(toks, _hit(markers)))
        for lang, markers in LANG_MARKERS.items()
    }
    # deterministic argmax: iterate languages in sorted order, strict >
    best_lang = F.lit("und")
    best_hits = F.lit(0)
    for lang in sorted(hits):
        cond = hits[lang] > best_hits
        best_lang = F.when(cond, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(cond, hits[lang]).otherwise(best_hits)
    return docs.select(
        "doc_id",
        *[hits[lang].alias(f"hits_{lang}") for lang in sorted(hits)],
        best_lang.alias("lang_pred"),
    )


def doc_fingerprint(docs: DataFrame) -> DataFrame:
    """Deterministic 16-hex fingerprint of the canonicalized text
    (lowercase + whitespace-collapsed) — the keys.txt-style explicit-table
    analog of content identity."""
    canon = F.regexp_replace(F.lower(F.trim(F.col("text"))), WS_RE, " ")
    return docs.select(
        "doc_id",
        F.substring(F.md5(canon.cast("binary")), 1, 16).alias("fingerprint"),
    )


def frequent_ngrams(docs: DataFrame) -> DataFrame:
    """Top-k corpus-wide frequent word n-grams by DOCUMENT frequency
    (n = FREQUENT_N, k = FREQUENT_K) — the boilerplate-discovery
    primitive of a training-data pipeline (shingles shared by many
    documents are headers, footers, license blurbs, templates).
    -> (ngram, doc_freq, rank), rank dense 1..k with a deterministic
    (doc_freq DESC, ngram ASC) tie-break.

    Scale shape: the per-doc DISTINCT shingle set (``tokens_col`` —
    JVM sequence/transform/slice, no Python) explodes into one
    map-side-combined HashAggregate keyed on the shingle, then top-k is
    TakeOrderedAndProject (never a global sort of the n-gram table);
    the rank window runs over the k collected rows only. Doc frequency,
    not raw term frequency, so a single pathological document cannot
    promote its own repetition into the corpus profile."""
    from text_ocr_spark.ops.dedup import tokens_col
    from pyspark.sql import Window

    df = (
        docs.select(F.explode(tokens_col("text", FREQUENT_N)).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count("*").alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), "ngram")
        .limit(FREQUENT_K)
    )
    w = Window.orderBy(F.desc("doc_freq"), "ngram")
    return df.withColumn("rank", F.row_number().over(w))
