"""Learned BPE (ops/bpe.py): hand-computed Sennrich-example merges,
encoder semantics, determinism/partition independence, NULL/empty
discipline, and the plan gates (train = one aggregate + TakeOrdered;
tokenize = one map-only Arrow stage). Tests set the merge count by
patching ``bpe.N_MERGES``."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from text_ocr_spark.ops import bpe

SF_TINY = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_TINY}/documents.parquet").select(
        "doc_id", "text"
    )


def test_bpe_learns_the_sennrich_example(spark, monkeypatch):
    """The paper's worked corpus {low:5, lower:2, newest:6, widest:3}
    under the subword-nmt formulation (</w> fused onto the last char).
    Hand-derived: (e,s) 9 beats (s,t</w>) 9 lexicographically;
    (es,t</w>) 9; (l,o) 7; then a 6-6-6 tie among (e,w)/(n,e)/
    (w,est</w>) resolves to (e,w)."""
    from text_ocr_spark.ops.bpe import bpe_train

    rows = (
        [(i, "low") for i in range(5)]
        + [(100 + i, "lower") for i in range(2)]
        + [(200 + i, "newest") for i in range(6)]
        + [(300 + i, "widest") for i in range(3)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    monkeypatch.setattr(bpe, "N_MERGES", 4)
    merges = [
        (r.left, r.right) for r in bpe_train(df).orderBy("rank").collect()
    ]
    assert merges == [("e", "s"), ("es", "t</w>"), ("l", "o"), ("e", "w")]


def test_bpe_encoder_applies_lowest_rank_first(spark):
    from text_ocr_spark.ops.bpe import encode_word

    ranks = {("e", "s"): 0, ("es", "t</w>"): 1, ("l", "o"): 2, ("lo", "w"): 3}
    # (e,s) fires before (es,t</w>); unranked pairs never merge
    assert encode_word("newest", ranks) == ["n", "e", "w", "est</w>"]
    # (l,o) -> "lo w</w>"; (lo, w</w>) is NOT the ranked (lo, w) pair
    assert encode_word("low", ranks) == ["lo", "w</w>"]
    # interior w (no marker) DOES match rank 3
    assert encode_word("lowest", ranks) == ["low", "est</w>"]
    assert encode_word("x", {}) == ["x</w>"]
    assert encode_word("", {}) == []


def test_bpe_tokenize_matches_driver_side_encoding(spark, docs, monkeypatch):
    """The distributed Arrow stage must equal per-row driver encoding
    with the same trained merges (memoization and batching are pure
    plumbing)."""
    from text_ocr_spark.ops.bpe import bpe_tokenize, bpe_train, encode_word

    monkeypatch.setattr(bpe, "N_MERGES", 30)
    merges = bpe_train(docs)
    ranks = {
        (r.left, r.right): r.rank for r in merges.collect()
    }
    got = {
        r.doc_id: (list(r.bpe_tokens), r.n_bpe)
        for r in bpe_tokenize(docs, merges).collect()
    }
    import re

    ws = re.compile(r"[ \t\n\f\r]+")
    for r in docs.collect():
        toks = []
        for w in ws.split((r.text or "").lower()):
            if w:
                toks.extend(encode_word(w, ranks))
        assert got[r.doc_id] == (toks, len(toks))


def test_bpe_partition_independence(spark, docs, monkeypatch):
    from text_ocr_spark.ops.bpe import bpe_tokenize, bpe_train

    monkeypatch.setattr(bpe, "N_MERGES", 25)
    a = bpe_train(docs)
    b = bpe_train(docs.repartition(13, "text"))
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    ta = bpe_tokenize(docs, a).select("doc_id", "n_bpe")
    tb = bpe_tokenize(docs.repartition(7), a).select("doc_id", "n_bpe")
    assert sorted(map(tuple, ta.collect())) == sorted(
        map(tuple, tb.collect())
    )


def test_bpe_null_empty_and_saturation(spark, monkeypatch):
    from text_ocr_spark.ops.bpe import bpe_tokenize, bpe_train

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, " \t "), (4, "aaa aaa bb")],
        "doc_id long, text string",
    )
    monkeypatch.setattr(bpe, "N_MERGES", 100)  # far past saturation
    merges = bpe_train(df)
    got = {
        r.doc_id: (list(r.bpe_tokens), r.n_bpe)
        for r in bpe_tokenize(df, merges).collect()
    }
    assert got[1] == ([], 0) and got[2] == ([], 0) and got[3] == ([], 0)
    # saturated: every word is one token
    assert got[4] == (["aaa</w>", "aaa</w>", "bb</w>"], 3)
    # the merge loop stops when no pairs remain (never pads to N_MERGES)
    assert merges.count() < 100


def test_bpe_unicode_whitespace_matches_lm_tokens(spark, monkeypatch):
    """ADVICE r4 regression: train/apply tokenizer symmetry on the full
    Unicode whitespace class. lm_tokens (which feeds bpe_train) splits
    ONLY on [ \\t\\n\\f\\r]+ — \\x0b, \\xa0, \\u2028 are word bytes,
    not separators — so the Arrow apply kernel must emit exactly the
    words the vocabulary was trained on (no Python .strip())."""
    from pyspark.sql import functions as F

    from text_ocr_spark.ops.bpe import bpe_tokenize, bpe_train
    from text_ocr_spark.ops.lm import lm_tokens

    df = spark.createDataFrame(
        [
            (1, "\x0bab \xa0ab ab  ab"),
            (2, "\x0bab\t\xa0ab"),
            (3, "plain words here"),
        ],
        "doc_id long, text string",
    )
    monkeypatch.setattr(bpe, "N_MERGES", 50)
    merges = bpe_train(df)
    got = {
        r.doc_id: list(r.bpe_tokens)
        for r in bpe_tokenize(df, merges).collect()
    }
    want = {
        r.doc_id: ["".join(w) + "</w>" for w in r.toks]
        for r in df.select(
            "doc_id", lm_tokens().alias("toks")
        ).collect()
    }
    # at saturation every trained word encodes to one symbol, so the
    # apply stream equals the training token stream verbatim
    for d in want:
        assert got[d] == want[d], (d, got[d], want[d])


def test_bpe_plan_gates(spark, docs, monkeypatch):
    """Train's corpus work: one map-side-combined aggregate + a
    TakeOrdered cut (never a global sort of the dictionary). Tokenize:
    ONE Arrow stage, zero exchanges (map-only)."""
    from text_ocr_spark.ops.bpe import bpe_tokenize, bpe_train, word_counts

    wc = (
        word_counts(docs)
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(1000)
    )
    p = wc._sc._jvm.PythonSQLUtils.explainString(
        wc._jdf.queryExecution(), "formatted"
    )
    assert "TakeOrderedAndProject" in p
    assert "MapInPandas" not in p

    monkeypatch.setattr(bpe, "N_MERGES", 5)
    df = bpe_tokenize(docs, bpe_train(docs))
    p2 = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    # tree form "MapInPandas (n)" — one Arrow node, listed once in the
    # tree (its detail block repeats the name)
    assert p2.count("MapInPandas (") == 1, p2
    assert "Exchange" not in p2
