"""Cross-corpus decontamination (ops/decontam.py) and corpus n-gram
profiling (text_stats.frequent_ngrams): semantics pinned on hand-built
corpora where every jaccard is computable by eye, plus plan gates
(both ops are pure-JVM — no Python anywhere in the plan)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from text_ocr_spark.ops import decontam, text_stats
from text_ocr_spark.ops.decontam import decontaminate
from text_ocr_spark.ops.text_stats import frequent_ngrams


def _tr(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def verdicts(spark):
    """One corpus exercising every arm at once: exact leak, near leak,
    clean doc, null-text doc, exact-beats-near, and a jaccard tie
    broken by min test_id."""
    train = _tr(
        spark,
        [
            (1, "alpha beta gamma delta"),          # exact copy of test 101
            (2, "alpha beta gamma delta epsilon"),  # j=4/5=0.8 vs test 101
            (3, "zeta eta theta iota"),             # clean (j=0 vs all)
            (4, None),                              # null: never contaminated
            (5, "one two three four"),              # j=0.6 vs 102: below 0.8
            # ties vs 103 and 104 (both j=1.0 exact): min test_id wins
            (6, "tie tie2 tie3"),
        ],
    )
    test = _tr(
        spark,
        [
            (101, "alpha beta gamma delta"),
            (102, "one two three five"),  # inter=3, union=5 -> 0.6 vs doc 5
            (103, "tie tie2 tie3"),
            (104, "tie tie2 tie3"),
            (105, None),  # null test text must match nothing
        ],
    )
    out = decontaminate(train, test).orderBy("doc_id")
    return {r["doc_id"]: r.asDict() for r in out.collect()}


def test_exact_arm(verdicts):
    v = verdicts[1]
    assert v["contaminated"] == 1
    assert v["match_kind"] == "exact"
    assert v["best_test_id"] == 101
    assert v["best_jaccard"] == 1.0


def test_near_arm_at_threshold(verdicts):
    # 4 shared tokens, union 5 -> exactly 0.8: >= is inclusive
    v = verdicts[2]
    assert v["contaminated"] == 1
    assert v["match_kind"] == "near"
    assert v["best_test_id"] == 101
    assert v["best_jaccard"] == pytest.approx(0.8)


def test_clean_doc_sentinels(verdicts):
    v = verdicts[3]
    assert v == {
        "doc_id": 3,
        "contaminated": 0,
        "match_kind": "none",
        "best_test_id": -1,
        "best_jaccard": 0.0,
    }


def test_null_text_never_contaminated(verdicts):
    # null train text matches nothing — including the null TEST text
    # (doc 105): null is not a text, same discipline as tokens_col
    assert verdicts[4]["contaminated"] == 0
    assert verdicts[4]["match_kind"] == "none"


def test_below_threshold_is_clean(verdicts):
    assert verdicts[5]["contaminated"] == 0


def test_exact_beats_near_and_min_test_id_tiebreak(verdicts):
    # doc 6 exact-matches BOTH 103 and 104 (and near-matches them at
    # 1.0); the verdict must be exact with the smaller test_id
    v = verdicts[6]
    assert v["match_kind"] == "exact"
    assert v["best_test_id"] == 103


def test_one_row_per_train_doc(spark, monkeypatch):
    monkeypatch.setattr(decontam, "THRESHOLD", 0.1)
    train = _tr(spark, [(i, f"tok{i} common") for i in range(20)])
    test = _tr(spark, [(900, "common tokX")])
    out = decontaminate(train, test)
    assert out.count() == 20
    assert out.select("doc_id").distinct().count() == 20


def test_shingle_mode_sees_word_order(spark):
    """Reordered text has token-set jaccard 1.0 (near-contaminated
    under ngram=1) but few shared 3-shingles (clean under ngram=3) —
    the order-sensitivity production decontamination relies on."""
    train = _tr(spark, [(1, "a b c d e f g h")])
    test = _tr(spark, [(200, "h g f e d c b a")])
    uni = decontaminate(train, test, ngram=1).first()
    tri = decontaminate(train, test, ngram=3).first()
    assert uni["contaminated"] == 1 and uni["best_jaccard"] == 1.0
    assert tri["contaminated"] == 0


def test_inverted_route_plan_is_pure_jvm(spark, monkeypatch):
    monkeypatch.setattr(decontam, "DENSE_MAX_TEST_DOCS", 0)
    train = _tr(spark, [(1, "a b"), (2, "c d")])
    test = _tr(spark, [(9, "a b")])
    p = _plan(decontaminate(train, test))
    assert "MapInPandas" not in p
    assert "BatchEvalPython" not in p
    assert "ArrowEvalPython" not in p


def test_dense_route_plan_one_arrow_stage_no_near_join(spark):
    """The dense near arm is ONE mapInPandas over the train corpus with
    the test masks broadcast — zero shuffles, no join: the route that
    survives the degenerate common-token regime where an inverted index
    materializes |train| x |test| candidate rows."""
    import re

    train = _tr(spark, [(i, f"tok{i} common words") for i in range(6)])
    test = _tr(spark, [(900, "common words tokX")])
    p = _plan(decontaminate(train, test))
    assert len(re.findall(r"MapInPandas", p)) == 1
    assert "BatchEvalPython" not in p


def test_routes_agree_on_randomized_corpus(spark, monkeypatch):
    """Both physical routes are the same exact operator: identical
    verdicts, kinds, best ids, and bit-identical jaccard doubles on a
    seeded random corpus with exact dups, near dups, nulls, and
    threshold-boundary pairs. The probe picks the dense arm here; a
    zero doc cap forces the inverted one."""
    import random

    rng = random.Random(41)
    words = [f"w{i}" for i in range(40)]
    train_rows = [
        (i, " ".join(rng.choices(words, k=rng.randint(1, 25))))
        for i in range(120)
    ] + [(120, None)]
    test_rows = [
        (200 + i, " ".join(rng.choices(words, k=rng.randint(1, 25))))
        for i in range(15)
    ] + [(215, train_rows[3][1]), (216, None)]  # verbatim leak + null
    train, test = _tr(spark, train_rows), _tr(spark, test_rows)
    for thr in (0.5, 0.8):
        monkeypatch.setattr(decontam, "THRESHOLD", thr)
        a = decontaminate(train, test)
        with monkeypatch.context() as mp:
            mp.setattr(decontam, "DENSE_MAX_TEST_DOCS", 0)
            b = decontaminate(train, test)
        assert "MapInPandas" in _plan(a)
        assert "MapInPandas" not in _plan(b)
        ra = [tuple(r) for r in a.orderBy("doc_id").collect()]
        rb = [tuple(r) for r in b.orderBy("doc_id").collect()]
        assert ra == rb
        assert any(r[2] == "exact" for r in ra)  # the leak was caught


def test_vocab_cap_falls_back_to_inverted(spark):
    """One test doc with DENSE_VOCAB_LIMIT + 1 distinct tokens: the
    probe must take the inverted arm (no Arrow stage) instead of
    building 4097-bit masks."""
    train = _tr(spark, [(1, "a b")])
    big_vocab = _tr(spark, [(9, " ".join(f"t{i}" for i in range(4097)))])
    out = decontaminate(train, big_vocab)
    assert "MapInPandas" not in _plan(out)
    assert out.first()["contaminated"] == 0


# ---------------------------------------------------------------------------
# frequent_ngrams
# ---------------------------------------------------------------------------


def test_frequent_ngrams_doc_frequency_not_term_frequency(spark, monkeypatch):
    """A document repeating one shingle many times counts ONCE — the
    corpus profile cannot be hijacked by a single pathological doc."""
    docs = _tr(
        spark,
        [
            (1, "x y z " * 50),        # 'x y z' repeated: one vote
            (2, "x y z tail"),         # second vote for 'x y z'
            (3, "x y z other stuff"),  # third vote
            (4, "unrelated words entirely here"),
            (5, None),                 # null text contributes nothing
        ],
    )
    monkeypatch.setattr(text_stats, "FREQUENT_K", 3)
    top = frequent_ngrams(docs).orderBy("rank").collect()
    assert top[0]["ngram"] == "x y z"
    assert top[0]["doc_freq"] == 3
    assert top[0]["rank"] == 1


def test_frequent_ngrams_deterministic_tiebreak(spark, monkeypatch):
    # all shingles have doc_freq 1 -> rank order is pure lexicographic
    docs = _tr(spark, [(1, "b b b"), (2, "a a a"), (3, "c c c")])
    monkeypatch.setattr(text_stats, "FREQUENT_K", 2)
    top = frequent_ngrams(docs).orderBy("rank").collect()
    assert [r["ngram"] for r in top] == ["a a a", "b b b"]
    assert [r["rank"] for r in top] == [1, 2]


def test_frequent_ngrams_short_doc_whole_shingle(spark, monkeypatch):
    # sub-n docs contribute their whole text as ONE shingle (slice
    # clamps), matching tokens_col's grammar
    docs = _tr(spark, [(1, "solo"), (2, "solo")])
    monkeypatch.setattr(text_stats, "FREQUENT_K", 1)
    top = frequent_ngrams(docs).collect()
    assert top[0]["ngram"] == "solo" and top[0]["doc_freq"] == 2


def test_frequent_ngrams_plan_takeordered(spark):
    """Top-k must be TakeOrderedAndProject (streaming heap per
    partition + driver merge of k rows), never a global Sort of the
    full n-gram table — the property that keeps the op viable when the
    shingle vocabulary is billions of rows."""
    docs = _tr(spark, [(1, "a b c d"), (2, "b c d e")])
    p = frequent_ngrams(docs)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in p
    assert "MapInPandas" not in p and "BatchEvalPython" not in p


def test_doc_cap_falls_back_to_inverted(spark):
    """The DENSE_MAX_TEST_DOCS cap itself (it bounds the driver collect
    and the broadcast): a tiny-vocab test corpus with too many DOCS must
    take the inverted arm instead of collecting >4096 masks."""
    train = _tr(spark, [(1, "a b")])
    n = decontam.DENSE_MAX_TEST_DOCS + 1
    big_docs = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit("a b").alias("text")
    )
    p = _plan(decontaminate(train, big_docs))
    assert "MapInPandas" not in p  # inverted arm: pure JVM


# --------------------------------------------------------------------------
# decontaminate_ngrams — the GPT-3/PaLM n-gram-collision rule
# --------------------------------------------------------------------------


def test_ngram_decontam_semantics_by_eye(spark, monkeypatch):
    """3-gram windows over hand-built docs: counts, first positions,
    fractions, and the short/NULL discipline all computable by eye."""
    from text_ocr_spark.ops.decontam import decontaminate_ngrams

    monkeypatch.setattr(decontam, "COLLISION_NGRAM", 3)
    train = _tr(
        spark,
        [
            # windows: "a b c", "b c d", "c d e" — first+last collide
            (1, "a b c d e"),
            # no window matches the test corpus
            (2, "x y z w"),
            # shorter than ngram: zero windows, never contaminated
            (3, "a b"),
            (4, None),
            # every window collides (verbatim test fragment)
            (5, "c d e"),
        ],
    )
    test = _tr(spark, [(100, "a b c q q q c d e")])
    got = {
        r.doc_id: r
        for r in decontaminate_ngrams(train, test).collect()
    }
    assert len(got) == 5
    r1 = got[1]
    assert (r1.n_windows, r1.n_hits, r1.first_hit_pos, r1.contaminated) == (
        3, 2, 0, 1,
    )
    assert r1.hit_frac == pytest.approx(round(2 / 3, 6))
    assert (got[2].n_hits, got[2].contaminated, got[2].first_hit_pos) == (
        0, 0, -1,
    )
    for short in (3, 4):
        r = got[short]
        assert (r.n_windows, r.n_hits, r.hit_frac, r.contaminated) == (
            0, 0, 0.0, 0,
        )
    assert (got[5].n_windows, got[5].n_hits, got[5].hit_frac) == (1, 1, 1.0)


def test_ngram_decontam_differs_from_jaccard_decontam(spark):
    """The two rules must disagree where they should: same vocabulary
    in a different order defeats jaccard-at-1.0 detection only if
    shingled, while a verbatim 13-token window embedded in an otherwise
    alien doc is INVISIBLE to whole-doc jaccard at 0.8 but flags under
    the collision rule — the scenario GPT-3's appendix C exists for."""
    from text_ocr_spark.ops.decontam import decontaminate_ngrams

    frag = " ".join(f"w{i}" for i in range(13))
    alien = " ".join(f"z{i}" for i in range(100))
    train = _tr(spark, [(1, f"{alien} {frag}")])
    test = _tr(spark, [(100, f"{frag} other tail tokens here")])
    jac = decontaminate(train, test).collect()[0]
    col = decontaminate_ngrams(train, test).collect()[0]
    assert jac.contaminated == 0  # whole-doc jaccard ~ 13/113: invisible
    assert col.contaminated == 1 and col.first_hit_pos == 100


def test_ngram_decontam_plan_is_jvm_with_broadcast(spark):
    """No Python anywhere; the test window-hash set must broadcast (the
    train corpus never shuffles strings — windows hash to longs inside
    the map side, the dup_spans discipline)."""
    from text_ocr_spark.ops.decontam import decontaminate_ngrams

    train = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    test = train.where(F.col("doc_id") % 13 == 0)
    df = decontaminate_ngrams(train, test)
    p = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "MapInPandas" not in p
    assert "BatchEvalPython" not in p
    assert "ArrowEvalPython" not in p
    assert "BroadcastHashJoin" in p
    assert "xxhash64" in p


def test_ngram_decontam_join_routes_agree(spark, monkeypatch):
    """Forcing the shuffled-join fallback (broadcast limit 0) must not
    change a single verdict vs the broadcast route."""
    import text_ocr_spark.ops.decontam as D

    train = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    test = train.where(F.col("doc_id") % 13 == 0)
    a = sorted(map(tuple, D.decontaminate_ngrams(train, test).collect()))
    monkeypatch.setattr(D, "NGRAM_BROADCAST_LIMIT", 0)
    b = sorted(map(tuple, D.decontaminate_ngrams(train, test).collect()))
    assert a == b
    assert any(r[5] == 1 for r in a)  # the corpus has real collisions
