"""Trained lang-id head (ops/lang_clf.py — VERDICT r4 item 5):
Spark-vs-pure-Python training equality at reduced size, held-out
separability on the deterministic multilingual fixture, committed-model
classify golden, weight-table validation, and the one-pass plan gate."""

from __future__ import annotations

import hashlib
import math
import os
from collections import Counter

import pandas as pd
import pytest

from pyspark.sql import functions as F

FIXTURES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixturedata"
)
LANGID_WEIGHTS = os.path.join(FIXTURES, "langid_weights.parquet")
GOLDEN_LANGID = os.path.join(FIXTURES, "golden_langid_sf0.01.parquet")

B_SMALL = 512
ITERS_SMALL = 3
SCALE = 1_000_000


def _half_up(x: float) -> int:
    return int(math.floor(x + 0.5)) if x >= 0 else int(math.ceil(x - 0.5))


def _grams(text, n_buckets, n=3):
    if text is None:
        return []
    s = str(text).lower().strip(" ")
    if len(s) < n:
        return []
    return [
        int(hashlib.md5(s[i : i + n].encode()).hexdigest()[:8], 16)
        % n_buckets
        for i in range(len(s) - n + 1)
    ]


def _replay_ovr(fx, n_buckets, iters, lr=2.0):
    """Pure-Python one-vs-rest retrain (the quality_train math)."""
    langs = sorted({lang for _, _, lang in fx})
    feats = []
    for _d, t, lang in fx:
        c = Counter(_grams(t, n_buckets))
        feats.append((c, sum(c.values()), lang))
    out = {}
    for lang in langs:
        featured = [
            (c, n, 1.0 if lg == lang else 0.0)
            for c, n, lg in feats
            if n > 0
        ]
        n_docs = len(featured)
        w: dict[int, int] = {}
        w0 = 0
        for _ in range(iters):
            gsum: dict[int, int] = {}
            bias_g = 0
            for c, n, y in featured:
                s = sum(cnt * w.get(b, 0) for b, cnt in c.items())
                z = w0 / SCALE + s / (n * float(SCALE))
                rq = _half_up((1.0 / (1.0 + math.exp(-z)) - y) * SCALE)
                bias_g += rq
                for b, cnt in c.items():
                    gsum[b] = gsum.get(b, 0) + _half_up(rq * cnt / n)
            for b, g in gsum.items():
                w[b] = w.get(b, 0) - _half_up(lr * g / n_docs)
            w0 -= _half_up(lr * bias_g / n_docs)
        out[lang] = (w0, w)
    return out


@pytest.fixture(scope="module")
def small_fixture():
    from text_ocr_spark.ops import lang_clf

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(lang_clf, "LANGID_PER_LANG", 10)
        return lang_clf.langid_fixture()


def test_spark_training_equals_python_replay(
    spark, small_fixture, monkeypatch
):
    """langid_train (K one-vs-rest quality_train runs over char
    3-grams) must be bit-identical to the independent pure-Python
    retrain at reduced size — pins the committed full-size weight
    table, which gen_op_golden.py produces with the same replay."""
    from text_ocr_spark.ops import lang_clf, quality_clf

    monkeypatch.setattr(lang_clf, "LANGID_BUCKETS", B_SMALL)
    monkeypatch.setattr(quality_clf, "ITERS", ITERS_SMALL)
    tdf = spark.createDataFrame(
        small_fixture, "doc_id long, text string, lang string"
    )
    got = {
        (r.lang, r.b): r.w_micro
        for r in lang_clf.langid_train(tdf).collect()
    }
    want = {}
    for lang, (w0, w) in _replay_ovr(
        small_fixture, B_SMALL, ITERS_SMALL
    ).items():
        want[(lang, -1)] = w0
        for b, m in w.items():
            want[(lang, b)] = m
    assert got == want


def test_committed_weights_match_replay():
    """The committed model table IS the full-size pure-Python retrain
    over the full fixture (no Spark needed) — a drifted or hand-edited
    fixture file fails here."""
    from text_ocr_spark.ops.lang_clf import LANGID_BUCKETS, langid_fixture
    from text_ocr_spark.ops.quality_clf import ITERS

    want = {}
    for lang, (w0, w) in _replay_ovr(
        langid_fixture(), LANGID_BUCKETS, ITERS
    ).items():
        want[(lang, -1)] = w0
        for b, m in w.items():
            want[(lang, b)] = m
    committed = pd.read_parquet(LANGID_WEIGHTS)
    got = {
        (r.lang, int(r.b)): int(r.w_micro) for r in committed.itertuples()
    }
    assert got == want


def test_heldout_separability(spark):
    """The head actually LEARNS language: 100% on a held-out quarter of
    the fixture (the corpus-honesty twin of ivf_train's recall note —
    the sf corpus's text is lang-independent, so the machinery is
    proven here, not there)."""
    from text_ocr_spark.ops.lang_clf import (
        langid_classify,
        langid_fixture,
    )

    fx = langid_fixture()
    test = [r for r in fx if r[0] % 4 == 0]
    w = spark.read.parquet(LANGID_WEIGHTS)
    sdf = spark.createDataFrame(
        test, "doc_id long, text string, lang string"
    )
    pred = {
        r.doc_id: r.lang_pred
        for r in langid_classify(sdf.select("doc_id", "text"), w).collect()
    }
    acc = sum(1 for d, _t, lang in test if pred[d] == lang) / len(test)
    # held-out docs were part of the committed model's training corpus
    # (the fixture is the training set); the real generalization check
    # is the reduced-size test below on unseen docs
    assert acc == 1.0


def test_generalizes_to_unseen_fixture_docs():
    """Train on 3/4 of the FULL fixture, classify the UNSEEN quarter:
    the char-3-gram heads separate the languages (100% measured; gate
    at >= 95%). Runs in the pure-Python replay — which
    test_spark_training_equals_python_replay pins bit-identical to the
    Spark trainer — because full-size Spark training is ~80 s of
    fixed job overhead for the same arithmetic. (A starved reduced-size
    split only reaches ~31%, which is a statement about 8 docs/lang,
    not about the machinery.)"""
    from text_ocr_spark.ops.lang_clf import LANGID_BUCKETS, langid_fixture
    from text_ocr_spark.ops.quality_clf import ITERS

    fx = langid_fixture()
    train = [r for r in fx if r[0] % 4 != 0]
    test = [r for r in fx if r[0] % 4 == 0]
    model = _replay_ovr(train, LANGID_BUCKETS, ITERS)
    langs = sorted(model)
    ok = 0
    for _d, t, lang in test:
        c = Counter(_grams(t, LANGID_BUCKETS))
        n = sum(c.values())
        best = None
        for rank, cand in enumerate(langs):
            w0, w = model[cand]
            z = w0 + (
                _half_up(sum(cnt * w.get(b, 0) for b, cnt in c.items()) / n)
                if n
                else 0
            )
            key = (z, -rank)
            if best is None or key > best[0]:
                best = (key, cand)
        ok += best[1] == lang
    assert ok / len(test) >= 0.95, ok / len(test)


def test_classify_matches_committed_golden(spark):
    """Corpus classify with the committed model == the committed
    pure-Python classify replay (the contract row's oracle)."""
    from text_ocr_spark.ops.lang_clf import langid_classify

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    w = spark.read.parquet(LANGID_WEIGHTS)
    got = (
        langid_classify(docs.select("doc_id", "text"), w)
        .orderBy("doc_id")
        .toPandas()
    )
    want = (
        pd.read_parquet(GOLDEN_LANGID)[got.columns]
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    for c in got.columns:
        if got[c].dtype != want[c].dtype:
            want[c] = want[c].astype(got[c].dtype)
    assert got.reset_index(drop=True).equals(want)


def test_rejects_bad_weight_tables(spark):
    """The quality_classify ADVICE discipline: missing or duplicated
    per-lang bias rows, and repeated (lang, b) feature rows (which the
    pivot would silently sum), raise instead of silently mis-scoring."""
    from text_ocr_spark.ops.lang_clf import langid_classify

    docs = spark.createDataFrame([(1, "hello")], "doc_id long, text string")
    w = spark.read.parquet(LANGID_WEIGHTS)
    with pytest.raises(ValueError, match="bias row"):
        langid_classify(docs, w.where(F.col("b") != -1))
    with pytest.raises(ValueError, match="bias row"):
        langid_classify(
            docs, w.unionByName(w.where(F.col("b") == -1))
        )
    with pytest.raises(ValueError, match="repeats"):
        langid_classify(docs, w.unionByName(w.where(F.col("b") != -1)))


def test_classify_plan_one_pass_jvm(spark):
    """The 100 TB path: no Python stage, the pivoted weight table
    broadcasts, and the corpus aggregates ONCE per doc (one Generate =
    one explode of the char-gram array)."""
    from text_ocr_spark.ops.lang_clf import langid_classify

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    w = spark.read.parquet(LANGID_WEIGHTS)
    df = langid_classify(docs.select("doc_id", "text"), w)
    from text_ocr_spark.plans import plan_str

    p = plan_str(df)
    assert "MapInPandas" not in p
    assert "BatchEvalPython" not in p
    assert "BroadcastHashJoin" in p
    assert p.count("Generate (") == 1, p


def test_zero_gram_docs_score_biases(spark):
    from text_ocr_spark.ops.lang_clf import langid_classify

    w = spark.read.parquet(LANGID_WEIGHTS)
    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "ab")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in langid_classify(docs, w).collect()}
    biases = {
        r.lang: int(r.w_micro)
        for r in pd.read_parquet(LANGID_WEIGHTS).itertuples()
        if r.b == -1
    }
    best = sorted(biases.items(), key=lambda kv: (-kv[1], kv[0]))[0]
    for d in (1, 2, 3):  # 'ab' is shorter than one 3-gram
        assert out[d].n_grams == 0
        assert out[d].lang_pred == best[0]
        assert out[d].z_micro == best[1]


def test_score_rounding_ties_away_from_zero(spark):
    """Exact .5 ties in the per-document score round(s / n): Spark's
    F.round, the _half_up replay and DuckDB's round all send +k.5 up
    and -k.5 down (away from zero). Each two-gram doc weights only its
    first gram, so s / n is exactly w / 2."""
    import duckdb

    from text_ocr_spark.ops.lang_clf import LANGID_BUCKETS, langid_classify

    w_first = {1: 5, 2: -5, 3: 1, 4: -1}  # s / n = 2.5, -2.5, 0.5, -0.5
    texts = {1: "abcd", 2: "efgh", 3: "ijkl", 4: "mnop"}
    grams = {d: _grams(t, LANGID_BUCKETS) for d, t in texts.items()}
    weighted = {grams[d][0]: w for d, w in w_first.items()}
    assert all(len(g) == 2 for g in grams.values())
    assert len(weighted) == 4
    assert not {g[1] for g in grams.values()} & set(weighted)
    weights = spark.createDataFrame(
        [("en", -1, 0)] + [("en", b, w) for b, w in weighted.items()],
        "lang string, b long, w_micro long",
    )
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    got = {
        r.doc_id: r.z_micro for r in langid_classify(docs, weights).collect()
    }
    replay = {d: _half_up(w / 2) for d, w in w_first.items()}
    duck = dict(
        duckdb.sql(
            "SELECT d, CAST(round(s / 2.0) AS BIGINT) FROM (VALUES "
            + ", ".join(f"({d}, {w})" for d, w in w_first.items())
            + ") t(d, s)"
        ).fetchall()
    )
    assert replay == {1: 3, 2: -3, 3: 1, 4: -1}
    assert got == replay == duck
    # half-to-even would differ on every tie: the fixture discriminates
    assert [round(w / 2) for w in w_first.values()] == [2, -2, 0, 0]
