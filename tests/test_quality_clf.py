"""Trained quality classifier (ops/quality_clf.py): pure-Python replay
equality at non-default hyperparameters, separable-corpus sanity, loss
decrease, id-collision safety, NULL/empty discipline, partition
independence, and the one-pass JVM/broadcast plan gate for classify.
Tests set the bucket count and schedule by patching ``quality_clf``'s
N_BUCKETS / ITERS."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

SF_TINY = "/root/testdata/sf0.001"

B = 128
ITERS = 4
LR = 2.0
SCALE = 1_000_000


def _hp(monkeypatch, n_buckets=B, iters=ITERS):
    from text_ocr_spark.ops import quality_clf

    monkeypatch.setattr(quality_clf, "N_BUCKETS", n_buckets)
    monkeypatch.setattr(quality_clf, "ITERS", iters)


def _half_up(x: float) -> int:
    return int(math.floor(x + 0.5)) if x >= 0 else int(math.ceil(x - 0.5))


def _replay(pos_rows, neg_rows, all_rows, n_buckets=B, iters=ITERS, lr=LR):
    """Independent pure-Python twin of quality_train + quality_classify
    (parameterized, unlike the committed sf0.01 golden)."""
    import hashlib
    import re
    from collections import Counter

    def toks(t):
        if t is None:
            return []
        return [
            x
            for x in re.split(r"[ \t\n\f\r]+", str(t).lower().strip())
            if x
        ]

    def bucket(tok):
        return (
            int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % n_buckets
        )

    def featurize(rows):
        out = []
        for _, t, y in rows:
            tk = toks(t)
            out.append((Counter(bucket(x) for x in tk), len(tk), y))
        return out

    featured = [
        f
        for f in featurize(
            [(d, t, 1.0) for d, t in pos_rows]
            + [(d, t, 0.0) for d, t in neg_rows]
        )
        if f[1] > 0
    ]
    n_docs = len(featured)
    w, w0 = {}, 0
    for _ in range(iters):
        gsum, bias_g = {}, 0
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

    out = {}
    for d, t in all_rows:
        tk = toks(t)
        c = Counter(bucket(x) for x in tk)
        if tk:
            s = sum(cnt * w.get(b, 0) for b, cnt in c.items())
            z_micro = w0 + _half_up(s / len(tk))
        else:
            z_micro = w0
        prob = (
            _half_up((1.0 / (1.0 + math.exp(-(z_micro / SCALE)))) * SCALE)
            / SCALE
        )
        out[d] = (len(tk), z_micro, prob, int(z_micro >= 0))
    return out


@pytest.fixture(scope="module")
def corpus(spark):
    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet").select(
        "doc_id", "text"
    )
    return docs, [(r.doc_id, r.text) for r in docs.collect()]


def test_quality_clf_matches_pure_python_replay(spark, corpus, monkeypatch):
    from text_ocr_spark.ops.quality_clf import (
        quality_classify,
        quality_train,
    )

    docs, rows = corpus
    pos = docs.where(F.col("doc_id") % 11 == 0)
    neg = docs.where((F.col("doc_id") % 11 != 0) & (F.col("doc_id") % 3 == 0))
    _hp(monkeypatch)
    w = quality_train(pos, neg)
    got = {
        r.doc_id: (r.n_tokens, r.z_micro, r.prob, r.keep)
        for r in quality_classify(docs, w).collect()
    }
    want = _replay(
        [(d, t) for d, t in rows if d % 11 == 0],
        [(d, t) for d, t in rows if d % 11 != 0 and d % 3 == 0],
        rows,
    )
    assert got == want
    # the fixture corpus is near-unseparable by construction (an
    # unconstrained float LR tops out at 0.58 train accuracy vs the
    # 0.564 prior), so `keep` may be constant here — the bit-exact
    # per-doc signal is z_micro/prob, which must genuinely vary
    # (learning capability is pinned by the separable-corpus test)
    assert len({v[1] for v in got.values()}) > 10


def test_quality_clf_separates_a_separable_corpus(spark, monkeypatch):
    from text_ocr_spark.ops.quality_clf import (
        quality_classify,
        quality_train,
    )

    pos = spark.createDataFrame(
        [(i, f"alpha beta gamma prose w{i}") for i in range(16)],
        "doc_id long, text string",
    )
    neg = spark.createDataFrame(
        [(i, f"zeta spam junk click v{i}") for i in range(16)],
        "doc_id long, text string",
    )
    _hp(monkeypatch, n_buckets=256, iters=6)
    w = quality_train(pos, neg)
    held = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "zeta spam junk")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.keep for r in quality_classify(held, w).collect()}
    assert got == {1: 1, 2: 0}


def test_quality_clf_training_reduces_loss(spark, corpus, monkeypatch):
    """Log-loss of the trained model must beat the zero-weight prior
    (sigma(0) = 0.5 -> loss ln 2) on the training sample."""
    from text_ocr_spark.ops.quality_clf import (
        quality_classify,
        quality_train,
    )

    docs, _ = corpus
    pos = docs.where(F.col("doc_id") % 11 == 0)
    neg = docs.where((F.col("doc_id") % 11 != 0) & (F.col("doc_id") % 3 == 0))
    _hp(monkeypatch)
    w = quality_train(pos, neg)

    def loss(sample, y):
        probs = [
            r.prob for r in quality_classify(sample, w).collect()
        ]
        eps = 1e-9
        return sum(
            -math.log(max(p, eps)) if y == 1 else -math.log(max(1 - p, eps))
            for p in probs
        ) / len(probs)

    trained = (loss(pos, 1) * pos.count() + loss(neg, 0) * neg.count()) / (
        pos.count() + neg.count()
    )
    assert trained < math.log(2.0)


def test_quality_clf_id_collision_between_samples_is_safe(spark, monkeypatch):
    """The same doc_id on both sides must not join-duplicate features
    (internal 2*id+label re-key): one shared id trains cleanly."""
    from text_ocr_spark.ops.quality_clf import (
        quality_classify,
        quality_train,
    )

    pos = spark.createDataFrame(
        [(7, "alpha alpha beta")], "doc_id long, text string"
    )
    neg = spark.createDataFrame(
        [(7, "zeta zeta junk")], "doc_id long, text string"
    )
    _hp(monkeypatch, n_buckets=64, iters=4)
    w = quality_train(pos, neg)
    got = {
        r.doc_id: r.keep
        for r in quality_classify(
            spark.createDataFrame(
                [(1, "alpha beta"), (2, "zeta junk")],
                "doc_id long, text string",
            ),
            w,
        ).collect()
    }
    assert got == {1: 1, 2: 0}


def test_quality_clf_null_and_empty_docs_score_the_bias(
    spark, corpus, monkeypatch
):
    from text_ocr_spark.ops.quality_clf import (
        quality_classify,
        quality_train,
    )

    docs, _ = corpus
    pos = docs.where(F.col("doc_id") % 11 == 0)
    neg = docs.where((F.col("doc_id") % 11 != 0) & (F.col("doc_id") % 3 == 0))
    _hp(monkeypatch, iters=2)
    w = quality_train(pos, neg)
    w0 = w.where("b = -1").collect()[0].w_micro
    out = quality_classify(
        spark.createDataFrame(
            [(1, None), (2, ""), (3, " \t ")], "doc_id long, text string"
        ),
        w,
    ).collect()
    assert all(r.n_tokens == 0 and r.z_micro == w0 for r in out)


def test_quality_clf_partition_independence(spark, corpus, monkeypatch):
    from text_ocr_spark.ops.quality_clf import (
        quality_classify,
        quality_train,
    )

    docs, _ = corpus
    pos = docs.where(F.col("doc_id") % 11 == 0)
    neg = docs.where((F.col("doc_id") % 11 != 0) & (F.col("doc_id") % 3 == 0))
    _hp(monkeypatch, iters=2)
    a = quality_train(pos, neg)
    b = quality_train(pos.repartition(7, "text"), neg.repartition(5))
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    ca = quality_classify(docs, a)
    cb = quality_classify(docs.repartition(9, "text"), a)
    assert sorted(map(tuple, ca.collect())) == sorted(
        map(tuple, cb.collect())
    )


def test_quality_clf_classify_plan_one_pass_jvm(spark, corpus, monkeypatch):
    """The corpus-scale path: no Python stage, the weight table
    broadcasts, and the corpus is tokenized exactly ONCE (one Generate
    — the count and the weight sum share one left-join aggregate)."""
    from text_ocr_spark.ops.quality_clf import (
        quality_classify,
        quality_train,
    )

    docs, _ = corpus
    pos = docs.where(F.col("doc_id") % 11 == 0)
    neg = docs.where((F.col("doc_id") % 11 != 0) & (F.col("doc_id") % 3 == 0))
    _hp(monkeypatch, iters=1)
    w = quality_train(pos, neg)
    df = quality_classify(docs, w)
    p = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "MapInPandas" not in p
    assert "BatchEvalPython" not in p
    assert "ArrowEvalPython" not in p
    assert "BroadcastHashJoin" in p
    # tree form "Generate (n)" — one physical explode node, listed once
    # in the tree (its detail block repeats the name as "(n) Generate")
    assert p.count("Generate (") == 1, p


def test_quality_clf_rejects_bad_weight_tables(spark, corpus, monkeypatch):
    """ADVICE r4 regression: the public apply API must refuse a weight
    table with a missing or duplicated bias row instead of silently
    emitting zero rows / multiplied rows, and a repeated feature bucket
    instead of doubling its n_tokens and s_micro."""
    from text_ocr_spark.ops.quality_clf import (
        quality_classify,
        quality_train,
    )

    docs, _ = corpus
    pos = docs.where(F.col("doc_id") % 11 == 0)
    neg = docs.where((F.col("doc_id") % 11 != 0) & (F.col("doc_id") % 3 == 0))
    _hp(monkeypatch, iters=1)
    w = quality_train(pos, neg)

    no_bias = w.where(F.col("b") != -1)
    with pytest.raises(ValueError, match="exactly one bias row"):
        quality_classify(docs, no_bias)

    doubled = w.unionByName(w.where(F.col("b") == -1))
    with pytest.raises(ValueError, match="exactly one bias row"):
        quality_classify(docs, doubled)

    repeated = w.unionByName(w.where(F.col("b") != -1))
    with pytest.raises(ValueError, match="repeats feature buckets"):
        quality_classify(docs, repeated)
