"""DSIR importance resampling (ops/dsir.py): exact pure-Python replay,
Gumbel-top-k selection semantics, partition independence, NULL/empty
discipline, and the pure-JVM + TakeOrderedAndProject plan gates. Tests
set the bucket count by patching ``dsir.N_BUCKETS``."""

from __future__ import annotations

import hashlib
import math
import re

import pytest
from pyspark.sql import functions as F

SF_TINY = "/root/testdata/sf0.001"

WS = re.compile(r"[ \t\n\f\r]+")
B = 64  # small bucket count so collisions actually occur in the replay


@pytest.fixture
def small_buckets(monkeypatch):
    from text_ocr_spark.ops import dsir

    monkeypatch.setattr(dsir, "N_BUCKETS", B)


def _half_up(x: float) -> int:
    # java.math.BigDecimal HALF_UP == half away from zero
    return math.floor(x + 0.5) if x >= 0 else math.ceil(x - 0.5)


def _toks(text):
    if text is None:
        return []
    return [t for t in WS.split(text.lower().strip()) if t]


def _grams(text):
    t = _toks(text)
    return t + [f"{a} {b}" for a, b in zip(t, t[1:])]


def _bucket(tok: str, n_buckets: int) -> int:
    return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % n_buckets


def _replay(rows, target_rows, k, n_buckets=B, seed=42):
    """Pure-Python DSIR over [(doc_id, text)]: the committed-oracle twin
    the Spark plan must equal bit-for-bit."""
    from collections import Counter

    feats = {
        d: Counter(_bucket(g, n_buckets) for g in _grams(t)) for d, t in rows
    }
    cp: Counter = Counter()
    for _, t in target_rows:
        cp.update(_bucket(g, n_buckets) for g in _grams(t))
    cq: Counter = Counter()
    for c in feats.values():
        cq.update(c)
    pn, qn = sum(cp.values()), sum(cq.values())
    lp = {
        b: _half_up(
            (
                math.log((cp.get(b, 0) + 1) / (pn + n_buckets))
                - math.log((cq[b] + 1) / (qn + n_buckets))
            )
            * 1e6
        )
        for b in cq
    }
    out = {}
    for d, _ in rows:
        c = feats[d]
        logw = sum(n * lp[b] for b, n in c.items())
        draw = int(
            hashlib.md5(f"{seed}:{d}".encode()).hexdigest()[:8], 16
        )
        u = (draw + 0.5) / 2**32
        key = logw + _half_up(-math.log(-math.log(u)) * 1e6)
        out[d] = [sum(c.values()), logw, key, 0]
    for d in sorted(out, key=lambda d: (-out[d][2], d))[:k]:
        out[d][3] = 1
    return {
        d: (v[0], v[1], v[2], v[3]) for d, v in out.items()
    }


@pytest.fixture(scope="module")
def corpus(spark):
    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet").select(
        "doc_id", "text"
    )
    rows = [(r.doc_id, r.text) for r in docs.collect()]
    return docs, rows


def test_dsir_matches_pure_python_replay(spark, corpus, small_buckets):
    from text_ocr_spark.ops.dsir import dsir_select

    docs, rows = corpus
    target = docs.where(F.col("doc_id") % 11 == 0)
    got = {
        r.doc_id: (r.n_feats, r.logw_micro, r.key_micro, r.selected)
        for r in dsir_select(docs, target, k=10).collect()
    }
    want = _replay(rows, [r for r in rows if r[0] % 11 == 0], k=10)
    assert got == want
    assert sum(v[3] for v in got.values()) == 10


def test_dsir_replay_on_adversarial_corpus(spark, small_buckets):
    """Replay equality on constructed edge docs the fixture grammar
    never produces: NULL / empty / whitespace-only / single-token
    (no bigram) / tab-and-CRLF-edged / unicode / exact-duplicate /
    case-folding pairs."""
    from text_ocr_spark.ops.dsir import dsir_select

    rows = [
        (0, None),
        (1, ""),
        (2, " \t\r\n "),
        (3, "solo"),
        (4, "\talpha\tbeta\r\ngamma  alpha\n"),
        (5, "héllo wörld héllo"),
        (6, "héllo wörld héllo"),
        (7, "ALPHA Beta alpha beta"),
        (8, "alpha beta alpha beta"),
        (9, "a " * 200),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    target = docs.where(F.col("doc_id") % 2 == 0)
    got = {
        r.doc_id: (r.n_feats, r.logw_micro, r.key_micro, r.selected)
        for r in dsir_select(docs, target, k=4).collect()
    }
    want = _replay(rows, [r for r in rows if r[0] % 2 == 0], k=4)
    assert got == want


def test_dsir_prefers_target_like_docs(spark, monkeypatch):
    """Docs sharing the target's vocabulary must outweigh disjoint
    ones — the one-line sanity DSIR exists for."""
    from text_ocr_spark.ops import dsir
    from text_ocr_spark.ops.dsir import dsir_select

    monkeypatch.setattr(dsir, "N_BUCKETS", 256)
    docs = spark.createDataFrame(
        [(0, "alpha beta gamma alpha beta"), (1, "delta epsilon zeta eta")],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [(100, "alpha beta alpha gamma beta alpha")],
        "doc_id long, text string",
    )
    w = {
        r.doc_id: r.logw_micro
        for r in dsir_select(docs, target, k=1).collect()
    }
    assert w[0] > w[1]


def test_dsir_partition_independence(spark, corpus, small_buckets):
    from text_ocr_spark.ops.dsir import dsir_select

    docs, _ = corpus
    target = docs.where(F.col("doc_id") % 11 == 0)
    a = dsir_select(docs, target, k=25)
    b = dsir_select(docs.repartition(7, "text"), target.repartition(3), k=25)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_dsir_null_and_empty_text(spark):
    """NULL/empty docs carry weight 0 (importance 1), never NULL, and
    still compete on the Gumbel draw — gopher_filter discipline."""
    from text_ocr_spark.ops.dsir import dsir_select

    docs = spark.createDataFrame(
        [(0, None), (1, ""), (2, "alpha beta")],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [(9, "alpha beta")], "doc_id long, text string"
    )
    rows = {
        r.doc_id: r for r in dsir_select(docs, target, k=3).collect()
    }
    assert rows[0].n_feats == 0 and rows[0].logw_micro == 0
    assert rows[1].n_feats == 0 and rows[1].logw_micro == 0
    assert rows[2].n_feats == 3  # 2 unigrams + 1 bigram
    assert all(r.selected == 1 for r in rows.values())  # n < k selects all


def test_dsir_k_edges(spark, corpus, small_buckets):
    from text_ocr_spark.ops.dsir import dsir_select

    docs, rows = corpus
    target = docs.where(F.col("doc_id") % 11 == 0)
    n = len(rows)
    assert (
        dsir_select(docs, target, k=n + 50)
        .where("selected = 1")
        .count()
        == n
    )
    assert (
        dsir_select(docs, target, k=1)
        .where("selected = 1")
        .count()
        == 1
    )
    with pytest.raises(ValueError):
        dsir_select(docs, target, k=0)


def test_dsir_plan_is_jvm_only_with_topk_boundary(spark, corpus):
    """No Python stage anywhere; the k-boundary must be a
    TakeOrderedAndProject (driver holds k pairs, never a global sort);
    the log-ratio model table must broadcast."""
    from text_ocr_spark.ops.dsir import dsir_select

    docs, _ = corpus
    target = docs.where(F.col("doc_id") % 11 == 0)
    df = dsir_select(docs, target, k=10)
    p = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "MapInPandas" not in p
    assert "BatchEvalPython" not in p
    assert "ArrowEvalPython" not in p
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p


def test_dsir_runtime_reuses_the_scoring_exchange(
    spark, corpus, small_buckets
):
    """The executed adaptive plan must tokenize the corpus exactly
    twice (model fit + scoring) plus once for the target slice — the
    published algorithm's inherent shape. The threshold branch must
    REUSE the scoring shuffle, not recompute it: that reuse hinges on
    the boundary struct referencing every `base` column so column
    pruning stays symmetric (ops/dsir.py), and silently breaking it
    doubles the corpus work. 3 Generates = raw fit, target fit,
    scoring; >= 2 ReusedExchange = the docs scan and the scored
    broadcast under the threshold branch."""
    from text_ocr_spark.ops.dsir import dsir_select

    docs, _ = corpus
    target = docs.where(F.col("doc_id") % 11 == 0)
    df = dsir_select(docs, target, k=10)
    df.collect()
    p = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "isFinalPlan=true" in p
    final = p.split("== Initial Plan ==")[0]
    assert final.count("Generate") == 3, final
    assert final.count("ReusedExchange") >= 2, final
