"""Substring-span dedup (ops/span_dedup.py) and stratified sampling
(ops/curate.py::sample_stratified) unit coverage. The corpus-level
oracle parity runs through the contract (scripts/check_contract.py);
these tests pin the edge semantics the sf0.01 corpus cannot reach:
within-doc repeats, interval merging, short/NULL/empty docs, full-cover
cuts, and the sampling draw's exact hash arithmetic. The span ops run
at a 4-token window (``span_dedup.NGRAM`` patched) so hand-built docs
stay short.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from text_ocr_spark.ops import curate, span_dedup
from text_ocr_spark.ops.curate import sample_stratified
from text_ocr_spark.ops.span_dedup import dup_spans, strip_dup_spans


@pytest.fixture
def ngram4(monkeypatch):
    monkeypatch.setattr(span_dedup, "NGRAM", 4)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _words(*idx):
    return " ".join(f"w{i}" for i in idx)


def test_cross_doc_duplicate_window_found(spark, ngram4):
    """A 4-gram shared by two docs marks the covering span in both;
    a doc with no duplicated window emits nothing."""
    shared = _words(0, 1, 2, 3)
    rows = [
        (1, f"{shared} {_words(10, 11, 12)}"),
        (2, f"{_words(20, 21)} {shared}"),
        (3, _words(30, 31, 32, 33, 34)),
    ]
    got = {
        (r.doc_id, r.span_start, r.span_end)
        for r in dup_spans(_docs(spark, rows)).collect()
    }
    assert got == {(1, 0, 4), (2, 2, 6)}


def test_within_doc_repeat_counts(spark, ngram4):
    """MIN_COUNT counts TOTAL occurrences (paper semantics): a doc
    repeating its own window twice is duplicated with no second doc."""
    rep = _words(0, 1, 2, 3)
    rows = [(1, f"{rep} {_words(9)} {rep}")]
    got = [
        (r.span_start, r.span_end)
        for r in dup_spans(_docs(spark, rows))
        .orderBy("span_start")
        .collect()
    ]
    assert got == [(0, 4), (5, 9)]


def test_overlapping_and_touching_intervals_merge(spark, ngram4):
    """Consecutive duplicated windows merge into one maximal interval:
    a shared 5-token run under NGRAM = 4 yields two overlapping hits
    (pos 0 and 1) -> ONE [0, 5) span."""
    run = _words(0, 1, 2, 3, 4)
    rows = [(1, f"{run} {_words(10, 11)}"), (2, f"{_words(20)} {run}")]
    got = {
        (r.doc_id, r.span_start, r.span_end)
        for r in dup_spans(_docs(spark, rows)).collect()
    }
    assert got == {(1, 0, 5), (2, 1, 6)}


def test_short_null_and_empty_docs_emit_nothing(spark, ngram4):
    rows = [(1, _words(0, 1)), (2, None), (3, ""), (4, "   ")]
    assert dup_spans(_docs(spark, rows)).count() == 0


def test_strip_cuts_spans_and_counts(spark, ngram4):
    shared = _words(0, 1, 2, 3)
    rows = [
        (1, f"{shared} {_words(10, 11, 12)}"),
        (2, f"{_words(20, 21)}  {shared}"),  # double space normalizes
        (3, _words(30, 31)),
        (4, None),
        (5, shared),  # fully covered -> ''
    ]
    got = {
        r.doc_id: (r.clean_text, r.n_cut)
        for r in strip_dup_spans(_docs(spark, rows)).collect()
    }
    assert got[1] == (_words(10, 11, 12), 4)
    assert got[2] == (_words(20, 21), 4)
    assert got[3] == (_words(30, 31), 0)  # pass-through, normalized
    assert got[4] == (None, None)
    assert got[5] == ("", 4)


def test_strip_preserves_every_doc_row(spark, ngram4):
    rows = [(i, _words(i, i + 1, i + 2, i + 3)) for i in range(10)]
    out = strip_dup_spans(_docs(spark, rows))
    assert out.count() == 10


def test_span_plans_are_pure_jvm(spark, ngram4):
    rows = [(1, _words(0, 1, 2, 3)), (2, _words(0, 1, 2, 3))]
    for df in (
        dup_spans(_docs(spark, rows)),
        strip_dup_spans(_docs(spark, rows)),
    ):
        p = df._jdf.queryExecution().executedPlan().toString()
        for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert marker not in p


# ---------------------------------------------------------------------------
# sample_stratified
# ---------------------------------------------------------------------------


def _lang_docs(spark, n=200):
    langs = ["en", "de", "fr", "zh"]
    rows = [(i, f"text {i}", langs[i % 4]) for i in range(n)]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    )


def _expect_keep(doc_id: int, frac: float, seed: int = 42) -> bool:
    draw = hashlib.md5(f"{seed}:{doc_id}".encode()).hexdigest()[:8]
    if frac >= 1.0:
        return True
    return draw < format(int(frac * 2**32), "08x")


def test_sample_matches_exact_hash_arithmetic(spark):
    """Row membership equals the reference md5 computation exactly —
    the draw is a pure row function, independent of partitioning."""
    fr = {"en": 0.3, "de": 1.0, "fr": 0.0}
    docs = _lang_docs(spark)
    got = {r.doc_id for r in sample_stratified(docs, fr).collect()}
    want = {
        i
        for i in range(200)
        if ["en", "de", "fr", "zh"][i % 4] in fr
        and _expect_keep(i, fr[["en", "de", "fr", "zh"][i % 4]])
    }
    assert got == want
    # de keeps ALL (frac 1.0); fr and unlisted zh keep none
    assert {i for i in range(200) if i % 4 == 1} <= got
    assert not any(i % 4 in (2, 3) for i in got)


def test_sample_is_deterministic_and_partition_independent(spark):
    fr = {"en": 0.5, "de": 0.5}
    docs = _lang_docs(spark)
    a = sorted(r.doc_id for r in sample_stratified(docs, fr).collect())
    b = sorted(
        r.doc_id for r in sample_stratified(docs.repartition(13), fr).collect()
    )
    assert a == b and len(a) > 0


def test_sample_seed_changes_membership(spark, monkeypatch):
    fr = {"en": 0.5}
    docs = _lang_docs(spark)
    monkeypatch.setattr(curate, "SAMPLE_SEED", 1)
    a = {r.doc_id for r in sample_stratified(docs, fr).collect()}
    monkeypatch.setattr(curate, "SAMPLE_SEED", 2)
    b = {r.doc_id for r in sample_stratified(docs, fr).collect()}
    assert a != b


def test_sample_plan_is_single_pass_no_exchange(spark, tmp_path):
    """The sample is a pushed filter over a pruned scan: zero exchanges,
    zero Python — it composes with downstream ops without a barrier."""
    p = str(tmp_path / "docs.parquet")
    _lang_docs(spark).write.parquet(p)
    plan = (
        sample_stratified(spark.read.parquet(p), {"en": 0.5})
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
    assert "ReadSchema: struct<doc_id:bigint,lang:string>" in plan


# ---------------------------------------------------------------------------
# pack_shards
# ---------------------------------------------------------------------------

from text_ocr_spark.ops.curate import pack_shards  # noqa: E402


@pytest.fixture
def bucket2(monkeypatch):
    """Two docs per prefix-sum bucket, so small inputs span buckets."""
    monkeypatch.setattr(curate, "BUCKET_SIZE", 2)


def _tok_docs(spark, counts):
    rows = [
        (i, " ".join(f"t{i}_{j}" for j in range(c)) if c is not None else None)
        for i, c in enumerate(counts)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_pack_shards_exclusive_prefix_sum(spark, bucket2):
    """shard_id = floor(exclusive cumsum / budget): boundaries land
    exactly where the running total crosses the budget, a doc may
    overshoot its shard, and boundary docs start the NEXT shard."""
    docs = _tok_docs(spark, [3, 3, 3, 3])  # budget 6: cum 0,3,6,9
    got = {
        r.doc_id: r.shard_id for r in pack_shards(docs, 6).collect()
    }
    assert got == {0: 0, 1: 0, 2: 1, 3: 1}


def test_pack_shards_null_and_empty_ride_along(spark, bucket2):
    docs = _tok_docs(spark, [5, None, 5])
    rows = {
        r.doc_id: (r.n_tokens, r.shard_id)
        for r in pack_shards(docs, 5).collect()
    }
    # doc 1 (NULL) contributes 0 tokens; cum: 0, 5, 5
    assert rows == {0: (5, 0), 1: (0, 1), 2: (5, 1)}
    empty = _tok_docs(spark, [1])
    e = pack_shards(empty.withColumn("text", F.lit("   ")), 5).collect()[0]
    assert (e.n_tokens, e.shard_id) == (0, 0)


def test_pack_shards_bucket_size_invariant(spark, monkeypatch):
    """The two-level distributed prefix sum is bit-identical to the
    single-window form: BUCKET_SIZE 1 (every doc its own bucket),
    BUCKET_SIZE 7 (uneven buckets), and BUCKET_SIZE 10^9 (one bucket —
    the plain global window) all agree."""
    counts = [(i * 37) % 23 for i in range(101)]
    counts[13] = 0
    docs = _tok_docs(spark, counts)
    outs = []
    for b in (1, 7, 10**9):
        monkeypatch.setattr(curate, "BUCKET_SIZE", b)
        outs.append(sorted(tuple(r) for r in pack_shards(docs, 50).collect()))
    assert outs[0] == outs[1] == outs[2]
    # shards are contiguous in doc_id order and all used
    shard_of = {d: s for d, _, s in outs[0]}
    seq = [shard_of[d] for d in sorted(shard_of)]
    assert seq == sorted(seq)
    assert set(seq) == set(range(max(seq) + 1))


def test_pack_shards_plan_no_global_corpus_window(
    spark, tmp_path, monkeypatch
):
    """Scale gate: the corpus-wide stages never sort globally — the
    only non-partitioned window runs over the SMALL bucket frame. The
    corpus side sees one bucket-hash exchange for the per-bucket window
    plus the broadcast offset join; no Python anywhere."""
    p = str(tmp_path / "docs.parquet")
    _tok_docs(spark, [(i * 17) % 31 for i in range(300)]).write.parquet(p)
    monkeypatch.setattr(curate, "BUCKET_SIZE", 16)
    df = pack_shards(spark.read.parquet(p), 100)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
    assert "BroadcastExchange" in plan
    # the window over the full corpus is partitioned by bucket; the
    # single-partition window exists only below the bucket aggregate
    import re

    singles = re.findall(r"Window \[[^\]]*\], \[([^\]]*)\]", plan)
    assert any("bucket" in s for s in singles)


def test_pack_shards_rejects_a_budget_below_one(spark):
    """A budget below 1 has no shards to fill: 0 would divide by zero
    on the executors and a negative budget would number shards
    backwards (0, -2, -3, ...). Both raise before any plan is built."""
    docs = _tok_docs(spark, [3, 3, 3])
    for bad in (0, -4):
        with pytest.raises(ValueError, match="max_tokens must be >= 1"):
            pack_shards(docs, bad)
        with pytest.raises(ValueError, match="max_tokens must be >= 1"):
            pack_shards(docs, bad, shuffle_seed=7)


def test_pack_shards_whitespace_token_contract(spark, bucket2):
    """The budget counts REAL tokens: trailing newlines add no phantom
    token and tabs-only docs count 0 (docstring contract) — the raw
    size(split(trim)) idiom would count 3 and 2 here."""
    rows = [(0, "a b\n"), (1, "\t"), (2, "  "), (3, "x y z")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.n_tokens for r in pack_shards(df, 100).collect()}
    assert got == {0: 2, 1: 0, 2: 0, 3: 3}


# ---------------------------------------------------------------------------
# pack_shards(shuffle_seed) — deterministic shuffle-then-pack
# ---------------------------------------------------------------------------


def test_pack_shards_shuffled_equals_global_window(spark):
    """The hex-prefix bucketing is a PREFIX of the (draw, doc_id) order
    key, so the two-level form is bit-identical to one global window
    ordered by the draw."""
    from pyspark.sql import Window

    counts = [(i * 41) % 19 for i in range(151)]
    docs = _tok_docs(spark, counts)
    got = sorted(
        tuple(r) for r in pack_shards(docs, 40, shuffle_seed=7).collect()
    )
    draw = F.md5(
        F.concat_ws(":", F.lit("7"), F.col("doc_id").cast("string")).cast(
            "binary"
        )
    )
    toks = F.split(F.trim(F.col("text")), r"[ \t\n\f\r]+")
    n_tok = (
        F.when(
            F.col("text").isNotNull(),
            F.size(F.filter(toks, lambda x: x != F.lit(""))),
        )
        .otherwise(F.lit(0))
        .cast("long")
    )
    w = Window.orderBy("draw", "doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    want = sorted(
        tuple(r)
        for r in docs.select(
            "doc_id", n_tok.alias("n_tokens"), draw.alias("draw")
        )
        .withColumn(
            "shard_id",
            F.floor(
                F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / F.lit(40)
            ).cast("long"),
        )
        .select("doc_id", "n_tokens", "shard_id")
        .collect()
    )
    assert got == want


def test_pack_shards_shuffled_permutes_but_keeps_budget(spark):
    """The shuffled layout actually decorrelates doc_id from shard_id,
    stays deterministic per seed, differs across seeds, and every shard
    still holds <= budget + one overshoot doc."""
    counts = [5] * 60
    docs = _tok_docs(spark, counts)
    a = {r.doc_id: r.shard_id for r in pack_shards(docs, 25, shuffle_seed=7).collect()}
    b = {r.doc_id: r.shard_id for r in pack_shards(docs, 25, shuffle_seed=7).collect()}
    c = {r.doc_id: r.shard_id for r in pack_shards(docs, 25, shuffle_seed=8).collect()}
    assert a == b
    assert a != c
    # uniform 5-token docs, budget 25 -> every shard exactly 5 docs,
    # but membership is NOT five consecutive doc_ids for every shard
    from collections import Counter

    sizes = Counter(a.values())
    assert set(sizes.values()) == {5}
    consecutive = sum(
        1
        for s in sizes
        if sorted(d for d, sh in a.items() if sh == s)
        == list(range(min(d for d, sh in a.items() if sh == s),
                      min(d for d, sh in a.items() if sh == s) + 5))
    )
    assert consecutive < len(sizes)


# ---------------------------------------------------------------------------
# sample_weighted — upsampling (frac > 1) via deterministic epochs
# ---------------------------------------------------------------------------

from text_ocr_spark.ops.curate import sample_weighted  # noqa: E402


def test_sample_weighted_epoch_counts(spark):
    """frac = 2.0 -> exactly 2 epochs per doc; frac = 2.5 -> 2 or 3
    with the SAME md5 draw deciding the extra copy as
    sample_stratified's membership; frac < 1 degenerates to
    sample_stratified (0 or 1 copies); 0.0 and unlisted keys drop."""
    fr = {"en": 2.0, "de": 2.5, "fr": 0.3, "es": 0.0}
    docs = _lang_docs(spark)  # en/de/fr/zh round-robin
    out = sample_weighted(docs, fr).collect()
    from collections import Counter

    copies = Counter(r.doc_id for r in out)
    langs = ["en", "de", "fr", "zh"]
    for i in range(200):
        lang = langs[i % 4]
        if lang == "en":
            assert copies[i] == 2
        elif lang == "de":
            assert copies[i] == 2 + int(_expect_keep(i, 0.5))
        elif lang == "fr":
            assert copies[i] == int(_expect_keep(i, 0.3))
        else:
            assert copies[i] == 0
    # epochs are 0..n-1 per doc
    eps = {}
    for r in out:
        eps.setdefault(r.doc_id, []).append(r.epoch)
    assert all(sorted(v) == list(range(len(v))) for v in eps.values())
    # the fractional membership below 1.0 equals sample_stratified's
    kept_strat = {
        r.doc_id
        for r in sample_stratified(docs, {"fr": 0.3}).collect()
    }
    assert {r.doc_id for r in out if r.lang == "fr"} == kept_strat


def test_sample_weighted_plan_zero_exchange(spark, tmp_path):
    """Upsampling stays a map-only plan: filter + bounded explode, no
    shuffle, no Python."""
    p = str(tmp_path / "docs.parquet")
    _lang_docs(spark).write.parquet(p)
    plan = (
        sample_weighted(spark.read.parquet(p), {"en": 2.5})
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
