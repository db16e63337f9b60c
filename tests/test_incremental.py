"""Incremental dedup against the persisted signature index: batch-union
differential, the cluster-bridge (merge) case, two-wave index updates,
and the plan gate proving delta cost never re-bands the corpus."""

from __future__ import annotations

import re
import tempfile

import pandas as pd
import pytest

from tests.conftest import SF_TINY


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_TINY}/documents.parquet")


def _verdicts(df):
    return {r.doc_id: (r.cluster_id, r.keep_id, r.is_dup) for r in df.collect()}


def test_incremental_matches_batch_union(spark, docs):
    """incremental_resolve(delta | index(corpus)) == batch
    neardup_resolve(corpus UNION delta) restricted to the delta — the
    exactness contract, on the real corpus split the driver checks."""
    from pyspark.sql import functions as F

    from text_ocr_spark.ops.dedup import neardup_resolve
    from text_ocr_spark.ops.incremental import (
        build_neardup_index,
        incremental_resolve,
    )

    corpus = docs.filter(F.col("doc_id") % 5 != 4)
    delta = docs.filter(F.col("doc_id") % 5 == 4)
    tmp = tempfile.mkdtemp(prefix="inc_idx_")
    build_neardup_index(corpus, tmp)
    inc = _verdicts(incremental_resolve(spark, delta, tmp))
    batch = {
        k: v
        for k, v in _verdicts(neardup_resolve(docs)).items()
        if k % 5 == 4
    }
    assert inc == batch
    assert len(inc) > 0


def _mini_corpus(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": [r[0] for r in rows],
                      "text": [r[1] for r in rows]})
    )


def _w(a: int, b: int, extra: str = "") -> str:
    """Distinct-token text w{a}..w{b-1} (+ extras): jaccards are exact
    set ratios, engineered >= 0.9 so the 32-band LSH candidate recall is
    ~1 - 3e-16 — a bridge must sit at mid-jaccard to BOTH clusters, and
    only >= ~0.9 keeps banding deterministic-in-practice (a 0.5-jaccard
    bridge is outside the contract threshold regime)."""
    return " ".join([f"w{i}" for i in range(a, b)]) + (f" {extra}" if extra else "")


# two old clusters, disjoint at threshold 0.9:
#   {10, 11}: w0..w39 vs w0..w38           (j = 39/40 = 0.975)
#   {40, 41}: w0..w35+x1..x4 vs +x1..x3    (j = 39/40 = 0.975)
#   cross:    j(10,40) = 36/44 = 0.818 < 0.9
# bridge 70 = w0..w37 + x1 x2: j to BOTH clusters >= 0.90
OLD_A1 = _w(0, 40)
OLD_A2 = _w(0, 39)
OLD_B1 = _w(0, 36, "x1 x2 x3 x4")
OLD_B2 = _w(0, 36, "x1 x2 x3")
BRIDGE = _w(0, 38, "x1 x2")
THRESH = 0.9


def test_incremental_bridges_old_clusters(spark):
    """A delta doc near-dupping BOTH old clusters must merge them: its
    verdict takes the global minimum across the two old components —
    exactly what the batch union resolution would say."""
    from text_ocr_spark.ops.dedup import neardup_resolve
    from text_ocr_spark.ops.incremental import (
        build_neardup_index,
        incremental_resolve,
    )

    old = _mini_corpus(
        spark,
        [
            (10, OLD_A1),
            (11, OLD_A2),
            (40, OLD_B1),
            (41, OLD_B2),
            (55, "totally unrelated words entirely disjoint vocabulary"),
        ],
    )
    new = _mini_corpus(spark, [(70, BRIDGE), (71, "another unrelated doc")])

    tmp = tempfile.mkdtemp(prefix="inc_bridge_")
    build_neardup_index(old, tmp, threshold=THRESH)
    inc = _verdicts(incremental_resolve(spark, new, tmp, threshold=THRESH))
    union = old.unionByName(new)
    batch = {
        k: v
        for k, v in _verdicts(neardup_resolve(union, threshold=THRESH)).items()
        if k in (70, 71)
    }
    assert inc == batch
    assert inc[70] == (10, 10, 1)  # merged component minimum
    assert inc[71] == (71, 71, 0)


def test_two_wave_update_index(spark):
    """Wave B folds into the index (update_index), wave C then resolves
    against the updated index: C's verdicts must equal the batch over
    A UNION B UNION C — including a chain where C only touches B's text
    and a case where B bridged two A-clusters (stale labels healed by
    the appended merge edges)."""
    from text_ocr_spark.ops.dedup import neardup_resolve
    from text_ocr_spark.ops.incremental import (
        build_neardup_index,
        incremental_resolve,
        update_index,
    )

    wave_a = _mini_corpus(
        spark,
        [
            (10, OLD_A1),
            (40, OLD_B1),
            (55, "totally unrelated words entirely disjoint vocabulary"),
        ],
    )
    # B: bridges A's two clusters AND introduces a brand-new text
    wave_b = _mini_corpus(
        spark,
        [(70, BRIDGE), (71, "fresh subject matter here today")],
    )
    # C: exact copy of B's fresh text (hash shortcut), near-dup of the
    # bridged component (j(BRIDGE, 81) = 39/40), and a singleton
    wave_c = _mini_corpus(
        spark,
        [
            (80, "fresh subject matter here today"),
            (81, _w(0, 38, "x1")),
            (82, "nothing matches this string anywhere"),
        ],
    )

    tmp = tempfile.mkdtemp(prefix="inc_waves_")
    build_neardup_index(wave_a, tmp, threshold=THRESH)
    b_verdicts = _verdicts(update_index(spark, wave_b, tmp, threshold=THRESH))
    c_verdicts = _verdicts(
        incremental_resolve(spark, wave_c, tmp, threshold=THRESH)
    )

    union = wave_a.unionByName(wave_b).unionByName(wave_c)
    batch = _verdicts(neardup_resolve(union, threshold=THRESH))
    assert b_verdicts == {k: batch[k] for k in (70, 71)}
    assert c_verdicts == {k: batch[k] for k in (80, 81, 82)}
    # the healed chain: 81 joins the component B bridged (min = 10)
    assert c_verdicts[81][0] == 10
    assert c_verdicts[80] == (71, 71, 1)  # exact-hash shortcut to B's doc


def test_incremental_edge_cases(spark):
    """Empty delta -> empty verdicts; all-exact-match delta -> every doc
    adopts its old cluster verdict without any banding candidates."""
    from text_ocr_spark.ops.incremental import (
        build_neardup_index,
        incremental_resolve,
    )

    old = _mini_corpus(
        spark, [(10, OLD_A1), (11, OLD_A1), (40, OLD_B1)]
    )  # 10,11 exact dups
    tmp = tempfile.mkdtemp(prefix="inc_edge_")
    build_neardup_index(old, tmp, threshold=THRESH)

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert incremental_resolve(spark, empty, tmp, threshold=THRESH).count() == 0

    # exact copies of old texts only: hash shortcut, no banding needed
    exact_delta = _mini_corpus(spark, [(90, OLD_A1), (91, OLD_B1)])
    got = _verdicts(incremental_resolve(spark, exact_delta, tmp, THRESH))
    assert got == {90: (10, 10, 1), 91: (40, 40, 1)}


def test_stream_dedup_incremental_three_waves(spark):
    """The streaming surface: three waves land as files, each availableNow
    run folds its wave into the index via foreachBatch(update_index).
    Every wave's emitted verdicts must equal the batch resolution of the
    union-so-far restricted to that wave — including the wave-B bridge
    and the wave-C merge-edge healing."""
    import tempfile

    from text_ocr_spark.ops.dedup import neardup_resolve
    from text_ocr_spark.ops.incremental import init_neardup_index
    from text_ocr_spark.streaming import stream_dedup_incremental

    waves = [
        [(10, OLD_A1), (40, OLD_B1),
         (55, "totally unrelated words entirely disjoint vocabulary")],
        [(70, BRIDGE), (71, "fresh subject matter here today")],
        [(80, "fresh subject matter here today"), (81, _w(0, 38, "x1")),
         (82, "nothing matches this string anywhere")],
    ]

    tmp = tempfile.mkdtemp(prefix="stream_inc_")
    src, idx, out, ckpt = (f"{tmp}/{d}" for d in ("src", "idx", "out", "ckpt"))
    init_neardup_index(spark, idx)

    for wave in waves:
        _mini_corpus(spark, wave).repartition(1).write.mode("append").parquet(src)
        q = stream_dedup_incremental(
            spark, src, idx, out, ckpt, threshold=THRESH
        )
        assert q.awaitTermination(180)  # overlap on a timeout would
        # corrupt the as-of order; fail the test instead

    ledger = {
        r.doc_id: (r.cluster_id, r.keep_id, r.is_dup)
        for r in spark.read.parquet(out).collect()
    }
    seen: list[tuple[int, str]] = []
    for wave in waves:
        seen += wave
        union = _mini_corpus(spark, seen)
        batch = _verdicts(neardup_resolve(union, threshold=THRESH))
        for doc_id, _ in wave:
            assert ledger[doc_id] == batch[doc_id], (doc_id, ledger[doc_id])
    assert len(ledger) == sum(len(w) for w in waves)


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_TINY}/embeddings.parquet")


def test_embed_incremental_matches_batch_union(spark, emb):
    """Embedding modality: embed_incremental_resolve(delta | index) ==
    batch embed_resolve(union) restricted to the delta."""
    from pyspark.sql import functions as F

    from text_ocr_spark.ops.dedup import embed_resolve
    from text_ocr_spark.ops.incremental import (
        build_embed_index,
        embed_incremental_resolve,
    )

    corpus = emb.filter(F.col("vec_id") % 5 != 4)
    delta = emb.filter(F.col("vec_id") % 5 == 4)
    tmp = tempfile.mkdtemp(prefix="einc_idx_")
    build_embed_index(corpus, tmp)
    inc = {
        r.vec_id: (r.cluster_id, r.keep_id, r.is_dup)
        for r in embed_incremental_resolve(spark, delta, tmp).collect()
    }
    batch = {
        r.vec_id: (r.cluster_id, r.keep_id, r.is_dup)
        for r in embed_resolve(emb).collect()
        if r.vec_id % 5 == 4
    }
    assert inc == batch
    assert len(inc) > 0
    assert any(v[2] == 1 for v in inc.values())  # delta really clusters


def test_embed_incremental_forced_small_blocks(spark, emb, monkeypatch):
    """Scale-only-bug protocol: DENSE_BLOCK=16 => ~30 blocks, exercising
    the multi-block paths (wave-namespaced block ids, candidate-block
    join, leftsemi pruning) in BOTH regimes — the prefilter (which the
    block count engages by default) and the exhaustive fallback (forced
    by raising EXHAUSTIVE_BLOCK_LIMIT) — each of which must equal the
    batch union resolution."""
    from pyspark.sql import functions as F

    from text_ocr_spark.ops import dedup
    from text_ocr_spark.ops.dedup import embed_resolve
    from text_ocr_spark.ops.incremental import (
        build_embed_index,
        embed_incremental_resolve,
    )

    corpus = emb.filter(F.col("vec_id") % 5 != 4)
    delta = emb.filter(F.col("vec_id") % 5 == 4)
    batch = {
        r.vec_id: (r.cluster_id, r.is_dup)
        for r in embed_resolve(emb).collect()
        if r.vec_id % 5 == 4
    }
    tmp = tempfile.mkdtemp(prefix="einc_blocks_")
    monkeypatch.setattr(dedup, "DENSE_BLOCK", 16)
    build_embed_index(corpus, tmp)
    for limit in (dedup.EXHAUSTIVE_BLOCK_LIMIT, 1 << 30):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(dedup, "EXHAUSTIVE_BLOCK_LIMIT", limit)
            inc = {
                r.vec_id: (r.cluster_id, r.is_dup)
                for r in embed_incremental_resolve(spark, delta, tmp).collect()
            }
        assert inc == batch, f"block limit={limit}"


def test_embed_two_wave_update(spark, emb):
    """Two embedding waves folded via update_embed_index: wave C's
    verdicts against the updated index equal the batch over all three
    slices restricted to C."""
    from pyspark.sql import functions as F

    from text_ocr_spark.ops.dedup import embed_resolve
    from text_ocr_spark.ops.incremental import (
        build_embed_index,
        embed_incremental_resolve,
        update_embed_index,
    )

    a = emb.filter(F.col("vec_id") % 3 == 0)
    b = emb.filter(F.col("vec_id") % 3 == 1)
    c = emb.filter(F.col("vec_id") % 3 == 2)
    tmp = tempfile.mkdtemp(prefix="einc_waves_")
    build_embed_index(a, tmp)
    b_got = {
        r.vec_id: (r.cluster_id, r.is_dup)
        for r in update_embed_index(spark, b, tmp).collect()
    }
    c_got = {
        r.vec_id: (r.cluster_id, r.is_dup)
        for r in embed_incremental_resolve(spark, c, tmp).collect()
    }
    ab = {
        r.vec_id: (r.cluster_id, r.is_dup)
        for r in embed_resolve(a.unionByName(b)).collect()
        if r.vec_id % 3 == 1
    }
    abc = {
        r.vec_id: (r.cluster_id, r.is_dup)
        for r in embed_resolve(emb).collect()
        if r.vec_id % 3 == 2
    }
    assert b_got == ab
    assert c_got == abc


def test_incremental_plan_never_rebands_corpus(spark, docs):
    """Delta cost is independent of corpus size: the ONLY Python stages
    in the incremental pair plan are the delta's own band computations
    (three MapInPandas references to the delta-reps subtree: the
    index-probe side plus both sides of the delta self-join), and the
    index enters as parquet scans. A corpus-sized re-banding would add
    a MapInPandas whose child scans the index reps — the count pins
    that out, and the index verification path is JVM-only tokens."""
    from pyspark.sql import functions as F

    from tests.test_plans import plan_str
    from text_ocr_spark.ops.dedup import collapse_exact
    from text_ocr_spark.ops.incremental import (
        build_neardup_index,
        incremental_edges,
    )

    corpus = docs.filter(F.col("doc_id") % 5 != 4)
    delta = docs.filter(F.col("doc_id") % 5 == 4)
    tmp = tempfile.mkdtemp(prefix="inc_plan_")
    build_neardup_index(corpus, tmp)
    n_reps, _ = collapse_exact(delta)
    edges = incremental_edges(spark, n_reps, tmp)
    p = plan_str(spark, edges)
    assert len(re.findall(r"\(\d+\) MapInPandas", p)) == 3
    assert f"{tmp}/bands" in p  # the index is JOINED, not recomputed
    assert f"{tmp}/reps" in p  # verification reads stored texts (JVM)
    # no Python evaluation anywhere else (index tokenization is JVM)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def _fail_write_on(monkeypatch, suffix: str):
    """Patch DataFrameWriter.parquet to raise on the FIRST write whose
    path ends with ``suffix`` — simulates a crash mid-update, after the
    earlier appends committed but before this one."""
    from pyspark.sql.readwriter import DataFrameWriter

    orig = DataFrameWriter.parquet
    state = {"armed": True}

    def wrapped(self, path, *a, **kw):
        if state["armed"] and path.endswith(suffix):
            state["armed"] = False
            raise RuntimeError(f"injected crash before {suffix} write")
        return orig(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", wrapped)
    return state


def test_update_index_crash_replay(spark, monkeypatch):
    """ADVICE r3 replay-safety: groups writes LAST, so a crash after the
    bands/reps/merges appends but before groups leaves the exact-hash
    shortcut disengaged — a clean retry fully re-derives the wave and
    later deltas match the batch oracle exactly (duplicate bands/reps/
    merges rows from the crashed attempt are deduped by consumers)."""
    from text_ocr_spark.ops.dedup import neardup_resolve
    from text_ocr_spark.ops.incremental import (
        build_neardup_index,
        incremental_resolve,
        update_index,
    )

    wave_a = _mini_corpus(
        spark,
        [(10, OLD_A1), (40, OLD_B1),
         (55, "totally unrelated words entirely disjoint vocabulary")],
    )
    wave_b = _mini_corpus(
        spark, [(70, BRIDGE), (71, "fresh subject matter here today")]
    )
    wave_c = _mini_corpus(
        spark,
        [(80, "fresh subject matter here today"), (81, _w(0, 38, "x1"))],
    )

    tmp = tempfile.mkdtemp(prefix="inc_crash_")
    build_neardup_index(wave_a, tmp, threshold=THRESH)

    state = _fail_write_on(monkeypatch, "/groups")
    with pytest.raises(RuntimeError, match="injected crash"):
        update_index(spark, wave_b, tmp, threshold=THRESH)
    assert not state["armed"]  # the crash actually fired mid-update

    # checkpoint replay: the same wave runs again, now to completion
    b_verdicts = _verdicts(update_index(spark, wave_b, tmp, threshold=THRESH))
    c_verdicts = _verdicts(
        incremental_resolve(spark, wave_c, tmp, threshold=THRESH)
    )

    union = wave_a.unionByName(wave_b).unionByName(wave_c)
    batch = _verdicts(neardup_resolve(union, threshold=THRESH))
    assert b_verdicts == {k: batch[k] for k in (70, 71)}
    assert c_verdicts == {k: batch[k] for k in (80, 81)}
    # the exact-hash path sees ONE groups row for B's fresh text even
    # after the replay (groups was never double-written)
    groups = spark.read.parquet(f"{tmp}/groups")
    assert groups.groupBy("text_hash").count().filter("count > 1").count() == 0


def test_update_embed_index_crash_replay(spark, emb, monkeypatch):
    """Embedding twin (ADVICE r3): a crash after the vecs/blockbuckets/
    emerges appends but before clusters must leave the index in a state
    a clean retry heals — the delta-id exclusion keeps the retry from
    contracting delta vecs onto half-written rows or forking a new wave
    id, and later waves still match the batch oracle."""
    from pyspark.sql import functions as F

    from text_ocr_spark.ops.dedup import embed_resolve
    from text_ocr_spark.ops.incremental import (
        build_embed_index,
        embed_incremental_resolve,
        update_embed_index,
    )

    a = emb.filter(F.col("vec_id") % 3 == 0)
    b = emb.filter(F.col("vec_id") % 3 == 1)
    c = emb.filter(F.col("vec_id") % 3 == 2)
    tmp = tempfile.mkdtemp(prefix="einc_crash_")
    build_embed_index(a, tmp)

    state = _fail_write_on(monkeypatch, "/clusters")
    with pytest.raises(RuntimeError, match="injected crash"):
        update_embed_index(spark, b, tmp)
    assert not state["armed"]

    b_got = {
        r.vec_id: (r.cluster_id, r.is_dup)
        for r in update_embed_index(spark, b, tmp).collect()
    }
    c_got = {
        r.vec_id: (r.cluster_id, r.is_dup)
        for r in embed_incremental_resolve(spark, c, tmp).collect()
    }
    ab = {
        r.vec_id: (r.cluster_id, r.is_dup)
        for r in embed_resolve(a.unionByName(b)).collect()
        if r.vec_id % 3 == 1
    }
    abc = {
        r.vec_id: (r.cluster_id, r.is_dup)
        for r in embed_resolve(emb).collect()
        if r.vec_id % 3 == 2
    }
    assert b_got == ab
    assert c_got == abc
    # one cluster row per delta vec despite the replay (clusters was
    # never double-written); vecs duplicates are expected and benign
    clusters = spark.read.parquet(f"{tmp}/clusters")
    assert clusters.groupBy("vec_id").count().filter("count > 1").count() == 0


def test_compact_index_preserves_verdicts(spark):
    """VERDICT r3 item 8: compacting after the bridge wave (healed
    groups labels, truncated merges) must not change any later delta's
    verdicts vs the uncompacted twin, and merges/ is actually empty so
    future resolves fold zero stale edges."""
    from text_ocr_spark.ops.incremental import (
        build_neardup_index,
        compact_index,
        incremental_resolve,
        update_index,
    )

    wave_a = [(10, OLD_A1), (40, OLD_B1),
              (55, "totally unrelated words entirely disjoint vocabulary")]
    wave_b = [(70, BRIDGE), (71, "fresh subject matter here today")]
    wave_c = [(80, "fresh subject matter here today"), (81, _w(0, 38, "x1")),
              (82, "nothing matches this string anywhere")]

    tmps = []
    verdicts = []
    for compact in (False, True):
        tmp = tempfile.mkdtemp(prefix=f"inc_compact_{compact}_")
        tmps.append(tmp)
        build_neardup_index(_mini_corpus(spark, wave_a), tmp, threshold=THRESH)
        update_index(spark, _mini_corpus(spark, wave_b), tmp, threshold=THRESH)
        if compact:
            assert spark.read.parquet(f"{tmp}/merges").count() > 0  # the
            # bridge really produced merge edges — compaction has work
            compact_index(spark, tmp)
            assert spark.read.parquet(f"{tmp}/merges").count() == 0
            # healed labels: every group points at its component minimum
            g = spark.read.parquet(f"{tmp}/groups")
            assert g.filter("cluster_id > rep_id").count() == 0
        verdicts.append(
            _verdicts(
                incremental_resolve(
                    spark, _mini_corpus(spark, wave_c), tmp, threshold=THRESH
                )
            )
        )
    assert verdicts[0] == verdicts[1]
    assert verdicts[1][81][0] == 10  # the healed bridge component


def test_compact_embed_index_preserves_verdicts(spark, emb):
    """Embedding twin of the compaction differential."""
    from pyspark.sql import functions as F

    from text_ocr_spark.ops.incremental import (
        build_embed_index,
        compact_embed_index,
        embed_incremental_resolve,
        update_embed_index,
    )

    a = emb.filter(F.col("vec_id") % 3 == 0)
    b = emb.filter(F.col("vec_id") % 3 == 1)
    c = emb.filter(F.col("vec_id") % 3 == 2)
    verdicts = []
    for compact in (False, True):
        tmp = tempfile.mkdtemp(prefix=f"einc_compact_{compact}_")
        build_embed_index(a, tmp)
        update_embed_index(spark, b, tmp)
        if compact:
            compact_embed_index(spark, tmp)
            assert spark.read.parquet(f"{tmp}/emerges").count() == 0
        verdicts.append(
            {
                r.vec_id: (r.cluster_id, r.is_dup)
                for r in embed_incremental_resolve(spark, c, tmp).collect()
            }
        )
    assert verdicts[0] == verdicts[1]


def test_incremental_shingled_matches_batch_union(spark, docs):
    """ngram threading through the incremental index (r4): an index
    built and probed with 3-gram shingles must equal the batch shingled
    resolution of the union, restricted to the delta — the same
    exactness contract as the unigram path."""
    from pyspark.sql import functions as F

    from text_ocr_spark.ops.dedup import neardup_resolve
    from text_ocr_spark.ops.incremental import (
        build_neardup_index,
        incremental_resolve,
    )

    corpus = docs.filter(F.col("doc_id") % 5 != 4)
    delta = docs.filter(F.col("doc_id") % 5 == 4)
    tmp = tempfile.mkdtemp(prefix="inc_shingle_")
    build_neardup_index(corpus, tmp, ngram=3)
    inc = _verdicts(incremental_resolve(spark, delta, tmp, ngram=3))
    batch = {
        k: v
        for k, v in _verdicts(neardup_resolve(docs, ngram=3)).items()
        if k % 5 == 4
    }
    assert inc == batch
    assert len(inc) > 0


def test_index_ngram_metadata(spark, docs):
    """Review finding r4: the index records its tokenizer setting —
    probing a shingle-built index with the wrong ngram raises instead of
    silently returning near-random band collisions, and ngram=None
    adopts the stored setting."""
    from pyspark.sql import functions as F

    from text_ocr_spark.ops.incremental import (
        build_neardup_index,
        incremental_resolve,
    )

    corpus = docs.filter(F.col("doc_id") % 5 != 4)
    delta = docs.filter(F.col("doc_id") % 5 == 4)
    tmp = tempfile.mkdtemp(prefix="inc_meta_")
    build_neardup_index(corpus, tmp, ngram=3)

    with pytest.raises(ValueError, match="ngram=3"):
        incremental_resolve(spark, delta, tmp, ngram=1)

    adopted = _verdicts(incremental_resolve(spark, delta, tmp))  # None
    explicit = _verdicts(incremental_resolve(spark, delta, tmp, ngram=3))
    assert adopted == explicit and len(adopted) > 0


def test_compact_crash_between_renames_self_heals(spark):
    """ADVICE r4 regression: a compaction that crashed between
    _swap_dir's two renames (live groups/ gone, only groups.old left)
    must self-heal on the next index touch — resolve works, and a
    re-run compaction completes — instead of failing until a human
    restores the backup."""
    import os
    import shutil

    from text_ocr_spark.ops.incremental import (
        build_neardup_index,
        compact_index,
        incremental_resolve,
        update_index,
    )

    wave_a = [(10, OLD_A1), (40, OLD_B1)]
    wave_b = [(70, BRIDGE)]
    probe = [(81, _w(0, 38, "x1"))]

    tmp = tempfile.mkdtemp(prefix="inc_crash_heal_")
    try:
        build_neardup_index(_mini_corpus(spark, wave_a), tmp, threshold=THRESH)
        update_index(spark, _mini_corpus(spark, wave_b), tmp, threshold=THRESH)

        # stage the exact on-disk state of a crash between the renames:
        # the rewritten tmp exists, live was renamed to .old, live gone
        live = f"{tmp}/groups"
        shutil.copytree(live, live + ".compact")
        os.rename(live, live + ".old")
        assert not os.path.exists(live)

        v = _verdicts(
            incremental_resolve(
                spark, _mini_corpus(spark, probe), tmp, threshold=THRESH
            )
        )
        assert v[81][0] == 10  # healed read sees the bridge component
        assert os.path.exists(live) and not os.path.exists(live + ".old")

        # and the re-run compaction completes over the healed index
        compact_index(spark, tmp)
        assert spark.read.parquet(f"{tmp}/merges").count() == 0

        # crash AFTER the second rename (stale backup left behind):
        # the next touch clears it
        shutil.copytree(live, live + ".old")
        incremental_resolve(
            spark, _mini_corpus(spark, probe), tmp, threshold=THRESH
        ).count()
        assert not os.path.exists(live + ".old")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
