"""Incremental dedup against the persisted signature index: batch-union
differential, the cluster-bridge (merge) case, two-wave index updates,
and the plan gate proving delta cost never re-bands the corpus."""

from __future__ import annotations

import os
import re
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_TINY
from text_ocr_spark.ops import dedup, incremental, similarity
from text_ocr_spark.ops.dedup import collapse_exact, embed_resolve, neardup_resolve
from text_ocr_spark.ops.incremental import (
    build_embed_index,
    build_neardup_index,
    compact_embed_index,
    compact_index,
    embed_incremental_resolve,
    incremental_edges,
    incremental_resolve,
    init_neardup_index,
    update_embed_index,
    update_index,
)
from text_ocr_spark.streaming import stream_dedup_incremental


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_TINY}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_TINY}/embeddings.parquet")


@pytest.fixture
def thresh09(monkeypatch):
    """The hand-built clusters below are disjoint at jaccard 0.9, a cut
    below the default THRESHOLD; batch and index both read it."""
    monkeypatch.setattr(dedup, "THRESHOLD", 0.9)


def _verdicts(df, key="doc_id"):
    return {r[key]: (r.cluster_id, r.keep_id, r.is_dup) for r in df.collect()}


def _split(df, key):
    """(corpus, delta): the key % 5 != 4 / == 4 split the driver checks."""
    return df.filter(F.col(key) % 5 != 4), df.filter(F.col(key) % 5 == 4)


def _thirds(emb):
    """Three embedding waves: vec_id % 3 == 0, 1, 2."""
    return [emb.filter(F.col("vec_id") % 3 == w) for w in range(3)]


def _assert_index_matches_batch_union(spark, docs, tmp):
    corpus, delta = _split(docs, "doc_id")
    build_neardup_index(corpus, tmp)
    inc = _verdicts(incremental_resolve(spark, delta, tmp))
    batch = {
        k: v for k, v in _verdicts(neardup_resolve(docs)).items() if k % 5 == 4
    }
    assert inc == batch
    assert len(inc) > 0


def test_incremental_matches_batch_union(spark, docs, tmp_path):
    """incremental_resolve(delta | index(corpus)) == batch
    neardup_resolve(corpus UNION delta) restricted to the delta — the
    exactness contract, on the real corpus split the driver checks."""
    _assert_index_matches_batch_union(spark, docs, str(tmp_path))


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


# two old clusters, disjoint at threshold 0.9 (the thresh09 fixture):
#   {10, 11}: w0..w39 vs w0..w38           (j = 39/40 = 0.975)
#   {40, 41}: w0..w35+x1..x4 vs +x1..x3    (j = 39/40 = 0.975)
#   cross:    j(10,40) = 36/44 = 0.818 < 0.9
# bridge 70 = w0..w37 + x1 x2: j to BOTH clusters >= 0.90
OLD_A1 = _w(0, 40)
OLD_A2 = _w(0, 39)
OLD_B1 = _w(0, 36, "x1 x2 x3 x4")
OLD_B2 = _w(0, 36, "x1 x2 x3")
BRIDGE = _w(0, 38, "x1 x2")
UNRELATED = "totally unrelated words entirely disjoint vocabulary"
FRESH = "fresh subject matter here today"

# A: one doc of each old cluster plus a singleton
WAVE_A = [(10, OLD_A1), (40, OLD_B1), (55, UNRELATED)]
# B: bridges A's two clusters AND introduces a brand-new text
WAVE_B = [(70, BRIDGE), (71, FRESH)]
# C: exact copy of B's fresh text (hash shortcut), near-dup of the
# bridged component (j(BRIDGE, 81) = 39/40), and a singleton
WAVE_C = [(80, FRESH), (81, _w(0, 38, "x1")),
          (82, "nothing matches this string anywhere")]


def test_incremental_bridges_old_clusters(spark, thresh09, tmp_path):
    """A delta doc near-dupping BOTH old clusters must merge them: its
    verdict takes the global minimum across the two old components —
    exactly what the batch union resolution would say."""
    old = _mini_corpus(
        spark,
        [(10, OLD_A1), (11, OLD_A2), (40, OLD_B1), (41, OLD_B2),
         (55, UNRELATED)],
    )
    new = _mini_corpus(spark, [(70, BRIDGE), (71, "another unrelated doc")])

    tmp = str(tmp_path)
    build_neardup_index(old, tmp)
    inc = _verdicts(incremental_resolve(spark, new, tmp))
    batch = _verdicts(neardup_resolve(old.unionByName(new)))
    assert inc == {k: batch[k] for k in (70, 71)}
    assert inc[70] == (10, 10, 1)  # merged component minimum
    assert inc[71] == (71, 71, 0)


def test_two_wave_update_index(spark, thresh09, tmp_path):
    """Wave B folds into the index (update_index), wave C then resolves
    against the updated index: C's verdicts must equal the batch over
    A UNION B UNION C — including a chain where C only touches B's text
    and a case where B bridged two A-clusters (stale labels healed by
    the appended merge edges)."""
    tmp = str(tmp_path)
    build_neardup_index(_mini_corpus(spark, WAVE_A), tmp)
    b_verdicts = _verdicts(update_index(spark, _mini_corpus(spark, WAVE_B), tmp))
    c_verdicts = _verdicts(
        incremental_resolve(spark, _mini_corpus(spark, WAVE_C), tmp)
    )

    batch = _verdicts(neardup_resolve(_mini_corpus(spark, WAVE_A + WAVE_B + WAVE_C)))
    assert b_verdicts == {k: batch[k] for k in (70, 71)}
    assert c_verdicts == {k: batch[k] for k in (80, 81, 82)}
    # the healed chain: 81 joins the component B bridged (min = 10)
    assert c_verdicts[81][0] == 10
    assert c_verdicts[80] == (71, 71, 1)  # exact-hash shortcut to B's doc


def test_incremental_edge_cases(spark, thresh09, tmp_path):
    """Empty delta -> empty verdicts; all-exact-match delta -> every doc
    adopts its old cluster verdict without any banding candidates."""
    old = _mini_corpus(
        spark, [(10, OLD_A1), (11, OLD_A1), (40, OLD_B1)]
    )  # 10,11 exact dups
    tmp = str(tmp_path)
    build_neardup_index(old, tmp)

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert incremental_resolve(spark, empty, tmp).count() == 0

    # exact copies of old texts only: hash shortcut, no banding needed
    exact_delta = _mini_corpus(spark, [(90, OLD_A1), (91, OLD_B1)])
    got = _verdicts(incremental_resolve(spark, exact_delta, tmp))
    assert got == {90: (10, 10, 1), 91: (40, 40, 1)}


def test_stream_dedup_incremental_three_waves(spark, thresh09, tmp_path):
    """The streaming surface: three waves land as files, each availableNow
    run folds its wave into the index via foreachBatch(update_index).
    Every wave's emitted verdicts must equal the batch resolution of the
    union-so-far restricted to that wave — including the wave-B bridge
    and the wave-C merge-edge healing."""
    waves = [WAVE_A, WAVE_B, WAVE_C]
    tmp = str(tmp_path)
    src, idx, out, ckpt = (f"{tmp}/{d}" for d in ("src", "idx", "out", "ckpt"))
    init_neardup_index(spark, idx)

    for wave in waves:
        _mini_corpus(spark, wave).repartition(1).write.mode("append").parquet(src)
        q = stream_dedup_incremental(spark, src, idx, out, ckpt)
        assert q.awaitTermination(180)  # overlap on a timeout would
        # corrupt the as-of order; fail the test instead

    ledger = _verdicts(spark.read.parquet(out))
    seen: list[tuple[int, str]] = []
    for wave in waves:
        seen += wave
        batch = _verdicts(neardup_resolve(_mini_corpus(spark, seen)))
        for doc_id, _ in wave:
            assert ledger[doc_id] == batch[doc_id], (doc_id, ledger[doc_id])
    assert len(ledger) == sum(len(w) for w in waves)


def test_embed_incremental_matches_batch_union(spark, emb, tmp_path):
    """Embedding modality: embed_incremental_resolve(delta | index) ==
    batch embed_resolve(union) restricted to the delta."""
    corpus, delta = _split(emb, "vec_id")
    tmp = str(tmp_path)
    build_embed_index(corpus, tmp)
    inc = _verdicts(embed_incremental_resolve(spark, delta, tmp), "vec_id")
    batch = {
        k: v for k, v in _verdicts(embed_resolve(emb), "vec_id").items()
        if k % 5 == 4
    }
    assert inc == batch
    assert len(inc) > 0
    assert any(v[2] == 1 for v in inc.values())  # delta really clusters


def test_embed_incremental_forced_small_blocks(
    spark, emb, monkeypatch, tmp_path
):
    """Scale-only-bug protocol: DENSE_BLOCK=16 => ~30 blocks, exercising
    the multi-block paths (wave-namespaced block ids, candidate-block
    join, leftsemi pruning) in BOTH regimes — the prefilter (which the
    block count engages by default) and the exhaustive fallback (forced
    by raising EXHAUSTIVE_BLOCK_LIMIT) — each of which must equal the
    batch union resolution."""
    corpus, delta = _split(emb, "vec_id")
    batch = {
        k: v for k, v in _verdicts(embed_resolve(emb), "vec_id").items()
        if k % 5 == 4
    }
    tmp = str(tmp_path)
    monkeypatch.setattr(dedup, "DENSE_BLOCK", 16)
    build_embed_index(corpus, tmp)
    for limit in (dedup.EXHAUSTIVE_BLOCK_LIMIT, 1 << 30):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(dedup, "EXHAUSTIVE_BLOCK_LIMIT", limit)
            inc = _verdicts(
                embed_incremental_resolve(spark, delta, tmp), "vec_id"
            )
        assert inc == batch, f"block limit={limit}"


def _embed_waves_match_batch(spark, emb, tmp, b_got):
    """Wave B's verdicts (``b_got``) equal the batch over A UNION B
    restricted to B, and wave C resolved against the updated index
    equals the batch over all three slices restricted to C."""
    a, b, c = _thirds(emb)
    c_got = _verdicts(embed_incremental_resolve(spark, c, tmp), "vec_id")
    ab = _verdicts(embed_resolve(a.unionByName(b)), "vec_id")
    abc = _verdicts(embed_resolve(emb), "vec_id")
    assert b_got == {k: v for k, v in ab.items() if k % 3 == 1}
    assert c_got == {k: v for k, v in abc.items() if k % 3 == 2}


def test_embed_two_wave_update(spark, emb, tmp_path):
    """Two embedding waves folded via update_embed_index: wave C's
    verdicts against the updated index equal the batch over all three
    slices restricted to C."""
    a, b, _ = _thirds(emb)
    tmp = str(tmp_path)
    build_embed_index(a, tmp)
    b_got = _verdicts(update_embed_index(spark, b, tmp), "vec_id")
    _embed_waves_match_batch(spark, emb, tmp, b_got)


def test_incremental_plan_never_rebands_corpus(spark, docs, tmp_path):
    """Delta cost is independent of corpus size: the ONLY Python stages
    in the incremental pair plan are the delta's own band computations
    (three MapInPandas references to the delta-reps subtree: the
    index-probe side plus both sides of the delta self-join), and the
    index enters as parquet scans. A corpus-sized re-banding would add
    a MapInPandas whose child scans the index reps — the count pins
    that out, and the index verification path is JVM-only tokens."""
    from tests.test_plans import plan_str

    corpus, delta = _split(docs, "doc_id")
    tmp = str(tmp_path)
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


def test_update_index_crash_replay(
    spark, monkeypatch, thresh09, tmp_path
):
    """ADVICE r3 replay-safety: groups writes LAST, so a crash after the
    bands/reps/merges appends but before groups leaves the exact-hash
    shortcut disengaged — a clean retry fully re-derives the wave and
    later deltas match the batch oracle exactly (duplicate bands/reps/
    merges rows from the crashed attempt are deduped by consumers)."""
    wave_b = _mini_corpus(spark, WAVE_B)
    wave_c = WAVE_C[:2]

    tmp = str(tmp_path)
    build_neardup_index(_mini_corpus(spark, WAVE_A), tmp)

    state = _fail_write_on(monkeypatch, "/groups")
    with pytest.raises(RuntimeError, match="injected crash"):
        update_index(spark, wave_b, tmp)
    assert not state["armed"]  # the crash actually fired mid-update

    # checkpoint replay: the same wave runs again, now to completion
    b_verdicts = _verdicts(update_index(spark, wave_b, tmp))
    c_verdicts = _verdicts(
        incremental_resolve(spark, _mini_corpus(spark, wave_c), tmp)
    )

    batch = _verdicts(neardup_resolve(_mini_corpus(spark, WAVE_A + WAVE_B + wave_c)))
    assert b_verdicts == {k: batch[k] for k in (70, 71)}
    assert c_verdicts == {k: batch[k] for k in (80, 81)}
    # the exact-hash path sees ONE groups row for B's fresh text even
    # after the replay (groups was never double-written)
    groups = spark.read.parquet(f"{tmp}/groups")
    assert groups.groupBy("text_hash").count().filter("count > 1").count() == 0


def test_update_embed_index_crash_replay(
    spark, emb, monkeypatch, tmp_path
):
    """Embedding twin (ADVICE r3): a crash after the vecs/blockbuckets/
    emerges appends but before clusters must leave the index in a state
    a clean retry heals — the delta-id exclusion keeps the retry from
    contracting delta vecs onto half-written rows or forking a new wave
    id, and later waves still match the batch oracle."""
    a, b, _ = _thirds(emb)
    tmp = str(tmp_path)
    build_embed_index(a, tmp)

    state = _fail_write_on(monkeypatch, "/clusters")
    with pytest.raises(RuntimeError, match="injected crash"):
        update_embed_index(spark, b, tmp)
    assert not state["armed"]

    b_got = _verdicts(update_embed_index(spark, b, tmp), "vec_id")
    _embed_waves_match_batch(spark, emb, tmp, b_got)
    # one cluster row per delta vec despite the replay (clusters was
    # never double-written); vecs duplicates are expected and benign
    clusters = spark.read.parquet(f"{tmp}/clusters")
    assert clusters.groupBy("vec_id").count().filter("count > 1").count() == 0


def test_compact_index_preserves_verdicts(spark, thresh09, tmp_path):
    """VERDICT r3 item 8: compacting after the bridge wave (healed
    groups labels, truncated merges) must not change any later delta's
    verdicts vs the uncompacted twin, and merges/ is actually empty so
    future resolves fold zero stale edges."""
    verdicts = []
    for compact in (False, True):
        tmp = str(tmp_path / f"compact_{compact}")
        build_neardup_index(_mini_corpus(spark, WAVE_A), tmp)
        update_index(spark, _mini_corpus(spark, WAVE_B), tmp)
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
                incremental_resolve(spark, _mini_corpus(spark, WAVE_C), tmp)
            )
        )
    assert verdicts[0] == verdicts[1]
    assert verdicts[1][81][0] == 10  # the healed bridge component


def test_compact_embed_index_preserves_verdicts(spark, emb, tmp_path):
    """Embedding twin of the compaction differential."""
    a, b, c = _thirds(emb)
    verdicts = []
    for compact in (False, True):
        tmp = str(tmp_path / f"compact_{compact}")
        build_embed_index(a, tmp)
        update_embed_index(spark, b, tmp)
        if compact:
            compact_embed_index(spark, tmp)
            assert spark.read.parquet(f"{tmp}/emerges").count() == 0
        verdicts.append(
            _verdicts(embed_incremental_resolve(spark, c, tmp), "vec_id")
        )
    assert verdicts[0] == verdicts[1]


def test_incremental_shingled_matches_batch_union(
    spark, docs, monkeypatch, tmp_path
):
    """The shared tokenizer setting reaches the incremental index (r4):
    under NEARDUP_NGRAM = 3, an index built and probed with 3-gram
    shingles must equal the batch shingled resolution of the union,
    restricted to the delta — the same exactness contract as the
    unigram path."""
    monkeypatch.setattr(dedup, "NEARDUP_NGRAM", 3)
    _assert_index_matches_batch_union(spark, docs, str(tmp_path))


def test_index_ngram_metadata(spark, docs, monkeypatch, tmp_path):
    """Review finding r4: the index records its tokenizer setting —
    probing an index built under NEARDUP_NGRAM = 3 after the setting
    changed to 1 raises instead of silently returning near-random band
    collisions."""
    corpus, delta = _split(docs, "doc_id")
    tmp = str(tmp_path)
    monkeypatch.setattr(dedup, "NEARDUP_NGRAM", 3)
    build_neardup_index(corpus, tmp)

    monkeypatch.setattr(dedup, "NEARDUP_NGRAM", 1)
    with pytest.raises(ValueError, match="NEARDUP_NGRAM=3"):
        incremental_resolve(spark, delta, tmp)


def _spy_meta_checks(monkeypatch) -> list:
    reads = []
    real = incremental._check_meta

    def spy(*args):
        reads.append(args)
        return real(*args)

    monkeypatch.setattr(incremental, "_check_meta", spy)
    return reads


def test_update_index_reads_meta_once(spark, monkeypatch, tmp_path):
    """update_index checks the index's meta (a Spark read) once, not
    once itself and again inside incremental_edges."""
    tmp = str(tmp_path)
    build_neardup_index(_mini_corpus(spark, WAVE_A[:2]), tmp)
    reads = _spy_meta_checks(monkeypatch)
    update_index(spark, _mini_corpus(spark, WAVE_B[:1]), tmp).collect()
    assert len(reads) == 1


def test_update_embed_index_reads_meta_once(spark, emb, monkeypatch, tmp_path):
    """The embedding twin: one meta check per update, before its
    appends."""
    tmp = str(tmp_path)
    build_embed_index(emb.filter("vec_id < 40"), tmp)
    reads = _spy_meta_checks(monkeypatch)
    update_embed_index(spark, emb.filter("vec_id between 40 and 59"), tmp)
    assert len(reads) == 1


# A silent divergence without the meta check: j(A, B) = 19/21 = 0.905 and
# j(C, A) = 20/21 = 0.952, so C's cluster is 10 at THRESHOLD 0.95 (the
# build setting) and 5 at 0.9 — an index probed at 0.9 without a meta
# check answers 10 where batch neardup_resolve answers 5
META_A = _w(0, 20)
META_B = _w(0, 19, "y")
META_C = _w(0, 20, "z")


@pytest.fixture(scope="module")
def text_idx(spark, tmp_path_factory):
    """A (doc 10) and B (doc 5), indexed at the default settings."""
    tmp = str(tmp_path_factory.mktemp("text_idx"))
    build_neardup_index(_mini_corpus(spark, [(10, META_A), (5, META_B)]), tmp)
    return tmp


@pytest.fixture(scope="module")
def embed_idx(spark, emb, tmp_path_factory):
    """The vec_id % 5 != 4 corpus, indexed at EMBED_THRESHOLD 0.9."""
    tmp = str(tmp_path_factory.mktemp("embed_idx"))
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(dedup, "EMBED_THRESHOLD", 0.9)
        build_embed_index(_split(emb, "vec_id")[0], tmp)
    return tmp


def _refused(name, built, probed):
    return re.escape(f"built with {name}={built}; probing it with {name}={probed} ")


@pytest.mark.parametrize(
    "name, value", [("THRESHOLD", 0.9), ("NUM_PERM", 64), ("BANDS", 16)]
)
def test_text_index_refuses_other_settings(
    spark, text_idx, monkeypatch, name, value
):
    """Every setting the text index records (NEARDUP_NGRAM: in
    test_index_ngram_metadata): probing under another value raises,
    naming the setting and both values."""
    built = getattr(dedup, name)
    monkeypatch.setattr(dedup, name, value)
    with pytest.raises(ValueError, match=_refused(name, built, value)):
        incremental_resolve(spark, _mini_corpus(spark, [(70, META_C)]), text_idx)


@pytest.mark.parametrize(
    "name, value",
    [("EMBED_THRESHOLD", 0.35), ("LSH_TABLES", 4), ("LSH_PLANES", 8)],
)
def test_embed_index_refuses_other_settings(
    spark, emb, embed_idx, monkeypatch, name, value
):
    """Every setting the embedding index records. Probing the 0.9 index
    at the default 0.35 without the check disagrees with batch
    embed_resolve of the union on 29 of the 100 delta vectors."""
    monkeypatch.setattr(dedup, "EMBED_THRESHOLD", 0.9)
    owner = dedup if name == "EMBED_THRESHOLD" else similarity
    built = getattr(owner, name)
    monkeypatch.setattr(owner, name, value)
    with pytest.raises(ValueError, match=_refused(name, built, value)):
        embed_incremental_resolve(spark, _split(emb, "vec_id")[1], embed_idx)


def test_index_kinds_refuse_each_other(spark, emb, text_idx, embed_idx):
    """A text index probed through the embedding API (and the reverse)
    fails on the settings its meta does not record."""
    with pytest.raises(ValueError, match="EMBED_THRESHOLD=<unrecorded>"):
        embed_incremental_resolve(spark, emb.filter("vec_id < 5"), text_idx)
    with pytest.raises(ValueError, match="NEARDUP_NGRAM=<unrecorded>"):
        incremental_resolve(spark, _mini_corpus(spark, [(70, META_C)]), embed_idx)


def test_updates_refuse_other_settings_before_any_write(
    spark, emb, text_idx, embed_idx, monkeypatch
):
    """A refused update writes nothing: the index keeps its files."""
    def files(root):
        return sorted((d, f) for d, _, fs in os.walk(root) for f in fs)

    before = files(text_idx), files(embed_idx)
    monkeypatch.setattr(dedup, "THRESHOLD", 0.9)
    with pytest.raises(ValueError, match="THRESHOLD"):
        update_index(spark, _mini_corpus(spark, [(70, META_C)]), text_idx)
    with pytest.raises(ValueError, match="EMBED_THRESHOLD"):
        update_embed_index(spark, _split(emb, "vec_id")[1], embed_idx)
    assert (files(text_idx), files(embed_idx)) == before


def test_compact_crash_between_renames_self_heals(
    spark, thresh09, tmp_path
):
    """ADVICE r4 regression: a compaction that crashed between
    _swap_dir's two renames (live groups/ gone, only groups.old left)
    must self-heal on the next index touch — resolve works, and a
    re-run compaction completes — instead of failing until a human
    restores the backup."""
    probe = _mini_corpus(spark, WAVE_C[1:2])
    tmp = str(tmp_path)
    build_neardup_index(_mini_corpus(spark, WAVE_A[:2]), tmp)
    update_index(spark, _mini_corpus(spark, WAVE_B[:1]), tmp)

    # stage the exact on-disk state of a crash between the renames:
    # the rewritten tmp exists, live was renamed to .old, live gone
    live = f"{tmp}/groups"
    shutil.copytree(live, live + ".compact")
    os.rename(live, live + ".old")
    assert not os.path.exists(live)

    v = _verdicts(incremental_resolve(spark, probe, tmp))
    assert v[81][0] == 10  # healed read sees the bridge component
    assert os.path.exists(live) and not os.path.exists(live + ".old")

    # and the re-run compaction completes over the healed index
    compact_index(spark, tmp)
    assert spark.read.parquet(f"{tmp}/merges").count() == 0

    # crash AFTER the second rename (stale backup left behind):
    # the next touch clears it
    shutil.copytree(live, live + ".old")
    incremental_resolve(spark, probe, tmp).count()
    assert not os.path.exists(live + ".old")
