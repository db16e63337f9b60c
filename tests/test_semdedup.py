"""SemDeDup (ops/dedup.py::semdedup): pure-Python replay equality at a
non-default (KMEANS_K, KMEANS_ITERS), the paper's farthest-from-centroid
keep rule, within-cell-only pairing, sub-block differentials at a
patched DENSE_BLOCK, and partition independence of training and dedup
alike. Tests set the cells through the patched similarity constants."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_TINY = "/root/testdata/sf0.001"
THR = 0.35


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_TINY}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


def _kmeans(monkeypatch, k, iters):
    from text_ocr_spark.ops import similarity

    monkeypatch.setattr(similarity, "KMEANS_K", k)
    monkeypatch.setattr(similarity, "KMEANS_ITERS", iters)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _replay(rows, k, iters, thr=THR):
    """Pure-Python SemDeDup twin (independent of the committed golden's
    scale/params): replayed k-means, per-cell numpy cosine matrices,
    union-find, keep = min (micro-cos-to-centroid, vec_id)."""
    import os
    import sys

    import numpy as np

    tests_dir = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, os.path.join(os.path.dirname(tests_dir), "scripts"))
    from gen_op_golden import _half_up, replay_kmeans, seq_cosine

    vecs = {
        int(r.vec_id): [float(np.float32(v)) for v in r.embedding]
        for r in rows
    }
    cents, assign = replay_kmeans(vecs, k=k, iters=iters)
    cent_of = {v: assign(v) for v in vecs}
    cells: dict[int, list[int]] = {}
    for v in sorted(vecs):
        cells.setdefault(cent_of[v], []).append(v)
    parent = {v: v for v in vecs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for members in cells.values():
        mat = np.array([vecs[v] for v in members], dtype=np.float64)
        nrm = np.sqrt((mat * mat).sum(axis=1))
        cos = (mat @ mat.T) / (nrm[:, None] * nrm[None, :])
        ai, bi = np.nonzero(np.triu(cos >= thr, k=1))
        for a, b in zip(ai, bi):
            ra, rb = find(members[a]), find(members[b])
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    comp: dict[int, list[int]] = {}
    for v in sorted(vecs):
        comp.setdefault(find(v), []).append(v)
    ccos = {
        v: _half_up(seq_cosine(vecs[v], cents[cent_of[v]]) * 1_000_000)
        for v in vecs
    }
    out = {}
    for members in comp.values():
        cl = min(members)
        keep = min(members, key=lambda v: (ccos[v], v))
        for v in members:
            out[v] = (cent_of[v], cl, keep, int(v != keep))
    return out


def test_semdedup_matches_pure_python_replay(spark, emb, monkeypatch):
    from text_ocr_spark.ops.dedup import semdedup

    _kmeans(monkeypatch, 5, 2)
    got = {
        r.vec_id: (r.centroid_id, r.cluster_id, r.keep_id, r.is_dup)
        for r in semdedup(emb).collect()
    }
    want = _replay(emb.collect(), k=5, iters=2)
    assert got == want
    assert sum(1 for v in got.values() if v[3] == 1) > 0  # real dups exist


def test_semdedup_keep_rule_is_farthest_from_centroid(spark, emb, monkeypatch):
    """In every multi-member cluster the keeper must be the member with
    the minimal (cos-to-centroid, vec_id) — NOT necessarily the min id
    (embed_resolve's rule); the fixture corpus must distinguish them.
    semdedup trains the same (deterministic) cells as ivf_train here."""
    from text_ocr_spark.ops.dedup import semdedup
    from text_ocr_spark.ops.similarity import cosine_col, ivf_train

    _kmeans(monkeypatch, 5, 2)
    cents = ivf_train(emb)
    out = semdedup(emb)
    ccos = {
        r.vec_id: r.c
        for r in emb.join(
            out.select("vec_id", "centroid_id"), "vec_id"
        )
        .join(F.broadcast(cents), "centroid_id")
        .select(
            "vec_id",
            F.round(cosine_col("embedding", "cv") * 1_000_000)
            .cast("long")
            .alias("c"),
        )
        .collect()
    }
    rows = out.collect()
    clusters: dict[int, list[int]] = {}
    keep = {}
    for r in rows:
        clusters.setdefault(r.cluster_id, []).append(r.vec_id)
        keep[r.cluster_id] = r.keep_id
    multi = {c: m for c, m in clusters.items() if len(m) > 1}
    assert multi
    for c, members in multi.items():
        assert keep[c] == min(members, key=lambda v: (ccos[v], v))
    # the paper rule must actually differ from min-id somewhere on this
    # corpus, else the test proves nothing
    assert any(keep[c] != min(m) for c, m in multi.items())


def test_semdedup_pairs_are_within_cell_only(spark, emb, monkeypatch):
    """Every duplicate component must live inside ONE k-means cell —
    cross-cell duplicates are out of scope by the paper's design."""
    from text_ocr_spark.ops.dedup import semdedup

    _kmeans(monkeypatch, 5, 2)
    rows = semdedup(emb).collect()
    cell_of = {r.vec_id: r.centroid_id for r in rows}
    comp: dict[int, set[int]] = {}
    for r in rows:
        comp.setdefault(r.cluster_id, set()).add(cell_of[r.vec_id])
    assert all(len(cells) == 1 for cells in comp.values())


def test_semdedup_subblock_differential(spark, emb, monkeypatch):
    """Forcing tiny sub-blocks (DENSE_BLOCK=16 -> many tiles per cell)
    must not change a single verdict vs the one-tile-per-cell run."""
    from text_ocr_spark.ops import dedup

    _kmeans(monkeypatch, 4, 1)
    a = _rows(dedup.semdedup(emb))
    monkeypatch.setattr(dedup, "DENSE_BLOCK", 16)
    assert _rows(dedup.semdedup(emb)) == a


def test_semdedup_megacell_stays_block_bounded(spark, emb, monkeypatch):
    """One cell holding the whole corpus (k=1) must still split into
    ~DENSE_BLOCK sub-blocks (the ADAPTIVE per-cell count — a global
    count keyed on k would make this one cell's tiles k times bigger),
    and the verdicts must match the one-tile run exactly. Each call
    trains its own cell."""
    from pyspark.sql import functions as F

    from text_ocr_spark.ops import dedup

    _kmeans(monkeypatch, 1, 1)
    big = _rows(dedup.semdedup(emb))
    monkeypatch.setattr(dedup, "DENSE_BLOCK", 32)
    assert _rows(dedup.semdedup(emb)) == big
    # the adaptive sub count at DENSE_BLOCK=32 over 500 one-cell vectors:
    # 16 sub-blocks, max occupancy well under a few x DENSE_BLOCK
    n = emb.count()
    n_sub = -(-n // 32)
    occ = (
        emb.select(
            F.pmod(F.xxhash64("vec_id"), F.lit(n_sub)).alias("sub")
        )
        .groupBy("sub")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert occ <= 4 * 32


def test_semdedup_partition_independence(spark, emb, monkeypatch):
    """Each call trains its own cells, so the k-means training is held
    to partition independence as well as the dedup."""
    from text_ocr_spark.ops.dedup import semdedup

    _kmeans(monkeypatch, 4, 1)
    a = _rows(semdedup(emb))
    assert _rows(semdedup(emb.repartition(13, "embedding"))) == a
