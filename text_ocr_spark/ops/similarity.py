"""Similarity search over the ``embeddings`` table (array<float> column).

- brute_topk:  exact cosine top-k, fully JVM-side (zip_with + aggregate
               higher-order functions — no Python in the hot path). The
               correctness baseline; O(Q x N).
- ivf_assign:  IVF building block — assign every vector to its nearest
               centroid (broadcast centroids, argmax cosine). At scale the
               search probes only matching cells.
- lsh_buckets: sign-random-projection LSH buckets from deterministic
               hyperplanes — the blocking step of ``dedup.embed_pairs``
               and of the incremental embed index.

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


def brute_topk(
    emb: DataFrame, *, n_queries: int = 10, k: int = 5
) -> DataFrame:
    """Top-k cosine neighbors of vec_id < n_queries among vec_id >= n_queries.

    -> (query_id, rank, neighbor_id). Ties broken by neighbor_id asc.
    """
    q = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = emb.filter(F.col("vec_id") >= n_queries).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    scored = c.crossJoin(F.broadcast(q)).withColumn("cos", cosine_col("qv", "cv"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id")
    )


def ivf_assign(
    emb: DataFrame,
    *,
    n_centroids: int = 8,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Assign each vector to its max-cosine centroid.

    -> (vec_id, centroid_id). Ties broken by centroid_id asc. By default
    the centroids are the vec_id < n_centroids fixture vectors; pass
    ``centroids`` (centroid_id, cv) — e.g. from ``ivf_train`` — to
    assign against trained cells.
    """
    cent = (
        centroids
        if centroids is not None
        else emb.filter(F.col("vec_id") < n_centroids).select(
            F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cv")
        )
    )
    scored = emb.select("vec_id", "embedding").crossJoin(
        F.broadcast(cent)
    ).withColumn("cos", cosine_col("embedding", "cv"))
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("centroid_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "centroid_id")
    )


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


def ivf_train(emb: DataFrame, *, k: int = 8, iters: int = 4) -> DataFrame:
    """Distributed Lloyd's k-means over the embedding column -> trained
    centroids (centroid_id, cv array<double>) for ``ivf_assign`` /
    ``ivf_topk`` (VERDICT r3 item 4 — real centroids are the part of
    IVF that matters at 100 TB; the vec_id < k placeholder is fixture
    plumbing).

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
    committed pure-Python golden. Fixed ``iters`` — no early-stop
    heuristic to replicate.
    """
    spark = emb.sparkSession
    init = (
        emb.select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(k)
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

    for _ in range(iters):
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


def ivf_topk(
    emb: DataFrame,
    *,
    n_queries: int = 10,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF probe search: rank centroids per query, scan only the top
    n_probe cells' members, then top-k within the candidates.

    The scale path for ANN over a clustered corpus: the corpus shuffles
    ONCE on its cell assignment; each query touches n_probe/n_centroids
    of the data. Approximate (recall asserted in pytest vs brute_topk);
    -> (query_id, rank, neighbor_id). Pass ``centroids`` (centroid_id,
    cv) from ``ivf_train`` to probe trained cells instead of the
    vec_id < n_centroids placeholder.
    """
    cent = (
        centroids
        if centroids is not None
        else emb.filter(F.col("vec_id") < n_centroids).select(
            F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cv")
        )
    )
    corpus = emb.filter(F.col("vec_id") >= n_queries)
    assigned = (
        corpus.select("vec_id", "embedding")
        .crossJoin(F.broadcast(cent))
        .withColumn("cos", cosine_col("embedding", "cv"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(
                    F.desc("cos"), F.asc("centroid_id")
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("cv_n"),
            "centroid_id",
        )
    )
    queries = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    probes = (
        queries.crossJoin(F.broadcast(cent))
        .withColumn("cos", cosine_col("qv", "cv"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("cos"), F.asc("centroid_id")
                )
            ),
        )
        .filter(F.col("rn") <= n_probe)
        .select("query_id", "qv", "centroid_id")
    )
    scored = assigned.join(F.broadcast(probes), "centroid_id").withColumn(
        "cos", cosine_col("qv", "cv_n")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id")
    )


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
