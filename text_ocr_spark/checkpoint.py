"""Snapshot-checkpoint resume + per-chunk lineage (SURVEY.md §7 M4).

The reference engine is restartable only at whole-image granularity (one
``detect`` call per image, ref ocrlib/src/main/cpp/jni/main.cpp:74-87);
the graft makes restartability a first-class table-scale property:

- input splits into N deterministic, conversation-aligned chunks:
  ``chunk_id = pmod(xxhash64(conv_id), n_chunks)`` — a conversation never
  straddles a chunk, so per-turn outputs land exactly once;
- each chunk commits atomically: parquet written to
  ``out/extracted/chunk=<id>/`` first, then a manifest row is renamed
  into ``out/manifest/`` (rename-as-commit). A killed run leaves either
  a committed chunk (skipped on restart) or an uncommitted one (rerun);
- the pending chunks run concurrently from a pool of driver threads
  (at most one per executor core and per driver core), so they commit
  in any order, and a killed driver loses at most the chunks in flight,
  one per pool thread. A chunk that fails stops the queued ones from
  starting; those in flight still commit;
- the manifest row carries the lineage/metrics (FIXTURES.md §4):
  ``run_id``, ``chunk_id``, ``n_chunks`` (the split; resuming under
  another one is refused), ``snapshot_id`` (the input snapshot),
  ``rows_out``, ``n_<kind>`` for each of html/pdf/ocr/plain/empty,
  ``bytes_in``, ``bytes_out`` and ``wall_ms``. The counts are observed
  (``DataFrame.observe``) while the chunk's parquet is written, so a
  chunk costs one write action and no read-back; ``wall_ms`` runs from
  the chunk's start to the end of that write.

On an Iceberg catalog the same interface rides snapshot isolation
instead of directory renames: ``snapshot_id`` pins the input version
(``spark.read.option("snapshot-id", ...)``), chunks prune via the
table's ``bucket(conv_id, N)`` partition transform, and commits append
to the output table + metrics table in one transaction. DESIGN INTENT,
NOT VERIFIED BEHAVIOR: no iceberg-spark runtime jar exists anywhere in
this sandbox (filesystem-wide search; no network), so the Iceberg code
paths have never executed here — the parquet-dir implementation is the
tested path and the Iceberg calls are gated (sources.py, STATUS.md
"Iceberg" note).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from text_ocr_spark.pipeline import (
    LINEAGE_KINDS,
    _read_docs,
    conv_chunk_expr,
    extract_docs,
    lineage_counts,
)

MANIFEST_DIR = "manifest"
CHUNK_DIR = "extracted"


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, MANIFEST_DIR)


def committed_chunks(out_dir: str) -> dict[int, dict]:
    """chunk_id -> manifest record for every committed chunk."""
    mdir = _manifest_path(out_dir)
    if not os.path.isdir(mdir):
        return {}
    out: dict[int, dict] = {}
    for name in os.listdir(mdir):
        if not name.endswith(".json"):
            continue
        with open(os.path.join(mdir, name)) as f:
            rec = json.load(f)
        out[int(rec["chunk_id"])] = rec
    return out


def _commit_chunk(out_dir: str, rec: dict) -> None:
    """Rename-as-commit: the manifest row appears atomically or not at
    all (POSIX rename; on object stores Iceberg's metadata swap plays
    this role)."""
    mdir = _manifest_path(out_dir)
    os.makedirs(mdir, exist_ok=True)
    tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        json.dump(rec, f)
    os.replace(tmp, os.path.join(mdir, f"chunk-{rec['chunk_id']:05d}.json"))


def chunk_col(n_chunks: int) -> F.Column:
    return F.pmod(F.xxhash64("conv_id"), F.lit(n_chunks)).cast("int")


def resumable_extract(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    *,
    run_id: str,
    n_chunks: int = 8,
    num_partitions: int | None = None,
    fail_after: int | None = None,
    snapshot_id: str | None = None,
) -> dict:
    """Run (or resume) the extraction, committing chunk by chunk.

    Identical final output to a single-shot run — pytest kills a run
    mid-way (``fail_after``: exactly the first ``fail_after`` pending
    chunks commit, then it raises) and asserts the resumed result
    matches. Returns {"chunks_run": int, "chunks_skipped": int,
    "rows_out": int}.

    At 100 TB each chunk is an independent bounded job (conversation-
    bucket pruned scan -> salted exchange -> Arrow extract -> append),
    and the manifest is the per-partition lineage table the north_rule
    asks for. The pending chunks run from a pool of driver threads, as
    wide as the executor cores and the driver's cores allow, so chunks
    commit concurrently and in any order. After the first error no
    queued chunk starts and the chunks in flight finish and commit, so
    a restart loses at most one pool's width of in-flight work.
    """
    if n_chunks < 1:
        # range(n_chunks) would be empty: no chunk runs, nothing is written
        raise ValueError(f"n_chunks must be >= 1, got {n_chunks}")
    snapshot_id = snapshot_id or _snapshot_fingerprint(sf_dir)
    done = committed_chunks(out_dir)
    stale = [cid for cid, rec in done.items() if rec["snapshot_id"] != snapshot_id]
    if stale:
        raise ValueError(
            f"manifest was committed against another input snapshot: {stale}"
        )
    # chunk ids only mean the same conversations under the same split
    resplit = [cid for cid, rec in done.items() if rec.get("n_chunks") != n_chunks]
    if resplit:
        raise ValueError(
            f"manifest was committed under another n_chunks: {resplit}"
        )

    chunk_of = conv_chunk_expr(n_chunks)
    observed = [F.count("*").alias("rows_out"), *lineage_counts()]

    def _run_chunk(docs: DataFrame, cid: int) -> dict:
        t0 = time.time()
        # chunk predicate computed from doc_id on the SCAN side: each
        # chunk's job reads, exchanges, and extracts only its own
        # conversations. Filtering the extraction OUTPUT instead (the
        # equivalent chunk_col(n)==cid on conv_id) would sit above the
        # MapInPandas node, which Catalyst cannot push a predicate
        # below — re-running the full Python extraction once per chunk.
        ex = extract_docs(docs.where(chunk_of == cid), num_partitions=num_partitions)
        # the observe node sits in the write's result stage, above the
        # Arrow stage with no exchange over it: each task's metrics are
        # applied once, so a retried task cannot double-count. An
        # Observation serves one action only, hence one per chunk.
        obs = Observation()
        chunk_path = os.path.join(out_dir, CHUNK_DIR, f"chunk={cid}")
        ex.observe(obs, *observed).write.mode("overwrite").parquet(chunk_path)
        wall_ms = int(1000 * (time.time() - t0))
        metrics = obs.get
        rec = {
            "run_id": run_id,
            "chunk_id": cid,
            "n_chunks": n_chunks,
            "snapshot_id": snapshot_id,
            "rows_out": int(metrics["rows_out"] or 0),
            "bytes_in": int(metrics["bytes_in"] or 0),
            "bytes_out": int(metrics["bytes_out"] or 0),
            "wall_ms": wall_ms,
            **{f"n_{k}": int(metrics[f"n_{k}"] or 0) for k in LINEAGE_KINDS},
        }
        _commit_chunk(out_dir, rec)
        return rec

    pending = [cid for cid in range(n_chunks) if cid not in done]
    todo = pending if fail_after is None else pending[:fail_after]
    recs: list[dict] = []
    if todo:  # a finished run reads no input and issues no job
        docs = _read_docs(spark, sf_dir, 1)
        # executor cores bound the useful overlap, driver cores the threads
        width = min(
            len(todo),
            spark.sparkContext.defaultParallelism,
            len(os.sched_getaffinity(0)),
        )
        with ThreadPoolExecutor(width) as pool:
            # one wrap per chunk: each carries its own copy of the caller's
            # local properties (job group included), because the SQL
            # execution id a write sets there must not leak between chunks
            futures = [
                pool.submit(inheritable_thread_target(spark)(_run_chunk), docs, cid)
                for cid in todo
            ]
            try:
                wait(futures, return_when=FIRST_EXCEPTION)
            finally:
                for fut in futures:
                    fut.cancel()  # a no-op on chunks that started
        recs = [fut.result() for fut in futures if not fut.cancelled()]
    if fail_after is not None and len(pending) > fail_after:
        raise RuntimeError(f"injected failure after {fail_after} chunks")
    return {
        "chunks_run": len(recs),
        "chunks_skipped": len(done),
        "rows_out": sum(int(rec["rows_out"]) for rec in [*done.values(), *recs]),
    }


def read_extracted(spark: SparkSession, out_dir: str) -> DataFrame:
    """All committed chunks as one DataFrame (chunk is a partition col)."""
    return spark.read.parquet(os.path.join(out_dir, CHUNK_DIR))


def _snapshot_fingerprint(sf_dir: str) -> str:
    """Stand-in for the Iceberg snapshot id: input file names + mtimes +
    sizes. Good enough to refuse resuming over changed input."""
    path = os.path.join(sf_dir, "documents.parquet")
    st = os.stat(path)
    return f"{os.path.basename(path)}:{st.st_size}:{st.st_mtime_ns}"
