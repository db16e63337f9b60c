"""Resume semantics (SURVEY.md §5.2 layer 5): kill after partial commit,
rerun, output identical to a single-shot run."""

from __future__ import annotations

import os
import shutil
import threading

import pytest

from tests.conftest import SF_TINY

KINDS = ("html", "pdf", "ocr", "plain", "empty")
COUNTED = ("rows_out", *[f"n_{k}" for k in KINDS], "bytes_in", "bytes_out")


def _jobs_in_group(spark, group: str) -> int:
    """Spark jobs issued under job group ``group``; clears the group.
    The status tracker works with the UI off, but it is filled by an
    asynchronous listener, so drain the listener bus first."""
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _collect(df):
    return sorted(
        (r.conv_id, r.turn_idx, r.kind, r.extracted, r.spans_json)
        for r in df.select(
            "conv_id", "turn_idx", "kind", "extracted", "spans_json"
        ).collect()
    )


def test_resume_after_partial_commit(spark, tmp_path):
    from text_ocr_spark.checkpoint import (
        committed_chunks,
        read_extracted,
        resumable_extract,
    )
    from text_ocr_spark.pipeline import extract_corpus

    single = _collect(extract_corpus(spark, SF_TINY, num_partitions=6))

    # job budget per call: one `documents` schema read, then per chunk
    # the salted exchange and the write (manifest metrics are observed
    # during the write, not read back). Exact, not an upper bound: a
    # pool thread that dropped the caller's job group would count 0
    sc = spark.sparkContext
    out = str(tmp_path / "run")
    sc.setJobGroup("resume-killed", "resume-killed")
    with pytest.raises(RuntimeError, match="injected failure"):
        resumable_extract(
            spark, SF_TINY, out, run_id="r1", n_chunks=4,
            num_partitions=6, fail_after=2,
        )
    assert _jobs_in_group(spark, "resume-killed") == 1 + 2 * 2
    # exactly the first two pending chunks survived the kill
    assert set(committed_chunks(out)) == {0, 1}

    sc.setJobGroup("resume-resumed", "resume-resumed")
    stats = resumable_extract(
        spark, SF_TINY, out, run_id="r1-resume", n_chunks=4, num_partitions=6
    )
    assert _jobs_in_group(spark, "resume-resumed") == 1 + 2 * 2
    assert stats["chunks_skipped"] == 2 and stats["chunks_run"] == 2
    assert _collect(read_extracted(spark, out)) == single
    assert stats["rows_out"] == len(single)

    # a completed run is a no-op on rerun, down to not reading its input
    sc.setJobGroup("resume-noop", "resume-noop")
    stats2 = resumable_extract(
        spark, SF_TINY, out, run_id="r1-noop", n_chunks=4, num_partitions=6
    )
    assert _jobs_in_group(spark, "resume-noop") == 0
    assert stats2["chunks_run"] == 0 and stats2["chunks_skipped"] == 4


def test_resume_refuses_changed_input(spark, tmp_path):
    from text_ocr_spark.checkpoint import resumable_extract

    out = str(tmp_path / "run2")
    resumable_extract(
        spark, SF_TINY, out, run_id="r2", n_chunks=2, num_partitions=4
    )
    with pytest.raises(ValueError, match="another input snapshot"):
        resumable_extract(
            spark, SF_TINY, out, run_id="r2b", n_chunks=2,
            num_partitions=4, snapshot_id="different-snapshot",
        )


def test_resume_refuses_changed_chunk_split(spark, tmp_path):
    """Chunk ids from another split name other conversations: resuming
    a killed run under a different n_chunks (either way) must refuse,
    not count them done (fewer turns) or rerun them (duplicate turns).
    A record that does not name its split is refused too."""
    from text_ocr_spark.checkpoint import (
        _commit_chunk,
        committed_chunks,
        resumable_extract,
    )

    for killed, resumed in ((4, 2), (2, 4)):
        out = str(tmp_path / f"run-{killed}-{resumed}")
        with pytest.raises(RuntimeError, match="injected failure"):
            resumable_extract(
                spark, SF_TINY, out, run_id="r8", n_chunks=killed,
                num_partitions=4, fail_after=1,
            )
        assert all(
            rec["n_chunks"] == killed for rec in committed_chunks(out).values()
        )
        with pytest.raises(ValueError, match="another n_chunks"):
            resumable_extract(
                spark, SF_TINY, out, run_id="r8b", n_chunks=resumed,
                num_partitions=4,
            )

    for rec in committed_chunks(out).values():
        del rec["n_chunks"]
        _commit_chunk(out, rec)
    with pytest.raises(ValueError, match="another n_chunks"):
        resumable_extract(
            spark, SF_TINY, out, run_id="r8c", n_chunks=killed, num_partitions=4
        )


@pytest.mark.parametrize("n_chunks", [0, -3])
def test_refuses_chunk_count_below_one(spark, tmp_path, n_chunks):
    """Fewer than one chunk would run no chunk and report success with
    nothing written; it must fail before any read."""
    from text_ocr_spark.checkpoint import resumable_extract

    out = str(tmp_path / "out")
    with pytest.raises(ValueError, match="n_chunks must be >= 1"):
        resumable_extract(spark, SF_TINY, out, run_id="r9", n_chunks=n_chunks)
    assert not os.path.exists(out)


def test_resume_refuses_subsecond_input_change(spark, tmp_path):
    """A same-size rewrite of the input within the same second is
    another snapshot: the fingerprint keys on the mtime in ns."""
    from text_ocr_spark.checkpoint import resumable_extract

    sf = tmp_path / "sf"
    sf.mkdir()
    docs = sf / "documents.parquet"
    shutil.copyfile(f"{SF_TINY}/documents.parquet", docs)
    second = 1_700_000_000 * 10**9
    os.utime(docs, ns=(second + 100_000_000, second + 100_000_000))
    out = str(tmp_path / "run")
    with pytest.raises(RuntimeError, match="injected failure"):
        resumable_extract(
            spark, str(sf), out, run_id="r6", n_chunks=2,
            num_partitions=4, fail_after=1,
        )
    os.utime(docs, ns=(second + 600_000_000, second + 600_000_000))
    with pytest.raises(ValueError, match="another input snapshot"):
        resumable_extract(
            spark, str(sf), out, run_id="r6b", n_chunks=2, num_partitions=4
        )


def test_chunk_failure_leaves_run_resumable(spark, tmp_path, monkeypatch):
    """A chunk that fails mid-pool raises out of resumable_extract and
    leaves no manifest; the chunks ran on more than one thread, and a
    rerun completes the output of a single-shot run."""
    from text_ocr_spark import checkpoint
    from text_ocr_spark.checkpoint import committed_chunks, read_extracted
    from text_ocr_spark.pipeline import extract_corpus

    commit = checkpoint._commit_chunk
    threads = set()

    def failing_commit(out_dir, rec):
        threads.add(threading.get_ident())
        if rec["chunk_id"] == 1:
            raise OSError("chunk 1 lost its commit")
        commit(out_dir, rec)

    out = str(tmp_path / "run7")
    monkeypatch.setattr(checkpoint, "_commit_chunk", failing_commit)
    with pytest.raises(OSError, match="chunk 1 lost"):
        checkpoint.resumable_extract(
            spark, SF_TINY, out, run_id="r7", n_chunks=4, num_partitions=4
        )
    assert 1 not in committed_chunks(out)
    assert len(threads) > 1

    monkeypatch.setattr(checkpoint, "_commit_chunk", commit)
    stats = checkpoint.resumable_extract(
        spark, SF_TINY, out, run_id="r7-resume", n_chunks=4, num_partitions=4
    )
    assert stats["chunks_run"] + stats["chunks_skipped"] == 4
    assert stats["chunks_run"] >= 1
    single = _collect(extract_corpus(spark, SF_TINY, num_partitions=6))
    assert _collect(read_extracted(spark, out)) == single


def test_manifest_carries_lineage(spark, tmp_path):
    from pyspark.sql import functions as F

    from text_ocr_spark.checkpoint import (
        committed_chunks,
        read_extracted,
        resumable_extract,
    )
    from text_ocr_spark.pipeline import lineage_metrics

    out = str(tmp_path / "run3")
    resumable_extract(
        spark, SF_TINY, out, run_id="r3", n_chunks=2, num_partitions=4
    )
    recs = committed_chunks(out)
    assert set(recs) == {0, 1}
    total_kinds = sum(
        rec[f"n_{k}"] for rec in recs.values() for k in KINDS
    )
    assert total_kinds == sum(rec["rows_out"] for rec in recs.values()) == 500
    assert all(rec["bytes_in"] > 0 and rec["wall_ms"] >= 0 for rec in recs.values())

    # the metrics observed during each chunk's write equal lineage_metrics
    # summed over the committed chunk read back
    ex = read_extracted(spark, out)
    for cid, rec in recs.items():
        m = (
            lineage_metrics(ex.where(F.col("chunk") == cid), run_id="r3")
            .agg(*[F.sum(c).alias(c) for c in COUNTED])
            .first()
        )
        assert {c: rec[c] for c in COUNTED} == {c: int(m[c]) for c in COUNTED}


@pytest.mark.parametrize("num_partitions", [None, 4])
def test_empty_chunks_commit_zero_manifests(spark, tmp_path, num_partitions):
    """SF_TINY's 51 conversations in 64 chunks leave many chunks empty;
    each still commits a manifest with all-zero counts, and reading its
    observed metrics returns instead of waiting forever."""
    from text_ocr_spark.checkpoint import committed_chunks, resumable_extract

    out = str(tmp_path / "run5")
    stats = {}

    def run():
        stats.update(
            resumable_extract(
                spark, SF_TINY, out, run_id="r5", n_chunks=64,
                num_partitions=num_partitions,
            )
        )

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(timeout=600)
    assert not t.is_alive(), "resumable_extract did not return"
    assert stats == {"chunks_run": 64, "chunks_skipped": 0, "rows_out": 500}

    recs = committed_chunks(out)
    assert set(recs) == set(range(64))
    empty = [rec for rec in recs.values() if rec["rows_out"] == 0]
    assert empty
    assert all(rec[c] == 0 for rec in empty for c in COUNTED)
    assert sum(rec["rows_out"] for rec in recs.values()) == 500


def test_chunks_are_conversation_aligned(spark, tmp_path):
    """A conversation never straddles chunks (exactly-once per turn)."""
    from pyspark.sql import functions as F

    from text_ocr_spark.checkpoint import read_extracted, resumable_extract

    out = str(tmp_path / "run4")
    resumable_extract(
        spark, SF_TINY, out, run_id="r4", n_chunks=4, num_partitions=4
    )
    df = read_extracted(spark, out)
    n_multi = (
        df.groupBy("conv_id")
        .agg(F.countDistinct("chunk").alias("n"))
        .where(F.col("n") > 1)
        .count()
    )
    assert n_multi == 0
    shutil.rmtree(out)


def test_chunk_definitions_agree(spark):
    """checkpoint.chunk_col (output-side conv_id hash — the definition
    old manifests were committed under) and pipeline.conv_chunk_expr
    (scan-side doc_id form the resume path now uses) must stay
    hash-identical, else resuming over a pre-existing manifest would
    assign rows to different chunks."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_TINY
    from text_ocr_spark.checkpoint import chunk_col
    from text_ocr_spark.pipeline import _conv_id_expr, conv_chunk_expr

    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet").select("doc_id")
    df = docs.withColumn("conv_id", _conv_id_expr(F.col("doc_id")))
    for n in (2, 4, 8, 16):
        assert df.where(chunk_col(n) != conv_chunk_expr(n)).count() == 0
