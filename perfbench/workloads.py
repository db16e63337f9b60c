"""The two workloads. Each drives the program only through public
functions of ``pipeline``, ``checkpoint`` and ``ops``.

A workload has these steps; all but the first are given the live
session:

- ``prepare(seed)``: write the generated inputs;
- ``check(spark)``: the independent oracle checks, before the timed passes;
- ``warm_up(spark)``: untimed work that leaves the session warm;
- ``run_pass(spark, tracer, i)``: one timed pass, from input to complete
  result, returning what ``verify`` needs. In a traced run every pass,
  traced or not, runs the same code; only ``tracer`` differs;
- ``verify(spark, result)``: the output check of one pass, outside the
  timed window. It returns a list of problems (empty when correct).

``check`` and ``warm_up`` return ``{check name: problem or None}``.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import statistics

import gen
from layers import Tracer

ROOT = os.path.dirname(gen.HERE)
GOLDEN = os.path.join(ROOT, "fixturedata", "golden_sf0.01.parquet")
GOLDEN_COLS = ["conv_id", "turn_idx", "kind", "extracted", "spans_json"]
#: output columns covered by the digest (every column but ``part_id``)
DIGEST_COLS = [
    "conv_id", "turn_idx", "role", "tool", "ts",
    "kind", "extracted", "spans_json", "bytes_in", "bytes_out",
]


def spark_digest(df, cols: list[str]) -> tuple[int, str]:
    """Order-insensitive digest of ``df[cols]``, computed in the JVM:
    (rows, "xor:sum" of per-row xxhash64). Rows are unique per
    (conv_id, turn_idx), so the xor cannot cancel."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in cols])
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(h).alias("x"),
        F.sum(F.pmod(h, F.lit(1 << 31))).alias("s"),
    ).first()
    return int(r["n"]), f"{int(r['n'])}:{(r['x'] or 0) & (2**64 - 1):016x}:{r['s'] or 0}"


def frame_digest(df) -> str:
    """Order-insensitive digest of a small pandas frame."""
    cols = sorted(df.columns)
    rows = sorted(tuple(str(v) for v in r) for r in df[cols].itertuples(index=False))
    return hashlib.md5(repr((cols, rows)).encode("utf-8")).hexdigest()[:16]


def _canon(df):
    """Column order, row order and integer widths made engine-neutral."""
    import numpy as np

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if np.issubdtype(df[c].dtype, np.integer):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def _difference(got, want, what: str) -> str | None:
    """None when the two frames hold the same rows, else what differs."""
    got, want = _canon(got), _canon(want)
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return f"shape {got.shape}, {what} {want.shape}"
    bad = int((got.astype(str) != want.astype(str)).any(axis=1).sum())
    return f"{bad} rows differ from the {what}" if bad else None


def _files_and_bytes(path: str) -> tuple[int, int]:
    n = size = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            n += 1
            size += os.path.getsize(os.path.join(dirpath, name))
    return n, size


class Workload:
    name = ""

    def __init__(self, work: str, traced_run: bool = False) -> None:
        self.work = work
        self.traced_run = traced_run
        self.n_turns = 0
        self.input_digest = ""
        self.kernel_docs = None  # (doc_id, text) for the kernel and fixture passes

    def _write_docs(self, seed: int) -> None:
        """This seed's sf0.01-size documents, in ``docs_dir``."""
        docs = gen.seeded_docs(seed, gen.DOCS_SF001)
        self.n_turns = docs.num_rows
        self.input_digest = gen.table_digest(docs)
        self.kernel_docs = docs
        self.docs_dir = gen.write_docs_dir(docs, os.path.join(self.work, "docs"))

    def checkpoint_metrics(self, result) -> dict:
        """The checkpoint layer's metrics of one traced pass."""
        return {}

    def cleanup(self, result) -> None:
        """Remove what a pass left on disk (after its check)."""


class Pretrain(Workload):
    """``ops.curate.pretrain_pipeline`` over the generated documents. A
    pass is bound by its ~120 Spark jobs, not by its input: 100 documents
    take as long as 500."""

    name = "pretrain"
    dsir_k = 128
    max_tokens = 2048

    def prepare(self, seed: int) -> None:
        import pandas as pd
        import pyarrow.compute as pc

        self._write_docs(seed)
        self.want = None
        # the warm-up's input: the committed sf0.01 input's conv-skew
        # conversation (ids below 100, the giant doc 7 among them), and
        # its rows of the committed golden
        docs = gen.read_docs(gen.DOCS_SF001)
        self.warm_docs_dir = gen.write_docs_dir(
            docs.filter(pc.less(docs.column("doc_id"), 100)), os.path.join(self.work, "warm_docs")
        )
        golden = pd.read_parquet(GOLDEN)
        self.warm_golden = os.path.join(self.work, "warm_golden.parquet")
        golden[golden["conv_id"] == "conv-skew"].to_parquet(self.warm_golden, index=False)

    def check(self, spark) -> dict[str, str | None]:
        """Build the expected output of the timed passes: the DuckDB oracle of
        ``__spark_entry__.oracle_sql()`` replayed over the pure-Python
        golden extraction of this seed's documents."""
        import pandas as pd

        from text_ocr_spark.fixtures import make_transcripts_pdf
        from text_ocr_spark.oracle import golden_frame

        golden = os.path.join(self.work, "golden.parquet")
        docs = pd.read_parquet(os.path.join(self.docs_dir, "documents.parquet"))
        golden_frame(make_transcripts_pdf(docs)).to_parquet(golden, index=False)
        self.want = pretrain_oracle(self.docs_dir, golden)
        return {"oracle": None if len(self.want) == self.dsir_k else f"oracle kept {len(self.want)} rows"}

    def warm_up(self, spark) -> dict[str, str | None]:
        """A cold pass over the first 100 committed sf0.01 documents, held
        to the same oracle over the committed golden's rows for them. It
        catches a kernel change, which the per-seed oracle cannot (its
        golden comes from the same kernels). It also leaves the session
        warm: a session's first pass runs 1.5-2x longer than later ones
        (JIT, code generator, Python workers). It runs the same code as
        the run's timed passes, and costs a third less than a cold pass
        over all 500."""
        import pandas as pd

        rows = self._chain(spark, Tracer(spark, False), self.warm_docs_dir)
        got = pd.DataFrame([r.asDict() for r in rows])
        want = pretrain_oracle(self.warm_docs_dir, self.warm_golden)
        return {"oracle_sf0.01": _difference(got, want, "oracle")}

    def run_pass(self, spark, tracer: Tracer, i: int):
        return self._chain(spark, tracer, self.docs_dir)

    def _chain(self, spark, tracer: Tracer, docs_dir: str):
        """``pretrain_pipeline`` over ``docs_dir``, collected; in a traced
        run, its composition with one span per op."""
        if self.traced_run:
            return self._traced_chain(spark, tracer, docs_dir)
        from text_ocr_spark.ops.curate import pretrain_pipeline

        return pretrain_pipeline(
            spark, docs_dir, dsir_k=self.dsir_k, max_tokens=self.max_tokens
        ).collect()

    def _traced_chain(self, spark, tracer: Tracer, docs_dir: str):
        """``pretrain_pipeline``'s chain, composed from the same public ops
        with the same selects, document reads and barriers, one span per
        op. The barriers stay lazy, so work they defer is charged to the op
        whose action forced it. ``verify`` holds the result to the same
        oracle as ``pretrain_pipeline``'s."""
        from pyspark.sql import functions as F

        from text_ocr_spark.ops.cleaning import gopher_keep_expr
        from text_ocr_spark.ops.curate import inverse_turn_key, pack_shards, turn_doc_id
        from text_ocr_spark.ops.decontam import decontaminate
        from text_ocr_spark.ops.dedup import neardup_resolve
        from text_ocr_spark.ops.dsir import dsir_select
        from text_ocr_spark.ops.span_dedup import strip_dup_spans
        from text_ocr_spark.pipeline import extract_corpus

        documents = f"{docs_dir}/documents.parquet"
        with tracer.span("extract_corpus"):
            ex = extract_corpus(spark, docs_dir).select("conv_id", "turn_idx", "extracted")
            gated = (
                ex.select(turn_doc_id(), F.col("extracted").alias("text"))
                .where(gopher_keep_expr())
                .localCheckpoint(eager=False)
            )
        with tracer.span("strip_dup_spans"):
            stripped = (
                strip_dup_spans(gated)
                .select("doc_id", F.col("clean_text").alias("text"))
                .localCheckpoint(eager=False)
            )
        heldout = (
            spark.read.parquet(documents).where(F.col("doc_id") % 13 == 0).select("doc_id", "text")
        )
        with tracer.span("neardup_resolve"):
            kept = stripped.join(
                neardup_resolve(stripped).where(F.col("is_dup") == 0).select("doc_id"), "doc_id"
            )
        with tracer.span("decontaminate"):
            clean = kept.join(
                decontaminate(kept, heldout, ngram=3)
                .where(F.col("contaminated") == 0)
                .select("doc_id"),
                "doc_id",
            ).localCheckpoint(eager=False)
        target = (
            spark.read.parquet(documents).where(F.col("doc_id") % 11 == 0).select("doc_id", "text")
        )
        with tracer.span("dsir_select"):
            selected = clean.join(
                dsir_select(clean, target, k=self.dsir_k)
                .where(F.col("selected") == 1)
                .select("doc_id"),
                "doc_id",
            )
        with tracer.span("pack_shards"):
            packed = pack_shards(selected, max_tokens=self.max_tokens).select(
                "doc_id", *inverse_turn_key(), "n_tokens", "shard_id"
            )
        with tracer.span("final"):
            return packed.collect()

    def verify(self, spark, result) -> list[str]:
        import pandas as pd

        problem = _difference(pd.DataFrame([r.asDict() for r in result]), self.want, "oracle")
        return [problem] if problem else []

    def digest(self, result) -> str:
        import pandas as pd

        return frame_digest(pd.DataFrame([r.asDict() for r in result]))


class Resume(Workload):
    """``checkpoint.resumable_extract`` killed after half its chunks
    (``fail_after``), then resumed in the same directory; every pass starts
    from a fresh directory."""

    name = "resume"
    n_chunks = 8

    def prepare(self, seed: int) -> None:
        self._write_docs(seed)
        self.want = None
        self.golden_docs_dir = gen.write_docs_dir(
            gen.read_docs(gen.DOCS_SF001), os.path.join(self.work, "docs_sf0.01")
        )

    def check(self, spark) -> dict[str, str | None]:
        """The single-shot extraction of the same input, written as parquet
        and read back like the resumed output: the digest every resumed
        output must equal."""
        from text_ocr_spark.pipeline import extract_corpus

        single = os.path.join(self.work, "single_shot")
        extract_corpus(spark, self.docs_dir).write.mode("overwrite").parquet(single)
        n, self.want = spark_digest(spark.read.parquet(single), DIGEST_COLS)
        return {"single_shot": None if n == self.n_turns else f"{n} turns for {self.n_turns}"}

    def warm_up(self, spark) -> dict[str, str | None]:
        """One untimed pass over the committed sf0.01 input, whose output
        must equal the committed golden turn for turn. That catches a
        kernel change, which the single-shot comparison cannot. A pass
        over only the killed half left the first timed pass using 30%
        more CPU than the next."""
        import pandas as pd

        from text_ocr_spark.checkpoint import read_extracted

        result = self._pass(spark, Tracer(spark, False), self.golden_docs_dir, "warm")
        got = read_extracted(spark, result["out"]).select(*GOLDEN_COLS).toPandas()
        self.cleanup(result)
        want = pd.read_parquet(GOLDEN, columns=GOLDEN_COLS)
        return {"golden_sf0.01": _difference(got, want, "golden")}

    def run_pass(self, spark, tracer: Tracer, i: int):
        return self._pass(spark, tracer, self.docs_dir, f"pass-{i}")

    def _pass(self, spark, tracer: Tracer, docs_dir: str, run_id: str) -> dict:
        from text_ocr_spark.checkpoint import resumable_extract

        out = os.path.join(self.work, "resume", run_id)
        shutil.rmtree(out, ignore_errors=True)
        with tracer.span("killed") as killed:
            try:
                resumable_extract(
                    spark, docs_dir, out, run_id=run_id,
                    n_chunks=self.n_chunks, fail_after=self.n_chunks // 2,
                )
            except RuntimeError as e:
                if "injected failure" not in str(e):
                    raise
            else:
                raise RuntimeError("the killed run finished instead of failing")
        with tracer.span("resume") as resumed:
            ret = resumable_extract(spark, docs_dir, out, run_id=run_id, n_chunks=self.n_chunks)
        return {"out": out, "ret": ret, "killed": killed, "resumed": resumed}

    def verify(self, spark, result) -> list[str]:
        from text_ocr_spark.checkpoint import read_extracted

        problems = []
        half = self.n_chunks // 2
        want_ret = {"chunks_run": self.n_chunks - half, "chunks_skipped": half, "rows_out": self.n_turns}
        if result["ret"] != want_ret:
            problems.append(f"resume returned {result['ret']}, expected {want_ret}")
        _, got = spark_digest(read_extracted(spark, result["out"]), DIGEST_COLS)
        result["digest"] = got
        if got != self.want:
            problems.append("resumed output differs from the single-shot extraction")
        return problems

    def digest(self, result) -> str:
        return result["digest"]

    def checkpoint_metrics(self, result) -> dict:
        from text_ocr_spark.checkpoint import committed_chunks

        chunk_s = sorted(r["wall_ms"] / 1e3 for r in committed_chunks(result["out"]).values())
        q = statistics.quantiles(chunk_s, n=4)
        files, size = _files_and_bytes(result["out"])
        return {
            "checkpoint.chunks_run": result["ret"]["chunks_run"],
            "checkpoint.chunks_skipped": result["ret"]["chunks_skipped"],
            "checkpoint.chunk_s.p50": statistics.median(chunk_s),
            "checkpoint.chunk_s.p75": q[2],
            "checkpoint.files_written": files,
            "checkpoint.bytes_written": size,
            "checkpoint.killed_s": result["killed"].seconds,
            "checkpoint.resume_s": result["resumed"].seconds,
        }

    def cleanup(self, result) -> None:
        shutil.rmtree(result["out"], ignore_errors=True)


def pretrain_oracle(docs_dir: str, golden: str):
    """Run ``oracle_sql()["pretrain_pipeline"]`` in DuckDB over a golden
    extraction and ``docs_dir``'s documents.

    The SQL reads the committed sf0.01 golden by its absolute path; it is
    pointed at ``golden`` instead. Its non-recursive CTEs are marked
    MATERIALIZED: the result is the same, but DuckDB otherwise re-plans
    each shared CTE at every reference and runs out of memory.
    """
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()["pretrain_pipeline"].replace(entry.GOLDEN_SF001, golden)
    sql = re.sub(r"^(\s+\w+) AS \(", r"\1 AS MATERIALIZED (", sql, flags=re.M)
    con = duckdb.connect(config={"threads": 2, "memory_limit": "2GB"})
    try:
        con.sql(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{docs_dir}/documents.parquet')"
        )
        return con.sql(sql).df()
    finally:
        con.close()


WORKLOADS = {w.name: w for w in (Pretrain, Resume)}
