"""The Spark shell around the pure kernels — batch extraction pipeline.

Physical plan (SURVEY.md §3.4):

    parquet/Iceberg scan (narrow select: Catalyst prunes columns)
      -> Exchange: salted repartition on (conv_id, pmod(hash(turn_idx), S))
         (explicit skew handling, SURVEY.md §2.H — extraction is per-turn
         independent so salting is safe; AQE alone doesn't split a hot
         groupBy key that never aggregates)
      -> ArrowEvalPython: mapInPandas — kernels over Arrow batches,
         per-payload numpy, no per-row Python UDFs
      -> (optional) Exchange+Sort: range partition by (conv_id, turn_idx)
         for the stable-turn-ordering contract

One kernel loop: every Arrow extraction stage (``extract_transcripts``,
the fused ``extract_docs`` and ``extract_vertical_corpus``) calls
``_extract_columns`` on each batch and keeps only its own part — passing
the transcript columns through, or building the payloads. Transcript
metadata (conv_id/turn_idx/role/ts) is derived from doc_id in one place,
``_with_transcript_meta``.

Scale notes (100 TB / 1000 executors):
- the only wide dependencies are the two explicit exchanges; everything
  else is embarrassingly parallel per turn;
- salting bounds a task's work by turns, not conversations, so a 10^6-turn
  conversation spreads over SALT_BUCKETS tasks;
- Arrow batch size is capped via spark.sql.execution.arrow.maxRecordsPerBatch
  (set in session_builder) so one batch stays tens-of-MB even with ~1 MB
  payloads;
- lineage/metrics are per-partition aggregates of the extraction output —
  no extra pass over the input.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from typing import Any

import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from text_ocr_spark.fixtures import build_payload, build_vertical
from text_ocr_spark.kernels.extract import extract_payload
from text_ocr_spark.oracle import spans_to_json

#: salt buckets for the hot-conversation shuffle; read at call time, so a
#: test can patch the module attribute
SALT_BUCKETS = 16

TRANSCRIPT_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]

EXTRACT_SCHEMA = (
    "conv_id string, turn_idx int, role string, tool string, ts timestamp, "
    "kind string, extracted string, spans_json string, "
    "part_id int, bytes_in long, bytes_out long"
)
EXTRACT_SCHEMA_COLS = [c.split(" ")[0] for c in EXTRACT_SCHEMA.split(", ")]

def with_span_structs(df: DataFrame) -> DataFrame:
    """Add the typed ``spans array<struct<start,end>>`` column.

    The Python stage emits compact JSON pair-arrays ``[[s,e],...]``
    (cheap through Arrow); Catalyst's from_json + transform materialize
    the struct column only for consumers that want it — building struct
    rows in Python cost more than the extraction itself.
    """
    arr = F.from_json("spans_json", "array<array<int>>")
    return df.withColumn(
        "spans",
        F.transform(
            arr,
            lambda a: F.struct(
                a[0].alias("start"), a[1].alias("end")
            ),
        ),
    )


def session_builder(
    master: str | None = "local[*]", app: str = "text_ocr_spark", **extra: str
) -> SparkSession.Builder:
    """Opinionated session config (pyspark_guide-conformant).

    master=None leaves the master to the launcher (spark-submit).
    """
    b = SparkSession.builder
    if master is not None:
        b = b.master(master)
    b = (
        b.appName(app)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.ui.enabled", "false")
    )
    for k, v in extra.items():
        b = b.config(k, v)
    return b


# --------------------------------------------------------------------------
# transcripts source (fixture table derived from `documents`)
# --------------------------------------------------------------------------

def _build_payloads(pdf: pd.DataFrame) -> tuple[list[Any], list[Any]]:
    """``build_payload`` over one batch's (doc_id, text) rows ->
    (payloads, tools)."""
    built = [
        build_payload(int(doc_id), text or "")
        for doc_id, text in zip(pdf["doc_id"], pdf["text"])
    ]
    return [p for p, _ in built], [tool for _, tool in built]


def _gen_payloads(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        texts, tools = _build_payloads(pdf)
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"], "text": texts, "tool": tools}
        )


def build_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents parquet -> transcripts DataFrame (input_hint shape).

    Payloads via mapInPandas (pure-function builders, order independent);
    conv/turn/role/ts metadata via JVM-side expressions on doc_id — kept
    SQL-expressible so the DuckDB oracle can rebuild it (fixtures.conv_of).
    """
    docs = _read_docs(spark, sf_dir, 1)
    # a small parquet arrives as 1-2 splits; spread the Python payload
    # builders over the cluster (cheap shuffle: raw doc text only)
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    payloads = docs.mapInPandas(
        _gen_payloads, schema="doc_id long, text string, tool string"
    )
    return _with_transcript_meta(payloads).select(*TRANSCRIPT_COLS)


def _read_docs(spark: SparkSession, sf_dir: str, repeat: int) -> DataFrame:
    """One scan; repeat>1 replicates rows JVM-side via explode (a 64-way
    union was 64 scans plus quadratic planning time)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    if repeat > 1:
        # spread the (tiny) base rows across cores FIRST: otherwise the
        # explode and the following exchange's map-side write all run in
        # the scan stage's 1-2 natural tasks — a serial bottleneck that
        # caps scaling no matter how many cores the extract stage has
        docs = docs.repartition(
            spark.sparkContext.defaultParallelism
        ).select(
            "doc_id",
            "text",
            F.explode(
                F.sequence(F.lit(0), F.lit(repeat - 1)).cast("array<long>")
            ).alias("rep"),
        ).select(
            (F.col("doc_id") + F.col("rep") * 10_000_000).alias("doc_id"),
            "text",
        )
    return docs


def _conv_id_expr(d: F.Column) -> F.Column:
    conv_k = F.floor((d - 100) / 8)
    return F.when(d < 100, F.lit("conv-skew")).otherwise(
        F.format_string("conv-%06d", conv_k)
    )


def _turn_idx_expr(d: F.Column) -> F.Column:
    return F.when(d < 100, d).otherwise((d - 100) % 8).cast("int")


def _ts_epoch_expr(d: F.Column) -> F.Column:
    """Turn timestamp as epoch seconds: epoch arithmetic, not timestamp
    literals, so it is session-TZ-proof (the base is
    2026-01-01T00:00:00Z, fixtures.EPOCH). conv_ord is bounded mod 1e6 so
    bench ``repeat`` replicas (doc_id + r*10^7) stay inside pandas'
    timestamp[ns] range; identity for any real sf dir."""
    conv_ord = F.when(d < 100, F.lit(0)).otherwise(F.floor((d - 100) / 8) + 1)
    return (
        F.lit(1767225600) + (conv_ord % 1_000_000) * 3600 + _turn_idx_expr(d)
    ).cast("long")


def _with_transcript_meta(df: DataFrame) -> DataFrame:
    """Attach conv_id/turn_idx/role/ts derived from doc_id (JVM-side,
    SQL-expressible — the DuckDB oracle rebuilds the same expressions)."""
    d = F.col("doc_id")
    return (
        df.withColumn("conv_id", _conv_id_expr(d))
        .withColumn("turn_idx", _turn_idx_expr(d))
        .withColumn(
            "role",
            F.element_at(
                F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")),
                (F.col("turn_idx") % 3) + 1,
            ),
        )
        .withColumn("ts", F.timestamp_seconds(_ts_epoch_expr(d)))
    )


# --------------------------------------------------------------------------
# extraction stage
# --------------------------------------------------------------------------

def _na_to_none(v: Any) -> Any:
    return None if v is None or (isinstance(v, float) and pd.isna(v)) else v


def _extract_columns(
    payloads: Iterable[Any], tools: Iterable[Any]
) -> dict[str, Any]:
    """The one kernel loop: ``extract_payload`` over one batch.

    None/NaN payloads and tools become None once, here. Returns the
    output columns kind, extracted, spans_json, part_id (the task's
    partition id, a scalar pandas broadcasts), bytes_in and bytes_out,
    in EXTRACT_SCHEMA order.
    """
    tc = TaskContext.get()
    kinds: list[str] = []
    texts: list[str] = []
    spans_json: list[str] = []
    bytes_in: list[int] = []
    bytes_out: list[int] = []
    for text, tool in zip(payloads, tools):
        t = _na_to_none(text)
        kind, extracted, spans = extract_payload(t, _na_to_none(tool))
        kinds.append(kind)
        texts.append(extracted)
        spans_json.append(spans_to_json(spans))
        bytes_in.append(len(t.encode("utf-8")) if t else 0)
        bytes_out.append(len(extracted.encode("utf-8")))
    return {
        "kind": kinds,
        "extracted": texts,
        "spans_json": spans_json,
        "part_id": tc.partitionId() if tc is not None else -1,
        "bytes_in": bytes_in,
        "bytes_out": bytes_out,
    }


#: transcript columns extract_transcripts' Arrow stage passes through
_PASS_COLS = ["conv_id", "turn_idx", "role", "tool", "ts"]


def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame(
            {
                **{c: pdf[c] for c in _PASS_COLS},
                **_extract_columns(pdf["text"], pdf["tool"]),
            }
        )


def extract_transcripts(
    df: DataFrame, *, num_partitions: int | None = None
) -> DataFrame:
    """transcripts -> extracted rows (one per turn, always).

    Explicit salted repartition on (conv_id, pmod(xxhash64(turn_idx), S))
    before the Arrow stage defuses long-conversation skew (SURVEY.md §2.H);
    the Window/sort that restores ordering runs on unsalted keys afterwards.
    """
    narrow = df.select(*_PASS_COLS, "text")
    salt = F.pmod(F.xxhash64("turn_idx"), F.lit(SALT_BUCKETS))
    if num_partitions:
        salted = narrow.repartition(num_partitions, F.col("conv_id"), salt)
    else:
        salted = narrow.repartition(F.col("conv_id"), salt)
    return salted.mapInPandas(_extract_batches, schema=EXTRACT_SCHEMA)


def _extract_doc_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Fused payload-build + extraction (single Arrow stage).

    Input is deliberately just (doc_id, text): every other transcript
    column (conv_id/turn_idx/role/ts) is a pure JVM expression on doc_id
    attached AFTER this stage — strings/timestamps that merely pass
    through a pandas UDF cost Arrow+object conversion for nothing.
    """
    for pdf in batches:
        payloads, tools = _build_payloads(pdf)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "tool": tools,
                **_extract_columns(payloads, tools),
            }
        )


_FUSED_SCHEMA = (
    "doc_id long, tool string, kind string, extracted string, "
    "spans_json string, part_id int, bytes_in long, bytes_out long"
)


def conv_chunk_expr(n_chunks: int, doc_id: F.Column | None = None) -> F.Column:
    """Deterministic conversation chunk id computed FROM doc_id — the
    scan-side twin of checkpoint.chunk_col. Because conv_id is a pure
    expression of doc_id, ``pmod(xxhash64(conv_id_expr(doc_id)), n)``
    equals ``pmod(xxhash64(conv_id), n)`` on the extracted output, but
    this form filters BEFORE the Arrow stage (Catalyst cannot push a
    predicate below MapInPandas, so filtering the output re-extracts
    the whole corpus per chunk)."""
    d = F.col("doc_id") if doc_id is None else doc_id
    return F.pmod(F.xxhash64(_conv_id_expr(d)), F.lit(n_chunks)).cast("int")


def extract_corpus(
    spark: SparkSession,
    sf_dir: str,
    *,
    repeat: int = 1,
    num_partitions: int | None = None,
) -> DataFrame:
    """documents at sf_dir -> extracted rows; the one-exchange fast path
    (``extract_docs`` over one scan of ``documents.parquet``).

    repeat > 1 replicates the corpus with offset doc_ids (bench scaling
    only — payloads stay deterministic per synthetic doc_id).
    """
    return extract_docs(
        _read_docs(spark, sf_dir, repeat), num_partitions=num_partitions
    )


def extract_docs(
    docs: DataFrame, *, num_partitions: int | None = None
) -> DataFrame:
    """(doc_id, text) rows -> extracted rows.

    Physical plan: scan -> ONE salted exchange of (doc_id, text) rows
    (the partitioning keys are computed expressions — no metadata
    columns are materialized before the exchange) -> a single fused
    Arrow stage (payload build + extract) -> JVM metadata expressions.
    Identical output to build_transcripts |> extract_transcripts
    (pytest-pinned), with half the exchanges and a minimal Arrow
    boundary: 2 columns in, none passing through.

    A filter on ``docs`` (e.g. ``conv_chunk_expr(n) == cid``, the
    chunked resume path) stays on the scan side, BEFORE the exchange
    and Arrow stage, so each chunk extracts only its own conversations
    (on an Iceberg table bucketed by conv_id the same predicate prunes
    data files instead of merely rows).
    """
    docs = docs.select("doc_id", "text")
    d = F.col("doc_id")
    salt = F.pmod(F.xxhash64(_turn_idx_expr(d)), F.lit(SALT_BUCKETS))
    if num_partitions:
        salted = docs.repartition(num_partitions, _conv_id_expr(d), salt)
    else:
        salted = docs.repartition(_conv_id_expr(d), salt)
    raw = salted.mapInPandas(_extract_doc_batches, schema=_FUSED_SCHEMA)
    return _with_transcript_meta(raw).select(*EXTRACT_SCHEMA_COLS)


def ordered(df: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Stable turn ordering: range-partition + in-partition sort on
    (conv_id, turn_idx) — the scale-friendly total order (north_rule).
    """
    if num_partitions:
        rp = df.repartitionByRange(num_partitions, "conv_id", "turn_idx")
    else:
        rp = df.repartitionByRange("conv_id", "turn_idx")
    return rp.sortWithinPartitions("conv_id", "turn_idx")


#: payload kinds counted by the lineage metrics (``n_<kind>`` columns)
LINEAGE_KINDS = ("html", "pdf", "ocr", "plain", "empty")


def lineage_counts() -> list[F.Column]:
    """``n_<kind>`` per payload kind, ``bytes_in`` and ``bytes_out``:
    additive aggregates over extracted rows, shared by the per-partition
    lineage rows and the per-chunk resume manifest."""
    return [
        *[
            F.sum((F.col("kind") == k).cast("long")).alias(f"n_{k}")
            for k in LINEAGE_KINDS
        ],
        F.sum("bytes_in").alias("bytes_in"),
        F.sum("bytes_out").alias("bytes_out"),
    ]


def lineage_metrics(extracted: DataFrame, run_id: str) -> DataFrame:
    """Per-partition lineage rows (FIXTURES.md §4) from the extraction
    output — no second pass over the input."""
    return extracted.groupBy("part_id").agg(
        F.count("*").alias("rows_out"),
        F.min("conv_id").alias("first_conv"),
        F.max("conv_id").alias("last_conv"),
        *lineage_counts(),
    ).withColumn("run_id", F.lit(run_id))


def transcript_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-JVM transcript metadata + ordering windows (no Python UDF).

    The SQL-expressible face of the fixture derivation (fixtures.conv_of):
    turn_rank / prev_role demonstrate the stable-turn-ordering Window the
    north_rule mandates, cross-checkable in DuckDB.
    """
    from pyspark.sql import Window

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return _with_transcript_meta(docs).select(
        "conv_id",
        "turn_idx",
        "role",
        _ts_epoch_expr(F.col("doc_id")).alias("ts_epoch"),
        F.row_number().over(w).cast("long").alias("turn_rank"),
        F.lag("role").over(w).alias("prev_role"),
    )


def extract_vertical_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 contract surface: the vertical (columnar) twin of every
    pdf-kind document at doc_id % 10 == 3, extracted end-to-end through
    the transpose route (kernels/pdf.py extract_vertical; ref tall-box
    rotate ocrcvlib/src/main/cpp/jni/ocr.cpp:422,479).

    Lives OUTSIDE the main transcripts fixture so every existing golden
    stays byte-identical; the oracle is a committed pure-Python golden
    (scripts/gen_op_golden.py) over the same deterministic payloads.
    """
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") % 10 == 3)
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                build_vertical(int(doc_id), text or "")
                for doc_id, text in zip(pdf["doc_id"], pdf["text"])
            ]
            cols = _extract_columns(payloads, [None] * len(payloads))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"],
                 **{c: cols[c] for c in ("kind", "extracted", "spans_json")}}
            )

    return docs.repartition(
        spark.sparkContext.defaultParallelism
    ).mapInPandas(
        gen, schema="doc_id long, kind string, extracted string, spans_json string"
    )


def conversation_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-iterator surface: applyInPandas keyed by conv_id — the
    per-conversation fold the north_rule's grouped UDFs exist for.

    Each group arrives as one pandas frame; the fold (order by turn_idx,
    chain-digest the extracted texts) genuinely needs whole-conversation
    context, unlike the per-turn map stages. At scale the groupBy
    shuffles once on unsalted conv_id — acceptable because per-group
    output is O(1); the salted stage upstream already defused the
    extraction skew.
    """
    import hashlib

    ex = extract_corpus(spark, sf_dir).select(
        "conv_id", "turn_idx", "extracted"
    )

    def digest(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("turn_idx")
        joined = "\x1f".join(pdf["extracted"].tolist())
        return pd.DataFrame(
            {
                "conv_id": [pdf["conv_id"].iloc[0]],
                "n_turns": [len(pdf)],
                "digest": [hashlib.md5(joined.encode("utf-8")).hexdigest()[:16]],
                "sum_chars": [int(pdf["extracted"].str.len().sum())],
            }
        )

    return ex.groupBy("conv_id").applyInPandas(
        digest, "conv_id string, n_turns long, digest string, sum_chars long"
    )

