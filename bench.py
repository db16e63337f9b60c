"""Headline benchmark — prints ONE JSON line.

    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 python bench.py

Queries timed (post-warmup of the Spark session):
- extract:      the flagship transcript extraction pipeline (turns/sec is
                the north-star metric; corpus replicated x REPEAT so python
                work dominates JVM fixed costs)
- dedup_minhash: MinHash LSH + verified jaccard over documents (the
                corpus is ~dup-free, so the r4 dup-rate gate takes the
                collapse-skip path — the r3 regression clawed back)
- dedup_minhash_dupheavy: the same op over a materialized every-text-
                twice twin corpus — the collapse-ENGAGED regime
- decontaminate: cross-corpus train/test overlap removal against the
                doc_id%13 eval slice — probe-routed (this corpus takes
                the dense GEMM near arm; the probe's driver actions are
                part of the timed cost, as in production)
- decontaminate_inverted: the same op against a doc_id%3 slice matched
                on 3-shingles, whose vocabulary is past the dense cap,
                so the probe takes the inverted-index near arm (the
                big-eval-suite route)
- dup_spans:    substring-span dedup (duplicated 13-gram windows ->
                merged per-doc token intervals; the Lee et al. pass)
- lm_perplexity: CCNet bigram-LM quality scoring (train on the
                doc_id%7 slice, score + tercile-bucket the corpus)
- dsir_select:  DSIR importance resampling (hashed n-gram bag models
                vs the doc_id%11 target slice, Gumbel-top-1000)
- knn_topk:     brute-force cosine top-k over embeddings
- q1:           TPC-H Q1 shape over lineitem
- token_stats:  JVM-only text analysis sweep
- curate:       the end-to-end capstone (extract -> scrub -> quality
                floor -> first-occurrence dedup in ONE DAG); its
                single-Arrow-stage plan is re-asserted at bench scale
                before timing
- pretrain_pipeline: the full-surface capstone (extract -> gopher gate
                -> strip dup spans -> minhash dedup verdicts -> 3-gram
                decontamination -> dsir top-k -> pack_shards, three
                stage barriers — VERDICT r4 item 4)

Env knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (default: the cores this
process may run on), SPARK_GRAFT_REPEAT (default 16), SPARK_GRAFT_PARTITIONS
(default 2x cpus), SPARK_GRAFT_MEM (driver memory; default half the host's
physical memory, at most 48g).
"""

from __future__ import annotations

import json
import os
import sys
import time

# Host-health sentinel (VERDICT r4 item 2): BENCH_r04.json shipped a
# degraded-hypervisor window as the round's headline (untouched control
# queries read 2.9x r3 with zero code change). The sentinel is a FIXED
# synthetic workload — pure Spark, independent of any graded op's code,
# so it can only move when the host moves. It runs best-of-3 right
# after warmup (control_pre) and again after the last timed query
# (control_post); either reading >1.5x the committed reference
# (BENCH/control_ref.json, regenerate with scripts/gen_control_ref.py
# on an idle host) marks the whole record host_degraded=true. With no
# reference for this core count the check is off: host_degraded=null.
CONTROL_TOLERANCE = 1.5


def control_probe(spark) -> float:
    """Best-of-3 seconds for a fixed CPU+shuffle workload."""
    from pyspark.sql import functions as F

    times = []
    for _ in range(3):
        t0 = time.time()
        (
            spark.range(30_000_000)
            .select((F.col("id") % 9973).alias("k"), F.col("id"))
            .groupBy("k")
            .agg(F.sum("id").alias("s"), F.count("*").alias("n"))
            .select(F.sum(F.col("s") % F.col("n")))
            .collect()
        )
        times.append(time.time() - t0)
    return round(min(times), 3)


def load_control_ref(cpus: int) -> float | None:
    ref_path = os.path.join(os.path.dirname(__file__), "BENCH", "control_ref.json")
    try:
        with open(ref_path) as f:
            ref = json.load(f)
    except (OSError, ValueError):
        return None
    # the reference is host-shape-specific: only comparable at the same
    # core count it was committed for
    if ref.get("cpus") != cpus:
        return None
    return float(ref["control_sec"])


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(
        os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    )
    repeat = int(os.environ.get("SPARK_GRAFT_REPEAT", "16"))
    partitions = int(os.environ.get("SPARK_GRAFT_PARTITIONS", str(cpus * 2)))
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")

    from pyspark.sql import functions as F

    from text_ocr_spark.ops.curate import curate_corpus
    from text_ocr_spark.ops.decontam import decontaminate
    from text_ocr_spark.ops.dedup import minhash_dedup
    from text_ocr_spark.ops.relational import q1_pricing_summary
    from text_ocr_spark.ops.similarity import brute_topk
    from text_ocr_spark.ops.span_dedup import dup_spans
    from text_ocr_spark.ops.text_stats import token_stats
    from text_ocr_spark.pipeline import extract_corpus, session_builder

    # driver heap: half the host's physical memory (the local-mode Python
    # workers share the host), never more than the 48g of the committed
    # 32-core records
    phys_gb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 30
    mem = os.environ.get("SPARK_GRAFT_MEM", f"{min(48, max(1, phys_gb // 2))}g")
    spark = (
        session_builder(master=f"local[{cpus}]", app="text_ocr_spark-bench")
        .config("spark.sql.shuffle.partitions", str(partitions))
        .config("spark.driver.memory", mem)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # warm up the JVM AND the Python workers (each core's worker imports
    # numpy/pandas/the engine on first use) so per-query times measure
    # steady-state throughput — the regime a long-running job lives in
    spark.range(1000).select(F.sum("id")).collect()
    import pandas as _pd

    def _noop(batches):
        import text_ocr_spark.kernels.extract  # noqa: F401
        for b in batches:
            yield _pd.DataFrame({"id": b["id"]})

    spark.range(cpus * 4).repartition(cpus * 4).mapInPandas(
        _noop, schema="id long"
    ).count()
    # one un-replicated pass primes scan/codegen/AQE codepaths so timed
    # queries report steady-state throughput (extract_job does the same)
    extract_corpus(spark, sf_dir, repeat=1, num_partitions=partitions).count()

    control_ref = load_control_ref(cpus)
    control_pre = control_probe(spark)

    passes = max(1, int(os.environ.get("SPARK_GRAFT_PASSES", "3")))
    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    all_passes: dict[str, list[float]] = {}
    extra: dict[str, float] = {}

    def timed(name: str, fn) -> None:
        # this guest shows ~20% run-to-run swings (hypervisor
        # neighbors); `queries` reports the best pass (the job's
        # capability), `queries_median` the median (VERDICT r3 item 7:
        # attributable regressions), `queries_all` every raw pass
        times: list[float] = []
        for _ in range(passes):
            t0 = time.time()
            result = fn()
            times.append(time.time() - t0)
        srt = sorted(times)
        timings[name] = round(srt[0], 3)
        # true median: average the two middle elements at even counts
        # (srt[n//2] alone is the UPPER middle — biased high on this
        # ~20%-noise guest, exactly where the field must be unbiased)
        mid = len(srt) // 2
        med = srt[mid] if len(srt) % 2 else (srt[mid - 1] + srt[mid]) / 2
        medians[name] = round(med, 3)
        all_passes[name] = [round(t, 3) for t in times]
        if isinstance(result, dict):
            extra.update(result)

    def run_extract():
        out = extract_corpus(spark, sf_dir, repeat=repeat, num_partitions=partitions)
        n = out.count()
        return {"turns": n}

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    # plan gate at BENCH scale: the curate capstone must still be one
    # exchange + one Arrow stage here, not just at the pytest SF
    from text_ocr_spark.plans import count_arrow_stages

    n_arrow = count_arrow_stages(curate_corpus(spark, sf_dir))
    if n_arrow != 1:
        raise RuntimeError(
            f"curate plan regressed: {n_arrow} Arrow stages (want 1)"
        )

    # dup-heavy twin of the documents corpus (every text twice,
    # materialized so the timed query sees a realistic parquet scan):
    # exercises the collapse-ENGAGED path at bench scale, while the real
    # documents corpus (~0% exact dups) now takes the gate's skip path —
    # both regimes stay visible in the bench record
    import shutil
    import tempfile

    dup_root = tempfile.mkdtemp(prefix="bench_dupheavy_")
    try:
        dup_dir = dup_root + "/docs.parquet"
        docs.unionByName(
            docs.withColumn("doc_id", F.col("doc_id") + 10_000_000)
        ).write.mode("overwrite").parquet(dup_dir)
        docs_dup = spark.read.parquet(dup_dir)

        timed("extract", run_extract)
        timed("dedup_minhash", lambda: minhash_dedup(docs).count())
        timed("dedup_minhash_dupheavy", lambda: minhash_dedup(docs_dup).count())
        test_slice = docs.where(F.col("doc_id") % 13 == 0).select(
            "doc_id", "text"
        )
        timed(
            "decontaminate",
            lambda: decontaminate(docs, test_slice).count(),
        )
        # 3-shingles of a doc_id%3 slice: its vocabulary (7.6k at
        # sf0.01, 26k at sf0.1) exceeds DENSE_VOCAB_LIMIT, so the probe
        # picks the inverted arm at every fixture scale
        big_slice = docs.where(F.col("doc_id") % 3 == 0).select(
            "doc_id", "text"
        )
        timed(
            "decontaminate_inverted",
            lambda: decontaminate(docs, big_slice, ngram=3).count(),
        )
        timed("dup_spans", lambda: dup_spans(docs).count())
        from text_ocr_spark.ops.lm import lm_perplexity

        lm_ref = docs.where(F.col("doc_id") % 7 == 0).select(
            "doc_id", "text"
        )
        timed(
            "lm_perplexity", lambda: lm_perplexity(docs, lm_ref).count()
        )
        from text_ocr_spark.ops.dsir import dsir_select

        dsir_target = docs.where(F.col("doc_id") % 11 == 0).select(
            "doc_id", "text"
        )
        timed(
            "dsir_select",
            lambda: dsir_select(docs, dsir_target, k=1000).count(),
        )
        timed("knn_topk", lambda: brute_topk(emb).count())
        timed("q1", lambda: q1_pricing_summary(spark, sf_dir).count())
        timed("token_stats", lambda: token_stats(docs).count())
        timed("curate", lambda: curate_corpus(spark, sf_dir).count())
        from text_ocr_spark.ops.curate import pretrain_pipeline

        timed(
            "pretrain_pipeline",
            lambda: pretrain_pipeline(spark, sf_dir).count(),
        )
    finally:
        shutil.rmtree(dup_root, ignore_errors=True)

    control_post = control_probe(spark)
    control_measured = max(control_pre, control_post)
    host_degraded = (
        None
        if control_ref is None
        else control_measured > CONTROL_TOLERANCE * control_ref
    )
    if host_degraded:
        print(
            f"WARNING: host window degraded — control {control_measured}s "
            f"(pre {control_pre} / post {control_post}) vs committed ref "
            f"{control_ref}s x{CONTROL_TOLERANCE}; do not use this record "
            "for cross-round comparison",
            file=sys.stderr,
        )

    total = round(sum(timings.values()), 3)
    turns_per_sec = round(extra.get("turns", 0) / max(timings["extract"], 1e-9), 1)
    print(
        json.dumps(
            {
                "metric": "bench_total_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "queries_median": medians,
                "queries_all": all_passes,
                "passes": passes,
                "sf": sf,
                "cpus": cpus,
                "repeat": repeat,
                "turns": int(extra.get("turns", 0)),
                "turns_per_sec": turns_per_sec,
                "control_ref": control_ref,
                "control_pre": control_pre,
                "control_post": control_post,
                "control_measured": control_measured,
                "host_degraded": host_degraded,
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
