"""spark-submit entry point for the extraction pipeline.

Usage (north_rule launch shape, SURVEY.md §3.4):

    spark-submit --master local[32] --py-files engine.zip \
        jobs/extract_job.py --sf-dir /root/testdata/sf0.001 \
        --out /tmp/extracted --run-id run1 [--partitions 64]

Writes the ordered extraction output as parquet to <out>/extracted and the
per-partition lineage/metrics rows to <out>/metrics.
"""

from __future__ import annotations

import argparse
import sys
import time


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf-dir", required=True, help="dir with documents.parquet")
    ap.add_argument("--out", required=True, help="output directory")
    ap.add_argument("--run-id", default="adhoc")
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--repeat", type=int, default=1, help="corpus replication (bench)")
    ap.add_argument("--skip-write", action="store_true", help="count only (bench)")
    args = ap.parse_args(argv)

    from text_ocr_spark.pipeline import (
        extract_corpus,
        lineage_metrics,
        ordered,
        session_builder,
    )

    spark = session_builder(
        master=None, app="text_ocr_spark.extract"
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # warm up the JVM and every core's Python worker (numpy/pandas/kernel
    # imports) so measured time is the pipeline's steady-state, at either
    # parallelism level of the scaling protocol
    import pandas as _pd

    def _noop(batches):
        # import the UDF's defining module (pulls pyspark.sql + kernels)
        # and run one payload through, so lazy inits (compiled regexes,
        # normalization tables) are paid before the timed window
        from text_ocr_spark import pipeline as _p

        _p.extract_payload(*_p.build_payload(0, "warmup"))
        for b in batches:
            yield _pd.DataFrame({"id": b["id"]})

    n_cores = spark.sparkContext.defaultParallelism
    spark.range(n_cores * 4).repartition(n_cores * 4).mapInPandas(
        _noop, schema="id long"
    ).count()
    if args.partitions is None:
        # 2x cores balances task granularity against per-task Arrow
        # overhead; Spark's 200-partition default churns workers at
        # small inputs
        args.partitions = n_cores * 2
    # one un-replicated pass primes codegen/AQE/scan codepaths so the
    # timed window reports steady-state throughput (the regime a
    # 10^12-turn job lives in), not first-query JIT
    extract_corpus(spark, args.sf_dir, num_partitions=args.partitions).count()
    t0 = time.time()
    extracted = extract_corpus(
        spark, args.sf_dir, repeat=args.repeat, num_partitions=args.partitions
    )
    if args.skip_write:
        n = extracted.count()
    else:
        # cache so the metrics aggregation doesn't recompute the extraction
        extracted.persist()
        out = ordered(extracted, num_partitions=args.partitions)
        out.write.mode("overwrite").parquet(f"{args.out}/extracted")
        lineage_metrics(extracted, run_id=args.run_id).write.mode(
            "overwrite"
        ).parquet(f"{args.out}/metrics")
        n = extracted.count()
        extracted.unpersist()
    dt = time.time() - t0
    print(f'{{"rows": {n}, "secs": {dt:.2f}, "turns_per_sec": {n / dt:.1f}}}')
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
