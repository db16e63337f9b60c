"""Skew semantics (SURVEY.md §5.2 layer 6): the hot conversation must
spread across tasks after salting, and no partition may dominate."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_TINY


def test_hot_conversation_spreads_over_salt_buckets(spark):
    from text_ocr_spark.pipeline import extract_corpus

    ex = extract_corpus(spark, SF_TINY, num_partitions=16)
    parts = (
        ex.where(F.col("conv_id") == "conv-skew")
        .select("part_id")
        .distinct()
        .count()
    )
    # conv-skew has 100 turns; unsalted they'd collapse into ONE task.
    assert parts >= 8


def test_partition_balance_bounded(spark):
    from text_ocr_spark.pipeline import extract_corpus, lineage_metrics

    ex = extract_corpus(spark, SF_TINY, num_partitions=8)
    m = lineage_metrics(ex, run_id="skew").toPandas()
    # max partition carries < 3x the mean (500 rows over 8 partitions)
    assert m.rows_out.max() < 3 * m.rows_out.mean()


def test_unsalted_would_collapse(spark):
    """Control: partitioning by conv_id alone sends the hot conversation
    to one task — documents why the salt exists."""
    from text_ocr_spark.pipeline import build_transcripts

    t = build_transcripts(spark, SF_TINY)
    one = (
        t.repartition(16, F.col("conv_id"))
        .withColumn("pid", F.spark_partition_id())
        .where(F.col("conv_id") == "conv-skew")
        .select("pid")
        .distinct()
        .count()
    )
    assert one == 1


def test_salted_join_spreads_hot_key_and_preserves_result(spark):
    """salted_join == plain join row-for-row, while the hot key's rows
    spread over many tasks instead of one."""
    from text_ocr_spark.ops.joins import salted_join

    # hot key: 2000 of 2100 rows share user 'hot'
    big = spark.range(2100).select(
        F.when(F.col("id") < 2000, "hot")
        .otherwise(F.concat(F.lit("u"), F.col("id")))
        .alias("user_id"),
        F.col("id").alias("event_id"),
    )
    small = spark.createDataFrame(
        [("hot", "H"), ("u2050", "A")], "user_id string, segment string"
    )
    plain = big.join(small, "user_id").select("user_id", "event_id", "segment")
    salted = salted_join(big, small, "user_id").select(
        "user_id", "event_id", "segment"
    )
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )
    # the hot key occupies many partitions post-join (AQE would coalesce
    # this tiny corpus back to one partition and hide the spread)
    # force the shuffle-join regime salted_join exists for (tiny test
    # data would otherwise broadcast, and AQE would re-coalesce)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        spread = (
            salted_join(big, small, "user_id", salt_buckets=16)
            .withColumn("pid", F.spark_partition_id())
            .where(F.col("user_id") == "hot")
            .select("pid")
            .distinct()
            .count()
        )
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert spread >= 4
    # left join keeps unmatched big rows exactly once
    left = salted_join(big, small, "user_id", how="left")
    assert left.count() == 2100
