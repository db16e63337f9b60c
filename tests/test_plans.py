"""Physical-plan quality gates (the .explain discipline, SURVEY.md §4.2).

These assert the plan SHAPE, not timings: filters reach the parquet
scan, projections prune the read schema, small sides broadcast, the
extraction pipeline pays exactly one exchange before its single Arrow
stage, and JVM-only ops stay inside whole-stage codegen with no Python
in the plan. A regression that silently de-optimizes a plan fails here
long before it shows up in bench numbers.
"""

from __future__ import annotations

import re

from tests.conftest import SF_TINY


def plan_str(spark, df, mode: str = "formatted") -> str:
    # thin wrapper over the shared helper (one explain recipe everywhere)
    from text_ocr_spark.plans import plan_str as _ps

    return _ps(df, mode)


def test_q1_filter_pushdown_and_pruning(spark):
    from text_ocr_spark.ops.relational import q1_pricing_summary

    p = plan_str(spark, q1_pricing_summary(spark, SF_TINY))
    assert re.search(r"PushedFilters:.*LessThanOrEqual\(l_shipdate", p)
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m is not None
    read_cols = {c.split(":")[0] for c in m.group(1).split(",")}
    # 7 needed columns, not all 16 of lineitem
    assert read_cols == {
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate",
    }


def test_brute_topk_broadcasts_queries(spark):
    from text_ocr_spark.ops.similarity import brute_topk

    emb = spark.read.parquet(f"{SF_TINY}/embeddings.parquet")
    p = plan_str(spark, brute_topk(emb))
    assert "BroadcastNestedLoopJoin" in p  # tiny query side x big corpus


def test_extract_pipeline_exchange_budget(spark):
    """The fused path: exactly ONE exchange, ONE Arrow stage, and the
    exchange moves only (doc_id, text) — metadata attaches after."""
    from text_ocr_spark.pipeline import extract_corpus

    df = extract_corpus(spark, SF_TINY, num_partitions=8)
    p = plan_str(spark, df)
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert len(re.findall(r"\(\d+\) MapInPandas", p)) == 1
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m is not None
    assert {c.split(":")[0] for c in m.group(1).split(",")} == {
        "doc_id", "text",
    }


def test_jvm_only_ops_have_no_python_stage(spark):
    from text_ocr_spark.ops.relational import events_rollup
    from text_ocr_spark.ops.text_stats import token_stats

    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet")
    for df in (token_stats(docs), events_rollup(spark, SF_TINY)):
        p = plan_str(spark, df)
        assert "MapInPandas" not in p
        assert "BatchEvalPython" not in p
        assert "ArrowEvalPython" not in p
    # codegen markers ('* ' node prefix in formatted mode) are visible on
    # the non-AQE plan; AQE plans hide them until the final plan
    assert re.search(r"^\s*\S*\s*\* \w", plan_str(spark, token_stats(docs)), re.M)


def test_resume_chunk_filter_sits_below_the_arrow_stage(spark):
    """The chunked-resume predicate must filter the SCAN side, not the
    extraction output: a Filter above MapInPandas re-extracts the whole
    corpus once per chunk (round-1 defect, VERDICT r1 item 1)."""
    from text_ocr_spark.pipeline import conv_chunk_expr, extract_docs

    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet")
    df = extract_docs(docs.where(conv_chunk_expr(4) == 1), num_partitions=8)
    p = plan_str(spark, df, mode="simple")
    # simple mode prints root-first: the Filter below the Arrow stage
    # appears AFTER MapInPandas and holds the chunk hash expression
    i_map = p.index("MapInPandas")
    m = re.search(r"Filter.*xxhash64", p)
    assert m is not None and m.start() > i_map
    # no second Filter above the Arrow stage
    assert not re.search(r"Filter.*xxhash64", p[:i_map])
    # still the one-exchange / one-Arrow-stage fast path
    fp = plan_str(spark, df)
    assert len(re.findall(r"\(\d+\) Exchange", fp)) == 1
    assert len(re.findall(r"\(\d+\) MapInPandas", fp)) == 1


def test_ordered_output_is_range_partitioned(spark):
    from text_ocr_spark.pipeline import extract_corpus, ordered

    df = ordered(extract_corpus(spark, SF_TINY, num_partitions=8), 8)
    p = plan_str(spark, df)
    assert "rangepartitioning(conv_id" in p
    # in-partition sort (global=false), never a single-partition sort
    assert re.search(r"\[conv_id[^\]]*turn_idx[^\]]*\], false", p)


def test_q5_dimension_chains_broadcast(spark):
    """Six-table Q5 shape: every dimension chain broadcasts (no
    sort-merge shuffle of a dim, no cartesian product); the only
    exchanges belong to the final aggregate."""
    from text_ocr_spark.ops.relational import q5_region_supplier_volume

    p = plan_str(spark, q5_region_supplier_volume(spark, SF_TINY))
    assert len(re.findall(r"BroadcastHashJoin", p)) >= 4
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_collapse_skip_path_drops_expansion_joins(spark, monkeypatch):
    """r4 dup-rate gate, physical evidence: on a low-dup corpus the
    skip plan must contain strictly fewer exchanges than the
    forced-collapse plan (the rep semi-join + membership-expansion
    joins are gone), and zero SortAggregates either way (the known
    string-agg demotion pitfall). Both plans take the LSH route
    (DENSE_VOCAB_LIMIT = 0); the collapse is forced by patching
    ``_gate_collapse``."""
    import re as _re

    from pyspark.sql import functions as F

    from text_ocr_spark.ops import dedup
    from text_ocr_spark.ops.dedup import minhash_dedup

    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet")
    lowdup = (
        docs.groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "text")
    )

    def n_exchanges(df):
        return len(_re.findall(r"\(\d+\) Exchange", plan_str(spark, df)))

    monkeypatch.setattr(dedup, "DENSE_VOCAB_LIMIT", 0)
    plans = {}
    for collapse in (False, True):
        monkeypatch.setattr(dedup, "_gate_collapse", lambda *_, c=collapse: c)
        plans[collapse] = minhash_dedup(lowdup)
    skip, full = plans[False], plans[True]
    assert n_exchanges(skip) < n_exchanges(full)
    for df in (skip, full):
        assert "SortAggregate" not in plan_str(spark, df)


def test_plans_md_headings_match_the_capture_script():
    """PLANS.md is written by scripts/capture_plans.py, one ``## `` section
    per (title, commentary, plan) tuple. Its headings must be the
    script's titles in order; a stale heading shows a plan the script no
    longer captures. Reads both files only (no Spark)."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    tree = ast.parse((root / "scripts" / "capture_plans.py").read_text())
    titles = [
        node.elts[0].value
        for node in sorted(
            (n for n in ast.walk(tree) if isinstance(n, ast.Tuple)),
            key=lambda n: n.lineno,
        )
        if len(node.elts) == 3 and isinstance(node.elts[0], ast.Constant)
    ]
    plans = (root / "PLANS.md").read_text().splitlines()
    assert len(titles) > 20
    assert [line[3:] for line in plans if line.startswith("## ")] == titles
