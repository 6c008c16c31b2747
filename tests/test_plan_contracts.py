"""Plan contracts: the optimizer properties the 100-TB design depends on,
asserted over the real compiled plans so they cannot silently regress.

Why plan-level tests: every value-level oracle in this suite would still
pass if a broadcast join degraded to a shuffled sort-merge join, a pushed
filter stopped reaching the parquet scan, or a per-row Python UDF crept
into a codegen pipeline — the answers stay right while the 1000-executor
plan quietly dies. These tests pin the plan properties themselves:

* no CartesianProduct and no per-row Python (BatchEvalPython) anywhere in
  the 35-query contract registry (SURVEY.md §2.10: Arrow-batched or
  codegen only);
* filter + column pruning reach the scan (PushedFilters / ReadSchema);
* the broadcast spatial join plans with zero hash-partition exchanges;
* the phash hamming near-dup keeps the bit_count(xor) filter in the join
  stage and has NO pair-level dedup aggregate at all (canonical-band
  filter; the round-4 regression — dedup-before-filter — shuffled 27.2B
  unfiltered candidate pairs and killed the bench JVM, VERDICT r4
  "What's wrong #1").
"""
import importlib.util
import os
import re

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.001"

from geospatial_studio_pipelines_spark import contracts  # noqa: E402


def _entry_module():
    spec = importlib.util.spec_from_file_location(
        "gsp_entry", os.path.join(REPO, "__spark_entry__.py"))
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _final_plan(df) -> str:
    """Execute, then render the AQE-final physical plan (codegen `*(n)`
    markers and runtime-chosen join strategies only exist post-execution);
    keep the Final Plan section when AQE prints both."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==", 1)[0]


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_no_cartesian_or_per_row_python_anywhere(spark):
    """Sweep the full driver-contract registry: no query may plan a
    cartesian product or a per-row Python eval. (Arrow-batched Python —
    ArrowEvalPython / MapInPandas / MapInArrow — is the sanctioned slow
    path; BatchEvalPython is the row-at-a-time one that is never allowed.)
    """
    m = _entry_module()
    offenders = {}
    for name, fn in m.queries().items():
        plan = _physical(fn(spark, SF_DIR))
        bad = [tok for tok in ("CartesianProduct", "BatchEvalPython") if tok in plan]
        if bad:
            offenders[name] = bad
    assert not offenders, f"forbidden plan nodes: {offenders}"


def test_pricing_summary_scan_pushdown_and_pruning(spark):
    plan = _physical(contracts.q_pricing_summary(spark, SF_DIR))
    # the shipdate predicate must reach the parquet reader, through the
    # small-scan repartition load() inserts
    assert "PushedFilters:" in plan and "l_shipdate" in plan.split("PushedFilters:", 1)[1].split("]", 1)[0]
    # column pruning: lineitem's widest column must not be read
    assert "l_comment" not in plan
    # partial (map-side) aggregation before the exchange
    assert plan.count("HashAggregate") >= 2 or plan.count("SortAggregate") >= 2


def test_top_revenue_orders_broadcasts_dimension(spark):
    plan = _physical(contracts.q_top_revenue_orders(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_cell_assignment_is_pure_codegen(spark):
    plan = _final_plan(contracts.q_cell_assignment(spark, SF_DIR))
    for tok in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "PythonMapInArrow"):
        assert tok not in plan, f"Python stage {tok} in a codegen-only query"
    # "*(n)" prefixes mark whole-stage-codegen spans in the plan rendering
    assert "*(" in plan, "no whole-stage-codegen span in a pure-expression query"


def test_bbox_spatial_join_is_cell_equi_join_not_nested_loop(spark):
    """The prune-stage spatial join gets its candidates from the covering-
    cell EQUI-join (O(candidates), shuffles on cell_id — the plan that
    survives a 100× scale-up on either side), never from an O(n·m)
    broadcast nested loop or cartesian product over the raw bbox
    inequality predicate."""
    plan = _physical(contracts.q_bbox_spatial_join(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert any(j in plan for j in
               ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))


def test_image_tile_join_broadcast_path_has_no_hash_exchange(spark):
    """The flagship broadcast spatial join (image footprints × packed
    R-tree AOIs via sc.broadcast + mapInArrow): nothing at or below the
    Arrow join stage may hash-partition — the probe side streams map-side.
    (Exchanges ABOVE the join belong to the query's final agg/sort and
    print before the join marker, since children render after parents.)"""
    plan = _final_plan(contracts.q_image_tile_join(spark, SF_DIR))
    assert "MapInArrow join_partition" in plan
    join_sub = plan.split("MapInArrow join_partition", 1)[-1]
    assert "Exchange hashpartitioning" not in join_sub


def test_phash_near_dup_pair_dedup_is_shuffle_free(spark):
    """The r4 bench-killer guard, strengthened: the cheap bit_count(xor)
    hamming filter must be IN the plan (the join stage filters candidates
    before anything else touches them), and there must be NO pair-level
    dedup aggregate at all — multi-table emissions are removed by the
    canonical-band filter (a pure expression), so the only Aggregates left
    are the hot-bucket guard's per-bucket counts. A dropDuplicates over
    (id_a, id_b) reappearing would re-introduce a whole-result-set
    exchange (and, ordered wrongly, the 27.2B-pair shuffle that killed the
    r4 bench JVM)."""
    out = contracts.q_phash_near_dups(spark, SF_DIR)
    plan = _optimized(out)
    assert "bit_count" in plan, "hamming filter vanished from the plan"
    assert "Aggregate [id_a" not in plan, (
        "pair-level dedup aggregate reappeared — pair dedup must stay the "
        "shuffle-free canonical-band filter"
    )


def test_corpus_clean_pairs_drop_side_has_no_dedup_aggregate(spark):
    """policy="pairs": the dropped-id side of the left-anti join must NOT
    be deduplicated — the anti-join is insensitive to right-side
    duplicates, so a .distinct() there was a pure extra exchange over the
    pair set (r6 verdict item #3). The only Aggregate left in the whole
    optimized plan is the exact-dedup keeper min(doc_id) per fingerprint."""
    plan = _optimized(contracts.q_corpus_clean(spark, SF_DIR))
    assert plan.count("Aggregate") == 1


def test_hamming_self_join_bands_once_and_reuses_its_shuffle(spark, tmp_path):
    """The self-join bands its input once and joins that frame to itself,
    so the two sides' (band, key) exchanges are canonically equal and the
    final adaptive plan runs one shuffle and reuses it for the other side.
    A parquet source is the benchmark's shape."""
    from pyspark.sql import functions as F

    from geospatial_studio_pipelines_spark.operators import dedup

    src = str(tmp_path / "phash")
    spark.range(2000).select(
        F.col("id").alias("image_id"),
        F.xxhash64(F.col("id") % 1500).bitwiseAND(F.lit(2**62 - 1)).alias("phash"),
    ).write.parquet(src)
    out = dedup.hamming_near_dups(
        spark.read.parquet(src), "phash", id_col="image_id", bits=62, max_hamming=3
    )
    plan = re.sub(r"#\d+L?", "", _final_plan(out))  # drop expression ids
    nodes = [line.lstrip(" :+-") for line in plan.splitlines()]
    assert sum(n.startswith("Exchange hashpartitioning(band, key") for n in nodes) == 1, plan
    assert sum(n.startswith("ReusedExchange") for n in nodes) == 1, plan


def test_image_pipeline_has_no_pandas_map(spark):
    """The image pipeline's row-wise stages run as Arrow batch maps: its
    physical plan has Python map nodes, and none of them is a pandas one."""
    plan = _physical(contracts.q_image_pipeline(spark, SF_DIR))
    assert "MapInArrow" in plan
    assert "MapInPandas" not in plan, plan
