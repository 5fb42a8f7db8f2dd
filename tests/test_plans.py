"""Plan-shape regression tests: the queries must not only return the right
rows at sf0.01, they must carry the plan properties that survive 100 TB —
pushed filters, pruned scans, broadcast dims, no accidental cartesian
products, partitioned (never global) windows in data paths."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from weather_data_warehouse_aws_spark.plans.inspect import (
    count_op,
    has_cartesian,
    physical_plan,
    pushed_filters,
    scan_columns,
)

_QUERIES = entrymod.queries()


def test_pricing_summary_pushdown_and_pruning(spark, sf_dir):
    plan = physical_plan(_QUERIES["pricing_summary"](spark, sf_dir))
    pf = " ".join(pushed_filters(plan))
    assert "l_shipdate" in pf, "shipdate filter not pushed to parquet"
    cols = scan_columns(plan)
    assert "l_comment" not in cols and "l_partkey" not in cols
    assert {"l_quantity", "l_extendedprice", "l_returnflag"} <= cols
    # map-side combine: partial aggregates must run before the exchange
    assert "partial_sum" in plan and "partial_count" in plan
    # whole-stage codegen shows as *(N) markers in the executed plan
    from weather_data_warehouse_aws_spark.plans.inspect import executed_plan

    ex = executed_plan(_QUERIES["pricing_summary"](spark, sf_dir))
    assert "*(" in ex, "aggregation fell out of whole-stage codegen"


def test_dim_joins_broadcast(spark, sf_dir):
    for name in ("dim_join_ranking", "role_playing_nation"):
        plan = physical_plan(_QUERIES[name](spark, sf_dir))
        assert count_op(plan, "BroadcastHashJoin") >= 2, name
        assert not has_cartesian(plan), name
        assert count_op(plan, "SortMergeJoin") == 0, f"{name}: dim join shuffled"


def test_band_join_is_equi_join(spark, sf_dir):
    """Every range predicate (symmetric band AND asymmetric interval) must
    ride an equi-join (hash or sort-merge on (key, bucket)), never a
    nested-loop/cartesian theta join."""
    for name in ("band_joins", "interval_join"):
        plan = physical_plan(_QUERIES[name](spark, sf_dir))
        assert not has_cartesian(plan), name
        assert (
            count_op(plan, "BroadcastHashJoin")
            + count_op(plan, "SortMergeJoin")
            + count_op(plan, "ShuffledHashJoin")
            >= 1
        ), name


def test_weather_e2e_no_cartesian(spark, sf_dir):
    plan = physical_plan(_QUERIES["weather_e2e"](spark, sf_dir))
    assert not has_cartesian(plan)


def test_dedup_queries_no_cartesian(spark, sf_dir):
    """Candidate generation must be equi-join-shaped for every dedup
    strategy (all-pairs comparison would 'work' here and die at scale).

    `embedding_neardup` is allowed BroadcastNestedLoopJoins — its semdedup
    branch assigns cells by scoring against the BROADCAST ≤16-row centroid
    relation (the same bounded pattern as ivf/ann_methods); what must never
    appear is an unbroadcast CartesianProduct, and the corpus-sized pair
    joins must stay hash joins."""
    for name in ("pair_dedup", "decontamination"):
        plan = physical_plan(_QUERIES[name](spark, sf_dir))
        assert not has_cartesian(plan), f"{name} plans a cartesian product"
    plan = physical_plan(_QUERIES["embedding_neardup"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # label-block + cell pair joins


def test_topk_crossjoin_is_intentional_and_bounded(spark, sf_dir):
    """cosine_topk is the one deliberate cross join — its left side must be
    a broadcast (the bounded query set), making it a map-side pass.

    Inspect the brute tier directly: `ann_methods` now returns a
    localCheckpoint (its caches are released before returning, ADVICE r5),
    so the composite's plan is a Scan ExistingRDD and the join shape must
    be asserted on the component that owns it."""
    from weather_data_warehouse_aws_spark.queries.similarity import (
        q_embedding_topk,
    )

    plan = physical_plan(q_embedding_topk(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan
    assert "BroadcastExchange" in plan


def test_ann_tier_plans_are_scale_shaped(spark, sf_dir):
    """Component-level invariants for the tiers `ann_methods` composes —
    the composite's own plan is a checkpoint scan now, so each tier's
    lazy plan is asserted directly: no non-broadcast cartesian, no
    row-at-a-time Python, and the only nested loops allowed are the
    bounded-broadcast kind (ivf's ≤16-row centroid assignment; the LSH
    hyperplane/stat broadcasts) — the corpus-sized joins stay hash
    joins."""
    from weather_data_warehouse_aws_spark.queries import similarity as S

    caches: list = []
    # needs_hash: the bucketed tiers must carry an equi-join for candidate
    # generation (cell/bucket/code joins); q8 is deliberately brute-shaped
    # over int8 codes (broadcast bounded query set, linear corpus pass)
    tiers = {
        "ivf": (S.q_ivf_ann(spark, sf_dir), True),
        "lsh": (S.q_lsh_topk(spark, sf_dir), True),
        "q8": (S.q_quantized_ann(spark, sf_dir), False),
        "pq": (S.q_pq_ann(spark, sf_dir, caches_out=caches), True),
    }
    try:
        for name, (df, needs_hash) in tiers.items():
            plan = physical_plan(df)
            assert "CartesianProduct" not in plan, f"{name}: cartesian"
            assert "BatchEvalPython" not in plan, f"{name}: python row UDF"
            if needs_hash:
                # candidate/rescore joins on the corpus side stay hash joins
                assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, (
                    f"{name}: no hash-shaped candidate join found"
                )
    finally:
        for c in caches:
            c.unpersist()


def test_windows_in_data_paths_are_partitioned(spark, sf_dir):
    """Window specs over raw tables must carry PARTITION BY; the only empty
    partitionings allowed are over post-aggregation micro-relations."""
    plan = physical_plan(_QUERIES["dedup_latest"](spark, sf_dir))
    assert "partitionspec" not in plan.lower() or True  # textual guard below
    assert "PartitionBy: []" not in plan
    plan2 = physical_plan(_QUERIES["window_rank"](spark, sf_dir))
    assert "p_brand" in plan2


def test_scan_pruning_documents(spark, sf_dir):
    """doc_profile reads only the document columns it uses (doc_id, text,
    lang) — never source or the precomputed n_chars."""
    plan = physical_plan(_QUERIES["doc_profile"](spark, sf_dir))
    cols = scan_columns(plan)
    assert "doc_id" in cols and "text" in cols
    assert "source" not in cols and "n_chars" not in cols


def test_partitioned_silver_prunes_partitions(spark, tmp_path_factory):
    """Hive-style date partitioning (the reference's #1 hand-tuned layout
    choice) must show PartitionFilters in the `tx_read` scan of the
    transaction-log silver table — a date filter reads one directory, not
    the table."""
    import datetime as dt

    from weather_data_warehouse_aws_spark.pipeline.generate import generate_bronze
    from weather_data_warehouse_aws_spark.operators.txlog import tx_read
    from weather_data_warehouse_aws_spark.pipeline.silver import (
        build_silver_current,
        read_bronze,
        write_silver_tx,
    )

    bronze = str(tmp_path_factory.mktemp("bronze_prune"))
    generate_bronze(bronze, days=3, seed=11)
    out = str(tmp_path_factory.mktemp("silver_prune"))
    write_silver_tx(
        build_silver_current(read_bronze(spark, bronze, "current")),
        out,
        "observation_date",
    )
    filtered = tx_read(spark, out).filter(
        F.col("observation_date") == dt.date(2024, 1, 2)
    )
    plan = physical_plan(filtered)
    assert "PartitionFilters" in plan
    assert "observation_date" in plan.split("PartitionFilters")[1].split("]")[0]
    assert filtered.count() == 8  # one day's cities only


def test_dynamic_partition_pruning(spark, tmp_path_factory):
    """Joining a partitioned fact to a filtered dim must trigger DPP: the
    fact scan carries a dynamicpruning subquery on the partition column, so
    only dim-selected partitions are read (at 100 TB this is the difference
    between scanning 3 days and 3 years)."""
    import datetime as dt

    from weather_data_warehouse_aws_spark.pipeline.generate import generate_bronze
    from weather_data_warehouse_aws_spark.pipeline.gold import build_dim_date
    from weather_data_warehouse_aws_spark.operators.txlog import tx_read
    from weather_data_warehouse_aws_spark.pipeline.silver import (
        build_silver_current,
        read_bronze,
        write_silver_tx,
    )

    bronze = str(tmp_path_factory.mktemp("bronze_dpp"))
    generate_bronze(bronze, days=4, seed=13)
    out = str(tmp_path_factory.mktemp("silver_dpp"))
    write_silver_tx(
        build_silver_current(read_bronze(spark, bronze, "current")),
        out,
        "observation_date",
    )
    fact = tx_read(spark, out)
    dim = build_dim_date(spark, "2024-01-01", "2024-12-31").filter(
        F.col("is_weekend") & (F.col("month") == 1)
    )
    joined = fact.join(dim, fact.observation_date == dim.full_date).select(
        "observation_date", "temperature_celsius", "date_key"
    )
    plan = physical_plan(joined)
    assert "dynamicpruning" in plan.lower(), plan
    # weekend days in the 4-day window: 2024-01-06 is the first Saturday —
    # generated days 01-01..01-04 are all weekdays, so the join is empty,
    # but ONLY after pruning decided which partitions to read
    assert joined.count() == 0


def test_no_expand_in_distinct_heavy_queries(spark, sf_dir):
    """Multiple exact COUNT(DISTINCT) in one agg forces Catalyst's Expand
    (input multiplied per distinct group) — the registry data paths must
    plan per-column/two-level distinct aggregates instead. Expand is only
    legitimate for grouping sets (rollup/cube)."""
    for name in ("profile", "decontamination"):
        plan = physical_plan(_QUERIES[name](spark, sf_dir))
        assert count_op(plan, "Expand") == 0, f"{name} plans an Expand"


def test_grouped_zscore_is_jvm_window(spark, sf_dir):
    """The registry z-score path must be the streaming window formulation —
    no whole-group pandas materialization anywhere in the data path."""
    plan = physical_plan(_QUERIES["grouped_zscore"](spark, sf_dir))
    assert "FlatMapGroupsInPandas" not in plan and "ArrowEvalPython" not in plan
    assert "Window" in plan
    assert "event_type" in plan  # partitioned, never global


def test_aqe_splits_skewed_join(spark, sf_dir):
    """AQE skew-join handling (SURVEY §4.5): a join with one monster key
    must show skew-split partitions in the final adaptive plan. Thresholds
    are lowered so local data sizes trigger the optimization."""
    from weather_data_warehouse_aws_spark.sources.tables import load_table

    confs = {
        # thresholds sized for kilobyte-scale test shuffles (prod defaults
        # are 256MB/64MB); partition coalescing disabled because it runs
        # first and absorbs small-scale skew before the detector sees it
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "2KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        ev = load_table(spark, sf_dir, "events")
        # one hot key: 80% of left rows collapse onto user_id 1. The input
        # must span multiple MAP tasks (repartition(16)) — a skewed reduce
        # partition is split along mapper boundaries, so a single-mapper
        # input is unsplittable no matter how skewed.
        left = (
            ev.repartition(16)
            .withColumn(
                "k", F.when(F.col("event_id") % 5 != 0, F.lit(1)).otherwise(F.col("user_id"))
            )
            .select("k", "event_id", "value", "props")
        )
        right = ev.repartition(16).select(
            F.col("user_id").alias("k"), F.col("event_id").alias("rid")
        )
        joined = left.join(right, "k").select("k", "rid")
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, "AQE did not split the skewed partition"
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dedup_clusters_no_cartesian(spark, sf_dir):
    """Pair generation AND the label-propagation join must both stay
    equi-join-shaped (the components loop runs eagerly, so inspect the
    edge-building plan plus one propagation round)."""
    from weather_data_warehouse_aws_spark.operators.graph import connected_components
    from weather_data_warehouse_aws_spark.queries.dedup import (
        MAX_SHINGLE_DF,
        SHINGLE_N,
        planted_documents,
    )
    from weather_data_warehouse_aws_spark.operators.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(
        planted_documents(spark, sf_dir), "doc_id", "text",
        n=SHINGLE_N, threshold=0.6, max_doc_freq=MAX_SHINGLE_DF,
    )
    assert not has_cartesian(physical_plan(pairs))
    comp = connected_components(pairs)
    assert not has_cartesian(physical_plan(comp))


def test_text_relevance_broadcasts_small_sides(spark, sf_dir):
    """BM25's term list, per-term df, and 1-row stats must broadcast; the
    only corpus-sized exchange is the (doc_id, tok) shuffle."""
    plan = physical_plan(_QUERIES["text_relevance"](spark, sf_dir))
    assert plan.count("BroadcastExchange") >= 3
    assert "CartesianProduct" not in plan


def test_token_budget_windows_are_bucket_scoped(spark, sf_dir):
    """The quota cut may window over (group, bucket) slivers and over the
    tiny per-bucket stats table — never over a bare whole-group data path."""
    from weather_data_warehouse_aws_spark.operators.sampling import (
        token_budget_sample,
    )
    from weather_data_warehouse_aws_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(F.split(F.trim("text"), r"\s+")).alias("tokens")
    )
    budgets = docs.groupBy("source").agg(
        (F.sum("tokens") / 2).cast("long").alias("budget")
    )
    plan = physical_plan(token_budget_sample(docs, "source", "doc_id", "tokens", budgets))
    # every window over row data carries both keys; offsets broadcast back
    data_windows = [
        line
        for line in plan.splitlines()
        if "windowspecdefinition" in line and "tokens" in line and "__h" in line
    ]
    assert data_windows, "expected the boundary-bucket cumulative window"
    assert all("__bkt" in w for w in data_windows), "window not bucket-scoped"
    assert plan.count("BroadcastExchange") >= 2


# ---------------------------------------------------------------------------
# Registry-wide invariants: every one of the 50 driver queries, not just the
# hand-picked ones above, must build a plan free of the two classic
# 100 TB-killers — a non-broadcast cartesian (data × data work) and
# row-at-a-time Python eval (BatchEvalPython; ~100× slower than Arrow).
# BroadcastNestedLoopJoin is allowed only for the entries whose cross join
# is a deliberate broadcast of a bounded side: the ANN brute-force baseline
# (query set), 1-row corpus stats (BM25 N/avgdl, spine bounds), and the
# k-means assignment's broadcast centroid array.
# ---------------------------------------------------------------------------
_BNLJ_INTENTIONAL = {
    "ann_methods",        # brute-force rescore baseline: broadcast query set
    "embedding_neardup",  # SemDeDup centroid assignment: broadcast centroids
    "events_rollup",      # broadcast 1-row date-bound stats for the spine
    "gap_fill",           # broadcast 1-row min/max hour bounds
    "ivf_ann_refined",    # broadcast centroids (assignment + Lloyd step)
    "text_relevance",     # broadcast 1-row (N, avgdl) BM25 stats
    "token_topk",         # broadcast 1-row CMS (width, depth) params rel
}


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_registry_plan_invariants(spark, sf_dir, name):
    plan = physical_plan(_QUERIES[name](spark, sf_dir))
    assert "CartesianProduct" not in plan, f"{name}: non-broadcast cartesian"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"
    if name not in _BNLJ_INTENTIONAL:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: unexpected nested-loop join — broadcast a bounded side "
            "or rewrite as an equi-join, then add to _BNLJ_INTENTIONAL with "
            "a justification"
        )
    spark.catalog.clearCache()
