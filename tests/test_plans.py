"""Physical-plan audits — the scale contract, asserted.

Result-correctness is covered by the oracle tests; these assert the
plans are the ones we'd want at 100 TB: dimension joins broadcast,
filters reach the parquet scan, projections prune columns, aggregations
run partial before the shuffle, and shuffle counts stay at the expected
minimum.  A regression that keeps results right but, say, turns a
broadcast join into a sort-merge join fails HERE."""

from __future__ import annotations

from mysql_postgres_debezium_cdc_spark.plans.explain import plan_report
from mysql_postgres_debezium_cdc_spark.registry import all_queries
from tests.conftest import SF_DIR_SMOKE


def _plan(spark, name):
    return plan_report(all_queries()[name].fn(spark, SF_DIR_SMOKE))


def test_no_forced_broadcast_on_scale_growing_tables(spark):
    """An explicit broadcast hint OVERRIDES autoBroadcastJoinThreshold, so a
    hint on a frame that grows with scale factor forces a multi-GB broadcast
    build at 100× — executor OOM.  Every ResolvedHint in the TPC-H family
    must wrap a frame that is provably scale-independent: a bounded maxRows
    (1-row scalar aggregates) or a subtree whose scans read only the
    fixed-cardinality dims (nation = 25 rows, region = 5 — their columns are
    n_*/r_*-prefixed).  customer/supplier/part/orders/lineitem-derived
    frames must reach Catalyst UNHINTED (operators/hints.py policy)."""
    from mysql_postgres_debezium_cdc_spark.operators.hints import BOUNDED_MAX_ROWS

    checked, offenders = 0, []
    for name, spec in all_queries().items():
        if "tpch" not in spec.tags and "sql-api" not in spec.tags:
            continue
        checked += 1
        analyzed = spec.fn(spark, SF_DIR_SMOKE)._jdf.queryExecution().analyzed()
        stack = [analyzed]
        while stack:
            node = stack.pop()
            ch = node.children()
            for i in range(ch.size()):
                stack.append(ch.apply(i))
            if node.nodeName() != "ResolvedHint":
                continue
            child = ch.apply(0)
            max_rows = child.maxRows()
            if max_rows.isDefined() and max_rows.get() <= BOUNDED_MAX_ROWS:
                continue  # scalar aggregate / tiny limit: bounded at any SF
            leaves = child.collectLeaves()
            cols = []
            for i in range(leaves.size()):
                out = leaves.apply(i).output()
                cols += [out.apply(j).name() for j in range(out.size())]
            if cols and all(c.startswith(("n_", "r_")) for c in cols):
                continue  # reads only fixed-cardinality dims
            offenders.append((name, child.nodeName(), cols[:8]))
    assert checked >= 20, f"tag sweep found only {checked} TPC-H queries"
    assert not offenders, f"forced broadcast on scale-growing frames: {offenders}"


def test_q1_is_pure_partial_agg(spark):
    r = _plan(spark, "q1_pricing_summary")
    # scan → partial agg → 1 shuffle → final agg → sort: no joins at all
    assert r.n_broadcast_joins == 0 and r.n_sortmerge_joins == 0
    assert r.pushed_filters, "l_shipdate predicate must reach the parquet scan"
    assert "HashAggregate" in r.text


def test_q3_dims_broadcast(spark):
    r = _plan(spark, "q3_shipping_priority")
    assert r.n_broadcast_joins >= 1, "customer join must broadcast at this SF"
    assert r.pushed_filters


def test_q5_all_dim_joins_broadcast(spark):
    r = _plan(spark, "q5_local_supplier_volume")
    # region/nation/supplier/customer should all broadcast; the fact table
    # must never be the build side of a shuffle join at this SF.
    assert r.n_broadcast_joins >= 3
    assert r.n_sortmerge_joins <= 1


def test_q8_seven_way_join_broadcasts_dims(spark):
    r = _plan(spark, "q8_market_share")
    assert r.n_broadcast_joins >= 5
    assert r.pushed_filters


def test_scan_projection_prunes_columns(spark):
    r = _plan(spark, "scan_project")
    # ReadSchema must carry only the projected columns, not all 11
    read = [ln for ln in r.text.splitlines() if "ReadSchema" in ln]
    assert read and "l_comment" not in read[0]
    assert sum(c == "," for c in read[0]) <= 3, f"projection not pruned: {read[0]}"


def test_filter_pushdown_reaches_scan(spark):
    r = _plan(spark, "scan_filter_pushdown")
    assert r.pushed_filters


def test_join_sort_merge_reuses_partitioning_for_agg(spark):
    r = _plan(spark, "join_sort_merge")
    assert r.n_sortmerge_joins == 1
    # 2 join-side hash shuffles + 1 range shuffle for the final sort; the
    # groupBy on the join key must REUSE the join's partitioning — a 4th
    # shuffle means the agg re-partitioned what was already co-located
    assert r.n_shuffles <= 3, r.ops


def test_broadcast_dim_join_has_no_fact_shuffle(spark):
    r = _plan(spark, "join_broadcast_dim")
    assert r.n_broadcast_joins >= 1
    assert r.n_sortmerge_joins == 0


def test_dedup_exact_is_one_hash_shuffle(spark):
    r = _plan(spark, "dedup_exact_text")
    assert r.n_sortmerge_joins == 0 and r.n_broadcast_joins == 0
    # one hash shuffle for the groupBy + one range shuffle for the sort
    assert r.text.count("Arguments: hashpartitioning") == 1
    assert "HashAggregate" in r.ops  # partial agg before the shuffle


def test_topk_per_group_window_is_partitioned(spark):
    r = _plan(spark, "topk_per_group")
    assert "Window" in r.ops or "WindowGroupLimit" in r.ops
    # the window must be keyed (hashpartitioning), not a global single partition
    assert "Arguments: SinglePartition" not in r.text


def test_window_ntile_has_no_single_task_stage(spark):
    """The decomposed NTILE must contain NO unpartitioned window: no
    Exchange SinglePartition anywhere in the plan (the only windows are
    keyed by the range-chunk id), so no stage sees the whole table in
    one task at any scale."""
    r = _plan(spark, "window_ntile")
    assert "Window" in r.ops, r.ops  # the keyed per-chunk row_number
    assert "Arguments: SinglePartition" not in r.text, r.text[:3000]


def test_q11_reuses_aggregation_for_threshold(spark):
    """The scalar-subquery threshold must reuse the per-part aggregate
    (persisted), not recompute the lineitem join from scratch."""
    r = _plan(spark, "q11_important_parts")
    # both consumers read the cache (2 InMemoryTableScans over 1 relation);
    # the lineitem join itself lives only inside the cached subtree
    assert r.ops.count("InMemoryTableScan") == 2, r.ops


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Bucketed-by-key tables join with ZERO exchanges — the pay-the-
    shuffle-once-at-write-time contract (plans/bucketing.py)."""
    import pyspark.sql.functions as F

    from mysql_postgres_debezium_cdc_spark.plans.bucketing import write_bucketed
    from mysql_postgres_debezium_cdc_spark.sources.parquet import load

    orders = load(spark, SF_DIR_SMOKE, "orders").select("o_orderkey", "o_totalprice")
    li = load(spark, SF_DIR_SMOKE, "lineitem").select("l_orderkey", "l_extendedprice")
    write_bucketed(orders, "b_orders", str(tmp_path / "b_orders"), "o_orderkey")
    write_bucketed(li, "b_lineitem", str(tmp_path / "b_lineitem"), "l_orderkey")
    try:
        bo = spark.table("b_orders").hint("merge")
        bl = spark.table("b_lineitem")
        joined = bo.join(bl, F.col("o_orderkey") == F.col("l_orderkey"))
        r = plan_report(joined)
        assert r.n_sortmerge_joins == 1, r.ops
        assert r.n_shuffles == 0, r.ops  # the whole point of bucketing
        # results still correct
        n = joined.count()
        plain = orders.join(li, F.col("o_orderkey") == F.col("l_orderkey")).count()
        assert n == plain > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_salted_join_spreads_hot_key(spark):
    """Salting must place a hot key's rows in multiple salt groups."""
    import pyspark.sql.functions as F

    from mysql_postgres_debezium_cdc_spark.plans.skew import SALT_COL, _salt_of
    from mysql_postgres_debezium_cdc_spark.sources.parquet import load

    ev = load(spark, SF_DIR_SMOKE, "events")  # user_id is low-cardinality = hot
    salted = ev.withColumn(SALT_COL, _salt_of(ev.columns, 8))
    spread = (
        salted.groupBy("user_id")
        .agg(F.count_distinct(SALT_COL).alias("n_salts"))
        .agg(F.min("n_salts").alias("m"))
        .collect()[0]["m"]
    )
    assert spread >= 4, "hot keys must hit several salt partitions"


def test_partitioned_scan_prunes_directories(spark):
    """A predicate on the partition column must prune at planning time:
    the scan's PartitionFilters carry the IN-list and the file listing
    covers only the two matching event_type directories."""
    from mysql_postgres_debezium_cdc_spark.plans.explain import plan_report

    import pyspark.sql.functions as F

    from mysql_postgres_debezium_cdc_spark.plans.layout import (
        read_partitioned_events,
    )

    r = _plan(spark, "layout_partition_pruned_scan")
    assert "PartitionFilters" in r.text, r.text[:2000]
    assert "event_type" in r.text.split("PartitionFilters", 1)[1][:300]
    # Directory-level proof: the executed scan reports how many of the
    # five event_type partitions survived pruning.
    pruned = read_partitioned_events(spark, SF_DIR_SMOKE).where(
        F.col("event_type").isin("purchase", "signup")
    )
    pruned.collect()  # execute THIS dataset so its scan carries metrics
    scan = pruned._jdf.queryExecution().executedPlan().collectLeaves().head()
    metrics = scan.metrics()
    n_parts = metrics.apply("numPartitions").value()
    assert n_parts == 2, f"expected 2 pruned partitions, scan read {n_parts}"


def test_runtime_bloom_filter_prunes_probe_side(spark):
    """With runtime bloom-filter injection enabled (on by default),
    Catalyst builds a bloom filter from the selective build side of a
    shuffle join and applies might_contain() to the probe side's scan —
    the automatic analogue of a hand-rolled semi-join prefilter, and at
    100 TB the difference between shuffling the whole fact table and
    shuffling only rows that can possibly match."""
    import pyspark.sql.functions as F

    from mysql_postgres_debezium_cdc_spark.sources.parquet import load

    confs = {
        # Local fixtures are below the production thresholds; force the
        # rule to fire the way full-size scans would on a cluster.
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        orders = (
            load(spark, SF_DIR_SMOKE, "orders")
            .where(F.col("o_orderstatus") == "F")
            .select("o_orderkey")
        )
        li = load(spark, SF_DIR_SMOKE, "lineitem").select(
            "l_orderkey", "l_extendedprice"
        )
        j = li.join(orders, li.l_orderkey == orders.o_orderkey)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan[:2000]
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_observe_metrics_ride_the_query_pass(spark):
    """Observation counters must report on the full input while the
    query itself filters — one scan, both answers (plans/observe.py)."""
    import pyspark.sql.functions as F

    from mysql_postgres_debezium_cdc_spark.plans.observe import observe_dq
    from mysql_postgres_debezium_cdc_spark.sources.parquet import load

    ev = load(spark, SF_DIR_SMOKE, "events")
    observed, obs = observe_dq(ev, "value", "dq_events")
    n_purchases = observed.where(F.col("event_type") == "purchase").count()
    m = obs.get
    assert m["n_rows"] == ev.count()  # counters saw ALL rows pre-filter
    assert m["n_nulls"] == 0
    assert m["min_value"] <= m["max_value"]
    assert 0 < n_purchases < m["n_rows"]


def test_small_file_compaction_rewrites_to_target(spark, tmp_path):
    """Many tiny files in, few right-sized files out, same rows."""
    from mysql_postgres_debezium_cdc_spark.plans.layout import compact_small_files
    from mysql_postgres_debezium_cdc_spark.sources.parquet import load

    ev = load(spark, SF_DIR_SMOKE, "events")
    fragmented = str(tmp_path / "fragmented")
    ev.repartition(64).write.parquet(fragmented)  # simulate micro-batch litter
    frag = spark.read.parquet(fragmented)
    assert len(frag.inputFiles()) == 64
    compacted = str(tmp_path / "compacted")
    compact_small_files(frag, compacted, target_rows_per_file=500)
    out = spark.read.parquet(compacted)
    assert len(out.inputFiles()) == 2  # 1000 rows / 500 per file
    assert out.count() == ev.count()


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE skew-join must detect a hot key at runtime and split its
    partition (SortMergeJoin(skew=true) + AQEShuffleRead skewed) — the
    no-code-change complement to the explicit salting in plans/skew.py.
    Thresholds are lowered so fixture-scale data trips the same rule
    that fires on real skew at cluster scale."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "20KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "20KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(200000).selectExpr(
            "CASE WHEN id % 10 < 9 THEN 0 ELSE id END AS k", "id AS payload"
        )
        right = spark.range(1000).selectExpr("id AS k", "id * 2 AS r")
        j = left.join(right.hint("merge"), "k")
        n = len(j.collect())  # execute THIS dataset so AQE finalizes its plan
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:1500]
        assert "AQEShuffleRead skewed" in plan
        assert n == 180000 + 100  # hot key fan-out + 1:1 tail matches
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_shingles_tokenize_once(spark):
    """The shingle transform must slice a PRE-COMPUTED token array.
    Higher-order functions are interpreted, so an inlined regex split
    would re-evaluate per shingle position — O(tokens²) per document.
    Exactly one split in the plan = tokenize once per row."""
    from mysql_postgres_debezium_cdc_spark.llm.dedup import _shingles
    from mysql_postgres_debezium_cdc_spark.plans.explain import explain_str

    text = explain_str(_shingles(spark, SF_DIR_SMOKE))
    assert text.count("split(") == 1, text


def test_dedup_signature_plans_stay_narrow(spark):
    """Feature ids are computed INLINE (portable Horner hash), so the
    signature pipelines must contain no vocabulary pass: no sort-merge
    join anywhere, and a fixed shuffle budget (corpus repartition,
    per-doc profile agg, band buckets, pair dedup, final sort — the r1
    rank-join design cost 8).  The only joins are the verification-side
    profile lookups, which broadcast at this SF."""
    # minhash: verification joins back to the (array-payload) profile —
    # broadcast at this SF.  simhash: the 8-byte signature rides through
    # the bucket pipeline, so the whole plan is JOIN-FREE.
    # r13: simhash's signature comes whole from the Arrow kernel — the
    # per-doc bit-sum aggregation shuffle is gone (4 → 3).
    budget = {"dedup_minhash_lsh": (5, 2), "dedup_simhash": (3, 0)}
    for name, (max_shuffles, n_bcast) in budget.items():
        r = _plan(spark, name)
        assert r.n_shuffles <= max_shuffles, (name, r.n_shuffles, r.ops)
        assert r.n_sortmerge_joins == 0, (name, r.ops)
        assert r.n_broadcast_joins == n_bcast, (name, r.ops)


def test_null_profile_is_single_scan(spark):
    """The profiler must compute all per-column stats in one pass —
    one parquet Scan, multi-distinct via Expand, no unioned
    re-aggregations of the same table."""
    r = _plan(spark, "dq_null_profile")
    assert sum(o == "Scan" for o in r.ops) == 1, r.ops
    assert "Expand" in r.ops


def test_split_total_does_not_rescan_corpus(spark):
    """corpus_train_val_test_split: the grand total for frac comes from
    a bounded window over the 3-row aggregate, not a second scan."""
    r = _plan(spark, "corpus_train_val_test_split")
    assert sum(o == "Scan" for o in r.ops) == 1, r.ops


def test_lateral_topn_decorrelates_to_window_limit(spark):
    """The correlated LATERAL ... ORDER BY/LIMIT subquery must reach the
    same physical shape as the DataFrame top-k: WindowGroupLimit pruning
    plus a join — never a per-outer-row nested loop."""
    r = _plan(spark, "sql_api_lateral_topn")
    assert "WindowGroupLimit" in r.ops, r.ops
    assert "CartesianProduct" not in r.ops and "BroadcastNestedLoopJoin" not in r.ops


def test_repetition_ratio_aggregates_not_quadratic_arrays(spark):
    """text_repetition_ratio term counting goes explode->groupBy with
    map-side partials (HashAggregate pairs around each exchange), not
    per-row O(len^2) array ops."""
    r = _plan(spark, "text_repetition_ratio")
    assert "Generate" in r.ops  # explode reached the plan
    assert sum(o == "HashAggregate" for o in r.ops) >= 4


def test_multi_granularity_rollup_is_single_scan_expand(spark):
    """Three downsample levels must come from ONE pass: a single parquet
    Scan feeding Expand (grouping sets), not three unioned aggregates."""
    r = _plan(spark, "events_multi_granularity_rollup")
    assert sum(o == "Scan" for o in r.ops) == 1, r.ops
    assert "Expand" in r.ops
    assert "Union" not in r.ops


def test_heavy_hitters_plan_is_candidate_sized(spark):
    """agg_heavy_hitters_mg's scale contract: the MG candidate relation is
    the BROADCAST build side of the verification join (never sort-merge),
    the only Python crossing is the single MapInPandas sketch pass, and
    every documents scan is pruned to the text column — so the only
    full-data costs are column-pruned scans plus one Arrow pass, and every
    shuffle is candidate-sized (<= K rows per partition by construction)."""
    r = _plan(spark, "agg_heavy_hitters_mg")
    assert r.n_sortmerge_joins == 0, r.ops
    assert r.n_broadcast_joins >= 1, r.ops
    assert sum(o == "MapInPandas" for o in r.ops) == 1, r.ops
    assert "ReadSchema: struct<text:string>" in r.text


def test_zorder_is_shuffle_free_until_cell_rollup(spark):
    """layout_zorder_cells' scale contract: the morton key is pure
    projection arithmetic (no UDF, no join), so the ONLY exchanges are
    the 256-key cell rollup and the final cell ordering — input size
    never changes the shuffle count, and the orders scan is pruned to
    the two dimension columns."""
    r = _plan(spark, "layout_zorder_cells")
    assert r.n_exchanges <= 2, r.ops
    assert not any("Python" in o or "MapInPandas" in o for o in r.ops), r.ops
    assert "o_custkey" in r.text and "o_orderdate" in r.text
    assert "o_totalprice" not in r.text  # column pruning reached the scan


def test_kmeans_centroids_broadcast_corpus_never_shuffles_whole(spark):
    """cluster_kmeans_embeddings' scale contract: every assignment pass
    joins the corpus against BROADCAST centroids (k is a constant, the
    one always-safe hint in the engine) — the full vector relation must
    never be the build side and never sort-merge-joins."""
    r = _plan(spark, "cluster_kmeans_embeddings")
    assert r.n_sortmerge_joins == 0, r.ops
    # crossJoin(broadcast(centroids)) compiles to BroadcastNestedLoopJoin
    # (no equi-key), one per assignment pass — the corpus side streams.
    assert sum(o == "BroadcastNestedLoopJoin" for o in r.ops) >= 2, r.ops
    assert sum(o == "BroadcastExchange" for o in r.ops) >= 2, r.ops


def test_bpe_encode_is_pure_codegen_map(spark):
    """corpus_bpe_encode must stay a narrow, shuffle-free, JVM-side
    projection: the merge chain compiles into whole-stage codegen, no
    Python crossing, and the scan reads only (doc_id, text).  The two
    exchanges allowed: spread_small_scan's fixture repartition and the
    final doc_id ordering — neither scales with input size."""
    r = _plan(spark, "corpus_bpe_encode")
    assert not any("Python" in o or "MapInPandas" in o for o in r.ops), r.ops
    assert r.n_exchanges <= 2, r.ops
    assert "lang" not in r.text  # pruned


def test_bloom_dedup_exact_join_is_candidate_sized(spark):
    """dedup_bloom_incremental's point is that the expensive text-equality
    join happens AFTER the bloom pre-filter: the distinct-positions
    relation (<= m rows, constant) must broadcast, never sort-merge."""
    r = _plan(spark, "dedup_bloom_incremental")
    assert r.n_sortmerge_joins == 0, r.ops


def test_reservoir_sample_keeps_partial_group_limit_before_shuffle(spark):
    """corpus_reservoir_per_group is the deterministic distributed
    reservoir: the rank<=k filter must push down to a PARTIAL
    WindowGroupLimit below the lang exchange (map tasks keep <= k rows
    per group, the shuffle carries O(k * parts * groups) rows), the
    group-size side must broadcast, and only (doc_id, lang, n_chars)
    may leave the scan."""
    r = _plan(spark, "corpus_reservoir_per_group")
    assert "WindowGroupLimit" in r.ops, r.ops
    assert "Partial" in r.text and "row_number()" in r.text
    assert r.n_sortmerge_joins == 0, r.ops
    assert r.n_broadcast_joins == 1, r.ops
    assert "text" not in r.text.split("ReadSchema")[1][:200]


def test_ivfpq_encode_is_literal_codebook_map(spark):
    """ann_ivfpq_topk's scale contract: the KB-sized codebook ships to
    every worker (faiss-style) — since r13 via the Arrow kernel closure
    instead of plan literals (the 512-double literal tree cost ~1 s of
    Catalyst analysis per build).  Still no explode, no codebook JOIN
    (the kernels are the only Python crossings, and they are Arrow
    `MapInPandas`, never row-at-a-time `BatchEvalPython`), and nothing
    may sort-merge join: every join in the pipeline has a
    broadcast-sized build side (probes/queries) by construction."""
    r = _plan(spark, "ann_ivfpq_topk")
    assert r.n_sortmerge_joins == 0, r.ops
    # encode + qtab kernels are present and Arrow-vectorized
    assert "MapInPandas" in r.ops, r.ops
    assert not any("BatchEvalPython" in o or "ArrowEvalPython" in o for o in r.ops), r.ops
    assert "Generate" not in r.ops, r.ops  # no explode in the encode path
    # the literal codebook tree is gone from the plan (closure-shipped)
    assert "array_position" not in r.text


def test_vocab_coverage_prefix_sum_is_two_phase(spark):
    """text_vocab_head_coverage must run its cumulative sums as the
    two-phase prefix sum: the vocabulary-sized window is PARTITIONED by
    the frequency band (an exchange hash-partitioned on band), and the
    corpus is scanned exactly once (one parquet scan of documents)."""
    r = _plan(spark, "text_vocab_head_coverage")
    assert "hashpartitioning(band" in r.text, "within-band window not partitioned"
    # Both prefix-sum branches (within-band pass + band summary) must
    # read the persisted vocabulary relation, so the corpus-sized
    # scan+explode+count runs once at cache fill, not once per branch.
    assert r.ops.count("InMemoryTableScan") >= 2, r.ops
    # Column pruning: only `text` leaves the corpus scan.
    assert "struct<text:string>" in r.text


def test_dataset_card_is_single_scan_expand(spark):
    """corpus_dataset_card computes all four granularities from ONE
    corpus scan via Expand (grouping sets), and reads the grand-total
    denominator off the aggregated frame — a filtered self-join
    formulation would scan the corpus twice."""
    r = _plan(spark, "corpus_dataset_card")
    assert sum(1 for op in r.ops if op == "Scan") == 1, r.ops
    assert "Expand" in r.ops, r.ops


def test_dpp_injects_runtime_partition_filter(spark):
    """layout_dpp_join_pruned_scan's fact scan must carry a
    dynamicpruningexpression in its PartitionFilters — the runtime
    partition filter derived from the broadcast dim side.  Without DPP
    the fact side would scan all five event_type directories for a
    predicate that lives on the dim's type_class attribute."""
    r = _plan(spark, "layout_dpp_join_pruned_scan")
    assert "dynamicpruning" in r.text.lower(), "no dynamic partition pruning in plan"
    assert r.n_broadcast_joins >= 1, r.ops


def test_ivfpq_persisted_index_scan_reads_codes_not_vectors(spark):
    """The persisted-index path's candidate relation must come from the
    index parquet (codes + pq_nrm in its ReadSchema) — raw embedding
    arrays may appear only in the probe/re-rank scans."""
    r = _plan(spark, "ann_ivfpq_persisted_index")
    idx_scans = [
        seg for seg in r.text.split("Location:") if "ivfpq_index" in seg.split("\n")[0]
    ]
    assert idx_scans, "no scan over the persisted index"
    assert any("codes" in seg and "pq_nrm" in seg for seg in idx_scans)
    assert all("embedding" not in seg.split("ReadSchema:")[-1][:200] for seg in idx_scans)
    assert r.n_sortmerge_joins == 0, r.ops


def test_chunked_sessionizer_windows_are_chunk_partitioned(spark):
    """events_sessionize_gap_chunked's contract is that NO events-sized
    window partitions by user alone: the event-level exchanges hash on
    (user_id, chunk) — the bounded-task slices — while user-only
    partitioning appears solely for the tiny per-(user, chunk) boundary
    relation's windows."""
    r = _plan(spark, "events_sessionize_gap_chunked")
    import re

    event_parts = re.findall(r"hashpartitioning\(user_id[^)]*chunk[^)]*\)", r.text)
    assert event_parts, "no (user_id, chunk) exchange found"
    # the flagged relation is cached so bounds + assembly share one pass
    assert "InMemoryTableScan" in r.ops, r.ops


def test_source_divergence_scans_corpus_once(spark):
    """text_source_divergence touches the corpus exactly once (the
    (source, token) count fill); the grid/pair/total branches all read
    the persisted vocabulary-sized relation."""
    r = _plan(spark, "text_source_divergence")
    assert sum(1 for op in r.ops if op == "Scan") == 1, r.ops
    assert r.ops.count("InMemoryTableScan") >= 3, r.ops


def test_skew_profile_topn_is_heap_not_global_window(spark):
    """agg_skew_profile's top-N must be TakeOrderedAndProject (an N-row
    heap per partition) over the per-key counts; the only Window runs
    AFTER the limit, on a constant SKEW_TOP_N-row relation — never an
    unpartitioned ranking over the |keys|-sized relation."""
    r = _plan(spark, "agg_skew_profile")
    assert "TakeOrderedAndProject" in r.ops, r.ops
    # the window's input is the TakeOrdered output: it appears later in
    # the (bottom-up numbered) operator list than the heap
    assert r.ops.index("TakeOrderedAndProject") < r.ops.index("Window")


def test_rrf_query_cohort_scan_is_pushdown_filtered(spark):
    """rag_rrf_fusion's q-side relations come from a SEPARATE scan with
    the cohort predicate pushed to parquet (doc_id bounds visible in
    PushedFilters) — re-filtering the corpus-side subtree instead would
    re-run the tokenize/hash pipeline per consumer (the r5 10x probe's
    175s->33s finding)."""
    r = _plan(spark, "rag_rrf_fusion")
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id" in r.text, (
        "cohort filter did not reach a parquet scan"
    )


def test_boilerplate_df_join_is_map_side_combined(spark):
    """dedup_boilerplate_lines: the line document-frequency aggregate
    must partial-aggregate map-side (HashAggregate pairs around the
    exchange) and the corpus never cross-joins."""
    r = _plan(spark, "dedup_boilerplate_lines")
    assert sum(o == "HashAggregate" for o in r.ops) >= 4
    assert "CartesianProduct" not in r.ops
    assert "BroadcastNestedLoopJoin" not in r.ops


def test_seasonal_naive_joins_hour_aggregates_not_events(spark):
    """events_seasonal_naive_eval: the t-24h self-join runs on the
    HOURLY aggregate (map-side combined), not on raw events — the
    joined relations are frontier-sized."""
    r = _plan(spark, "events_seasonal_naive_eval")
    # hourly agg partials on both sides + final rollup
    assert sum(o == "HashAggregate" for o in r.ops) >= 4
    assert "CartesianProduct" not in r.ops


def test_dimension_correlation_is_gram_batch_kernel(spark):
    """embedding_dimension_correlation computes sufficient stats via
    one Arrow-batch Gram kernel (MapInPandas), not a per-row pair
    explode (Generate) — the r5 rewrite's 20x win."""
    r = _plan(spark, "embedding_dimension_correlation")
    assert "MapInPandas" in r.ops
    assert "Generate" not in r.ops


def test_embedding_lsh_verification_is_arrow_kernel(spark):
    """dedup_embedding_lsh verifies candidates in the vectorized Arrow
    kernel (MapInPandas), with the candidate generation still an equi
    join on bucket keys — no nested-loop over the corpus."""
    r = _plan(spark, "dedup_embedding_lsh")
    assert "MapInPandas" in r.ops
    assert "CartesianProduct" not in r.ops


def test_pagerank_corpus_stage_is_one_aggregated_edge_relation(spark):
    """graph_pagerank_trade's distributed stage: the fact-fact join
    feeds ONE map-side-combining aggregate down to <=|nations|^2 rows;
    the returned plan (post-solve) only joins the 25-row rank relation
    to the nation dim — broadcast, no shuffle of anything corpus-sized."""
    r = _plan(spark, "graph_pagerank_trade")
    assert r.n_broadcast_joins >= 1
    assert r.n_sortmerge_joins == 0, r.ops  # ranks x nation: both tiny


def test_bucketed_key_plan_never_shuffles_join_inputs(spark):
    """layout_bucketed_join_no_shuffle: no hash exchange on either join
    input — at fixture scale the small side broadcasts, and with the
    broadcast path closed the bucketed SMJ runs exchange-free; in BOTH
    regimes the only shuffles are the post-join aggregate/sort."""
    r = _plan(spark, "layout_bucketed_join_no_shuffle")
    assert "hashpartitioning(o_orderkey" not in r.text
    assert "hashpartitioning(l_orderkey" not in r.text
    assert r.n_shuffles <= 2, r.ops  # agg exchange + presentation sort only


def test_rrf_persisted_index_never_rehashes_corpus(spark):
    """rag_rrf_persisted_index's corpus-side relations must come from
    the index parquet (rrf_terms / rrf_dims locations in the plan); the
    documents table may be scanned only for the fixed-size query cohort
    (qterms, qdims, and qnrm's re-derived qdims subtree — Catalyst does
    not dedupe common subtrees, and re-scanning <=50 pushdown-filtered
    docs is cheaper than a lineage cut), every one carrying the cohort's
    doc_id range pushdown."""
    r = _plan(spark, "rag_rrf_persisted_index")
    segs = r.text.split("Location:")
    locs = [seg.split("\n")[0] for seg in segs[1:]]
    assert any("rrf_terms" in l for l in locs), locs
    assert any("rrf_dims" in l for l in locs), locs
    doc_segs = [
        seg for seg, l in zip(segs[1:], locs) if "documents.parquet" in l
    ]
    assert len(doc_segs) <= 3, f"{len(doc_segs)} documents scans: {locs}"
    for seg in doc_segs:
        pushed = seg.split("PushedFilters:")[-1].split("\n")[0]
        assert "LessThan(doc_id" in pushed, pushed


def test_minhash_incremental_corpus_side_reads_index_parquet(spark):
    """dedup_minhash_incremental must read the persisted signature index
    (mh_index locations for both the bands probe and the verification
    profiles); the documents table is scanned only to shingle the new
    batch — at most one scan, since the batch profile is checkpointed
    before fanning into probe + verify."""
    r = _plan(spark, "dedup_minhash_incremental")
    segs = r.text.split("Location:")
    locs = [seg.split("\n")[0] for seg in segs[1:]]
    idx = [l for l in locs if "mh_index" in l]
    assert any("bands" in l for l in idx), locs
    assert any("profiles" in l for l in idx), locs
    doc_scans = [l for l in locs if "documents.parquet" in l]
    assert len(doc_scans) <= 1, f"{len(doc_scans)} documents scans: {locs}"


def test_compaction_planner_on_real_physical_files(spark):
    """The SAME planner the oracle-checked modeled-inventory key uses,
    run over the REAL physical file inventory (input_file_name over the
    partitioned scratch layout).  Physical splits are engine-private so
    there is no SQL oracle; the assertions are the plan invariants a
    compaction job relies on: every file planned exactly once, row
    totals preserved per partition, merge groups contiguous from 0, and
    every group smaller than target + the largest single file (first-
    fit bound — a group only exceeds target by the file that crossed
    the boundary)."""
    import pyspark.sql.functions as F

    from mysql_postgres_debezium_cdc_spark.plans.layout import (
        COMPACT_TARGET_ROWS,
        compaction_plan,
        read_partitioned_events,
    )

    ev = read_partitioned_events(spark, SF_DIR_SMOKE)
    files = (
        ev.select(
            F.col("event_type").alias("part"),
            F.input_file_name().alias("file_key"),
        )
        .groupBy("part", "file_key")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    )
    inventory = files.collect()
    plan = compaction_plan(files, COMPACT_TARGET_ROWS).collect()

    inv_totals, inv_counts, max_file = {}, {}, {}
    for r in inventory:
        inv_totals[r["part"]] = inv_totals.get(r["part"], 0) + r["n_rows"]
        inv_counts[r["part"]] = inv_counts.get(r["part"], 0) + 1
        max_file[r["part"]] = max(max_file.get(r["part"], 0), r["n_rows"])
    assert inv_counts and min(inv_counts.values()) >= 1

    plan_totals, plan_counts, groups = {}, {}, {}
    for r in plan:
        p = r["event_type"] if "event_type" in r.__fields__ else r["part"]
        plan_totals[p] = plan_totals.get(p, 0) + r["n_rows"]
        plan_counts[p] = plan_counts.get(p, 0) + r["n_files"]
        groups.setdefault(p, []).append(r["merge_group"])
        assert r["n_rows"] < COMPACT_TARGET_ROWS + max_file[p]
    assert plan_totals == inv_totals  # every row planned exactly once
    assert plan_counts == inv_counts  # every file planned exactly once
    for p, gs in groups.items():
        assert sorted(gs) == list(range(len(gs)))  # contiguous from 0


# --- late-r6 batch plan audits ---------------------------------------------


def test_range_search_is_broadcast_scan_no_smj(spark):
    """ann_range_search: bounded query set broadcasts against the
    streamed candidate scan (nested-loop: the q_id<>c_id predicate has
    no equi-key); the only shuffle is over the HIT set (result-sized),
    never a sort-merge of the corpus."""
    r = _plan(spark, "ann_range_search")
    assert "BroadcastNestedLoopJoin" in r.text
    assert r.n_sortmerge_joins == 0, r.ops


def test_cms_sketch_relation_broadcasts(spark):
    """agg_countmin_sketch: the D x W sketch is constant-sized, so its
    join back to the probe keys must broadcast; per-key counts combine
    map-side before any exchange."""
    r = _plan(spark, "agg_countmin_sketch")
    assert r.n_broadcast_joins >= 1
    assert "HashAggregate" in r.text


def test_ab_test_is_single_user_shuffle_no_joins(spark):
    """events_ab_test_eval: one user_id-keyed aggregation pass over the
    fact table and constant-sized arithmetic after — no joins of any
    kind, and no shuffle beyond the user rollup + 2-row arm rollup."""
    r = _plan(spark, "events_ab_test_eval")
    assert r.n_broadcast_joins == 0 and r.n_sortmerge_joins == 0, r.ops
    assert r.n_shuffles <= 2, r.ops


def test_frame_sample_is_narrow_map(spark):
    """multimodal_frame_sample: the Arrow fan-out is shuffle-free; the
    only exchange is the presentation sort."""
    r = _plan(spark, "multimodal_frame_sample")
    assert r.n_broadcast_joins == 0 and r.n_sortmerge_joins == 0, r.ops
    assert r.n_shuffles <= 1, r.ops
    assert "ArrowEvalPython" in r.text or "MapInPandas" in r.text


def test_curriculum_cuts_broadcast_not_ntile(spark):
    """corpus_curriculum_order: the quartile boundaries join as a 1-row
    broadcast (nested-loop cross of 3 scalars) — never a global NTILE
    window; the only windows are partitioned by phase."""
    r = _plan(spark, "corpus_curriculum_order")
    assert "BroadcastNestedLoopJoin" in r.text
    assert "ntile(" not in r.text.replace("percentile(", "")
    assert "hashpartitioning(phase" in r.text
    assert r.n_sortmerge_joins == 0, r.ops


def test_skyline_windows_are_bucket_partitioned(spark):
    """skyline_pareto_parts: corpus-sized windows partition by bucket /
    price (hash-parallel); the bucket prefix-max relation joins back as
    a broadcast.  The only UNpartitioned window runs on the tiny
    bucket-level relation, never on part rows directly."""
    r = _plan(spark, "skyline_pareto_parts")
    assert r.n_broadcast_joins >= 1
    assert r.n_sortmerge_joins == 0, r.ops
    assert "hashpartitioning(bucket" in r.text or "hashpartitioning(price_cents" in r.text


def test_basket_small_sides_broadcast(spark):
    """basket_affinity_pairs: brand counts and the 1-row total join the
    brands^2-sized pair relation as broadcasts; the okey self-join is
    the only fact-sized exchange pair."""
    r = _plan(spark, "basket_affinity_pairs")
    assert r.n_broadcast_joins >= 3, r.ops


def test_bm25_query_side_broadcasts_and_aggs_combine(spark):
    """rag_bm25_topk: query terms (with their df rows) and the 1-row
    corpus stats reach the posting-list join as broadcasts; tf/df
    builds are map-side-combining hash aggregates."""
    r = _plan(spark, "rag_bm25_topk")
    assert r.n_broadcast_joins >= 1
    assert "BroadcastNestedLoopJoin" in r.text  # 1-row stats cross join
    assert "HashAggregate" in r.text


def test_mmr_and_lpa_never_collect_to_driver(spark):
    """The iterative ops' returned plans read eagerly-checkpointed RDDs
    — never a LocalTableScan (which would mean a driver-side collect of
    the working relation)."""
    for key in ("ann_mmr_diversified", "graph_label_propagation"):
        r = _plan(spark, key)
        assert "LocalTableScan" not in r.text, key
        assert "ExistingRDD" in r.text, key


def test_char_entropy_is_two_aggregate_passes(spark):
    """text_char_entropy: the exploded (doc, char) groupBy combines
    map-side; everything after is doc-sized.  Shuffle budget: counts
    agg, totals agg, the doc_id join, and the final rollup."""
    r = _plan(spark, "text_char_entropy")
    assert "HashAggregate" in r.text
    assert r.n_shuffles <= 5, r.ops


def test_changepoint_windows_partition_by_type(spark):
    """events_changepoint_window: the corpus pass is the hourly
    pre-aggregation; both frame averages ride ONE window sort
    partitioned by event_type — never a global window."""
    r = _plan(spark, "events_changepoint_window")
    assert "hashpartitioning(event_type" in r.text
    assert r.ops.count("Window") <= 1, r.ops


def test_trigram_search_patterns_broadcast_into_index(spark):
    """text_trigram_substring_search: pattern trigrams broadcast into
    the posting join; the intersection is a map-side-combining count
    aggregate; only candidates rejoin the document text."""
    r = _plan(spark, "text_trigram_substring_search")
    assert r.n_broadcast_joins >= 1
    assert "HashAggregate" in r.text


def test_trigram_persisted_index_never_rebuilds(spark):
    """text_trigram_persisted_index: the warm plan reads the persisted
    (doc_id, tg) parquet — the trigram explode (the 10×-probe-measured
    build cost) must NOT appear; documents is scanned at most once, for
    the broadcast-pruned contains() verify of the candidate set."""
    r = _plan(spark, "text_trigram_persisted_index")
    segs = r.text.split("Location:")
    locs = [seg.split("\n")[0] for seg in segs[1:]]
    assert any("trigram_index" in l for l in locs), locs
    doc_scans = [l for l in locs if "documents.parquet" in l]
    assert len(doc_scans) <= 1, f"{len(doc_scans)} documents scans: {locs}"
    assert "sequence(1, (length(text" not in r.text, "index rebuilt in warm plan"


def test_quantile_sketch_is_one_corpus_pass(spark):
    """agg_quantile_histogram_sketch: the sketch build is a single
    map-side-combined aggregate; the cumulative window and quantile
    targets operate on the bucket relation only.  The exact-percentile
    eval column is the only other corpus touch."""
    r = _plan(spark, "agg_quantile_histogram_sketch")
    assert "HashAggregate" in r.text
    assert r.n_sortmerge_joins == 0, r.ops
    assert r.n_broadcast_joins + r.text.count("BroadcastNestedLoopJoin") >= 2


def test_runtime_bloom_filter_prunes_fact_side(spark):
    """Spark's runtime semi-join reduction: when a shuffle join's build
    side carries a selective filter, the optimizer injects a bloom
    filter (might_contain) into the FACT side's scan subtree, pruning
    rows before the exchange — the row-level cousin of DPP, and the
    mechanism that keeps selective fact×fact joins affordable at 100 TB.
    The application-side size threshold defaults to 10 GB, so the
    fixture can't trip it organically; this audit lowers it (and closes
    the broadcast path, which supersedes bloom pruning) scoped to the
    eagerly-built plan, then restores the session confs."""
    import pyspark.sql.functions as F

    from mysql_postgres_debezium_cdc_spark.sources.parquet import load

    keys = [
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "spark.sql.autoBroadcastJoinThreshold",
    ]
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set(keys[0], "0")
        spark.conf.set(keys[1], "-1")
        orders = (
            load(spark, SF_DIR_SMOKE, "orders")
            .where(F.col("o_orderpriority") == "1-URGENT")
            .select("o_orderkey")
        )
        li = load(spark, SF_DIR_SMOKE, "lineitem").select("l_orderkey", "l_quantity")
        r = plan_report(li.join(orders, li.l_orderkey == orders.o_orderkey))
        assert "might_contain" in r.text, "bloom filter not injected"
        assert r.n_sortmerge_joins >= 1, r.ops  # broadcast path really closed
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_interval_overlap_is_equi_join_not_nested_loop(spark):
    """join_interval_overlap: the overlap theta-predicate must reach
    Catalyst as a bucket EQUI-join (hash-joinable) with the tiny busy
    side broadcast — never a nested-loop range join."""
    r = _plan(spark, "join_interval_overlap")
    assert r.n_broadcast_joins >= 1
    assert "BroadcastNestedLoopJoin" not in r.text
    assert "CartesianProduct" not in r.text


def test_stats_sketches_are_single_pass_partial_aggs(spark):
    """stats_regression_by_group / agg_moments_sketch / events_rate_ratio_test:
    one map-side-combined groupBy over the facts, derivation arithmetic
    on the |groups| relation — no joins, no extra shuffles."""
    for key in (
        "stats_regression_by_group",
        "agg_moments_sketch",
        "events_rate_ratio_test",
    ):
        r = _plan(spark, key)
        assert r.n_broadcast_joins == 0 and r.n_sortmerge_joins == 0, (key, r.ops)
        assert r.ops.count("HashAggregate") >= 2, (key, r.ops)  # partial+final
        assert r.n_shuffles <= 2, (key, r.ops)  # agg + presentation sort


def test_chi_square_marginals_broadcast(spark):
    """stats_chi_square_independence: contingency cells are group-sized;
    the row/column marginals and the grand total join back as
    broadcasts, never a corpus-sized SMJ."""
    r = _plan(spark, "stats_chi_square_independence")
    assert r.n_sortmerge_joins == 0, r.ops
    assert r.n_broadcast_joins >= 2, r.ops


def test_weighted_median_preaggregates_before_window(spark):
    """agg_weighted_median: the fact table collapses to distinct
    (group, value) pairs BEFORE the cumulative-weight window — the
    window never sees raw fact rows, and it is group-partitioned
    (hash-parallel), not global."""
    r = _plan(spark, "agg_weighted_median")
    assert r.n_broadcast_joins == 0 and r.n_sortmerge_joins == 0, r.ops
    assert "hashpartitioning(l_returnflag" in r.text
    # formatted explain prints root-first: the window must appear ABOVE
    # (before) the scan-nearest HashAggregate that feeds it
    i_win = r.text.find("Window")
    i_pre_agg = r.text.rfind("HashAggregate")
    assert 0 <= i_win < i_pre_agg, "pre-aggregation must feed the window"


def test_outlier_iqr_fences_broadcast_back(spark):
    """dq_outlier_iqr: quartiles reduce to a |groups| relation that
    joins back onto the distinct-value counts as a broadcast; the
    cumulative-count window (post-100×-rewrite) is group-partitioned
    and runs over the pre-aggregated value relation, never raw facts."""
    r = _plan(spark, "dq_outlier_iqr")
    assert r.n_sortmerge_joins == 0, r.ops
    assert r.n_broadcast_joins >= 1, r.ops
    assert "hashpartitioning(l_returnflag" in r.text


def test_trigram_paths_single_user_window_then_tiny_agg(spark):
    """events_top_trigram_paths: one user-keyed window shuffle; the
    path groupBy is |event_types|^3-sized with map-side combine."""
    r = _plan(spark, "events_top_trigram_paths")
    assert r.n_broadcast_joins == 0 and r.n_sortmerge_joins == 0, r.ops
    assert "hashpartitioning(user_id" in r.text
    assert r.ops.count("HashAggregate") >= 2, r.ops


def test_dau_wau_spine_broadcasts_into_range_join(spark):
    """events_dau_wau_rolling: the calendar spine side of the trailing-
    window range join broadcasts (BNLJ — no equi-key), so the only
    fact-sized shuffles are the (day,user) dedup and distinct count."""
    r = _plan(spark, "events_dau_wau_rolling")
    assert "BroadcastNestedLoopJoin" in r.text
    assert r.n_sortmerge_joins == 0, r.ops


def test_moving_median_windows_calendar_not_facts(spark):
    """window_moving_median: daily pre-aggregation precedes the frame
    window, so the sort/window run on the calendar-sized relation."""
    r = _plan(spark, "window_moving_median")
    assert r.n_broadcast_joins == 0 and r.n_sortmerge_joins == 0, r.ops
    # root-first text: window above the scan-nearest (feeding) aggregate
    i_win = r.text.find("Window")
    i_pre_agg = r.text.rfind("HashAggregate")
    assert 0 <= i_win < i_pre_agg, "daily rollup must feed the window"


def test_bfs_frontier_never_collects(spark):
    """graph_bfs_reachability: the returned plan reads eagerly-
    checkpointed RDDs (frontier iteration) — never a LocalTableScan,
    which would mean the frontier visited the driver."""
    r = _plan(spark, "graph_bfs_reachability")
    assert "LocalTableScan" not in r.text
    assert "ExistingRDD" in r.text


def test_degree_distribution_two_combined_aggs(spark):
    """graph_degree_distribution: endpoint explode → per-node degree →
    degree histogram; both aggregates map-side combine, no joins
    beyond the pair derivation's own, and the pair subtree appears
    ONCE (no Union of a flipped twin)."""
    r = _plan(spark, "graph_degree_distribution")
    assert r.ops.count("HashAggregate") >= 4, r.ops
    assert "Union" not in r.ops, r.ops
    assert "Generate" in r.ops, r.ops  # the endpoint explode


def test_recursive_spine_joins_broadcast(spark):
    """sql_recursive_cte_spine: the recursion produces a calendar-sized
    relation (UnionLoop); its join to the monthly rollup must broadcast
    — the fact-sized work is exactly one groupBy."""
    r = _plan(spark, "sql_recursive_cte_spine")
    assert r.n_sortmerge_joins == 0, r.ops
    assert r.n_broadcast_joins >= 1 or "BroadcastNestedLoopJoin" in r.text, r.ops


def test_selection_models_broadcast_onto_token_stream(spark):
    """corpus_dsir_importance / ml_naive_bayes_lang: every model
    relation (weights, counts, priors, vocab scalars) is vocab- or
    label-sized and broadcasts; the token stream is never SMJ'd."""
    for key in ("corpus_dsir_importance", "ml_naive_bayes_lang"):
        r = _plan(spark, key)
        assert r.n_sortmerge_joins == 0, (key, r.ops)
        assert r.n_broadcast_joins >= 2, (key, r.ops)


def test_zipf_windows_vocab_not_corpus(spark):
    """text_zipf_fit: the rank window and regression sums run AFTER the
    vocab aggregation — the window input is vocab-sized."""
    r = _plan(spark, "text_zipf_fit")
    assert r.n_broadcast_joins == 0 and r.n_sortmerge_joins == 0, r.ops
    # root-first text: window above the scan-nearest (feeding) aggregate
    i_win = r.text.find("Window")
    i_pre_agg = r.text.rfind("HashAggregate")
    assert 0 <= i_win < i_pre_agg, "vocab rollup must feed the rank window"


def test_benford_total_broadcasts(spark):
    """dq_benford_test: leading-digit extraction is a narrow map; the
    9-row observed relation crosses the 1-row total as a broadcast."""
    r = _plan(spark, "dq_benford_test")
    assert r.n_sortmerge_joins == 0, r.ops
    assert "BroadcastNestedLoopJoin" in r.text or r.n_broadcast_joins >= 1, r.ops


def test_skipping_audit_is_two_rollups_no_joins(spark):
    """layout_minmax_skipping_audit: two map-side-combined shard
    rollups unioned, then shard-sized arithmetic — joins never
    appear."""
    r = _plan(spark, "layout_minmax_skipping_audit")
    assert r.n_broadcast_joins == 0 and r.n_sortmerge_joins == 0, r.ops
    assert "Union" in r.ops, r.ops


def test_geo_knn_queries_broadcast_window_per_query(spark):
    """geo_haversine_knn: the 5-row query relation broadcasts onto one
    customer scan (BNLJ cross); the top-k window partitions by q_id."""
    r = _plan(spark, "geo_haversine_knn")
    assert "BroadcastNestedLoopJoin" in r.text
    assert r.n_sortmerge_joins == 0, r.ops
    assert "hashpartitioning(q_id" in r.text


def test_offset_diff_single_decode_no_join(spark):
    """cdc_offset_range_diff: both snapshots fall out of ONE decoded
    pass — a single JSON-decode scan feeding one keyed aggregate (the
    r6 10× probe showed the old two-snapshot formulation paying TWO
    full decode+compact passes plus a FULL OUTER join, ~32 s at 10×).
    The midpoint T is a BROADCAST 1-row aggregate fused into the same
    action (r12: the former `.collect()` scalar probe cost a whole
    extra driver-blocking job per invocation) — so the plan carries
    exactly ONE broadcast nested-loop join of that single row and a
    second, column-pruned scan for MAX(event_id); still no fact-fact
    join, exactly one key-hash shuffle (plus the final presentation
    sort), and the decode stays JVM-side — no Python row UDF."""
    r = _plan(spark, "cdc_offset_range_diff")
    joins = [o for o in r.ops if "Join" in o]
    assert joins == ["BroadcastNestedLoopJoin"], r.ops  # 1-row midpoint attach
    assert r.text.count("from_json") >= 1
    # decode scan + the pruned MAX(event_id) scan, nothing else
    assert sum(o.startswith("Scan") for o in r.ops) <= 2, r.ops
    assert r.text.count("Arguments: hashpartitioning") == 1, "one keyed shuffle"
    assert "BatchEvalPython" not in r.text, "row-at-a-time Python in CDC path"


def test_mann_whitney_window_is_value_bounded(spark):
    """stats_mann_whitney_u: the fact-sized work is ONE map-side-combined
    groupBy onto the distinct-cents relation; the rank cumsums run as
    the r8 BANDED prefix sum (within-band window hash-partitioned on
    band, cross-band offsets broadcast-joined from the <=128-row band
    summary — the only join).  No Python anywhere."""
    r = _plan(spark, "stats_mann_whitney_u")
    assert r.n_sortmerge_joins == 0, r.ops
    assert r.n_broadcast_joins == 1, r.ops  # band-offset summary only
    assert "hashpartitioning(band" in r.text
    assert "BatchEvalPython" not in r.text


def test_ols_multivariate_single_aggregate_pass(spark):
    """stats_ols_multivariate: nine power sums in one map-side-combined
    aggregate — one keyed shuffle, no joins, Cramer arithmetic on the
    |groups| relation."""
    r = _plan(spark, "stats_ols_multivariate")
    assert not any("Join" in o for o in r.ops), r.ops
    assert r.text.count("Arguments: hashpartitioning") == 1, "one keyed shuffle"
    assert "BatchEvalPython" not in r.text


def test_fd_audit_no_fact_joins(spark):
    """dq_functional_dependency_audit: three INDEPENDENT determinant-keyed
    aggregates unioned — no joins; each candidate's shuffle is sized by
    its determinant cardinality."""
    r = _plan(spark, "dq_functional_dependency_audit")
    assert not any("Join" in o for o in r.ops), r.ops
    assert "Union" in r.ops


def test_temperature_mixture_broadcasts_total(spark):
    """corpus_temperature_mixture: one corpus token aggregate; the 1-row
    (wsum, tsum) total broadcasts onto the |langs| relation — never a
    sort-merge join."""
    r = _plan(spark, "corpus_temperature_mixture")
    assert r.n_sortmerge_joins == 0, r.ops
    assert "BroadcastNestedLoopJoin" in r.text or r.n_broadcast_joins >= 1


def test_runtime_filter_reaches_fact_scan(spark):
    """join_runtime_filter_pushdown: the resolved dimension keys must
    appear as an In(...) pushed filter ON THE LINEITEM SCAN — the whole
    point of the manual runtime filter — and the join must broadcast,
    never sort-merge."""
    r = _plan(spark, "join_runtime_filter_pushdown")
    seg = [s for s in r.text.split("Location:") if "lineitem.parquet" in s.split("\n")[0]]
    assert seg, "no lineitem scan found"
    pushed = seg[0].split("PushedFilters:")[-1].split("\n")[0]
    # a 1-key dim slice folds In -> EqualTo; both prove the pushdown
    assert "In(l_suppkey" in pushed or "EqualTo(l_suppkey" in pushed, pushed
    assert r.n_sortmerge_joins == 0, r.ops
    assert r.n_broadcast_joins >= 1


def test_ks_test_window_is_value_bounded(spark):
    """stats_ks_test: same decomposition contract as Mann-Whitney — one
    fact groupBy onto the distinct-cents relation, then the r8 banded
    prefix sum (band-partitioned within-band window + broadcast-joined
    band-summary offsets), broadcast-only joins for the 1-row reduces."""
    r = _plan(spark, "stats_ks_test")
    assert r.n_sortmerge_joins == 0, r.ops
    assert r.n_broadcast_joins == 1, r.ops  # band-offset summary only
    assert "hashpartitioning(band" in r.text
    assert "BatchEvalPython" not in r.text


def test_cuped_single_fact_shuffle(spark):
    """events_uplift_cuped: per-user sums are the only fact-sized
    shuffle; the pooled/arm relations meet in broadcast joins — never
    sort-merge, no Python."""
    r = _plan(spark, "events_uplift_cuped")
    assert r.n_sortmerge_joins == 0, r.ops
    assert "BatchEvalPython" not in r.text


def test_prefilter_funnel_one_narrow_pass(spark):
    """corpus_quality_prefilter_funnel: stage predicates are per-row JVM
    folds in one narrow pass (no explode of the token stream — the only
    Generate is the 4-row literal stage pivot); the sole shuffle inputs
    are the 1-row count relations and the survivor-sized distinct."""
    r = _plan(spark, "corpus_quality_prefilter_funnel")
    assert r.n_sortmerge_joins == 0, r.ops
    assert "BatchEvalPython" not in r.text
    # two document scans (flag pass + survivor distinct), never more
    segs = r.text.split("Location:")
    doc_scans = [s for s in segs[1:] if "documents.parquet" in s.split("\n")[0]]
    assert len(doc_scans) <= 2, f"{len(doc_scans)} documents scans"


def test_rank_statistics_cumsums_are_band_partitioned(spark):
    """stats_mann_whitney_u / stats_ks_test must run their cumulative
    counts as the banded two-phase prefix sum: every window over the
    distinct-value grid is PARTITIONED by the signed-bit-length band
    (an exchange hash-partitioned on band), and an UNPARTITIONED window
    ordered by v must not exist anywhere in the plan — the only global
    windows run over the <=128-row band summary.  Both branches read
    the persisted vals relation, so the fact-sized groupBy runs once."""
    import re

    for key in ("stats_mann_whitney_u", "stats_ks_test"):
        r = _plan(spark, key)
        assert "hashpartitioning(band" in r.text, (key, "no band exchange")
        assert not re.search(r"windowspecdefinition\(v#\d+L ASC", r.text), (
            key,
            "unpartitioned window over the value grid",
        )
        assert r.ops.count("InMemoryTableScan") >= 2, (key, r.ops)


def test_funnel_median_is_band_partitioned(spark):
    """events_funnel_time_to_convert (r9): the lower-median rank over the
    converted cohort must run as the banded prefix sum, not a global
    row_number — no unpartitioned window ordered on the delta grid
    anywhere in the plan (the only global windows are over the <=128-row
    band summary), the within-band cumsums hash-partition on band, and
    the persisted cohort feeds both the moments branch and the value
    grid (so the signup/purchase join runs once).  No Python."""
    import re

    r = _plan(spark, "events_funnel_time_to_convert")
    assert "hashpartitioning(band" in r.text, "no band exchange"
    assert not re.search(r"windowspecdefinition\((?:v|delta_us)#\d+L ASC", r.text), (
        "unpartitioned window over the delta grid"
    )
    assert "row_number" not in r.text, "global rank survived the r9 rework"
    assert r.ops.count("InMemoryTableScan") >= 2, r.ops
    assert "BatchEvalPython" not in r.text


def test_media_lsh_plan_is_bucketed_not_quadratic(spark):
    """dedup_media_lsh: featurization is a narrow MapInPandas; the
    bucket keys are computed INLINE (no per-dim join or explode beyond
    the 4-key fan-out); candidates come from the bucket groupBy's
    inline expansion — no cartesian product anywhere — and the verdict
    filter is JVM-side integer arithmetic (no second Python crossing:
    exactly one MapInPandas in the plan, the featurizer)."""
    r = _plan(spark, "dedup_media_lsh")
    assert r.ops.count("MapInPandas") == 1, r.ops
    assert "CartesianProduct" not in r.ops, r.ops
    assert r.ops.count("InMemoryTableScan") >= 2, r.ops  # persisted feats


def test_experiment_report_is_single_scan_composition(spark):
    """events_experiment_report: ONE events scan feeds the persisted
    per-user relation; all six statistics' branches read caches
    (>=4 InMemoryTableScans: the 1-row conditional sufficient-statistic
    aggregate feeding the raw/cuped/msprt rows, the banded grid feeding
    the MW/KS moments + winsor cap + winsorized power sums, and the
    1-row MW aggregate feeding both rank rows — the r12 optimization
    collapsed the former pooled/arms/t/c branch trio into the single
    conditional aggregate, 16 partitioning shuffles -> 5), the rank
    cumsums run band-partitioned, and the small aggregates meet in
    broadcast joins — no sort-merge join anywhere."""
    r = _plan(spark, "events_experiment_report")
    assert sum(1 for op in r.ops if op == "Scan") <= 1, r.ops
    assert r.ops.count("InMemoryTableScan") >= 4, r.ops
    assert "hashpartitioning(band" in r.text
    assert r.n_sortmerge_joins == 0, r.ops
    # r12: the whole 6-row readout needs at most 6 partitioning
    # exchanges (per-user agg reuse, one vals groupBy, the banded
    # within/summary pair, the 1-row reduces, the final 6-row sort).
    assert r.n_shuffles <= 6, (r.n_shuffles, r.ops)
    # The bench's one `WARN WindowExec: No Partition Defined` is THIS
    # key (a mechanical sweep of all 30 bench plans found no other
    # unpartitioned window; PLANS.md "WindowExec warning attribution"):
    # every unpartitioned spec must order on `band` — the <=128-row
    # band summary, bounded at any data scale — never a row-scale grid.
    import re

    unpart = re.findall(r"windowspecdefinition\((\w+)#\d+L? (?:ASC|DESC)", r.text)
    assert unpart and set(unpart) == {"band"}, unpart


def test_welch_and_srm_are_single_reduce_no_window(spark):
    """stats_welch_ttest / events_srm_check: pure sufficient-statistic
    shapes — one map-side-combined keyed shuffle onto the bounded
    relation (distinct cents / distinct users), a 1-row reduce, and
    NOTHING else: no window, no join, no Python."""
    for key in (
        "stats_welch_ttest",
        "events_srm_check",
        "events_proportion_ztest",
        "events_power_mde",  # r9: same sufficient-statistic contract
    ):
        r = _plan(spark, key)
        assert "Window" not in r.ops, (key, r.ops)
        assert not any("Join" in o for o in r.ops), (key, r.ops)
        assert "BatchEvalPython" not in r.text, key
        assert r.text.count("Arguments: hashpartitioning") == 1, (
            key,
            "one keyed shuffle",
        )


def test_media_persisted_index_plan_has_no_python_or_blob_read(spark):
    """dedup_media_lsh_persisted's warm plan must read the persisted
    feature index only: ZERO Python crossings (the featurizer ran at
    index-build time, outside the returned plan) and no scan of the
    documents text/payload column anywhere."""
    r = _plan(spark, "dedup_media_lsh_persisted")
    assert "MapInPandas" not in r.ops, r.ops
    assert "BatchEvalPython" not in r.text
    assert "media_feat_index" in r.text, "warm path must scan the index"
    assert "text" not in r.text.split("ReadSchema:")[-1][:200]


def test_winsorized_cap_is_band_partitioned(spark):
    """events_experiment_winsorized (r10): the p99 cap rank over the
    per-user-sum grid must run as the banded prefix sum — distinct
    per-user SUMS rarely collide, so that grid is user-scale and a raw
    unpartitioned window over it would be a row-scale global window
    (the funnel-median lesson).  Band exchange present, no
    unpartitioned window ordered on the value grid, the 1-row cap meets
    the per-user relation in a broadcast join, and no Python anywhere."""
    import re

    r = _plan(spark, "events_experiment_winsorized")
    assert "hashpartitioning(band" in r.text, "no band exchange"
    assert not re.search(r"windowspecdefinition\(v#\d+L ASC", r.text), (
        "unpartitioned window over the per-user-sum grid"
    )
    assert "BroadcastExchange" in r.text, "cap join not broadcast"
    assert "BatchEvalPython" not in r.text
    assert "CartesianProduct" not in r.ops


def test_stream_srm_readout_adds_no_exchange_for_sequential_verdict(spark):
    """stream_srm_monitor (r11): the anytime-valid columns are pure
    column math over the same (nt, nc) scalar row — the readout plan
    downstream of the drained state must show exactly the one two-phase
    aggregate exchange it always had (the user-bounded state reduce),
    no window, no join, no Python, and both paging verdicts in the
    output schema.  Building the plan executes the stream fold once;
    the audit is of the RETURNED readout plan."""
    q = all_queries()["stream_srm_monitor"]
    df = q.fn(spark, SF_DIR_SMOKE)
    assert {"srm_detected", "srm_sequential", "log_bf", "p_always_valid"} <= set(
        df.columns
    )
    r = plan_report(df)
    assert r.n_shuffles <= 1, r.ops  # the single agg exchange
    assert "Window" not in r.ops, r.ops
    assert r.n_broadcast_joins == 0 and r.n_sortmerge_joins == 0, r.ops
    assert "BatchEvalPython" not in r.text
    spark.catalog.clearCache()


def _cdc_frames(spark):
    """Two-table Debezium batch (customers + orders, one wrapped, one
    poison record, one tombstone) and the two row schemas."""
    import json

    from pyspark.sql import types as T

    customers = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
    )
    orders = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("product", T.StringType())]
    )

    def mk(table, op, after, offset, wrap=False):
        e = {"before": None, "after": after, "op": op, "ts_ms": 1,
             "source": {"db": "app", "table": table, "ts_ms": 1}}
        value = json.dumps({"payload": e} if wrap else e)
        return (value, f"dbserver1.app.{table}", offset)

    raw = spark.createDataFrame(
        [
            mk("customers", "c", {"id": 1, "name": "a"}, 0),
            mk("orders", "c", {"id": 7, "product": "bolt"}, 1, wrap=True),
            mk("customers", "u", {"id": 1, "name": "b"}, 2),
            ("{{{ not json", "dbserver1.app.orders", 3),
            (None, "dbserver1.app.orders", 4),
        ],
        "value string, topic string, offset long",
    )
    return raw, customers, orders


def _from_json_sites(df) -> int:
    return df._jdf.queryExecution().optimizedPlan().toString().count("from_json(")


# One envelope tree: the payload-or-root COALESCE holds two CASE branches,
# each with a wrapped and a bare parse.
ENVELOPE_SITES = 4


def test_cdc_decode_parses_envelope_once(spark):
    """decode → change columns → compact keeps ONE copy of the envelope
    parse: the `_error`/`op` filter pushed down by the optimizer reads
    the attribute the decode's Generate produces instead of re-inlining
    the from_json tree (a plain projection held five copies, 20 sites)."""
    from mysql_postgres_debezium_cdc_spark.sources.debezium import decode_envelope
    from mysql_postgres_debezium_cdc_spark.streaming.cdc import compact, with_change_columns

    raw, customers, _ = _cdc_frames(spark)
    events = with_change_columns(decode_envelope(raw, customers))
    assert _from_json_sites(events) == ENVELOPE_SITES
    assert _from_json_sites(compact(events, ["id"])) == ENVELOPE_SITES
    plan = events._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Generate explode(array(") == 1, plan


def test_cdc_router_parses_envelope_once(spark, tmp_path, monkeypatch):
    """A 2-table MultiTableCdcRouter batch decodes the envelope ONCE, with
    the row images left as JSON text; each table's slice adds only the
    from_json of its own before/after images, typed with its own schema."""
    from mysql_postgres_debezium_cdc_spark.sources import debezium
    from mysql_postgres_debezium_cdc_spark.sources.debezium import CdcConfig
    from mysql_postgres_debezium_cdc_spark.streaming import cdc

    raw, customers, orders = _cdc_frames(spark)
    router = cdc.MultiTableCdcRouter(
        spark,
        CdcConfig(),
        {"customers": (customers, ["name"]), "orders": (orders, ["product"])},
        str(tmp_path),
    )
    decodes, slices = [], []

    def spy(fn, log):
        def wrapped(*args, **kwargs):
            out = fn(*args, **kwargs)
            log.append(out)
            return out

        return wrapped

    monkeypatch.setattr(debezium, "decode_envelope", spy(debezium.decode_envelope, decodes))
    monkeypatch.setattr(cdc, "with_change_columns", spy(cdc.with_change_columns, slices))
    router.process_batch(raw)

    assert len(decodes) == 1 and len(slices) == 2
    (envelopes,) = decodes
    assert envelopes.schema["after"].dataType.simpleString() == "string"
    assert _from_json_sites(envelopes) == ENVELOPE_SITES
    for frame, schema in zip(slices, (customers, orders)):
        assert frame.schema["after"].dataType == schema
        assert _from_json_sites(frame) == ENVELOPE_SITES + 2  # + before, after
    assert {r["id"]: r["name"] for r in router.read_state("customers").collect()} == {1: "b"}
    assert {r["id"]: r["product"] for r in router.read_state("orders").collect()} == {7: "bolt"}
