"""Physical-plan audits: the scale properties the engine promises must be
visible in the plan — predicate/projection pushdown into the parquet scan,
broadcast joins for small dims, TakeOrderedAndProject for top-k, partition
pruning on the vector store's date column. These are the `explain`-level
invariants SURVEY §4 maps from the reference's hand-coded optimizations."""

from __future__ import annotations

import pytest

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from mcp_hubspot_spark.sources.catalog import load_table
from mcp_hubspot_spark.workload import QUERIES

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_projection_pushdown_prunes_scan(spark):
    df = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    plan = plan_of(df)
    assert "ReadSchema" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema  # unused column not read


def test_predicate_pushdown_reaches_scan(spark):
    from mcp_hubspot_spark.operators.scans import filtered_scan

    df = filtered_scan(
        load_table(spark, SF, "orders"),
        filter_groups=[[{"propertyName": "o_orderstatus", "operator": "EQ", "value": "F"}]],
    )
    plan = plan_of(df)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "o_orderstatus" in pushed[0]


def test_or_of_groups_is_single_pushed_predicate(spark):
    plan = plan_of(QUERIES["filtered_scan_or_groups"](spark, SF))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "Or(" in pushed[0]


def test_topk_uses_take_ordered_and_project(spark):
    plan = plan_of(QUERIES["recent_orders"](spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_small_dim_join_broadcasts(spark):
    """customer (dim) joining orders (fact) must broadcast, not sort-merge."""
    customer = load_table(spark, SF, "customer")
    orders = load_table(spark, SF, "orders")
    joined = customer.join(orders, customer["c_custkey"] == orders["o_custkey"])
    plan = plan_of(joined)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_semi_lookup_is_literal_pushdown_or_broadcast(spark):
    from mcp_hubspot_spark.operators.scans import semi_lookup

    lineitem = load_table(spark, SF, "lineitem")
    df = semi_lookup(lineitem, [1, 2, 3], key="l_orderkey")
    plan = plan_of(df)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "In(l_orderkey" in pushed[0]


def test_vector_store_retention_prunes_partitions(spark, tmp_path):
    """The retention filter must prune date partitions at planning time —
    non-retained days never enter the scan."""
    from datetime import date

    from mcp_hubspot_spark.vector_store import VectorStore

    vs = VectorStore(spark, str(tmp_path / "vs"), max_days=7)
    emb = load_table(spark, SF, "embeddings")
    dated = emb.select(
        "vec_id",
        "embedding",
        F.lit("d").alias("type"),
        F.lit("{}").alias("data_json"),
        F.lit(None).cast("map<string,string>").alias("extras"),
        F.date_add(F.lit("2024-06-10").cast("date"), (-(F.col("vec_id") % 10)).cast("int")).alias("date"),
    )
    vs.add(dated)
    plan = plan_of(vs.retained(as_of=date(2024, 6, 10)))
    # partition filters show up as PartitionFilters on the scan node
    part = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert part and "date" in part[0]


def test_knn_single_stage_no_shuffle_before_topk(spark):
    """Brute-force kNN: distance scan + TakeOrderedAndProject; the only
    exchange allowed is the broadcast of the query vector."""
    plan = plan_of(QUERIES["knn_l2"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # no hash-partitioned shuffle of the fact side in the scoring stage
    scoring = plan.split("TakeOrderedAndProject")[0]
    assert "Exchange hashpartitioning" not in scoring


def test_asof_join_is_single_shuffle_no_nested_loop(spark):
    """The as-of join must compile to union + window (ONE key shuffle) —
    never a broadcast-nested-loop or cartesian range theta-join."""
    plan = plan_of(QUERIES["events_asof_click"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan
    assert "Union" in plan
    # EXACTLY one key shuffle (the window's hashpartitioning); the only
    # other exchange is the final presentation sort (rangepartitioning)
    assert plan.count("hashpartitioning") == 1
    assert plan.count("rangepartitioning") <= 1


def test_range_join_is_equi_join_not_nested_loop(spark):
    """The banded range join must be a hash/sort-merge equi-join on
    (key, bucket) — the theta form would be a nested-loop scan."""
    plan = plan_of(QUERIES["events_near_pairs"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_rollup_single_expand_single_shuffle(spark):
    """Rollup compiles to Expand + one aggregate exchange."""
    import re

    plan = plan_of(QUERIES["orders_rollup"](spark, SF))
    assert "Expand" in plan
    n_exchanges = len(set(re.findall(r"Exchange \(\d+\)", plan)))
    assert n_exchanges <= 2  # agg shuffle + final sort only


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Same-bucketed tables join without any shuffle: the bucket layout IS
    the exchange, paid once at write time."""
    import re

    from mcp_hubspot_spark.sources.bucketing import bucketed_join, write_bucketed

    orders = load_table(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    lines = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed(
        orders, "b_orders", ["o_orderkey"], 4, path=str(tmp_path / "bo")
    )
    write_bucketed(
        lines.withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lines", ["o_orderkey"], 4, path=str(tmp_path / "bl"),
    )
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the non-broadcast path: the point is that the SHUFFLE is
        # gone, which only shows once the planner can't broadcast
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = plan_of(bucketed_join(spark, "b_orders", "b_lines", ["o_orderkey"]))
        assert "Exchange hashpartitioning" not in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lines")


def test_salted_aggregate_matches_plain(spark):
    """Salting must not change results — only the shuffle layout."""
    from mcp_hubspot_spark.operators.skew import salted_aggregate

    lines = load_table(spark, SF, "lineitem")
    got = {
        r.l_returnflag: (r.n, round(r.total_qty, 2))
        for r in salted_aggregate(
            lines,
            keys=["l_returnflag"],
            aggs={"n": ("count", "l_quantity"), "total_qty": ("sum", "l_quantity")},
            salt_src=F.col("l_orderkey"),
            n_salts=8,
        ).collect()
    }
    want = {
        r.l_returnflag: (r.n, round(r.total_qty, 2))
        for r in lines.groupBy("l_returnflag")
        .agg(F.count("l_quantity").alias("n"), F.sum("l_quantity").alias("total_qty"))
        .collect()
    }
    assert got == want


def test_salted_join_matches_plain(spark):
    from mcp_hubspot_spark.operators.skew import salted_join

    orders = load_table(spark, SF, "orders").select("o_orderkey", "o_orderstatus")
    lines = load_table(spark, SF, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    got = salted_join(lines, orders, on=["o_orderkey"], n_salts=4).count()
    want = lines.join(orders, on="o_orderkey").count()
    assert got == want


def test_tfidf_doc_frequency_join_broadcasts(spark):
    """The vocabulary-sized doc-frequency table and the 1-row corpus-count
    must both ride broadcasts; the only full shuffles are the two groupBys."""
    plan = plan_of(QUERIES["tfidf_top_terms"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 1
    assert "BroadcastNestedLoopJoin" in plan  # 1-row n_docs cross join
    assert "SortMergeJoin" not in plan


def test_campaign_attribution_is_broadcast_nested_loop(spark):
    """Non-equi interval join against a BOUNDED derived dimension must be
    BroadcastNestedLoopJoin (fact streams once, no shuffle) — the
    deliberate counterpoint to the banded range join, which only wins when
    both sides are large."""
    plan = plan_of(QUERIES["events_campaign_attribution"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_repetition_histogram_is_single_shuffle_partial_agg(spark):
    """The top-unigram histogram must partial-aggregate map-side (one
    (doc_id, tok) HashAggregate pair), never collect token arrays."""
    plan = plan_of(QUERIES["doc_repetition"](spark, SF))
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sequence_packing_shuffles_only_on_shard_key(spark):
    """pack_sequences must sort within shard partitions (window over
    source) — exactly one Exchange on the shard key, no global sort."""
    from mcp_hubspot_spark.operators.text import pack_sequences

    df = pack_sequences(load_table(spark, SF, "documents"))
    plan = plan_of(df)
    exchanges = [
        l for l in plan.splitlines()
        if l.lstrip().startswith("(") and l.rstrip().endswith("Exchange")
    ]
    assert len(exchanges) == 1, exchanges
    assert "hashpartitioning(source" in plan


def test_mixture_resample_broadcasts_group_counts(spark):
    """The per-group count and total-count sides must broadcast — only
    the document rows stream; no row-sized shuffle, no sort-merge."""
    plan = plan_of(QUERIES["mixture_resample_docs"](spark, SF))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_boilerplate_common_lines_broadcast_anti_join(spark):
    """The boilerplate line set (filtered df>=k tail) must broadcast for
    the anti-join; document lines never shuffle for it."""
    from mcp_hubspot_spark.operators.text import remove_boilerplate_lines

    docs = load_table(spark, SF, "documents").limit(200)
    plan = plan_of(remove_boilerplate_lines(docs))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_bloom_probe_is_mapside_filter_no_join(spark):
    """The Bloom membership probe must be a plain Filter over the scan —
    no join, no exchange — with only the confirming join touching the
    (tiny) surviving fraction."""
    from mcp_hubspot_spark.operators.sketch import (
        bloom_build,
        bloom_might_contain,
    )

    members = spark.range(200).select(
        F.concat(F.lit("m-"), F.col("id")).alias("v")
    )
    words = bloom_build(members, "v", num_bits=1 << 12)
    docs = load_table(spark, SF, "documents")
    probed = docs.filter(bloom_might_contain(F.col("text"), words))
    plan = plan_of(probed)
    assert "Join" not in plan and "Exchange" not in plan
    assert "Filter" in plan


def test_customer_order_activity_aggregates_before_join(spark):
    """The fact table must be reduced by a partial aggregate BELOW the
    join (pre-aggregation pushdown done by hand): the plan has an
    aggregate on l_orderkey before any join sees lineitem rows, and no
    countDistinct expand anywhere."""
    plan = plan_of(QUERIES["customer_order_activity"](spark, SF))
    assert "Expand" not in plan
    # first (deepest) hash aggregate groups by l_orderkey — the pre-agg
    agg_lines = [l for l in plan.splitlines() if "Keys [1]: [l_orderkey" in l]
    assert agg_lines, plan


def test_kmv_sketch_is_two_phase_bounded_merge(spark):
    """KMV must reduce per (group, partition) before the per-group merge:
    two aggregate levels, and the final exchange carries only k-bounded
    arrays (no full value list crosses the shuffle)."""
    from mcp_hubspot_spark.operators.sketch import kmv_distinct

    events = load_table(spark, SF, "events")
    plan = plan_of(kmv_distinct(events, ["event_type"], "user_id", k=16))
    assert plan.count("HashAggregate") >= 4 or "ObjectHashAggregate" in plan
    assert "slice" in plan or "collect_set" in plan


def test_zorder_layout_improves_two_column_skipping(spark, tmp_path):
    """Z-ordered files have small bounding boxes in BOTH key columns: a
    box filter on (custkey range x totalprice range) must overlap fewer
    files than under a single-column sort of the same data."""
    import pyarrow.parquet as pq
    from pathlib import Path as P

    from mcp_hubspot_spark.operators.layout import write_zordered

    orders = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    zp, sp = str(tmp_path / "z"), str(tmp_path / "s")
    write_zordered(orders, zp, "o_custkey", "o_totalprice", n_files=16)
    (
        orders.repartitionByRange(16, "o_custkey")
        .sortWithinPartitions("o_custkey")
        .write.mode("overwrite")
        .parquet(sp)
    )

    stats = orders.agg(
        F.min("o_custkey"), F.max("o_custkey"),
        F.min("o_totalprice"), F.max("o_totalprice"),
    ).first()
    clo, chi = stats[0], stats[1]
    plo, phi = float(stats[2]), float(stats[3])
    # middle ~15% box in both dimensions
    cbox = (clo + 0.45 * (chi - clo), clo + 0.60 * (chi - clo))
    pbox = (plo + 0.45 * (phi - plo), plo + 0.60 * (phi - plo))

    def touched(path: str) -> tuple[int, int]:
        hit = total = 0
        for f in P(path).glob("*.parquet"):
            md = pq.ParquetFile(str(f)).metadata
            cmin = pmin = float("inf")
            cmax = pmax = float("-inf")
            for rg in range(md.num_row_groups):
                row = md.row_group(rg)
                for ci in range(row.num_columns):
                    col = row.column(ci)
                    name = col.path_in_schema
                    st = col.statistics
                    if st is None:
                        continue
                    if name == "o_custkey":
                        cmin, cmax = min(cmin, st.min), max(cmax, st.max)
                    elif name == "o_totalprice":
                        pmin, pmax = min(pmin, float(st.min)), max(pmax, float(st.max))
            total += 1
            if not (cmax < cbox[0] or cmin > cbox[1] or pmax < pbox[0] or pmin > pbox[1]):
                hit += 1
        return hit, total

    z_hit, z_total = touched(zp)
    s_hit, s_total = touched(sp)
    assert z_total >= 8 and s_total >= 8
    # single-column sort: custkey prunes (~2-3 files hit) but EVERY hit
    # file spans the full totalprice range; z-order confines both dims.
    # The meaningful comparison is for a filter on the NON-sort column:
    def touched_price_only(path: str) -> int:
        hit = 0
        for f in P(path).glob("*.parquet"):
            md = pq.ParquetFile(str(f)).metadata
            pmin, pmax = float("inf"), float("-inf")
            for rg in range(md.num_row_groups):
                row = md.row_group(rg)
                for ci in range(row.num_columns):
                    col = row.column(ci)
                    if col.path_in_schema == "o_totalprice" and col.statistics:
                        pmin = min(pmin, float(col.statistics.min))
                        pmax = max(pmax, float(col.statistics.max))
            if not (pmax < pbox[0] or pmin > pbox[1]):
                hit += 1
        return hit

    z_price = touched_price_only(zp)
    s_price = touched_price_only(sp)
    assert s_price == s_total  # single-col sort can't skip on the other col
    assert z_price < z_total  # z-order skips on the non-sorted dim too
    # the 2-D box also prunes under z-order (1-D sort can beat it on its
    # own sort column — finer 1-D granularity — but is blind on the other;
    # z-order's value is skipping on EITHER predicate column)
    assert z_hit < z_total


def test_aqe_splits_skewed_join_partition(spark):
    """The skew story must be real at runtime, not just prose: on a
    zipf-hot key, AQE's final plan marks the sort-merge join skew=true and
    the shuffle read 'skewed' — the hot partition was split. (Session
    thresholds are production-scale; this test lowers them to make a
    local-sized hot key register, same mechanism either way.)"""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(300_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            F.col("id").alias("payload"),
        )
        right = spark.range(2_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        j = left.join(right, "k").groupBy().count()
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
        assert "skewed" in plan, plan
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_weighted_sample_is_take_ordered_no_global_sort(spark):
    """A-ES weighted sampling must run as TakeOrderedAndProject (bounded
    per-partition heaps) — a global Sort+Exchange would shuffle the whole
    table to pick k rows."""
    from mcp_hubspot_spark.operators.sampling import weighted_sample

    docs = load_table(spark, SF, "documents").select("doc_id", "n_chars")
    plan = plan_of(weighted_sample(docs, "n_chars", k=50))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_cms_probe_broadcasts_sketch_not_stream(spark):
    """The CMS probe side must broadcast the bounded sketch; the term
    stream being estimated never hashes into a shuffle join."""
    from mcp_hubspot_spark.operators.sketch import cms_build, cms_estimate
    from mcp_hubspot_spark.operators.text import tokens

    docs = load_table(spark, SF, "documents")
    toks = docs.select(
        F.explode(tokens(F.lower(F.col("text")))).alias("term")
    ).filter(F.col("term") != "")
    tc = toks.groupBy("term").agg(F.count("*").alias("cnt"))
    sketch = cms_build(tc, depth=4, width=64)
    plan = plan_of(cms_estimate(sketch, tc.select("term"), depth=4, width=64))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_temperature_mixture_broadcasts_counts(spark):
    """Group counts (group-cardinality-sized) broadcast back to the row
    side; the membership test stays a scan-stage filter."""
    from mcp_hubspot_spark.operators.sampling import temperature_mixture

    docs = load_table(spark, SF, "documents").select("doc_id", "lang")
    plan = plan_of(temperature_mixture(docs, "lang", alpha=0.5))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_per_group_cap_is_two_phase_no_window(spark):
    """The per-domain cap must run as the mergeable two-phase bottom-k
    (partial per (group, partition), merge per group) — never a Window
    row_number over fully-sorted groups, whose head-domain task is the
    scale killer."""
    from mcp_hubspot_spark.operators.sampling import per_group_cap

    docs = load_table(spark, SF, "documents").select("source", "doc_id")
    plan = plan_of(per_group_cap(docs, "source", "doc_id", k=10))
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + merge phases
    assert "Sort [source" not in plan  # no per-group full sort


def test_semantic_contamination_broadcasts_benchmark(spark):
    """The eval/benchmark side must broadcast; the corpus side streams
    through the scan stage without an Exchange before the cosine filter."""
    from mcp_hubspot_spark.operators.dedup import semantic_contamination
    from pyspark.sql import functions as F

    emb = load_table(spark, SF, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    out = semantic_contamination(
        emb.filter(F.col("vec_id") >= 25), emb.filter(F.col("vec_id") < 25)
    )
    plan = plan_of(out)
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_nation_trade_volume_broadcasts_all_dims(spark):
    """The Q7-shaped 6-table join must broadcast every dimension join
    (nation x2, supplier, customer at these SFs) — the only shuffle
    joins allowed are fact-fact. The shipdate filter must push into the
    lineitem scan."""
    plan = plan_of(QUERIES["nation_trade_volume"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan
    assert "PushedFilters" in plan and "l_shipdate" in plan


def test_big_order_customers_preaggregates_fact(spark):
    """Q18 shape: lineitem must collapse through a HashAggregate BEFORE
    any join touches it (the join input is per-order rows, not line
    items), and the top-20 must run as TakeOrderedAndProject."""
    plan = plan_of(QUERIES["big_order_customers"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    # the aggregate over l_orderkey appears below the joins in the tree:
    # formatted explain lists operators bottom-up per branch; assert both
    # phases of the partial agg exist and no CartesianProduct snuck in
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan


def test_rolling_distinct_fanout_is_bounded_explode(spark):
    """The sliding-DISTINCT must run as the 7x bounded explode + one
    dedup aggregate — never a per-day self-join over the event history
    (no join operator at all in the plan)."""
    plan = plan_of(QUERIES["rolling_7d_active_users"](spark, SF))
    assert "Generate" in plan and "explode" in plan
    for op in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert op not in plan


def test_profile_table_approx_has_no_expand(spark):
    """The exact profiler's multi-countDistinct costs an Expand (one row
    replica per distinct column); the HLL++ twin must compile to a plain
    partial/final aggregate with no Expand regardless of column count."""
    from mcp_hubspot_spark.operators.profiling import (
        profile_table,
        profile_table_approx,
    )

    orders = load_table(spark, SF, "orders")
    cols = ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]
    assert "Expand" in plan_of(profile_table(orders, cols))
    assert "Expand" not in plan_of(profile_table_approx(orders, cols))


def test_deletion_neighborhood_blocking_is_equi_join(spark):
    """The linkage candidate generation must be an equi-join on the
    deletion signature (inverted index), never a Cartesian/BNL product —
    that is the whole point of the blocking."""
    from mcp_hubspot_spark.operators.dedup import deletion_neighborhood_pairs

    cust = load_table(spark, SF, "customer").filter(F.col("c_custkey") < 500)
    plan = plan_of(deletion_neighborhood_pairs(cust, "c_custkey", "c_name"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    )


def test_transition_matrix_broadcasts_totals(spark):
    """The per-from-type totals (|types| rows) must broadcast; the only
    big shuffles are the user window and the pair groupBy."""
    from mcp_hubspot_spark.operators.analytics import transition_matrix

    events = load_table(spark, SF, "events")
    plan = plan_of(transition_matrix(events))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ordered_funnel_no_cartesian_and_user_key_joins(spark):
    """The funnel's step chain must compile to key joins on the user id
    (hash-partitioned the same every stage) — never a Cartesian/BNL."""
    from mcp_hubspot_spark.operators.analytics import ordered_funnel

    events = load_table(spark, SF, "events")
    plan = plan_of(ordered_funnel(events, ["view", "click", "purchase"]))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dsir_ratio_table_broadcast_and_topk(spark):
    """DSIR selection: the per-bucket log-ratio table joins the corpus
    features as a BROADCAST (never a sort-merge over the exploded
    bigrams), and the final top-50 compiles to TakeOrderedAndProject,
    not a global sort."""
    plan = plan_of(QUERIES["dsir_selected_docs"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_attribution_join_is_user_keyed_not_cartesian(spark):
    """The touch-conversion pairing must be an equi-join on the user key
    with the time window as a residual — never a cross product over the
    event table."""
    plan = plan_of(QUERIES["event_attribution"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _n_nodes(plan: str, name: str) -> int:
    """Count physical-plan NODES by their detail-section headers
    ("(N) <name>") — the tree section repeats each node, so a plain
    substring count double-counts."""
    import re

    return len(re.findall(rf"^\(\d+\) {re.escape(name)}", plan, re.M))


def test_correlation_matrix_single_scan_pruned(spark):
    """The all-pairs correlation matrix is ONE partial-agg pass: a
    single pruned parquet scan (only the 4 profiled columns), no join,
    no second scan — the k²-expressions-not-k²-passes contract."""
    plan = plan_of(QUERIES["lineitem_correlations"](spark, SF))
    assert _n_nodes(plan, "Scan parquet") == 1
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    for c in ("l_quantity", "l_extendedprice", "l_discount", "l_tax"):
        assert c in read_schema
    assert "l_orderkey" not in read_schema
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_seasonality_single_scan_no_reshuffle_join(spark):
    """Seasonality profile: the events scan feeds one (dow, hod)
    aggregate; the overall mean joins back as a BROADCAST nested-loop
    of a one-row aggregate (no shuffle join), and only ts/value are
    read."""
    plan = plan_of(QUERIES["events_seasonality"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan  # 1-row overall, broadcast
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "ts" in read_schema and "value" in read_schema
    assert "event_type" not in read_schema and "props" not in read_schema


def test_copurchase_broadcast_dims_no_cartesian(spark):
    """Market-basket lift: supplier/nation dimension lookups broadcast;
    the only nested-loop joins are the bounded one-row totals (basket
    count) — never a data×data cartesian; pair expansion is expression-
    side (no self-join of the basket table on itself)."""
    plan = plan_of(QUERIES["nation_copurchase_lift"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # dims + supports
    # pair generation is an explode over the per-basket array, not a
    # basket-table self-join: no join keyed on the basket id survives
    assert "SortMergeJoin" not in plan


def test_token_kl_single_pass_no_joins(spark):
    """Token-KL: ONE pass — a single explode over a single pruned
    documents scan, slice/corpus totals via window sums (no join
    branches that would each re-run the explode), the corpus total a
    window over the final per-slice rows. No join of any kind."""
    plan = plan_of(QUERIES["source_token_kl"](spark, SF))
    assert _n_nodes(plan, "Generate") == 1
    assert _n_nodes(plan, "Scan parquet") == 1
    for join in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert join not in plan, join
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" in read_schema and "source" in read_schema
    assert "n_chars" not in read_schema


def test_psi_drift_expression_binning_no_shuffle_join(spark):
    """PSI: the decile cutoffs are a one-row aggregate broadcast onto
    both slices (nested-loop of a 1-row side); binning adds NO join —
    the bin-to-bin merge is a union + re-aggregate (full-outer
    semantics without any join node), so the plan has no equi-join."""
    plan = plan_of(QUERIES["events_psi_drift"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # bin join is broadcast-sized
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "value" in read_schema and "ts" in read_schema
    assert "user_id" not in read_schema


def test_ranking_metrics_one_shuffle_no_joins(spark):
    """NDCG/MRR/precision: both windows and the final aggregate key on
    the query column — one Exchange on it, no join of any kind."""
    plan = plan_of(QUERIES["order_ranking_quality"](spark, SF))
    for join in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert join not in plan, join
    assert _n_nodes(plan, "Scan parquet") == 1


def test_seasonal_anomalies_broadcast_stats_topk(spark):
    """Anomaly scoring: the 168-row cell stats join back BROADCAST (the
    event side never shuffles for the join) and the top-k is the
    TakeOrderedAndProject partial, not a global sort."""
    plan = plan_of(QUERIES["events_seasonal_anomalies"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_session_path_ngrams_single_user_exchange(spark):
    """Path mining: the gap window, session-id running sum, and the
    lead windows all share one (user) sort — exactly one Exchange
    carries the user key; no joins."""
    plan = plan_of(QUERIES["event_path_trigrams"](spark, SF))
    for join in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert join not in plan, join
    user_exchanges = [
        l for l in plan.splitlines()
        if "Arguments: hashpartitioning(user_id" in l
    ]
    assert len(user_exchanges) == 1, user_exchanges


def test_kmv_overlap_bottomk_no_raw_key_join(spark):
    """KMV overlap: each side reduces to a TakeOrderedAndProject
    bottom-k BEFORE any join — the only joins in the plan are over the
    <=k-row sketch frames (broadcast), never the raw key columns."""
    plan = plan_of(QUERIES["user_overlap_kmv"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan


def test_funnel_latency_no_windows_single_percentile(spark):
    """Conversion latency: per-user min-aggregates + one 1-row
    percentile reduce — no window operator (the full event stream is
    never sorted in one partition)."""
    plan = plan_of(QUERIES["funnel_latency_quantiles"](spark, SF))
    assert _n_nodes(plan, "Window") == 0
    assert "CartesianProduct" not in plan


def test_ks_drift_bucket_partitioned_cdf_no_global_sort(spark):
    """KS: the cumulative-count window over the value grid is
    PARTITIONED by the broadcast-cutoff bucket (never a partition-less
    ordered window over the data); the cutoff/offset sides all join
    broadcast, so no sort-merge join touches the grid, and the scan is
    pruned to the split + value columns. Because the cutoffs + totals
    share ONE 1-row reduce, every consumer hangs off the byte-identical
    grid subtree, and AQE's ReuseExchange materializes the value
    shuffle ONCE — the raw data is scanned a single time."""
    df = QUERIES["events_ks_drift"](spark, SF)
    plan = plan_of(df)
    assert "windowspecdefinition(_bkt" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "value" in read_schema and "ts" in read_schema
    assert "user_id" not in read_schema
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final, "grid shuffle not reused"


def test_categorical_drift_single_category_shuffle(spark):
    """Chi-square drift: the tagged union groups ONCE on the category
    key (both side counts in the same pass); the totals come back as a
    1-row broadcast, so no sort-merge join touches the grid, and the
    scan is pruned to the split + category columns. The totals reduce
    hangs off the byte-identical grid subtree, so AQE's ReuseExchange
    materializes the category shuffle once at runtime — the raw data
    is scanned a single time (same shape as ks_drift)."""
    df = QUERIES["events_type_drift"](spark, SF)
    plan = plan_of(df)
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "event_type" in read_schema and "ts" in read_schema
    assert "user_id" not in read_schema
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final, "grid shuffle not reused"


def test_substring_dedup_spans_equi_join_only_pruned_scan(spark):
    """Token-span dedup: the ONLY candidate generator is the shingle
    equi-join (hash-partitioned; broadcast at this SF, sort-merge at
    scale) — never a cartesian/nested-loop product — and the scan reads
    exactly (doc_id, text)."""
    plan = plan_of(QUERIES["substring_dedup_spans"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "doc_id" in read_schema and "text" in read_schema
    for unused in ("lang", "source", "n_chars"):
        assert unused not in read_schema


def test_substring_scrub_no_token_explode_range_join(spark):
    """The scrub cuts tokens with an expression-side filter over the
    doc's own merged-interval array — the plan must contain NO
    nested-loop/cartesian node (a token-vs-interval range join would
    appear as one)."""
    plan = plan_of(QUERIES["substring_dedup_docs"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_skew_advisor_salts_only_when_skewed_and_matches_plain(spark):
    """The advisor's rewrite must (a) fire ONLY past the threshold —
    balanced keys compile to a plain one-shuffle groupBy with no salt
    hash in the plan, the skewed key to the two-phase salted form — and
    (b) never change results, only the shuffle layout."""
    from mcp_hubspot_spark.operators.skew import adaptive_aggregate, skew_advice

    lines = load_table(spark, SF, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity", "l_linenumber"
    )
    # balanced: l_returnflag has 3 near-even values -> x_mean ~1
    balanced_advice = skew_advice(lines, ["l_returnflag"], threshold=8.0)
    assert not balanced_advice["skewed"]
    plain = adaptive_aggregate(
        lines,
        ["l_returnflag"],
        {"n": ("count", "l_quantity"), "total_qty": ("sum", "l_quantity")},
        advice=balanced_advice,
    )
    assert "xxhash64" not in plan_of(plain)  # no salt, single phase
    # skewed: dump 95% of rows onto one synthetic key
    skewed = lines.withColumn(
        "hotkey",
        F.when(F.col("l_orderkey") % 20 != 0, F.lit("HOT")).otherwise(
            F.col("l_orderkey").cast("string")
        ),
    )
    skew_adv = skew_advice(skewed, ["hotkey"], threshold=8.0)
    assert skew_adv["skewed"] and skew_adv["n_salts"] >= 2
    assert any(k == "HOT" for k, _, _ in skew_adv["hot_keys"])
    salted = adaptive_aggregate(
        skewed,
        ["hotkey"],
        {"n": ("count", "l_quantity"), "total_qty": ("sum", "l_quantity")},
        advice=skew_adv,
    )
    assert "xxhash64" in plan_of(salted)  # the salted two-phase form
    want = {
        r.hotkey: (r.n, round(r.total_qty, 2))
        for r in skewed.groupBy("hotkey")
        .agg(
            F.count("l_quantity").alias("n"),
            F.sum("l_quantity").alias("total_qty"),
        )
        .collect()
    }
    got = {
        r.hotkey: (r.n, round(r.total_qty, 2)) for r in salted.collect()
    }
    assert got == want


def test_skew_advisor_join_matches_plain(spark):
    """adaptive_join on a skewed big side must return exactly the plain
    join's rows (salting replicates the small side; no row may be
    gained or lost) and must NOT salt a balanced key."""
    from mcp_hubspot_spark.operators.skew import adaptive_join, skew_advice

    lines = load_table(spark, SF, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_linenumber"
    )
    skewed = lines.withColumn(
        "k",
        F.when(F.col("l_orderkey") % 10 != 0, F.lit(1)).otherwise(
            F.col("l_orderkey")
        ),
    )
    small = skewed.select("k").distinct().withColumn(
        "tag", F.col("k") * 2
    )
    adv = skew_advice(skewed, ["k"], threshold=8.0)
    assert adv["skewed"]
    got = (
        adaptive_join(skewed, small, ["k"], advice=adv)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("tag").alias("s"))
    )
    want = (
        skewed.join(small, "k")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("tag").alias("s"))
    )
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in want.collect()
    }
    balanced = skew_advice(lines, ["l_orderkey"], threshold=8.0)
    assert not balanced["skewed"]
    plain = adaptive_join(
        lines, lines.select("l_orderkey").distinct(), ["l_orderkey"],
        advice=balanced,
    )
    assert "xxhash64" not in plan_of(plain)


def test_benchmark_span_overlap_broadcasts_bench_index(spark):
    """Span decontamination: the benchmark shingle index must BROADCAST
    (eval sets are tiny) so the corpus side never shuffles for the
    match join — and nothing degenerates to a cartesian/nested-loop."""
    plan = plan_of(QUERIES["benchmark_span_overlap"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.slow
def test_residual_pq_serving_plan_prunes_and_reads_codes_only(spark, tmp_path):
    """Residual IVFPQ serving plan contract: the ADC scan must prune to
    the probed cell PARTITIONS at planning time (literal IN on the
    partition column) and read only (id, pq_code) — cell_id comes from
    the partition value, the embedding column never enters ReadSchema;
    and the per-cell table dispatch must stay one expression (no
    join/explode introduced by the 3-D literal)."""
    import numpy as np

    from mcp_hubspot_spark.vector_store import IvfIndex

    rng = np.random.default_rng(5)
    X = rng.normal(size=(300, 16))
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(300)],
        "vec_id long, embedding array<double>",
    )
    ivf = IvfIndex(spark, str(tmp_path / "res"))
    ivf.build(df, n_cells=6, pq_m=4, pq_codes=8, pq_residual=True)
    plan = plan_of(
        ivf.search_pq([float(x) for x in X[3]], k=5, nprobe=2, rerank=0)
    )
    reads = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert reads and all("embedding" not in l for l in reads)
    parts = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert parts and any("cell_id" in l and " IN " in l for l in parts)
    assert "Join" not in plan and "Generate" not in plan


def test_classifier_serving_plan_shape(spark):
    """classifier_score: weight table broadcast (never sort-merge), token
    fan-out narrow, ONE hash-partition exchange (the per-doc agg) with a
    map-side partial HashAggregate below it."""
    from mcp_hubspot_spark.operators.classifier import (
        classifier_score,
        hashed_weight_table,
    )
    from mcp_hubspot_spark.workload import load_table

    docs = load_table(spark, SF, "documents")
    w = hashed_weight_table(spark, 4096)
    plan = plan_of(classifier_score(docs, w))
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    shuffles = set(re.findall(r"(?<!Broadcast)Exchange \(\d+\)", plan))
    assert len(shuffles) == 1
    assert len(set(re.findall(r"HashAggregate \(\d+\)", plan))) >= 2


def test_classifier_expr_twin_is_shuffle_free(spark):
    from mcp_hubspot_spark.operators.classifier import classifier_score_expr
    from mcp_hubspot_spark.workload import load_table

    docs = load_table(spark, SF, "documents")
    plan = plan_of(classifier_score_expr(docs))
    assert "Join" not in plan and "Exchange" not in plan


def test_blocklist_join_path_broadcasts(spark):
    # max_literals=0 forces the wide-list/managed-table join shape
    from mcp_hubspot_spark.operators.text import blocklist_hits
    from mcp_hubspot_spark.workload import load_table

    docs = load_table(spark, SF, "documents")
    plan = plan_of(
        blocklist_hits(
            docs, ["table table", "scan slow fast"], max_literals=0
        )
    )
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    shuffles = set(re.findall(r"(?<!Broadcast)Exchange \(\d+\)", plan))
    assert len(shuffles) == 1


def test_blocklist_literal_report_is_join_and_shuffle_free(spark):
    """List blocklists under the cap compile the FULL hit report
    (n_hits, first_hit) to one in-scan array_intersect projection —
    no Generate, no join, no Exchange (round 13)."""
    from mcp_hubspot_spark.operators.text import blocklist_hits
    from mcp_hubspot_spark.workload import load_table

    docs = load_table(spark, SF, "documents")
    plan = plan_of(blocklist_hits(docs, ["table table", "scan slow fast"]))
    assert "Join" not in plan and "Exchange" not in plan
    assert "Generate" not in plan


def test_blocklist_expr_path_is_shuffle_free(spark):
    from mcp_hubspot_spark.operators.text import blocklist_flag_expr
    from mcp_hubspot_spark.workload import load_table

    docs = load_table(spark, SF, "documents")
    plan = plan_of(blocklist_flag_expr(docs, ["table table", "a b c"]))
    assert "Join" not in plan and "Exchange" not in plan


def test_zipf_topk_is_distributed_take_ordered(spark):
    """The vocabulary top-k must compile to TakeOrderedAndProject (per-
    partition heaps + merge), never a global Sort of the term counts."""
    from mcp_hubspot_spark.operators.profiling import zipf_fit
    from mcp_hubspot_spark.workload import load_table

    docs = load_table(spark, SF, "documents")
    plan = plan_of(zipf_fit(docs))
    assert "TakeOrderedAndProject" in plan


def test_bm25_batch_scan_count_is_query_invariant(spark):
    """bm25_topk_batch's promise is ONE corpus pass regardless of Q:
    the number of parquet scans in the 8-query plan must equal the
    1-query plan's (the fan-out into queries is a broadcast of the tiny
    (query_id, term) map, never another corpus read), and the per-query
    rank must be a window over the already-reduced rows."""
    from mcp_hubspot_spark.operators.text import bm25_topk_batch
    from mcp_hubspot_spark.workload import load_table

    docs = load_table(spark, SF, "documents")
    one = plan_of(bm25_topk_batch(docs, {"q0": ["spark", "hash"]}, k=5))
    eight = plan_of(
        bm25_topk_batch(
            docs,
            {f"q{i}": ["spark", "hash", "table", "scan"] for i in range(8)},
            k=5,
        )
    )
    assert one.count("Scan parquet") == eight.count("Scan parquet")
    assert "BroadcastExchange" in eight and "Window" in eight


# the analytics_mix queries whose final sort goes through sorted_result and
# fits the broadcast threshold (event_attribution and classifier_scored_docs
# also go through it, but their join estimates exceed the threshold)
SMALL_SORTED = [
    "doc_fingerprints",
    "events_asof_click",
    "order_lines_nested",
    "top_orders_per_customer",
    "exact_dedup_groups",
    "doc_hash_split",
    "events_scd2",
    "kmv_distinct_users",
    "salted_flag_totals",
]


def test_small_final_sort_skips_range_sampling(spark):
    """A final sort of a broadcast-sized result is one partition sorted
    locally: no range exchange, so no sampling job (4 jobs with it)."""
    df = QUERIES["exact_dedup_groups"](spark, SF)
    plan = plan_of(df)
    assert "rangepartitioning" not in plan
    assert "SinglePartition" in plan
    sc = spark.sparkContext
    sc.setJobGroup("sorted-result-jobs", "sorted-result-jobs")
    try:
        df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("sorted-result-jobs")) == 3


def test_sorted_result_follows_broadcast_threshold(spark):
    """-1 turns the single-partition sort off with broadcasting."""
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = plan_of(QUERIES["exact_dedup_groups"](spark, SF))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    assert "rangepartitioning" in plan
    assert "SinglePartition" not in plan


def test_sorted_result_rows_match_order_by(spark, monkeypatch):
    """Row for row, including order: the oracle gate compares rows as
    sets, so this is the only check of the result order."""
    from mcp_hubspot_spark import workload

    got = {}
    for q in SMALL_SORTED:
        df = QUERIES[q](spark, SF)
        assert "SinglePartition" in plan_of(df), q
        got[q] = df.collect()
    monkeypatch.setattr(workload, "sorted_result", lambda df, *o: df.orderBy(*o))
    for q in SMALL_SORTED:
        df = QUERIES[q](spark, SF)
        assert "rangepartitioning" in plan_of(df), q
        assert got[q] == df.collect(), q
