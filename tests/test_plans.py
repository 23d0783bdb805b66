"""Physical-plan shape assertions — the 100 TB design contract.

Correctness tests prove the operators compute the right rows; these
prove Catalyst compiles them into the plans the scale design REQUIRES:
broadcast joins where a side is guaranteed small, partial top-k before
the shuffle (WindowGroupLimit), filter/column pushdown into the
parquet scan, partial aggregation, and never a cartesian product on a
candidate-generation path. A regression here can stay invisible at
test scale and only explode on a cluster.
"""

import contextlib
import inspect
import io

import pytest
from pyspark.sql import functions as F

from cs6300_vectordbs_spark.operators.asof import asof_join
from cs6300_vectordbs_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)
from cs6300_vectordbs_spark.operators.similarity import (
    _jvm_topk,
    similarity_topk,
)
from cs6300_vectordbs_spark.operators.sketch import kmv_distinct


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _queries(emb, n=5):
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def test_topk_partial_topk_and_broadcast_queries(spark, emb):
    """The JVM parity reference keeps the scale shape, and scores each
    pair once: the ``sim IS NOT NULL`` filter must not reach the join
    condition, where the whole dot would run a second time."""
    plan = plan_of(
        _jvm_topk(emb, _queries(emb), 5, dim=64, exclude_self=True)
    )
    # Partial top-k inside map tasks: only ~k rows/query/partition shuffle.
    assert "WindowGroupLimit" in plan
    # The small query batch is broadcast; the corpus never shuffles
    # before scoring.
    assert "BroadcastNestedLoopJoin" in plan
    cond = [ln for ln in plan.splitlines() if "Join condition" in ln]
    assert cond and not any("isnotnull(" in ln for ln in cond), cond


def test_topk_metadata_filter_reaches_parquet_scan(spark, emb):
    plan = plan_of(
        similarity_topk(emb, _queries(emb), 5, dim=64, filter_expr="label = 3")
    )
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and "EqualTo(label,3)" in pushed[0]


def test_projection_prunes_parquet_columns(spark, docs):
    plan = plan_of(docs.select("doc_id", F.length("text").alias("n")))
    reads = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert reads and "text" in reads[0]
    assert "n_chars" not in reads[0] and "source" not in reads[0]


def test_exact_dedup_has_partial_aggregation(spark, docs):
    plan = plan_of(exact_dedup(docs))
    # partial (map-side) + final HashAggregate around one exchange
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize("op", ["ngram", "minhash"])
def test_dedup_candidate_joins_are_equi_joins(spark, docs, op):
    if op == "ngram":
        df = ngram_jaccard_pairs(docs.limit(50), n=3, min_jaccard=0.3)
    else:
        df = minhash_lsh_pairs(
            docs.limit(50), num_hashes=16, bands=4, shingle_n=3, min_jaccard=0.3
        )
    plan = plan_of(df)
    # candidates come from hash/merge equi-joins on short keys — an
    # accidental cartesian (e.g. a lost join condition) must fail here
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kmv_topk_is_take_ordered_not_global_sort(spark):
    df = spark.range(1000).select(F.col("id").alias("v"))
    plan = plan_of(kmv_distinct(df, "v", k=64))
    # ORDER BY h LIMIT k must compile to TakeOrderedAndProject (per-
    # partition partial top-k), never a full Sort of the distinct set
    assert "TakeOrderedAndProject" in plan


def test_asof_join_is_single_pass_no_range_join(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame([(1, t0, "x")], "k long, ts timestamp, lv string")
    right = spark.createDataFrame([(1, t0, 9)], "k long, ts timestamp, rid long")
    plan = plan_of(asof_join(left, right, on="k", right_cols=["rid"]))
    # union + window merge: no per-key cartesian/range join anywhere
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan
    assert "Union" in plan


def test_shipping_priority_plan(spark):
    import __spark_entry__ as m
    from tests.conftest import SF_DIR

    plan = plan_of(m.q_shipping_priority(spark, SF_DIR))
    # heap top-10, never a global sort of the aggregate
    assert "TakeOrderedAndProject" in plan
    # date filters must reach the parquet scans
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate" in plan
    assert "LessThan(o_orderdate" in plan
    assert "CartesianProduct" not in plan


def test_market_share_broadcasts_nation_only(spark):
    import __spark_entry__ as m
    from tests.conftest import SF_DIR

    plan = plan_of(m.q_market_share(spark, SF_DIR))
    # the 25-row nation dim is broadcast; p_type filter is pushed down
    assert "BroadcastHashJoin" in plan
    assert "EqualTo(p_type,PROMO)" in plan
    assert "CartesianProduct" not in plan


def test_bucketed_join_skips_exchange(spark, tmp_path):
    from cs6300_vectordbs_spark.sources.ingest import write_bucketed
    from tests.conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    write_bucketed(docs.select("doc_id", "text"), "tb_left", "doc_id", 4)
    write_bucketed(docs.select("doc_id", "lang"), "tb_right", "doc_id", 4)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # forbid broadcast so the join MUST co-locate via buckets
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("tb_left").join(spark.table("tb_right"), "doc_id")
        plan = plan_of(joined)
        # co-partitioned on disk: a same-key bucketed join has NO shuffle
        assert "Exchange" not in plan, plan
        assert joined.count() == docs.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS tb_left")
        spark.sql("DROP TABLE IF EXISTS tb_right")


def test_order_priority_is_semi_join_no_duplication(spark):
    import __spark_entry__ as m
    from tests.conftest import SF_DIR

    plan = plan_of(m.q_order_priority(spark, SF_DIR))
    # EXISTS compiles to a semi join on the equi key (residual date
    # predicate rides inside the join) — one output row per order, no
    # post-join distinct and no cartesian candidate generation.
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    # the order-date window reaches the orders parquet scan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_dormant_customers_is_anti_join_with_pushdown(spark):
    import __spark_entry__ as m
    from tests.conftest import SF_DIR

    plan = plan_of(m.q_dormant_customers(spark, SF_DIR))
    assert "LeftAnti" in plan
    # the recent-window filter shrinks the orders side BELOW the join
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "CartesianProduct" not in plan


def test_sales_rollup_expands_before_single_aggregate(spark):
    import __spark_entry__ as m
    from tests.conftest import SF_DIR

    plan = plan_of(m.q_sales_rollup(spark, SF_DIR))
    # ROLLUP = one Expand + one hash aggregate pair, with map-side
    # partial aggregation (the shuffle moves groups, not fact rows);
    # every dimension join stays broadcast.
    assert "Expand" in plan
    assert "HashAggregate" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pair_queries_are_fully_distributed(spark):
    """cosine_pairs / embedding_neardup / knn_graph_stats must never
    collect a corpus-sized side to the driver: building the plan runs
    ZERO Spark jobs (an eager collect would run one), and the physical
    plan is the grid applyInArrow shape with no broadcast nested-loop
    join carrying the corpus."""
    import __spark_entry__ as m
    from tests.conftest import SF_DIR

    tracker = spark.sparkContext.statusTracker()

    from cs6300_vectordbs_spark.operators.similarity import knn_edges

    def knn_core(spark, sf_dir):
        # q_knn_graph_stats localCheckpoints its edge table (so the
        # registered query's visible plan is post-checkpoint); the grid
        # shape is asserted on the operator it builds the edges with.
        return knn_edges(
            spark.read.parquet(f"{sf_dir}/embeddings.parquet"), 3
        )

    for builder in (m.q_cosine_pairs, m.q_embedding_neardup, knn_core):
        group = f"plan-build-{builder.__name__}"
        spark.sparkContext.setJobGroup(group, "plan construction only")
        try:
            df = builder(spark, SF_DIR)
            plan = plan_of(df)
        finally:
            spark.sparkContext.setJobGroup("", "")
        # Parquet footer/schema reads legitimately run a tiny job; a
        # driver-side collect() of a corpus is the thing that must not.
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds:
                sinfo = tracker.getStageInfo(sid)
                assert sinfo is None or "collect" not in sinfo.name, (
                    f"{builder.__name__} collected to the driver during "
                    f"plan construction: stage {sinfo.name!r}"
                )
        assert "FlatMapGroupsInArrow" in plan
        # The only nested-loop join allowed is the block-replication
        # cross join, whose broadcast side is the B-row Range of block
        # ids — never a parquet-backed (corpus) relation.
        assert "CartesianProduct" not in plan
        if "BroadcastNestedLoopJoin" in plan:
            assert "Range" in plan
            # every broadcast in the plan is the Range replication —
            # the corpus scans must all feed shuffle exchanges
            assert plan.count("BroadcastExchange") <= plan.count("Range (")

    # The registered kNN query (which checkpoints its edge table during
    # construction) must still never collect a corpus to the driver.
    group = "plan-build-q_knn_graph_stats"
    spark.sparkContext.setJobGroup(group, "plan construction only")
    try:
        m.q_knn_graph_stats(spark, SF_DIR)
    finally:
        spark.sparkContext.setJobGroup("", "")
    for jid in tracker.getJobIdsForGroup(group):
        for sid in tracker.getJobInfo(jid).stageIds:
            sinfo = tracker.getStageInfo(sid)
            assert sinfo is None or "collect" not in sinfo.name


def test_quality_deciles_has_no_single_partition_exchange(spark):
    """exact_ntile must keep the decile assignment fully parallel: the
    global-window ntile form compiles to Exchange SinglePartition +
    Sort (one reducer sorts the entire corpus); the range-exchange +
    local row_number form must never contain one. Asserted on the
    un-materialized form (the default checkpoints the ranged frame,
    which hides the exchange from the visible plan)."""
    import __spark_entry__ as m
    from cs6300_vectordbs_spark.operators.quality import exact_ntile
    from tests.conftest import SF_DIR

    stats = m.q_doc_stats(spark, SF_DIR)
    tiled = exact_ntile(
        stats, ["quality", "doc_id"], 10, out_col="decile",
        materialize=False,
    )
    plan = plan_of(tiled)
    assert "SinglePartition" not in plan
    assert "rangepartitioning" in plan.lower()
    # and the registered query's final plan stays SinglePartition-free
    assert "SinglePartition" not in plan_of(m.q_quality_deciles(spark, SF_DIR))


def test_filtered_topk_pushes_lang_filter_to_scan(spark):
    """V6 metadata-filtered search: the lang='en' metadata predicate
    must reach the documents parquet scan as a pushed filter (prunes
    row groups before any cosine math), and the query batch stays the
    broadcast side."""
    import __spark_entry__ as m
    from tests.conftest import SF_DIR

    plan = plan_of(m.q_filtered_topk(spark, SF_DIR))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("EqualTo(lang,en)" in ln for ln in pushed), pushed
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_returned_revenue_pushdown_and_heap_topk(spark):
    import __spark_entry__ as m
    from tests.conftest import SF_DIR

    plan = plan_of(m.q_returned_revenue(spark, SF_DIR))
    assert "EqualTo(l_returnflag,R)" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_large_orders_aggregates_before_joins(spark):
    """The HAVING aggregate must run on lineitem alone so only
    qualifying orderkeys reach the joins — the sum_qty filter sits on
    the aggregate, not after the customer join."""
    import __spark_entry__ as m
    from tests.conftest import SF_DIR

    plan = plan_of(m.q_large_orders(spark, SF_DIR))
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "CartesianProduct" not in plan


def test_bm25_scoring_groupby_needs_no_candidate_exchange(spark, docs):
    """The document-sharded postings index (repartition by doc id +
    persist) must let the (query, doc) scoring aggregate complete
    WITHOUT shuffling the candidate set: queries broadcast, candidates
    generated in place, HashAggregate keyed (qid, id) satisfied by the
    shard partitioning."""
    from cs6300_vectordbs_spark.operators.text_search import bm25_topk

    qs = docs.limit(20).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query")
    )
    plan = plan_of(bm25_topk(docs, qs, k=5))
    # the query-term side reaches the candidate join as a broadcast
    assert "BroadcastHashJoin" in plan
    # the only ENSURE_REQUIREMENTS exchanges allowed are the final
    # per-query window rank; the scoring groupBy must not add one
    # keyed on the candidate (qid, id) pair.
    import re

    cand_exchanges = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
        and "query_id" in ln
        and "doc_id" in ln
    ]
    assert cand_exchanges == [], cand_exchanges


def test_rp_projection_is_map_only(spark, emb):
    """JL sign projection must compile to a pure scan+project plan:
    no Exchange, no aggregate, no UDF — the 100 TB map-only contract."""
    from cs6300_vectordbs_spark.functions.vector import random_projection

    dim = len(emb.select("embedding").first()[0])
    out = emb.select("vec_id", *random_projection("embedding", dim, 8))
    plan = plan_of(out)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_centroid_outliers_broadcasts_centroids_with_partial_topk(spark, emb):
    from cs6300_vectordbs_spark.operators.similarity import centroid_outliers

    dim = len(emb.select("embedding").first()[0])
    plan = plan_of(centroid_outliers(emb, k=3, dim=dim))
    # centroid array table (|labels| rows) joins broadcast
    assert "BroadcastHashJoin" in plan
    # per-label top-k is a partial top-k before the shuffle
    assert "WindowGroupLimit" in plan
    # no cartesian anywhere
    assert "CartesianProduct" not in plan


def test_state_history_reuses_one_sort_for_both_windows(spark):
    from cs6300_vectordbs_spark.io import read_events
    from cs6300_vectordbs_spark.operators.timeseries import state_history

    ev = read_events(spark, "/root/testdata/sf0.001")
    plan = plan_of(state_history(ev))
    # exactly one shuffle keyed on the entity id for the lag/run
    # windows (the run groupBy and lead window ride the same
    # partitioning); no global (un-keyed) exchange.
    assert "Exchange SinglePartition" not in plan
    assert plan.count("Exchange hashpartitioning(user_id") <= 2


def test_headline_queries_have_no_scale_smells(spark):
    """Every headline query's plan must be free of the three
    cluster-killers: cartesian products, single-partition exchanges,
    and row-at-a-time Python UDFs. (tools/plan_sweep.py runs the same
    check over ALL registered queries per round.)"""
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if repo not in sys.path:
        sys.path.insert(0, repo)
    import __spark_entry__ as e
    from bench import BENCH_QUERIES

    qs = e.queries()
    sf = "/root/testdata/sf0.001"
    bad = {}
    for name in BENCH_QUERIES:
        if name.endswith("_stream"):
            continue
        plan = plan_of(qs[name](spark, sf))
        flags = []
        if "CartesianProduct" in plan:
            flags.append("cartesian")
        if "Exchange SinglePartition" in plan:
            flags.append("single-partition")
        if "BatchEvalPython" in plan:
            flags.append("row-python-udf")
        if flags:
            bad[name] = flags
    assert bad == {}, bad


def test_min_cost_supplier_broadcasts_dims_and_reduces_before_window(spark):
    import __spark_entry__ as m
    from tests.conftest import SF_DIR

    plan = plan_of(m.q_min_cost_supplier(spark, SF_DIR))
    # part + supplier->nation->region chain ride as broadcasts onto
    # lineitem; the per-part window min runs on the already-aggregated
    # supply pairs (tiny), never on raw lineitem.
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan
    # p_size filter reaches the part scan
    assert "EqualTo(p_size,15)" in plan


def test_waiting_suppliers_correlations_compile_to_equi_joins(spark):
    import __spark_entry__ as m
    from tests.conftest import SF_DIR

    plan = plan_of(m.q_waiting_suppliers(spark, SF_DIR))
    # EXISTS/NOT-EXISTS with the suppkey inequality must become
    # equi-joins on orderkey with a residual != condition — a nested-
    # loop or cartesian here is O(n^2) at scale.
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan and "LeftAnti" in plan
    # status + returnflag filters push to the scans
    assert "EqualTo(o_orderstatus,F)" in plan
    assert "EqualTo(l_returnflag,R)" in plan
    # heap top-10, not a global sort
    assert "TakeOrderedAndProject" in plan


def test_disjunctive_revenue_pushes_covering_range_to_fact_scan(spark):
    import __spark_entry__ as m
    from tests.conftest import SF_DIR

    plan = plan_of(m.q_disjunctive_revenue(spark, SF_DIR))
    # The OR-of-ANDs can't push whole, but the covering quantity range
    # must reach the lineitem scan so the disjunction only sees
    # pre-pruned rows.
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any(
        "GreaterThanOrEqual(l_quantity,1.0)" in ln
        and "LessThanOrEqual(l_quantity,30.0)" in ln
        for ln in pushed
    ), pushed
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_small_qty_revenue_stats_join_is_equi_on_partkey(spark):
    import __spark_entry__ as m
    from tests.conftest import SF_DIR

    plan = plan_of(m.q_small_qty_revenue(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan
    # brand filter prunes the broadcast part dim at its scan
    assert "EqualTo(p_brand,Brand#3)" in plan


def test_discount_revenue_pushes_all_predicates_to_scan(spark):
    import __spark_entry__ as m
    from tests.conftest import SF_DIR

    plan = plan_of(m.q_discount_revenue(spark, SF_DIR))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed
    ln = pushed[0]
    assert "GreaterThanOrEqual(l_shipdate" in ln
    assert "LessThan(l_shipdate" in ln
    assert "LessThan(l_quantity,24.0)" in ln
    # one-row aggregate: partial+final, never a join
    assert "Join" not in plan


def test_rerank_pipeline_plan(spark):
    import __spark_entry__ as m
    from tests.conftest import SF_DIR

    plan = plan_of(m.q_rerank_topk(spark, SF_DIR))
    # candidate text joins are equi-joins on doc id; the final top-3
    # compiles to a partial top-k; no cartesian anywhere
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan


def test_bucketed_revenue_join_has_no_exchange_on_fact_sides(spark):
    import __spark_entry__ as m
    from tests.conftest import SF_DIR

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # forbid broadcast so the join MUST co-locate via buckets
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = plan_of(m.q_bucketed_revenue(spark, SF_DIR))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # the bucketed join itself is exchange-free: the ONLY exchange in
    # the plan is the final tiny priority aggregate (count operator
    # entries "(n) Exchange" — the tree and detail sections both
    # mention each operator)
    import re

    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ensure_bucketed_table_reuses_then_invalidates(spark, tmp_path):
    from cs6300_vectordbs_spark.sources.ingest import ensure_bucketed_table

    df = spark.range(0, 100).select(F.col("id").alias("k"), F.lit(1).alias("v"))

    def mark():
        # sentinel property: survives reuse, vanishes on rebuild (a
        # rebuild drops + recreates the table) — row counts can't tell
        # reuse from an identical rebuild.
        spark.sql(
            "ALTER TABLE tb_ensure SET TBLPROPERTIES ('sentinel'='1')"
        )

    def marked() -> bool:
        props = {
            r["key"]: r["value"]
            for r in spark.sql("SHOW TBLPROPERTIES tb_ensure").collect()
        }
        return props.get("sentinel") == "1"

    try:
        ensure_bucketed_table(spark, df, "tb_ensure", "k", 4)
        mark()
        # same source + spec -> reused (sentinel survives)
        ensure_bucketed_table(spark, df, "tb_ensure", "k", 4)
        assert marked() and spark.table("tb_ensure").count() == 100
        # changed source -> rebuilt (sentinel gone)
        ensure_bucketed_table(spark, df.limit(50), "tb_ensure", "k", 4)
        assert not marked() and spark.table("tb_ensure").count() == 50
        mark()
        # changed spec (bucket count) -> rebuilt even with same source
        ensure_bucketed_table(spark, df.limit(50), "tb_ensure", "k", 8)
        assert not marked() and spark.table("tb_ensure").count() == 50
    finally:
        spark.sql("DROP TABLE IF EXISTS tb_ensure")


def test_search_dispatch_thresholds():
    """The auto-strategy rule (operators/search.py): exact while the
    pair count fits the BLAS budget, ivf beyond it, exact whenever the
    query side outgrows a broadcast (similarity_topk then takes its
    grid plan) — these THRESHOLD SEMANTICS are the contract."""
    import cs6300_vectordbs_spark.operators.search as search_mod
    from cs6300_vectordbs_spark.operators.search import (
        BLOCKED_MAX_PAIRS,
        choose_strategy,
    )
    from cs6300_vectordbs_spark.operators.similarity import (
        BROADCAST_MAX_QUERIES,
    )

    # The package does not shadow its submodule with the function.
    assert inspect.ismodule(search_mod)
    assert not hasattr(search_mod, "EXACT_MAX_PAIRS")
    assert not hasattr(search_mod, "BROADCAST_MAX_QUERIES")
    assert choose_strategy(0, 0) == "exact"
    assert choose_strategy(4_000, 10) == "exact"
    assert choose_strategy(BLOCKED_MAX_PAIRS // 100, 100) == "exact"
    assert choose_strategy(BLOCKED_MAX_PAIRS // 100 + 1, 100) == "ivf"
    n = BLOCKED_MAX_PAIRS // BROADCAST_MAX_QUERIES
    assert choose_strategy(n, BROADCAST_MAX_QUERIES) == "exact"
    assert choose_strategy(n + 1, BROADCAST_MAX_QUERIES) == "ivf"
    # Query side too big for ivf to broadcast -> exact (similarity_topk
    # then takes its both-sides-sharded grid), regardless of corpus
    # size; at the bound itself ivf still takes it.
    assert choose_strategy(50, BROADCAST_MAX_QUERIES + 1) == "exact"
    assert choose_strategy(10**9, BROADCAST_MAX_QUERIES) == "ivf"
    assert choose_strategy(10**9, BROADCAST_MAX_QUERIES + 1) == "exact"
    assert choose_strategy(10_000_000, 5_000_000) == "exact"


def test_search_auto_picks_exact_plan_and_matches_brute_force(
    spark, emb, monkeypatch
):
    """At test scale auto dispatch must land on the broadcast Arrow
    plan (MapInArrow over the corpus, no BroadcastNestedLoopJoin), and
    the grid plan and the JVM parity reference must return
    BIT-identical rows."""
    import cs6300_vectordbs_spark.operators.similarity as sim_mod
    from cs6300_vectordbs_spark.operators.search import (
        BLOCKED_MAX_PAIRS,
        search,
    )

    q = _queries(emb)
    auto = search(emb, q, 5, dim=64, exclude_self=True)
    plan = plan_of(auto)
    assert "MapInArrow" in plan
    assert "BroadcastNestedLoopJoin" not in plan

    def rows(df):
        return sorted(
            (r.query_id, r.rank, r.vec_id, r.sim) for r in df.collect()
        )

    base = rows(auto)
    assert rows(_jvm_topk(emb, q, 5, dim=64, exclude_self=True)) == base
    with monkeypatch.context() as m:
        m.setattr(sim_mod, "BROADCAST_MAX_QUERIES", 0)
        grid = search(emb, q, 5, dim=64, exclude_self=True)
        assert "FlatMapGroupsInArrow" in plan_of(grid)
        assert rows(grid) == base
    # ivf is approximate: its hits are a subset-quality check, not
    # bit-equality — every reported sim must still be the exact cosine.
    ivf_rows = search(
        emb, q, 5, dim=64, exclude_self=True, corpus_count=BLOCKED_MAX_PAIRS
    ).collect()
    exact_sims = {
        (r.query_id, r.vec_id): r.sim
        for r in similarity_topk(
            emb, q, 500, dim=64, exclude_self=True
        ).collect()
    }
    for r in ivf_rows:
        assert exact_sims[(r.query_id, r.vec_id)] == r.sim


def test_search_over_broadcast_bound_takes_grid_after_bounded_load(
    spark, emb, monkeypatch
):
    """A query batch over BROADCAST_MAX_QUERIES goes to the grid plan,
    through search() (with or without a query_count hint) and through
    similarity_topk itself (the call search_pipeline makes): each loads at most BROADCAST_MAX_QUERIES
    + 1 rows to count the batch, and nothing more of it is collected.
    A batch of exactly BROADCAST_MAX_QUERIES is loaded whole and
    broadcast."""
    import cs6300_vectordbs_spark.operators.search as search_mod
    import cs6300_vectordbs_spark.operators.similarity as sim_mod

    q = _queries(emb, 10)
    want = sorted(map(repr, _jvm_topk(emb, q, 5, dim=64).collect()))
    calls = (
        lambda: search_mod.search(emb, q, 5, dim=64, corpus_count=500),
        lambda: search_mod.search(
            emb, q, 5, dim=64, corpus_count=500, query_count=10
        ),
        lambda: similarity_topk(emb, q, 5, dim=64),
    )
    # (bound, rows loaded, plan node present, plan node absent)
    cases = (
        (10, 10, "MapInArrow", "FlatMapGroupsInArrow"),
        (3, 4, "FlatMapGroupsInArrow", "MapInArrow"),
    )
    for bound, load, present, absent in cases:
        for call in calls:
            monkeypatch.setattr(sim_mod, "BROADCAST_MAX_QUERIES", bound)
            cls, loads = type(emb), []
            for name in ("collect", "toArrow", "toPandas"):
                def spy(self, *a, _orig=getattr(cls, name), **kw):
                    out = _orig(self, *a, **kw)
                    loads.append(len(out))  # rows, for a list or a table
                    return out

                monkeypatch.setattr(cls, name, spy)
            out = call()
            assert loads == [load], bound
            plan = plan_of(out)
            assert present in plan and absent not in plan, bound
            monkeypatch.undo()
            assert sorted(map(repr, out.collect())) == want


def test_search_filter_applies_to_every_strategy(spark, emb):
    """filter_expr must constrain the searched corpus identically
    under each strategy (pre-join / pre-index-build)."""
    from cs6300_vectordbs_spark.operators.search import search

    from cs6300_vectordbs_spark.operators.search import BLOCKED_MAX_PAIRS

    q, f = _queries(emb), "vec_id % 2 = 0"
    for out in (
        _jvm_topk(emb, q, 5, dim=64, filter_expr=f),
        search(emb, q, 5, dim=64, filter_expr=f),
        search(
            emb, q, 5, dim=64, filter_expr=f, corpus_count=BLOCKED_MAX_PAIRS
        ),
    ):
        rows = out.collect()
        assert rows and all(r.vec_id % 2 == 0 for r in rows)


def test_ivf_neardup_plan_no_cartesian(spark, emb):
    """The IVF-blocked near-dup's candidates must come from the
    same-cell EQUI self-join — never a cartesian — and the centroid
    fan-out must be a broadcast."""
    from cs6300_vectordbs_spark.operators.ann import ivf_neardup_pairs

    plan = plan_of(ivf_neardup_pairs(emb, dim=64))
    # The assignment table is checkpointed before the self-join (so
    # the centroid fan-out runs once, at build time); the serving plan
    # is just the same-cell EQUI self-join over that scan.
    assert "CartesianProduct" not in plan
    assert any(
        j in plan
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )  # cell equi-join


def test_lsh_tuning_recall_monotone(spark):
    """The band-count sweep's defining property: more bands (fewer
    bits per key) can only ADD candidates, so recall@k is monotone
    non-decreasing in the band count — and the widest arm must
    actually recover a usable fraction of the exact top-k."""
    import __spark_entry__ as m
    from tests.conftest import SF_DIR

    rows = {
        r.bands: r.recall_at_k
        for r in m.queries()["lsh_tuning_report"](spark, SF_DIR).collect()
    }
    assert sorted(rows) == [2, 4, 8]
    assert rows[2] <= rows[4] <= rows[8]
    assert rows[8] >= 0.5


def test_partitioned_events_prunes_partitions(spark):
    """The Hive-partitioned events layout must prune at the DIRECTORY
    level: the event_type filter appears as a PartitionFilter on the
    scan (not a post-scan Filter), so non-matching types are never
    read."""
    import __spark_entry__ as m
    from tests.conftest import SF_DIR

    plan = plan_of(m.q_partitioned_events(spark, SF_DIR))
    part_lines = [
        ln for ln in plan.splitlines() if "PartitionFilters" in ln
    ]
    assert part_lines, plan
    assert any("event_type" in ln for ln in part_lines), part_lines


def test_temperature_resample_is_map_only(spark):
    """After the one group-count collect, the resample itself must be
    a single scan-stage projection+filter: literal CASE rates + the
    keyed-hash uniform, with NO exchange and NO join in the plan."""
    from cs6300_vectordbs_spark.operators.sampling import (
        temperature_resample,
    )

    df = spark.createDataFrame(
        [(i, "en" if i % 10 else "fr") for i in range(100)],
        "doc_id long, lang string",
    )
    plan = plan_of(temperature_resample(df))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_collapse_guard_plan_shapes(spark):
    """The r06 hot-bucket guard's plan contract: on a CLEAN corpus the
    collapse fast path leaves the pair plan union-free (no expansion
    branch compiled in), while on a dup-containing corpus the expansion
    union exists and its joins never introduce a cartesian — the
    candidate path stays equi-join end to end."""
    clean = spark.createDataFrame(
        [(i, f"distinct doc number {i} about planning topic {i}")
         for i in range(12)],
        "doc_id long, text string",
    )
    plan = plan_of(minhash_lsh_pairs(clean, min_jaccard=0.3))
    assert "Union" not in plan  # fast path: pre-guard plan, unchanged
    assert "CartesianProduct" not in plan

    dups = clean.unionByName(
        spark.createDataFrame(
            [(100 + i, "identical boilerplate banner text here ok")
             for i in range(4)],
            "doc_id long, text string",
        )
    )
    plan2 = plan_of(minhash_lsh_pairs(dups, min_jaccard=0.3))
    assert "Union" in plan2  # expansion branch present
    assert "CartesianProduct" not in plan2


def test_index_family_dispatch_rule():
    """The index-FAMILY rule (operators/search.choose_index_strategy):
    a structured corpus (>= STRUCT_MIN_FRAC of sample pairs above the
    cosine threshold) serves through the NSW graph; a structureless
    one falls back to IVF — the executable form of the
    docs/ANN_QUALITY.md finding (graph recall 0.368 on iid vs 0.984 on
    manifold data). These threshold semantics are the contract."""
    from cs6300_vectordbs_spark.operators.search import (
        STRUCT_MIN_FRAC,
        choose_index_strategy,
    )

    assert choose_index_strategy(0, 8128) == "ivf"
    assert choose_index_strategy(8, 8128) == "ivf"   # 8/8128 < 0.001
    assert choose_index_strategy(9, 8128) == "nsw"   # 9/8128 >= 0.001
    assert choose_index_strategy(100, 8128) == "nsw"
    assert choose_index_strategy(0, 0) == "ivf"      # degenerate sample
    assert STRUCT_MIN_FRAC == 0.001


def test_structure_probe_separates_iid_from_clustered(spark):
    """pair_structure_stat must read ~zero high pairs on iid Gaussian
    vectors (cos concentrates near 0; measured max 0.45 at 64-d over
    8k pairs) and a visible fraction on clustered vectors — and
    auto_index_search must therefore serve iid corpora through IVF
    (row-identical to ivf_topk) and clustered corpora through the NSW
    graph (row-identical to nsw_beam_search over the same recipe)."""
    import numpy as np

    from cs6300_vectordbs_spark.operators.ann import (
        ivf_topk,
        nsw_beam_search,
        nsw_edges,
    )
    from cs6300_vectordbs_spark.operators.search import (
        auto_index_search,
        choose_index_strategy,
        pair_structure_stat,
    )
    from pyspark.sql import functions as F

    # dim 64 = the calibration regime (STRUCT_COS_THRESHOLD is set for
    # real embedding dims; at very low ambient dim iid cosines spread
    # wide enough to cross 0.6 occasionally)
    dim, n = 64, 120
    rng = np.random.default_rng(42)
    iid = rng.normal(size=(n, dim))
    centers = rng.normal(size=(3, dim)) * 4.0
    clustered = centers[np.arange(n) % 3] + rng.normal(size=(n, dim)) * 0.3

    def df_of(mat):
        return spark.createDataFrame(
            [(i, [float(x) for x in row]) for i, row in enumerate(mat)],
            "vec_id long, embedding array<double>",
        )

    iid_df, clu_df = df_of(iid), df_of(clustered)
    q = lambda df: df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )

    s_iid = pair_structure_stat(iid_df, dim=dim, sample_n=100).collect()[0]
    s_clu = pair_structure_stat(clu_df, dim=dim, sample_n=100).collect()[0]
    assert choose_index_strategy(s_iid["n_high"], s_iid["n_pairs"]) == "ivf"
    assert choose_index_strategy(s_clu["n_high"], s_clu["n_pairs"]) == "nsw"
    # clustered: ~1/3 of pairs are intra-cluster at cos >> 0.6
    assert s_clu["frac_high"] > 0.1

    common = dict(dim=dim, exclude_self=True, sample_n=100)

    # iid -> IVF branch, row-identical to the explicit operator
    got = sorted(
        (r.query_id, r.rank, r.vec_id, r.sim)
        for r in auto_index_search(iid_df, q(iid_df), 5, **common).collect()
    )
    want = sorted(
        (r.query_id, r.rank, r.vec_id, r.sim)
        for r in ivf_topk(
            iid_df, q(iid_df), 5, dim=dim, exclude_self=True
        ).collect()
    )
    assert got == want

    # clustered -> NSW branch, row-identical to beam search over the
    # same graph (exact 12-NN + hash shortcuts)
    edges = nsw_edges(clu_df, 12)
    got = sorted(
        (r.query_id, r.rank, r.vec_id, r.sim)
        for r in auto_index_search(clu_df, q(clu_df), 5, **common).collect()
    )
    want = sorted(
        (r.query_id, r.rank, r.vec_id, r.sim)
        for r in nsw_beam_search(
            clu_df, q(clu_df), 5, edges=edges, dim=dim, exclude_self=True
        ).collect()
    )
    assert got == want

    # custom column names must work on BOTH branches (the facade
    # normalizes the NSW path's fixed query/output column contract):
    # same clustered corpus/queries under renamed columns + the same
    # prebuilt edges must return identical rows.
    clu2 = clu_df.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    q2 = clu2.filter(F.col("id") < 5).select(
        F.col("id").alias("qid"), F.col("vec").alias("qv")
    )
    got_custom = sorted(
        (r["query_id"], r["rank"], r["id"], r["sim"])
        for r in auto_index_search(
            clu2, q2, 5, dim=dim, exclude_self=True, sample_n=100,
            corpus_id="id", corpus_vec="vec", query_id="qid",
            query_vec="qv", edges=edges,
        ).collect()
    )
    assert got_custom == want
