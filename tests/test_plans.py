"""Physical-plan regression tests: the properties that make these operators
scale (broadcast joins, pushdown/pruning, no skewed single-key shuffles)
must be visible in the executed plan, not just hoped for."""

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_lookup_join_broadcasts_dimension(spark):
    from training_data_ops.registry import all_queries

    df = all_queries()["lookup_join_inner"].spark(spark, SF_DIR)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan


def test_projection_prunes_parquet_scan(spark):
    from training_data_ops.registry import all_queries

    df = all_queries()["projection"].spark(spark, SF_DIR)
    plan = plan_of(df)
    # ReadSchema must carry only the 4 selected columns — no l_comment etc.
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    for col in ("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"):
        assert col in read_schema
    assert "l_comment" not in read_schema and "l_shipdate" not in read_schema


def test_filter_pushdown_reaches_scan(spark):
    from training_data_ops.registry import all_queries

    df = all_queries()["nested_subquery"].spark(spark, SF_DIR)
    plan = plan_of(df)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("o_totalprice" in ln and "GreaterThan" in ln for ln in pushed), plan


def test_dedup_exact_single_shuffle(spark):
    from training_data_ops.operators.dedup import dedup_exact

    plan = plan_of(dedup_exact(spark, SF_DIR))
    # one hash-partitioned exchange on the digest (plus AQE reads); partial
    # aggregation must appear before it
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "HashAggregate" in plan


def test_topk_has_no_query_id_only_exchange(spark):
    """The two-stage top-k must not shuffle the full scored corpus on the
    (few-key, skewed) query_id alone before pre-ranking."""
    from training_data_ops.operators.similarity import (
        sim_topk_cosine,
    )

    df = sim_topk_cosine(spark, SF_DIR)
    plan = plan_of(df)
    lines = plan.splitlines()
    first_exchange = next(
        i for i, ln in enumerate(lines) if "Exchange hashpartitioning" in ln
    )
    # the first (bottom-most in execution order = last listed) exchange must
    # be on (_pid, query_id); check no exchange partitions by query_id alone
    for ln in lines:
        if "Exchange hashpartitioning" in ln and "query_id" in ln:
            assert "_pid" in ln or "SinglePartition" not in ln
    assert any("_pid" in ln for ln in lines if "Exchange" in ln), plan


def test_posting_head_prunes_hot_terms_map_side(spark):
    """posting_lists' head cap must never route a hot term's full posting
    list through one task (Zipf: a stop-word's df ≈ corpus doc count).
    The rn<=head filter sits directly above the per-term window, so
    Catalyst's InferWindowGroupLimit plants a PARTIAL WindowGroupLimit
    below the term exchange — every map task ships <= head rows per term
    and the final task ranks <= partitions*head survivors.  Pin both the
    Partial node and its position below the exchange."""
    from training_data_ops.operators.retrieval import (
        posting_lists,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(posting_lists(docs))
    lines = plan.splitlines()
    partials = [
        i for i, ln in enumerate(lines)
        if "WindowGroupLimit" in ln and "Partial" in ln
    ]
    assert partials, plan  # the rewrite fired at all
    # tree prints parents first: the map-side Partial must sit BELOW
    # (later than) the tok exchange that feeds the final per-term rank
    tok_exchanges = [
        i for i, ln in enumerate(lines)
        if "Exchange hashpartitioning(tok" in ln
    ]
    assert tok_exchanges and max(partials) > min(tok_exchanges), plan


def test_bm25_batch_has_no_query_id_only_exchange(spark):
    """Batched multi-query BM25: the per-query top-k must pre-rank per
    (input-partition, query) — an exchange on the few-key query_id alone
    would funnel the whole scored relation through #queries tasks."""
    from training_data_ops.registry import all_queries

    df = all_queries()["bm25_batch_topk"].spark(spark, SF_DIR)
    plan = plan_of(df)
    lines = plan.splitlines()
    # the scored relation's first rank must happen under (_pid, query_id):
    # a Partial WindowGroupLimit on that pair caps each map task to topn
    # per query BEFORE any query_id exchange, so the only exchange keyed on
    # query_id alone carries <= partitions*topn pre-capped survivors
    pre_caps = [
        i for i, ln in enumerate(lines)
        if "WindowGroupLimit" in ln and "_pid" in ln and "query_id" in ln
    ]
    assert pre_caps, plan
    q_only = [
        i for i, ln in enumerate(lines)
        if "Exchange hashpartitioning(query_id" in ln and "_pid" not in ln
        and "doc_id" not in ln
    ]
    # tree prints parents first: every query_id-only exchange must sit
    # ABOVE (before) the pre-cap, i.e. consume its output
    assert all(i < max(pre_caps) for i in q_only), plan


def test_ivf_assign_uses_partial_aggregation(spark):
    from training_data_ops.functions.vectors import as_double
    from training_data_ops.operators.similarity import ivf_assign

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cent = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cent_id"), as_double(F.col("embedding")).alias("cv")
    )
    plan = plan_of(ivf_assign(emb, cent))
    # argmax via max_by aggregation: partial ObjectHashAggregate before the
    # exchange, broadcast of the centroid side, no window exchange on vec_id
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "Aggregate" in plan
    assert "Window" not in plan


def test_lsh_signature_shuffle_is_per_vector(spark):
    """LSH signatures: planes broadcast, bit contributions partially
    aggregated map-side — the shuffle carries one row per vector, never
    the L*B per-bit rows, and no window runs over the corpus."""
    from training_data_ops.functions.vectors import as_double
    from training_data_ops.operators.similarity import (
        lsh_planes,
        lsh_signatures,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    vecs = emb.select("vec_id", as_double(F.col("embedding")).alias("v"))
    plan = plan_of(lsh_signatures(vecs, lsh_planes(emb)))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert plan.count("Exchange hashpartitioning(vec_id") <= 2, plan
    assert "Window" not in plan, plan


def test_lsh_recall_overlaps_exact_topk(spark):
    """ANN sanity: LSH candidates must recover a non-trivial share of the
    exact top-k (the oracle pins correctness; this pins usefulness)."""
    from training_data_ops.operators.similarity import (
        sim_ann_lsh,
        sim_topk_cosine,
    )

    exact = {
        (r.query_id, r.neighbor_id) for r in sim_topk_cosine(spark, SF_DIR).collect()
    }
    approx = {(r.query_id, r.neighbor_id) for r in sim_ann_lsh(spark, SF_DIR).collect()}
    assert len(approx & exact) / len(exact) > 0.05, f"recall {len(approx & exact)}/{len(exact)}"


def test_pricing_summary_pushes_filter_and_partial_aggs(spark):
    from training_data_ops.registry import all_queries

    df = all_queries()["pricing_summary"].spark(spark, SF_DIR)
    plan = plan_of(df)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("l_shipdate" in ln and "LessThanOrEqual" in ln for ln in pushed), plan
    # decimal money math must aggregate partially before the single shuffle
    assert plan.count("Exchange hashpartitioning") == 1, plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_comment" not in read_schema and "l_partkey" not in read_schema


def test_lookup_df_is_local_relation(spark, http_server):
    """The HTTP cache must materialize as the JVM's Arrow-batch relation:
    the driver ships IPC batches, each scan's tasks decode them, and no
    Python worker runs."""
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    from flink_http_full_cache_connector_spark.sources.lookup import create_lookup_df
    from tests.conftest import USERS_V1

    http_server.set_payload(USERS_V1)
    schema = StructType(
        [
            StructField("id", IntegerType()),
            StructField("name", StringType()),
            StructField("username", StringType()),
            StructField("email", StringType()),
        ]
    )
    df = create_lookup_df(spark, {"url": http_server.url}, schema)
    plan = plan_of(df)
    assert "Scan ExistingRDD arrow" in plan, plan
    assert not any(p in plan for p in ("PythonRDD", "BatchEvalPython", "ArrowEvalPython")), plan


def test_text_ops_are_scan_only(spark):
    from training_data_ops.operators.text import text_quality_score

    plan = plan_of(text_quality_score(spark, SF_DIR))
    # per-row select: the only exchange allowed is the widen() round-robin
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Window" not in plan and "SortMergeJoin" not in plan


def test_shipping_priority_heap_broadcast_pushdown(spark):
    """Q3 shape: pushed date filters, broadcast customer side, and a
    TakeOrderedAndProject top-k (never a global range-partitioned sort)."""
    from training_data_ops.registry import all_queries

    df = all_queries()["shipping_priority"].spark(spark, SF_DIR)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan
    assert "BroadcastHashJoin" in plan, plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("o_orderdate" in ln and "LessThan" in ln for ln in pushed), plan
    assert any("l_shipdate" in ln and "GreaterThan" in ln for ln in pushed), plan


def test_rolling_window_single_key_shuffle(spark):
    """The RANGE-frame rolling window costs exactly one user_id exchange."""
    from training_data_ops.registry import all_queries

    df = all_queries()["rolling_1h_events"].spark(spark, SF_DIR)
    plan = plan_of(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "RunningWindowFunction" in plan or "Window" in plan, plan


def test_weighted_sample_is_shuffle_free(spark):
    """Weighted Bernoulli sampling is a map-side filter: no exchange beyond
    the local-parallelism widen() round-robin (which is not a hash shuffle)."""
    from training_data_ops.registry import all_queries

    df = all_queries()["sample_weighted"].spark(spark, SF_DIR)
    plan = plan_of(df)
    assert "Exchange hashpartitioning" not in plan, plan


def test_unpivot_partial_aggregates_before_shuffle(spark):
    """Expand (4 metric rows per input row) must collapse via map-side
    partial aggregation before the single tiny metric-key exchange."""
    from training_data_ops.registry import all_queries

    df = all_queries()["unpivot_lineitem_metrics"].spark(spark, SF_DIR)
    plan = plan_of(df)
    assert "Expand" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    # partial + final HashAggregate pair around the exchange
    assert plan.count("HashAggregate") >= 2, plan


def test_dim_stats_partial_aggregates_explode(spark):
    """posexplode fan-out is collapsed by partial aggregation: the dim-keyed
    exchange carries O(partitions x dims) rows, not corpus x dims."""
    from training_data_ops.registry import all_queries

    df = all_queries()["embedding_dim_stats"].spark(spark, SF_DIR)
    plan = plan_of(df)
    assert "Generate" in plan, plan  # the explode
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_udtf_is_arrow_batched(spark):
    """The chunking UDTF must compile to ArrowEvalPythonUDTF (useArrow=True)
    — row-at-a-time BatchEvalPythonUDTF would also trip the fleet lint."""
    from training_data_ops.registry import all_queries

    df = all_queries()["text_chunks_udtf"].spark(spark, SF_DIR)
    plan = plan_of(df)
    assert "ArrowEvalPythonUDTF" in plan, plan


def test_variant_parse_stays_jvm_side(spark):
    """VariantType extraction is JVM expressions — no Python eval nodes."""
    from training_data_ops.registry import all_queries

    df = all_queries()["variant_props_stats"].spark(spark, SF_DIR)
    plan = plan_of(df)
    assert "EvalPython" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_gapfill_two_key_exchanges_no_tie_shuffle(spark):
    """Gap-fill canonicalizes same-us ties inside the running window's
    ORDER BY — no (key, us) tie-dedup shuffle may appear; total cost is
    the bounds aggregation + the running window, both keyed on user_id."""
    from training_data_ops.registry import all_queries

    df = all_queries()["gapfill_locf_events"].spark(spark, SF_DIR)
    plan = plan_of(df)
    exchanges = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert len(exchanges) == 2, plan
    # "us#<id>" would be the tie-dedup's (user_id, us) composite key
    assert not any("us#" in ln for ln in exchanges), plan


def test_pack_sequences_window_is_bucket_partitioned(spark):
    """The packing prefix-sum must run per hash bucket — a global-order
    window (SinglePartition exchange) would serialize the whole corpus
    through one task."""
    from training_data_ops.registry import all_queries

    df = all_queries()["pack_sequences"].spark(spark, SF_DIR)
    plan = plan_of(df)
    assert "SinglePartition" not in plan, plan
    assert "Window" in plan, plan
    exchanges = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert len(exchanges) == 1 and "bucket" in exchanges[0], plan


def test_quantize_broadcasts_dim_stats(spark):
    """Per-dim min/max stats (O(dims) rows) must come back as a broadcast
    join onto the flattened scan, never a sort-merge shuffle of the data."""
    from training_data_ops.registry import all_queries

    df = all_queries()["embedding_quantize_int8"].spark(spark, SF_DIR)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_decontaminate_broadcasts_eval_shingles(spark):
    """The eval shingle set is tiny by construction; the overlap test must
    be a broadcast join, with the train side streaming map-side."""
    from training_data_ops.registry import all_queries

    df = all_queries()["decontaminate"].spark(spark, SF_DIR)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan


def test_trigram_lang_profile_is_broadcast(spark):
    """The 80-row trigram profile table must broadcast onto the exploded
    trigram stream (a shuffle keyed on 3-char trigrams would be the
    scale-killer); the scores-to-docs LEFT join on doc_id may sort-merge —
    both of its sides are corpus-sized at scale (AQE downgrades it to
    broadcast at runtime on small inputs)."""
    from training_data_ops.registry import all_queries

    df = all_queries()["text_lang_id"].spark(spark, SF_DIR)
    plan = plan_of(df)
    joins = [ln for ln in plan.splitlines() if "Join" in ln]
    tri_joins = [ln for ln in joins if "BroadcastHashJoin [t#" in ln.strip()]
    assert tri_joins, plan
    assert not any("SortMergeJoin [t#" in ln for ln in joins), plan


def test_repetition_signals_shuffles_only_on_doc_keys(spark):
    """Both aggregations of the repetition scan must key on doc_id(+gram) —
    uniform keys — and the short-doc branch must be a pushed-down filter
    scan, not a join against the gram table."""
    from training_data_ops.registry import all_queries

    df = all_queries()["text_repetition_signals"].spark(spark, SF_DIR)
    plan = plan_of(df)
    assert "Join" not in plan, plan
    exchanges = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert exchanges and all("doc_id" in ln for ln in exchanges), plan


def test_canonicalize_broadcasts_component_table(spark):
    """The cluster table (from the LSH pair graph) is small by construction:
    members and singletons must resolve via broadcast joins — the corpus
    itself must never shuffle for the keep/drop sweep."""
    from training_data_ops.registry import all_queries

    df = all_queries()["dedup_canonicalize"].spark(spark, SF_DIR)
    plan = plan_of(df)
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_token_budget_boundary_only_window(spark):
    """The budget cut must be resolved by broadcast-joined group totals; the
    only data-sized window allowed is the doc-level one over the single
    boundary group (partitioned by qs_m+bucket, never SinglePartition over
    base data).  The unpartitioned running-total window runs over the
    metadata-sized aggregate only."""
    from training_data_ops.registry import all_queries

    df = all_queries()["corpus_token_budget"].spark(spark, SF_DIR)
    plan = plan_of(df)
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_ivf_pq_scoring_is_map_side_lookup(spark):
    """ADC candidate scoring must stay JVM-side (no BatchEvalPython) with
    the codebook/centroids broadcast, and the candidate ranking must keep
    topk_per_query's two-stage shape: a (_pid, query_id) pre-rank exchange
    before the final per-query window, so the full ADC score stream never
    shuffles into #queries partitions.  (The remaining query_id-only
    exchanges are metadata-sized: the 16-row probe ranking and the
    partitions*k top-k survivors.)"""
    from training_data_ops.registry import all_queries

    df = all_queries()["sim_ann_ivf_pq"].spark(spark, SF_DIR)
    plan = plan_of(df)
    assert "BatchEvalPython" not in plan, plan
    assert "BroadcastExchange" in plan, plan
    exchanges = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert any("_pid" in ln and "query_id" in ln for ln in exchanges), plan


def test_ivf_2level_pq_adc_stays_map_side(spark):
    """Two-level IVF-PQ: no Python in the plan, codebook/centroids
    broadcast, and the ADC candidate stream keeps the two-stage shape —
    a (_pid, query_id) pre-rank exchange exists, so the full ADC score
    stream never shuffles into #queries partitions.  The ADC lookup
    itself is a literal-array expression (no join adds rows after the
    codes attach)."""
    from training_data_ops.registry import all_queries

    df = all_queries()["sim_ann_ivf_2level_pq"].spark(spark, SF_DIR)
    plan = plan_of(df)
    assert "BatchEvalPython" not in plan, plan
    assert "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan
    exchanges = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert any("_pid" in ln and "query_id" in ln for ln in exchanges), plan


def test_ivf_2level_pq_recall_overlaps_exact_rerank(spark):
    """The combined index shares cell geometry with sim_ann_ivf_2level
    (identical probes/candidates); only ADC quantization can diverge the
    top-10.  Pin the overlap measured-minus-slack (measured at sf0.01)."""
    from training_data_ops.registry import all_queries

    pq = all_queries()["sim_ann_ivf_2level_pq"].spark(spark, SF_DIR).collect()
    exact = all_queries()["sim_ann_ivf_2level"].spark(spark, SF_DIR).collect()
    pq_sets, ex_sets = {}, {}
    for r in pq:
        pq_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in exact:
        ex_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    overlaps = [
        len(pq_sets.get(q, set()) & s) / len(s) for q, s in ex_sets.items()
    ]
    avg = sum(overlaps) / len(overlaps)
    # measured 0.39 at sf0.01 — the distortion of an UNTRAINED 8x16
    # codebook (the same class as sim_ann_ivf_pq's L2 floor); floor a
    # slack below catches a broken walk/ADC, not codebook quality
    assert avg >= 0.25, f"2level-PQ overlap@10 {avg:.2f} (measured 0.39)"


def test_collocations_broadcast_topk_not_vocab(spark):
    """Both marginal-count joins must broadcast the k-row top list, never
    the vocab-sized unigram table; the top-k itself must be a TakeOrdered,
    not a global sort."""
    from training_data_ops.registry import all_queries

    df = all_queries()["text_collocations"].spark(spark, SF_DIR)
    plan = plan_of(df)
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_volume_shipping_pushes_daterange_broadcasts_nations(spark):
    """Q7 shape: the ship-date range must reach the lineitem parquet scan
    as PushedFilters (the fact never materializes out-of-window rows), and
    the two nation dims must broadcast — a shuffle keyed on nationkey
    (25 values) would be the skew-killer at scale."""
    from training_data_ops.registry import all_queries

    df = all_queries()["volume_shipping"].spark(spark, SF_DIR)
    plan = plan_of(df)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any(
        "l_shipdate" in ln and "GreaterThanOrEqual" in ln and "LessThanOrEqual" in ln
        for ln in pushed
    ), plan
    # both nation joins broadcast (cn_key / sn_key build sides)
    assert plan.count("BroadcastHashJoin") >= 2, plan
    exchanges = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert not any("nationkey" in ln or "n_name" in ln for ln in exchanges), plan


def test_market_share_prunes_part_type_at_scan(spark):
    """Q8 shape: the p_type predicate must be a pushed parquet filter on
    the part scan (pruning the join build side before any shuffle), and
    region/nation must broadcast."""
    from training_data_ops.registry import all_queries

    df = all_queries()["market_share"].spark(spark, SF_DIR)
    plan = plan_of(df)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("p_type" in ln and "EqualTo" in ln for ln in pushed), plan
    assert "BroadcastExchange" in plan, plan


def test_important_parts_aggregates_before_threshold_join(spark):
    """Q11 shape: the global total must come back as a broadcast
    nested-loop of a 1-row relation, and the fact must be scanned ONCE —
    both the per-part branch and the total branch read the persisted
    per-part aggregate (InMemoryTableScan), sharing one physical partkey
    exchange (identical plan_id on every partkey exchange mention)."""
    import re

    from training_data_ops.registry import all_queries

    df = all_queries()["important_parts"].spark(spark, SF_DIR)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert plan.count("InMemoryTableScan") >= 2, plan
    ids = {
        m.group(1)
        for m in re.finditer(r"Exchange hashpartitioning\(l_partkey[^\[]*\[plan_id=(\d+)\]", plan)
    }
    assert len(ids) == 1, plan


def test_cust_order_distribution_counts_survive_left_join(spark):
    """Q13 shape: the customer⋈orders join must stay LEFT OUTER in the
    executed plan (zero-order customers are the point of the query), and
    both aggregates partial-agg before their exchange."""
    from training_data_ops.registry import all_queries

    df = all_queries()["cust_order_distribution"].spark(spark, SF_DIR)
    plan = plan_of(df)
    assert "LeftOuter" in plan, plan
    assert plan.count("HashAggregate") >= 4, plan  # partial+final × 2 aggs


def test_parts_supplier_counts_pushes_exclusions(spark):
    """Q16 shape: the brand/type exclusion predicates must reach the part
    parquet scan as pushed Not(EqualTo) filters."""
    from training_data_ops.registry import all_queries

    df = all_queries()["parts_supplier_counts"].spark(spark, SF_DIR)
    plan = plan_of(df)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any(
        "p_brand" in ln and "p_type" in ln and "Not(EqualTo" in ln for ln in pushed
    ), plan


def test_idle_customers_anti_join_and_scalar_broadcast(spark):
    """Q22 shape: NOT EXISTS must compile to a LeftAnti join on custkey
    (one fact-sized shuffle at scale) and the positive-balance average
    must arrive as a broadcast 1-row relation, not a shuffle."""
    from training_data_ops.registry import all_queries

    df = all_queries()["idle_customers"].spark(spark, SF_DIR)
    plan = plan_of(df)
    assert "LeftAnti" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_pagerank_reuses_persisted_edges(spark):
    """Distributed PageRank shape: the edge list and out-degree relations
    are persisted once and every iteration reads the cache (no re-derivation
    of the orders-lineitem join per iteration), and no iteration collects to
    the driver — the plan is pure joins + aggregates."""
    from training_data_ops.registry import all_queries

    df = all_queries()["pagerank_nodes"].spark(spark, SF_DIR)
    plan = plan_of(df)
    # 3 iterations x (edges join + outdeg join) read the cached relations
    assert plan.count("InMemoryTableScan") >= 4, plan
    # the orders-lineitem pair join is computed exactly once (inside the
    # cached edge relation, which prints its stored plan once per cache)
    assert "BatchEvalPython" not in plan, plan


def test_graph_triangles_orients_before_wedge_join(spark):
    """Triangle counting must join oriented half-edges (lo/hi), never the
    raw symmetric edge list against itself three ways; the weighted pair
    relation is persisted (threshold scalar + edge filter + closing-edge
    lookup all reuse it)."""
    from training_data_ops.registry import all_queries

    df = all_queries()["graph_triangles"].spark(spark, SF_DIR)
    plan = plan_of(df)
    assert "InMemoryTableScan" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # 1-row scalar gates


def test_anomaly_zscore_windows_over_aggregated_hours(spark):
    """The trailing-window stats must run over the (type, hour) aggregate,
    not raw events: the plan's window sort input comes from a HashAggregate
    (partial+final around a (event_type, hour_idx) exchange), and the only
    other exchange is the window's event_type repartition."""
    from training_data_ops.registry import all_queries

    df = all_queries()["event_anomaly_zscore"].spark(spark, SF_DIR)
    plan = plan_of(df)
    assert "Window" in plan, plan
    exchanges = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert len(exchanges) == 2, plan
    # the agg exchange keys on (event_type, hour-expression); the window
    # exchange on event_type alone — over already-aggregated rows
    assert any("_groupingexpression" in ln or "hour_idx" in ln for ln in exchanges), plan


def test_winsorize_broadcasts_bounds(spark):
    """The 5-row percentile bounds table must broadcast onto the orders
    scan — re-shuffling orders on the 5-value mktsegment key would be the
    skew-killer."""
    from training_data_ops.registry import all_queries

    df = all_queries()["winsorize_prices"].spark(spark, SF_DIR)
    plan = plan_of(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan  # custkey dims + bounds
    # the clamped re-aggregation's exchange carries (segment, lo, hi) group
    # keys over partially-aggregated rows; the only segment-only exchange is
    # the exact-percentile bounds branch (verification construction — the
    # production path swaps in partial-aggregable approx_percentile)
    exchanges = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert any("lo#" in ln and "hi#" in ln for ln in exchanges), plan


def test_surprisal_broadcasts_vocab_not_word_join(spark):
    """The unigram scorer must broadcast the capped vocab onto the token
    stream — an exchange keyed on the raw word would hit Zipf skew. The
    only hashpartitioning exchanges allowed are the vocab build's own
    word-key agg and the per-doc re-assembly."""
    from training_data_ops.registry import all_queries

    df = all_queries()["text_surprisal_lm"].spark(spark, SF_DIR)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan  # top-K vocab, no global sort
    assert "SortMergeJoin" not in plan, plan


def test_bpe_encode_is_single_arrow_pass(spark):
    """Encoding must be one Arrow-batched map over the corpus (merge list
    in the closure): MapInPandas, no join, no row-at-a-time Python."""
    from training_data_ops.registry import all_queries

    df = all_queries()["bpe_encode_stats"].spark(spark, SF_DIR)
    plan = plan_of(df)
    assert "MapInPandas" in plan, plan
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_json_roundtrip_is_scan_only(spark):
    """Serialize + parse + compare must stay inside the scan's projection:
    no exchange, no Python worker."""
    from training_data_ops.registry import all_queries

    df = all_queries()["json_codec_roundtrip"].spark(spark, SF_DIR)
    plan = plan_of(df)
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_discount_effect_pushes_all_three_predicates(spark):
    """Q6 shape: date range, discount band, and quantity cap must ALL reach
    the parquet scan; the plan is scan -> partial agg -> 1-row exchange."""
    from training_data_ops.registry import all_queries

    df = all_queries()["discount_effect"].spark(spark, SF_DIR)
    plan = plan_of(df)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, plan
    assert "Join" not in plan, plan


def test_event_transitions_reuses_window_partitioning(spark):
    """The lead() window and the transition agg must not shuffle the
    event stream more than twice (user-key window + (from,to) agg); the
    totals join broadcasts the type-matrix-sized relation."""
    from training_data_ops.registry import all_queries

    df = all_queries()["event_transitions"].spark(spark, SF_DIR)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan
    # the totals branch must read the persisted transition matrix, not
    # replay the event-sized window: both branches are cache scans (the
    # Window text below an InMemoryRelation is its STORED plan, printed
    # once per reference — it executes once at cache fill)
    assert plan.count("InMemoryTableScan") >= 2, plan


def test_split_balance_audit_single_corpus_scan(spark):
    """The per-lang totals must derive from the persisted 15-row cell
    table, not a second corpus scan."""
    from training_data_ops.registry import all_queries

    df = all_queries()["split_balance_audit"].spark(spark, SF_DIR)
    plan = plan_of(df)
    assert plan.count("InMemoryTableScan") >= 2, plan
    assert "BroadcastHashJoin" in plan, plan


def test_scd2_apply_windows_delta_only(spark):
    """The change-application window must run over the DELTA stream, and
    the dim-delta join key on the uniform user id — no dimension rebuild
    over the union (two windows total: dim intervals + delta chaining)."""
    from training_data_ops.registry import all_queries

    df = all_queries()["scd2_apply_changes"].spark(spark, SF_DIR)
    plan = plan_of(df)
    assert plan.count("Window [") == 2, plan
    assert "user_id" in plan, plan


def test_histogram_quantiles_partial_aggregates_before_tiny_shuffle(spark):
    """The bin assignment must partial-aggregate map-side (HashAggregate →
    Exchange → HashAggregate on the bin key): the one shuffle carries
    <= HQ_BINS rows per partition, never fact rows.  The rank-extraction
    window and the 5-row quantile join run AFTER the aggregation — any
    fact-sized window or sort-merge join here breaks the mergeable-sketch
    posture."""
    from training_data_ops.registry import all_queries

    df = all_queries()["histogram_quantiles"].spark(spark, SF_DIR)
    plan = plan_of(df)
    assert "SortMergeJoin" not in plan, plan
    # exactly ONE data-sized exchange: the bin-key hashpartitioning
    # (Catalyst inlines the bin expression as _groupingexpression)
    exchanges = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert len(exchanges) == 1, plan
    # map-side partial aggregation feeds it: the shuffle carries bin
    # counts, never order rows
    assert "partial_count" in plan, plan
    # the cumulative/rank machinery runs AFTER aggregation — its
    # SinglePartition exchange moves <= HQ_BINS rows, and the scan reads
    # only the binned column
    assert "ReadSchema: struct<o_totalprice:double>" in plan, plan


def test_text_novelty_shuffles_only_on_shingle_and_doc_keys(spark):
    """Corpus-wide df + per-doc rollup: every data exchange keys on the
    uniform shingle value or doc_id — no global sorts, no broadcast of the
    corpus-sized relation."""
    from training_data_ops.registry import all_queries

    df = all_queries()["text_novelty"].spark(spark, SF_DIR)
    plan = plan_of(df)
    exchanges = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert exchanges, plan
    for ln in exchanges:
        assert ("s#" in ln) or ("doc_id" in ln), ln
    assert "rangepartitioning" not in plan, plan


def test_phash_clusters_single_hash_key_shuffle(spark):
    """Decode + hash are one mapInPandas pass; the ONLY data shuffle is the
    partial-aggregated 64-bit-hash groupBy (uniform key).  No joins at all
    — exact-hash clustering is a pure aggregation."""
    from training_data_ops.registry import all_queries

    df = all_queries()["multimodal_phash_clusters"].spark(spark, SF_DIR)
    plan = plan_of(df)
    assert "Join" not in plan, plan
    assert "MapInPandas" in plan, plan
    exchanges = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert len(exchanges) == 1 and all(
        "b0" in ln and "b3" in ln for ln in exchanges
    ), plan


def test_skyline_pareto_broadcasts_frontier_never_sorts_fact(spark):
    """The per-size min-price relation (|distinct sizes| rows) carries the
    window; the part table joins it via broadcast — no SortMergeJoin, and
    exactly one data-sized hashpartitioning exchange (the partial_min on
    p_size)."""
    from training_data_ops.registry import all_queries

    df = all_queries()["skyline_pareto"].spark(spark, SF_DIR)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    exchanges = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert len(exchanges) == 1, plan
    assert "partial_min" in plan, plan


def test_zorder_layout_is_codegen_with_one_tiny_shuffle(spark):
    """The Morton interleave must stay a pure JVM integer expression (no
    Python eval), feeding ONE partial-agged shuffle on the 256 file keys;
    the scan reads only the two clustered columns."""
    from training_data_ops.registry import all_queries

    df = all_queries()["zorder_layout"].spark(spark, SF_DIR)
    plan = plan_of(df)
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan
    exchanges = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert len(exchanges) == 1, plan
    assert "partial_count" in plan, plan
    assert "ReadSchema: struct<user_id:bigint,value:double>" in plan, plan


def test_rollup_incremental_merge_reaggregates_day_states_only(spark):
    """Two-level rollup: the (day, type) exchange is the only one fed by
    event rows; the month merge exchanges pre-aggregated day-state rows
    (both stages partial-aggregate map-side first)."""
    from training_data_ops.registry import all_queries

    df = all_queries()["rollup_incremental_merge"].spark(spark, SF_DIR)
    plan = plan_of(df)
    exchanges = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert len(exchanges) == 2, plan
    assert "partial_count" in plan, plan
    assert "partial_sum" in plan, plan
    assert "ReadSchema: struct<ts:timestamp_ntz,event_type:string,value:double>" in plan, plan


def test_local_supplier_volume_pushes_range_and_broadcasts_dims(spark):
    """Q5 flavor: the order-date RANGE must reach the orders parquet scan
    (year(col) = Y would be opaque to pushdown), and the region-filtered
    nation dim must broadcast — never shuffle."""
    from training_data_ops.registry import all_queries

    df = all_queries()["local_supplier_volume"].spark(spark, SF_DIR)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln and "o_orderdate" in ln]
    assert any("GreaterThanOrEqual(o_orderdate" in ln for ln in pushed), plan
    assert "partial_sum" in plan, plan


def test_returned_item_report_pushes_flag_and_takes_ordered(spark):
    """Q10 flavor: the returnflag filter prunes lineitem AT THE SCAN, and
    the top-K is TakeOrderedAndProject over the customer-sized aggregate —
    no global Sort of fact rows."""
    from training_data_ops.registry import all_queries

    df = all_queries()["returned_item_report"].spark(spark, SF_DIR)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan, plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln and "l_returnflag" in ln]
    assert any("EqualTo(l_returnflag,R)" in ln for ln in pushed), plan
    # no standalone global Sort operator outside the TakeOrdered top-k
    assert "Sort [" not in plan or "TakeOrderedAndProject" in plan, plan


def test_event_autocorr_aggregates_hours_before_lag_join(spark):
    """The fact stream must shrink to (type, hour) counts before the
    24-hour lag self-join — the first exchange carries partial counts, the
    join input is the metadata-sized hourly relation, and the scan reads
    only (ts, event_type)."""
    from training_data_ops.registry import all_queries

    df = all_queries()["event_autocorr"].spark(spark, SF_DIR)
    plan = plan_of(df)
    assert "partial_count" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "ReadSchema: struct<ts:timestamp_ntz,event_type:string>" in plan, plan


def test_skyline_matches_bruteforce_dominance(spark):
    """Property: the window-based skyline equals the O(n^2) dominance
    definition (exists no other row at least as large AND at least as
    cheap with one strict) on a synthetic set with planted ties."""
    rows = [
        (1, 10, 50.0), (2, 10, 50.0),   # duplicate frontier candidates
        (3, 10, 60.0),                   # dominated within size
        (4, 20, 50.0),                   # dominates 1/2 (larger, same price)
        (5, 20, 40.0), (6, 30, 45.0),   # 5 on frontier; 6 larger but pricier
        (7, 5, 30.0), (8, 30, 45.0),    # 7 cheapest small; 8 ties 6
        (9, 30, 70.0),
    ]

    def dominated(p, rows):
        return any(
            q[1] >= p[1] and q[2] <= p[2] and (q[1] > p[1] or q[2] < p[2])
            for q in rows if q[0] != p[0]
        )

    # note 1 and 2 are mutually non-dominating (identical) but BOTH are
    # dominated by 4; the brute force handles that via the strict clause
    expected = {p[0] for p in rows if not dominated(p, rows)}

    from training_data_ops.plans.analytics_queries import (
        skyline_pareto,
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "p_partkey long, p_size int, p_retailprice double"
        ).write.parquet(f"{d}/part.parquet")
        got = {r.p_partkey for r in skyline_pareto(spark, d).collect()}
    assert got == expected


def test_zorder_interleave_matches_python_reference(spark):
    """The SQL Morton interleave must equal a plain-Python bit interleave
    for every (ub, vb) byte pair on a sampled grid."""
    from training_data_ops.plans.analytics_queries import (
        _zorder_expr,
    )

    def morton(ub, vb):
        z = 0
        for i in range(8):
            z |= ((ub >> i) & 1) << (2 * i + 1)
            z |= ((vb >> i) & 1) << (2 * i)
        return z

    pairs = [(u, v) for u in range(0, 256, 17) for v in range(0, 256, 13)]
    df = spark.createDataFrame(pairs, "ub long, vb long").select(
        "ub", "vb", F.expr(_zorder_expr("ub", "vb", ("<<", ">>"))).alias("z")
    )
    for r in df.collect():
        assert r.z == morton(r.ub, r.vb), (r.ub, r.vb, r.z)
    # locality sanity: adjacent (u,v) cells within an 8x8 tile share the
    # z >> 6 prefix — the property file pruning relies on
    assert morton(8, 8) >> 6 == morton(9, 9) >> 6


def test_importance_weights_broadcasts_buckets_no_merge_join(spark):
    """DSIR importance weighting: the 4096-bucket weight table and the
    1-row totals must BROADCAST; no SortMergeJoin anywhere; the only
    data-sized hashpartitioning exchanges are the bucket partial-counts
    and the uniform doc_id rollup (never a gram-keyed fact join)."""
    from training_data_ops.registry import all_queries

    df = all_queries()["corpus_importance_weights"].spark(spark, SF_DIR)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    keys = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
    ]
    assert keys, plan
    assert all(("bucket" in ln) or ("doc_id" in ln) for ln in keys), plan
    assert "partial_count" in plan or "partial_sum" in plan, plan


def test_full_outer_preaggregates_both_sides(spark):
    """Both inputs reduce to user cardinality BEFORE the full outer join:
    partial_count on each side, exchanges keyed on user_id only."""
    from training_data_ops.registry import all_queries

    df = all_queries()["full_outer_reconcile"].spark(spark, SF_DIR)
    plan = plan_of(df)
    assert "FullOuter" in plan, plan
    assert "partial_count" in plan, plan
    keys = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert keys and all("user_id" in ln for ln in keys), plan


def test_bm25_topk_matches_hand_computation(spark, tmp_path):
    """BM25 on a 3-doc corpus where the score is checkable by hand, plus
    the scale-shape pin: distributed TakeOrderedAndProject top-k, never a
    single-partition global window over the hit relation."""
    from pyspark.sql import Row

    from training_data_ops.plans.analytics_queries import (
        BM25_B,
        BM25_K1,
        bm25_topk,
    )
    from training_data_ops.registry import all_queries

    d = str(tmp_path / "bm")
    rows = [
        Row(doc_id=0, text="join join merge", lang="en", source="s", n_chars=0),
        Row(doc_id=1, text="join other words here", lang="en", source="s", n_chars=0),
        Row(doc_id=2, text="nothing relevant at all", lang="en", source="s", n_chars=0),
    ]
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        f"{d}/documents.parquet"
    )
    got = {r.doc_id: r for r in bm25_topk(spark, d).collect()}

    def score(tf, df, dl, nd=3, avgdl=(3 + 4 + 4) / 3):
        idf = (nd - df + 0.5) / (df + 0.5)
        return idf * (tf * (BM25_K1 + 1.0)) / (
            tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avgdl)
        )

    import math

    exp0 = score(2, 2, 3) + score(1, 1, 3)  # join tf=2 df=2; merge tf=1 df=1
    exp1 = score(1, 2, 4)
    assert math.isclose(got[0].score, math.floor(exp0 * 1e6) / 1e6, abs_tol=2e-6)
    assert math.isclose(got[1].score, math.floor(exp1 * 1e6) / 1e6, abs_tol=2e-6)
    assert 2 not in got  # no query term -> no hit row
    assert got[0].rank == 1 and got[1].rank == 2 and got[0].n_hit == 2

    df = all_queries()["bm25_topk"].spark(spark, SF_DIR)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan


def test_inverted_index_head_postings_capped_and_ordered(spark, tmp_path):
    """The posting-list head is doc_id-ordered and capped at POSTINGS_HEAD
    while df/cf/max_tf cover the FULL list (the segment-header contract)."""
    from pyspark.sql import Row

    from training_data_ops.plans.analytics_queries import (
        POSTINGS_HEAD,
        inverted_index_postings,
    )

    d = str(tmp_path / "inv")
    n = POSTINGS_HEAD + 7
    rows = [
        Row(doc_id=i, text="alpha " * (i % 3 + 1) + ("beta" if i == 0 else ""),
            lang="en", source="s", n_chars=0)
        for i in range(n)
    ]
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        f"{d}/documents.parquet"
    )
    got = {r.tok: r for r in inverted_index_postings(spark, d).collect()}
    a = got["alpha"]
    assert a.df == n  # full-list stats, not head stats
    assert a.cf == sum(i % 3 + 1 for i in range(n))
    assert a.max_tf == 3
    head = a.head_postings.split(",")
    assert len(head) == POSTINGS_HEAD
    ids = [int(p.split(":")[0]) for p in head]
    assert ids == sorted(ids) == list(range(POSTINGS_HEAD))
    assert [int(p.split(":")[1]) for p in head] == [i % 3 + 1 for i in range(POSTINGS_HEAD)]
    assert got["beta"].head_postings == "0:1"


def test_bm25_library_surface_parameterized(spark, tmp_path):
    """operators.retrieval.bm25_topk_scores accepts arbitrary term counts
    and knobs (the user-facing surface behind the registry fixture) — pin
    the generic fixed-order score fold at 2 terms with custom k1/b/topn."""
    import math

    from pyspark.sql import Row

    from training_data_ops.operators.retrieval import (
        bm25_topk_scores,
        posting_lists,
    )

    d = str(tmp_path / "bm2")
    rows = [
        Row(doc_id=0, text="alpha alpha beta", lang="en", source="s", n_chars=0),
        Row(doc_id=1, text="alpha gamma gamma gamma", lang="en", source="s", n_chars=0),
    ]
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        f"{d}/documents.parquet"
    )
    docs = spark.read.parquet(f"{d}/documents.parquet")
    got = {r.doc_id: r for r in bm25_topk_scores(
        docs, ["alpha", "gamma"], k1=1.5, b=0.5, topn=1
    ).collect()}
    assert list(got) == [1] and got[1].rank == 1  # topn=1 honored

    def s(tf, df, dl, k1=1.5, b=0.5, nd=2, avgdl=3.5):
        return ((nd - df + 0.5) / (df + 0.5)) * (tf * (k1 + 1)) / (
            tf + k1 * (1 - b + b * dl / avgdl)
        )

    exp1 = s(1, 2, 4) + s(3, 1, 4)
    assert math.isclose(got[1].score, math.floor(exp1 * 1e6) / 1e6, abs_tol=2e-6)

    heads = {r.tok: r for r in posting_lists(docs, head=1).collect()}
    assert heads["alpha"].head_postings == "0:2"  # cap=1, doc order
    assert heads["alpha"].df == 2 and heads["alpha"].cf == 3


def test_hybrid_rrf_fusion_hand_checkable(spark, tmp_path):
    """RRF on tiny hand-checkable rank lists: a doc present in only one
    list contributes 0 for the missing list (the Cormack convention), the
    two reciprocal terms add in fixed order, ties break on doc_id."""
    import math

    from training_data_ops.operators.retrieval import (
        rrf_fuse,
    )

    a = spark.createDataFrame([(10, 1), (20, 2)], "doc_id long, rank int")
    b = spark.createDataFrame([(20, 1), (30, 2)], "doc_id long, rank int")
    got = {r.doc_id: r for r in rrf_fuse(a, b, k=60, topn=10).collect()}
    assert set(got) == {10, 20, 30}
    assert math.isclose(got[20].rrf_score, math.floor((1/62 + 1/61) * 1e6) / 1e6, abs_tol=2e-6)
    assert math.isclose(got[10].rrf_score, math.floor((1/61) * 1e6) / 1e6, abs_tol=2e-6)
    assert math.isclose(got[30].rrf_score, math.floor((1/62) * 1e6) / 1e6, abs_tol=2e-6)
    assert got[20].rank == 1 and got[10].rank == 2 and got[30].rank == 3
    assert got[10].rank_b is None and got[30].rank_a is None

    # tie case: identical rrf scores order by doc_id
    t1 = spark.createDataFrame([(5, 1), (7, 1)], "doc_id long, rank int")
    # feed the same relation twice -> both docs score 2/(60+1)
    tied = rrf_fuse(t1, t1, k=60, topn=10).collect()
    assert [r.doc_id for r in sorted(tied, key=lambda r: r.rank)] == [5, 7]
