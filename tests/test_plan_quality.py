"""Plan-contract tests: every registered query must compile to a
physical plan that scales — no row-at-a-time Python UDFs anywhere, no
cartesian product unless the operator is defined as one (pair
generation / share-of-total), and parquet scans must prune columns.

These run against the PLAN, not the data, so they're cheap and they
catch regressions that correctness tests can't (a query can be right
and still shuffle the world)."""

from __future__ import annotations

import pytest

from library_data_warehouse_and_business_analytics_system_spark.plans import QUERIES

#: operators whose semantics are all-pairs / universe products — a
#: cartesian (or broadcast nested loop) stage is the intended shape.
CARTESIAN_OK = {
    "bitext_margin_pairs",  # the exact A × B pair set IS the oracle
                            # posture (margin over every pair); the
                            # corpus-scale path is the SRP-bucketed
                            # equi-join candidate stage
                            # (srp_candidate_pairs), exercised in
                            # tests/test_bitext.py
    "cosine_topk",          # query × corpus scoring
    "hard_negative_topk",   # query × corpus scoring, label-filtered
    "matryoshka_topk",      # stage 1 IS query × corpus scoring (on
                            # prefix dims); stage 2 is candidate-bounded
                            # broadcast joins
    "ivf_ann_topk",         # embeds the brute tier as its recall oracle
    "ann_index_pruned_probe",  # same: the exact-top-10 recall oracle is
                               # a brute query × corpus scan; the index
                               # probe itself is an equi-join on cell
    "lsh_ann_topk",         # lsh_topk_auto: below the measured crossover
                            # the brute scan IS the right plan; the LSH
                            # equi-join path is plan-checked separately
                            # in test_llm_ops.test_lsh_path_is_equijoin
    "embedding_near_dups",  # auto crossover: all-pairs IS the right plan
                            # below ~1e5 vectors; the bucketed equi-join
                            # path is plan-checked by
                            # test_llm_ops.test_embedding_bucketed_is_equijoin
    # embedding_near_dups_strict deliberately NOT listed: it always
    # runs the bucketed path — a cartesian there is a regression.
    "region_status_universe",  # cross-join universe + zero-fill (J5)
    "lqy_query2",           # quarters × genres universe fill
                            # (LQY_query2.txt:133-151) — broadcast side
                            # is the distinct genre list
    "lqy_query2_suppliers",  # same universe fill, supplier-filtered
    "lqy_query2_subtotals",  # embeds the same lqy_query2 universe fill
                             # as its detail block; the subtotal rows
                             # themselves are one rollup aggregation
    "brand_revenue_share",  # scalar total broadcast-crossed into groups
    "idle_rich_customers",  # 1-row (n_pos, sum_pos) average frame
                            # broadcast-crossed into the customer scan (Q22)
    "temperature_mixture_sample",  # scalar weight denominator
                                   # broadcast-crossed into per-source rows
    "scd2_dimbook_apply",   # scalar max-surrogate-key broadcast-crossed
                            # into the (dimension-sized) insert set
    "events_sliding_1h30m",
    "nation_set_ops",
    "orders_scalar_subquery",
    "market_share",
    "order_price_bands",    # J7 non-equi range join vs 3-row broadcast bands
    "bm25_search_topk",     # 1-row (N, avgdl) scalar frame crossed into
                            # the query-term postings
    "tfidf_top_terms",      # 1-row corpus-count scalar crossed into the
                            # (term-keyed, shuffled) df join
    "kmeans_assign_sizes",  # k × N assignment scoring — the broadcast
                            # side is the k-row centroid table
    "semantic_dedup_pairs",  # same k × N assignment stage; the pair
                             # stage itself is an equi-join on cluster_id
    "cluster_prototype_prune",  # same k × N assignment stage
    "hybrid_rrf_search",    # ANN stage is query × corpus scoring
                            # (1-row broadcast query side); the fusion
                            # itself is an equi-join of two top-k lists
    "dq_expectations_summary",  # 1-row × 1-row (n_checked × orphans)
                                # scalar joins inside fk_report
    "dsir_importance_weights",  # 1-row (raw_total, tgt_total) scalar
                                # frame crossed into per-doc scores
    "pq_ann_topk",          # query × corpus ADC scoring — the broadcast
                            # side is the 8-row query/distance-table
                            # frame (same shape as cosine_topk)
    "important_parts_stock",  # 1-row global-threshold scalar frame
                              # broadcast-crossed into the per-part
                              # aggregate (Q11's HAVING subquery)
    "event_type_weekday_chisq",  # two 1-row scalar frames (N/r/c and
                                 # the ordered-fold chi² total)
                                 # broadcast-crossed into the T×7
                                 # cell frame
}


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    # cached DataFrames from other test modules would replace parquet
    # scans with InMemoryTableScan and hide the ReadSchema lines.
    spark.catalog.clearCache()
    out = {}
    for name, spec in QUERIES.items():
        df = spec.fn(spark, sf_dir)
        out[name] = df._jdf.queryExecution().executedPlan().toString()
    return out


def test_no_python_row_udfs(plans):
    """BatchEvalPython = per-row Python in the hot path; the engine's
    policy is JVM columns + Arrow mapInPandas only."""
    offenders = [n for n, p in plans.items() if "BatchEvalPython" in p]
    assert offenders == []


#: one-row parameter frames (LSH plane / IVF centroid / PQ codebook
#: tensors, r13): they attach via broadcast cross join — a benign
#: BroadcastNestedLoopJoin whose build side is the single parameter
#: row, NOT a data-sized nested loop. Identified by the parameter
#: column in the build-side ExistingRDD scan.
_PARAM_COLS = ("_pl#", "_cents#", "_books#")


def _data_sized_nested_loop(plan: str) -> bool:
    """True when the plan contains a cartesian / nested-loop stage
    whose build side is anything OTHER than a one-row parameter
    frame."""
    if "CartesianProduct" in plan:
        return True
    lines = plan.splitlines()
    n_param = 0
    for i, line in enumerate(lines):
        if "BroadcastExchange IdentityBroadcastMode" in line:
            child = lines[i + 1] if i + 1 < len(lines) else ""
            if not ("ExistingRDD[" in child
                    and any(c in child for c in _PARAM_COLS)):
                return True
            n_param += 1
    return plan.count("BroadcastNestedLoopJoin") != n_param


def test_no_unexpected_cartesian(plans):
    offenders = [
        n for n, p in plans.items()
        if _data_sized_nested_loop(p) and n not in CARTESIAN_OK
    ]
    assert offenders == []


def test_scans_prune_columns(plans):
    """Column pruning must reach the parquet scan: a 2-3 column
    projection over the 11-column lineitem reads exactly those
    columns (checked on the scan's ReadSchema)."""
    cases = {
        # query -> (a column it must read, a column it must NOT read)
        "revenue_by_nation": ("l_extendedprice", "l_shipdate"),
        "suppliers_of_large_shipments": ("l_suppkey", "l_tax"),
        "dedup_exact": ("text", "lang"),
        "doc_hash_split": ("text", "lang"),
        "top_tokens_per_lang": ("text", "n_chars"),
    }
    for name, (need, prune) in cases.items():
        scans = [ln for ln in plans[name].splitlines() if "ReadSchema" in ln]
        assert any(need in ln for ln in scans), name
        assert not any(prune in ln for ln in scans), (
            f"{name}: scan reads {prune!r} which the query never uses")


def test_aggregates_have_partial_phase(plans):
    """Hash aggregates must plan map-side partial aggregation (two
    HashAggregate levels) — the thing that keeps groupBy shuffles
    proportional to groups, not rows."""
    for name in ("pricing_summary", "revenue_by_nation", "dedup_exact",
                 "top_tokens_per_lang", "events_funnel"):
        p = plans[name]
        assert p.count("HashAggregate") >= 2, name


def test_registry_order_is_registration_order():
    """The registry order is the order the plan modules register in:
    two fresh interpreters, under different hash seeds, list the same
    names in the same order, with no name twice."""
    import json
    import os
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    code = ("import json; from library_data_warehouse_and_business_"
            "analytics_system_spark.plans import QUERIES; "
            "print(json.dumps(list(QUERIES)))")

    def names(hash_seed: str) -> list[str]:
        env = dict(os.environ, PYTHONHASHSEED=hash_seed,
                   PYTHONPATH=str(repo))
        out = subprocess.run([sys.executable, "-c", code], env=env,
                             cwd=repo, capture_output=True, text=True,
                             check=True).stdout
        return json.loads(out.strip().splitlines()[-1])

    first, second = names("1"), names("2")
    assert first == second
    assert len(set(first)) == len(first)
    assert first == list(QUERIES)


def test_broadcast_joins_for_dimensions(plans):
    """Star joins onto nation/region must broadcast (no shuffle of the
    fact side for a 25-row dimension)."""
    for name in ("revenue_by_nation", "nation_customer_counts"):
        assert "BroadcastHashJoin" in plans[name], name


def test_round5_pipeline_plan_contracts(plans):
    """Targeted shapes for the round-5 pipeline queries.

    - chunk packing is map-side: its ONLY exchange is the gate-only
      global ORDER BY (rangepartitioning) — a second exchange would
      mean the explode/slice started shuffling tokens;
    - stratified sampling must prune the scan to exactly the columns
      the filter/rollup read (no doc_id, no lang);
    - contamination joins hashed grams with a broadcast of the (small)
      held-out side — never a shuffled join of raw text, never a
      cartesian.
    """
    chunk = plans["doc_chunk_packing"]
    assert chunk.count("Exchange") == 1, "chunking must stay map-side"
    assert "rangepartitioning" in chunk

    sample = plans["stratified_doc_sample"]
    scans = [ln for ln in sample.splitlines() if "ReadSchema" in ln]
    assert scans and all("doc_id" not in ln and "lang" not in ln
                         for ln in scans)

    contam = plans["benchmark_contamination"]
    assert "BroadcastHashJoin" in contam
    assert "CartesianProduct" not in contam


def test_corpus_growing_sets_are_not_force_broadcast(spark, sf_dir):
    """VERDICT r6: the familiarity vocabulary and the boilerplate set
    both grow with the corpus (Heaps-law vocabulary / cross-site
    chrome), so neither may carry a broadcast HINT — at 100 TB that
    broadcast OOMs every executor. Catalyst may still choose broadcast
    at small scale from real stats; what must hold is (a) no
    ResolvedHint in the analyzed plan and (b) with auto-broadcast
    disabled the joins degrade to shuffled joins — proving the
    strategy is stats-driven, not forced."""
    names = ("doc_token_familiarity", "boilerplate_line_scrub")
    for name in names:
        analyzed = (QUERIES[name].fn(spark, sf_dir)
                    ._jdf.queryExecution().analyzed().toString())
        assert "ResolvedHint" not in analyzed, name
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name in names:
            p = (QUERIES[name].fn(spark, sf_dir)
                 ._jdf.queryExecution().executedPlan().toString())
            assert "BroadcastHashJoin" not in p, name
            assert "SortMergeJoin" in p or "ShuffledHashJoin" in p, name
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_core_sql4_plan_contracts(plans):
    """Targeted shapes for the batch-4 relational queries.

    - waiting_suppliers (Q21 shape) must NOT self-join lineitem: the
      textbook EXISTS + NOT EXISTS plan scans the fact three times and
      joins it to itself twice; the window rewrite scans it ONCE and
      computes both per-order counts behind a single order-key shuffle;
    - window_value_functions computes all four value functions behind
      ONE window shuffle (same partition spec -> no second exchange
      between the Window operators);
    - top_revenue_supplier reuses the revenue aggregate for its own
      max (a 1-row broadcast), never a second lineitem scan.
    """
    q21 = plans["waiting_suppliers"]
    li_scans = [ln for ln in q21.splitlines()
                if "Scan parquet" in ln and "lineitem" in ln]
    assert len(li_scans) == 1, "Q21 rewrite must scan lineitem once"
    assert "Window" in q21

    winv = plans["window_value_functions"]
    # exchanges: one hashpartitioning(o_custkey) for the windows, one
    # rangepartitioning for the gate's global ORDER BY -- nothing else.
    n_ex = sum(1 for ln in winv.splitlines()
               if "Exchange" in ln and "Broadcast" not in ln
               and "Reused" not in ln)
    assert n_ex <= 2, winv

    q15 = plans["top_revenue_supplier"]
    li_scans = [ln for ln in q15.splitlines()
                if "Scan parquet" in ln and "lineitem" in ln]
    assert len(li_scans) <= 2  # agg + (possibly reused) max branch
    assert "BroadcastExchange" in q15 or "ReusedExchange" in q15


def test_core_sql5_plan_contracts(plans):
    """Targeted shapes for the batch-5 relational queries.

    - forecast_revenue (Q6): every predicate reaches the parquet scan
      (PushedFilters) and the plan has no join at all — one scan, one
      two-phase aggregate;
    - nation_profit_by_year (Q9): all dimension joins are broadcasts;
      the ONLY shuffled join is lineitem⋈orders on the order key;
    - small_quantity_revenue (Q17): the correlated-average rewrite
      never shuffle-joins the fact to itself — both lineitem branches
      join through BroadcastExchange (the filtered part set and the
      per-part cap table);
    - customer_order_distribution (Q13): the join-time priority filter
      must NOT degrade the outer join to inner (the plan keeps a
      LeftOuter join) and the second aggregate is two-phase.
    """
    q6 = plans["forecast_revenue"]
    assert "Join" not in q6, "Q6 must be join-free"
    assert "PushedFilters: [" in q6
    scan_line = next(ln for ln in q6.splitlines() if "PushedFilters" in ln)
    assert "IsNotNull" in scan_line or "GreaterThan" in scan_line

    q9 = plans["nation_profit_by_year"]
    shuffled_joins = [ln for ln in q9.splitlines()
                     if "SortMergeJoin" in ln or "ShuffledHashJoin" in ln]
    assert len(shuffled_joins) <= 1, q9
    assert q9.count("BroadcastHashJoin") >= 3

    q17 = plans["small_quantity_revenue"]
    assert "SortMergeJoin" not in q17 and "ShuffledHashJoin" not in q17, \
        "Q17 rewrite must not shuffle-join the fact to itself"

    q13 = plans["customer_order_distribution"]
    assert "LeftOuter" in q13, "join-time filter must keep the outer join"


def test_round9_plan_contracts(plans):
    """Shapes for the round-9 gates.

    - the two-level COMPUTE subtotal reports produce their quarter AND
      year total rows from ONE grouping-sets aggregation (an Expand
      node feeding the rollup agg), not a second scan of the detail;
    - the single-level q1 subtotal keeps the detail's broadcast-dim
      star joins (the totals must not force the fact join to shuffle);
    - the vectorized-fold gate runs the scan family's Arrow passes
      (no per-row Python anywhere — the module-wide
      test_no_python_row_udfs already pins BatchEvalPython out).
    """
    for name in ("lqy_query2_subtotals", "lqy_query3_subtotals"):
        assert "Expand" in plans[name], name
    q1s = plans["lqy_query1_subtotals"]
    assert "BroadcastHashJoin" in q1s
    assert "MapInPandas" in plans["events_daily_ewma_vec"]
