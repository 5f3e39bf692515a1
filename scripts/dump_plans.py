"""Regenerate PLANS.md: the physical-plan audit for the headline
queries (run after changing any headline plan).

    python scripts/dump_plans.py [sf_dir]

For each headline (bench=True) query the formatted physical plan is
dumped verbatim, preceded by the scale properties asserted about it in
tests/test_plan_quality.py. This is the ".explain and iterate" loop
made reviewable: the file shows WholeStageCodegen spans, pushed
filters, pruned ReadSchemas, broadcast joins, and partial aggregation
phases for every query we time.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from library_data_warehouse_and_business_analytics_system_spark.plans import QUERIES
from library_data_warehouse_and_business_analytics_system_spark.session import get_spark

NOTES = {
    "pricing_summary": "filter pushed to scan → two-phase HashAggregate; "
                       "shuffle carries one row per (returnflag, linestatus).",
    "revenue_by_nation": "nation/region broadcast; the lineitem⋈orders "
                         "equi-join is the only big shuffle; decimal sums "
                         "stay exact until the final cast.",
    "top_customers_per_nation": "aggregates to nation×customer BEFORE the "
                                "rank window — window input is pre-reduced.",
    "yoy_nation_revenue": "LAG over (nation) after a year×nation aggregate; "
                          "widen-then-clip keeps the partition filter.",
    "quarterly_pivot": "conditional aggregation — one scan, no joins.",
    "events_sessionize": "LAG + running SUM over (user); single shuffle on "
                         "user_id serves both windows.",
    "grouping_sets_orders": "GROUPING SETS expand after the join, partial "
                            "aggregation before the shuffle.",
    "dedup_exact": "shuffle key is md5(text) — 16 bytes/row, never text.",
    "text_quality_scores": "one tokenization per row shared by every metric; "
                           "zero Python.",
    "cosine_topk": "8-query side broadcast; ONE corpus scan; norm² "
                   "computed per row before the product (one HOF pass "
                   "per scored pair instead of three).",
    "events_tumbling_hourly": "window() + count: partial agg map-side, "
                              "state keyed by (window, type).",
    "media_decode_stats": "ArrowEvalPython(mapInPandas) — the ONLY Python "
                          "boundary in the headline set, Arrow-batched, "
                          "partition-preserving (no Exchange).",
    "events_asof_purchase_view": "as-of join via tag+union+last-ignorenulls "
                                 "window: ONE Exchange on user_id, no "
                                 "range-join explosion.",
    "embedding_near_dups_strict": "deep 12-plane LSH bucket equi-join; "
                                  "candidates ≈ n²/2048; exact verify joins "
                                  "vectors only for survivors.",
    "fact_surrogate_keys_audit": "partition-local row_number + offsets — "
                                 "no SinglePartition Exchange anywhere.",
    "benchmark_contamination": "distinct (doc, gram-hash) per side; "
                               "broadcast hash join on the 8-byte hash "
                               "(held-out side is small by construction); "
                               "two-phase distinct-agg rollup.",
    "doc_chunk_packing": "tokenize once → explode chunk indices → slice "
                         "the shared array: map-side only, single "
                         "rangepartitioning Exchange for the gate-only "
                         "ORDER BY.",
    "stratified_doc_sample": "salted-hash membership filter fused into the "
                             "scan projection; rollup shuffles one row per "
                             "source.",
    "quality_topn_per_source": "quality scored map-side from shared token "
                               "arrays; rank window shuffles (source, "
                               "doc_id, quality) triples, never text.",
    "doc_repetition_scores": "pure JVM HOFs (split/array_distinct/size); "
                             "no shuffle before the gate ORDER BY.",
    "events_json_props": "from_json parses the props column ONCE into a "
                         "typed struct inside codegen; two-phase agg.",
    "ann_index_lifecycle": "persisted-IVF query path: candidates come from "
                           "the probed cells' parquet dirs only (the scan "
                           "below lists just those partitions); the 8-row "
                           "query side broadcasts into an equi-join on "
                           "cell — no cartesian, no full-corpus scan.",
    "ann_index_reroute": "same pruned-probe re-rank plan as the lifecycle "
                         "gate, but over the POST-MOVE index: the reroute "
                         "upsert (one atomic replace_parts commit evicting "
                         "+ placing 40 moved ids) ran at plan-build time; "
                         "reroute-vs-rebuild cost: see \"Re-embedding "
                         "maintenance\" in PLANS.md (3-4x cheaper at "
                         "1M vectors).",
    "bitext_margin_pairs_capped": "the production mining path end-to-end: "
                                  "hashed sides are id-only (table, "
                                  "bucket) rows (localCheckpoint pins the "
                                  "2x4 plane-dot projections), row_number "
                                  "over (table, bucket) caps each side by "
                                  "the salted-md5 rank, candidates are ONE "
                                  "equi-join on (table, bucket) + "
                                  "distinct — pair set bounded by tables x "
                                  "buckets x cap²; both margin ranks ride "
                                  "one Exchange(src)→Window→Exchange(tgt) "
                                  "lineage so pair scoring runs once.",
}

#: Non-headline queries whose plans are audit-worthy (new scale
#: surfaces); dumped after the headline set.
EXTRA_PLANS = ["ann_index_lifecycle",
               "events_asof_purchase_view", "embedding_near_dups_strict",
               "fact_surrogate_keys_audit",
               # round-5 pipeline additions
               "benchmark_contamination", "doc_chunk_packing",
               "stratified_doc_sample", "quality_topn_per_source",
               "doc_repetition_scores", "events_json_props",
               # round-12 production-posture gates
               "bitext_margin_pairs_capped", "ann_index_reroute"]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("plans")
    spark.sparkContext.setLogLevel("ERROR")
    out = ["# PLANS — physical-plan audit of the headline queries",
           "",
           f"Generated by `scripts/dump_plans.py` at `{sf_dir}`. "
           "Contracts in tests/test_plan_quality.py hold for the whole "
           "registry (no BatchEvalPython, no unlisted cartesians, pruned "
           "scans, partial aggregation, broadcast dims).", "",
           "## Scale crossovers", "",
           "- **ANN top-k (`lsh_ann_topk`)**: `similarity.lsh_topk_auto` "
           "switches brute↔LSH at 100k corpus vectors. Measured at sf0.1 "
           "(2k vectors, 32 cores): brute broadcast scan 1.1 s vs bucketed "
           "LSH 11.4 s — below the crossover the bucketed plan's extra "
           "projections + candidate shuffle + vector join-back are pure "
           "overhead. Above it, the id-only LSH path bounds exact-cosine "
           "work per query via `max_candidates` (collision-count top-M), "
           "so re-rank cost is O(M·k) regardless of bucket skew.", "",
           "- **Embedding near-dup**: the gated default stays the shallow "
           "2-plane/20-table config for the low-τ=0.4 breadth query; the "
           "scale-representative regime is `embedding_near_dups_strict` "
           "(τ=0.9, 12-plane/4-table: unrelated vectors co-bucket at "
           "~2^-12 per table → candidates ≈ n²/2048, pytest-bounded), "
           "which is the configuration a real 100 TB dedup would run.", "",
           "- **Scan-family oversized keys (`mode=\"split\"`, r9)**: "
           "neither base mode fits numerous-keys-AND-oversized-key inputs "
           "— grouped puts a hot key's whole series on one partition, "
           "ranged collects O(#keys) carries. `split` pays one exact "
           "count pass and routes >2M-row keys through ranged carries, "
           "the tail through grouped. Measured (10M-point hot key + 100k "
           "two-row keys, local[32]): split ewma 19.9 s / cumsum 14.3 s "
           "end-to-end; the hot key's ranged layout peaks at 318,010 "
           "rows/partition vs the 312,500 ideal (1.02×) — no partition "
           "ever holds the series.", "",
           "- **Re-embedding maintenance (reroute vs rebuild, r12)**: "
           "`ann_index_upsert(on_move=\"reroute\")` measured at 1M×64-d / "
           "64 cells (r12): full rebuild "
           "94.5 s; 10k SCATTERED re-embeddings reroute in 31.5 s (3.0× — "
           "touched set ≈ all cells, but no kmeans retrain); 10k "
           "CELL-LOCAL re-embeddings in 23.4 s (4.0× — ~8 of 64 "
           "partitions touched, cost tracks the delta's cell footprint). "
           "Zero duplicate ids after the atomic evict+place commit. "
           "Rebuild remains the answer only for quantizer DRIFT "
           "(ann_index_cell_stats).", ""]
    for name, spec in QUERIES.items():
        if not spec.bench and name not in EXTRA_PLANS:
            continue
        df = spec.fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        # strip volatile ids so regeneration diffs stay reviewable
        plan = re.sub(r"#\d+L?", "#x", plan)
        plan = re.sub(r"\[plan_id=\d+\]", "[plan_id=x]", plan)
        plan = re.sub(r"file:[^\s,\]]+", "file:<path>", plan)
        out += [f"## {name}", "",
                f"_{NOTES.get(name, '')}_", "",
                "```", plan.rstrip(), "```", ""]
    Path(__file__).resolve().parent.parent.joinpath("PLANS.md").write_text(
        "\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
