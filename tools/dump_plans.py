"""Regenerate PLANS.md: formatted physical plans for the scale-critical
queries, so plan quality is reviewable without running Spark.

Run: python tools/dump_plans.py   (writes PLANS.md at the repo root)
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod
from penr_oz_agent_memory_rust_spark.plans.explain import physical_plan
from penr_oz_agent_memory_rust_spark.session import get_spark

SHOWCASE = {
    "mem_search_topk": "§3.1 search: scan -> cosine -> TakeOrderedAndProject (no shuffle)",
    "mem_search_label_filter": "filter pushed to the parquet scan below the score expr",
    "knn_join": "broadcast query side; per-query window top-k",
    "fk_semi_join": "FK existence as broadcast left-semi join",
    "tpch_q3_shipping_priority": "broadcast dim join + agg + top-10 heap",
    "dedup_minhash_lsh": "shingle UDF -> signature agg -> band self-join",
    "events_window_agg": "tumbling-window aggregation (partial + final)",
    "asof_latest_order": "as-of join: tagged union, one shuffle, carry-forward window",
    "tpch_q6_revenue": "all predicates pushed to the scan; 1-row agg merge",
    "sql_api_search": "spark.sql string form compiles to the same TakeOrderedAndProject",
    "events_followup_day": "binned interval join: explode bins -> shuffled hash equi-join",
    "user_running_totals": "cumulative frame: one shuffle on user, no global sort",
    "training_shards": "exact global rank with NO global window: bucket windows + broadcast offsets",
    "corpus_mix": "weighted mixture: one shuffle on lang per variant, WindowGroupLimit quota",
    "lm_quality": "bigram LM scoring: explode -> broadcast model join -> hash agg",
    "dedup_incremental": "cross-snapshot dedup: partial-agg batch -> anti join on fp",
    "dedup_keep_best": "canonical selection: min_by argmax in HashAggregate, no window",
    "retention_cohorts": "two hash-aggs + co-partitioned join, no windows",
    "ivfpq_ann": "IVF-PQ search: PartitionFilters prune to probed cells; ADC over code rows; k'-bounded rerank join",
    "kmeans_assign": "k-means assignment as pure codegen argmin: no Exchange, no Python",
    "url_dedup": "canonical-URL keep-best: map-only regexp canonicalization -> one shuffle on the key -> min_by argmax (no window)",
    "url_domain_block": "domain blocklist: pure-regexp domain extract + broadcast LeftAnti; corpus never shuffles",
    "url_dedup_incremental": "incremental crawl dedup: inline canonicalize + anti-join against the stored canonical-key table",
    "centroid_classifier": "classifier scoring: posexplode dim-agg for weights, map-only sigmoid scan",
    "line_dedup": "C4-style segment dedup: fp hash-agg first-occurrence + equi-join, per-doc rebuild (no global sort)",
    "dup_span_coverage": "span-duplication profile: gram df hash-agg -> semi-join, zero pair expansion",
    "dedup_incremental_bloom": "bloom-miss rows bypass the anti-join; only the maybe-dup sliver joins",
    "knn_pagerank": "power iteration: per-iter join + partial hash agg, edges persisted once",
    "remove_dup_spans": "substring dedup rewrite: gram df/keeper hash-agg -> 1:1 cut join -> one Arrow rewrite pass",
    "heavy_hitters_cms": "count-min: one md5/occurrence before the depth explode; bounded counter agg; broadcast probe",
    "approx_distinct_hll": "HLL: integer register math, m-row agg with map-side max, 1-row fold",
    "retrieval_eval": "IR metrics: run x qrels hash join; IDCG from per-query grade histogram (no corpus window)",
    "pca_gramian": "PCA stats pass: one MapInPandas scan -> single d^2-bounded hash agg",
    "embedding_outliers": "diag Mahalanobis: d-row moment agg broadcast back; map-only fold; top-20 heap",
    "source_divergence": "per-source JS divergence: one corpus scan; everything downstream bounded by sources x alphabet^2",
    "label_propagation": "LPA iteration: vote join + argmax agg; eager checkpoint keeps the twice-consumed plan flat",
    "pmi_collocations": "PMI: vocab-bounded aggs, broadcast scalar totals, TakeOrderedAndProject top-k",
    "mad_outliers": "robust z: two grouped-median aggs broadcast back onto the fact scan (no fact shuffle)",
    "tfidf_keywords": "per-doc TF-IDF top-k: all-broadcast index joins; WindowGroupLimit partial heap per doc",
    "source_overlap": "cross-source contamination: distinct (source, shingle) agg; pair fan-out bounded by n_sources^2",
    "knn_graph_triangles": "triangles: degree-ordered wedge equi-join + closure equi-join; no nested loop",
    "lm_backoff_quality": "word LM: model stays distributed; pair scan -> two equi-joins -> per-doc agg",
    "fuzzy_part_matches": "fuzzy linkage: block-key equi-join only; levenshtein codegen inside blocks",
    "quality_winsorize": "winsorize+z: two group-bounded aggs broadcast back; corpus never shuffles",
    "cdc_chunking": "CDC: rebalanced scan -> position explode + md5 filter -> checkpointed boundary sliver -> per-doc window",
    "seasonal_anomalies": "seasonal z: (group,hour) profile broadcast back onto the current scan",
    "html_strip": "markup extraction: one codegen regexp chain, zero exchanges",
    "tpch_q13_order_distribution": "outer-join order distribution: broadcast customer side, double agg",
    "bq_ann": "1-bit ANN: packed-word scan (16 B/row) -> codegen bit_count(xor) -> TakeOrderedAndProject, zero exchanges",
    "bq_ann_rerank": "binary candidates -> broadcast semi-join back to floats -> exact f64 rerank heap",
    "ts_gapfill_interp": "gapfill+interp fused: resample agg -> ONE lead window -> gap explode (no grid join)",
    "rolling_series_stats": "rolling stats: one bounded-frame window; mean/median/std fold over the frame's sorted array",
    "mutual_knn": "mutual kNN: edge list left-semi its own reverse; only (id,id,score) rows shuffle",
    "semantic_decontaminate": "embedding decontamination: broadcast test set; partial max -> id-sized shuffle",
    "quality_exact_quantiles": "exact quantiles x2: percentile agg vs bucketed-global-rank (bucket-local window + broadcast offsets, no value buffering)",
    "events_value_histogram": "fixed-width histogram: ONE hash aggregate, integer counts, no sort",
    "weighted_doc_sample": "weighted Poisson sample: exact integer sum(w) broadcast as a literal; map-only inclusion test",
    "ngram_containment": "directed containment: same inverted shingle index as jaccard; both directions from one scored join",
    "jl_exact_ann": "expression JL: 16 codegen folds over the literal matrix -> broadcast query crossjoin -> WindowGroupLimit top-20 -> exact f64 rerank",
    "events_pivot_matrix": "relational pivot: one hash aggregate with a CASE fan, no per-bucket scans",
    "langid_confusion": "langid eval: marker-regex CASE chain + one (lang, pred) hash agg, zero exchanges beyond it",
}

SF = "/root/testdata/sf0.01"


def main() -> None:
    spark = get_spark(app_name="plan-dump", cpus="4")
    qs = entrymod.queries()
    out = [
        "# PLANS — formatted physical plans of the scale-critical queries",
        "",
        "Generated by `tools/dump_plans.py` at sf0.01. What to look for:",
        "`PushedFilters`/`ReadSchema` on scans (pushdown + pruning),",
        "`BroadcastHashJoin` on dimension joins, `TakeOrderedAndProject` for",
        "top-k (bounded heaps, no sort), and the absence of unneeded",
        "`Exchange` nodes. `tests/test_plans.py` pins these properties in CI.",
        "",
    ]
    for name, why in SHOWCASE.items():
        plan = physical_plan(qs[name](spark, SF))
        # keep the tree + the scan detail sections, truncating codegen noise
        out += [f"## {name}", "", f"*{why}*", "", "```", plan.strip()[:4000], "```", ""]
    # keep the measured probe sections (everything from the marker on) intact
    probes = ""
    plans_path = os.path.join(REPO, "PLANS.md")
    if os.path.exists(plans_path):
        prev = open(plans_path).read()
        marker = "## Scale probe results"
        if marker in prev:
            probes = "\n" + prev[prev.index(marker):].rstrip() + "\n"
    with open(plans_path, "w") as f:
        f.write("\n".join(out) + probes)
    print(f"wrote PLANS.md ({len(out)} lines)")
    spark.stop()


if __name__ == "__main__":
    main()
