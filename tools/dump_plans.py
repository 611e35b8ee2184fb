"""Dump physical plans of headline queries with the scale property each
demonstrates.  PLANS.md began as this tool's output but has since grown
hand-written plan analysis (scaling narratives, measured diagnoses) that
must NOT be clobbered — so the tool now writes to stdout; paste updated
plan blocks into PLANS.md by hand.  Run: python tools/dump_plans.py"""

import sys

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entry
from minivectordb_spark import get_spark

SHOW = {
    "knn_topk": "Exact cosine top-k: TakeOrderedAndProject directly over the scan — no shuffle, no global sort.",
    "knn_filtered": "Filtered kNN: the DSL-compiled predicate reaches parquet PushedFilters.",
    "ivf_assign": "IVF assignment: map-only argmax over inlined centroids — zero Exchanges.",
    "tpch_q1": "Decimal-exact rollup: partial aggregation before the single shuffle; shipdate pushed to the scan.",
    "top_customers": "Dim join: BroadcastHashJoin (no SortMergeJoin, no shuffle of the fact side beyond the group-by).",
    "delete_batch": "Literal-list delete: NOT IN pushed into the scan as a data filter.",
    "neardup_lsh": "Embedding near-dup: bucketed equi-join on LSH sign bits (never CartesianProduct); candidates are id-only, arrays attach after dedup.",
    "simhash_pairs64": "SimHash-64 pairs: banded chunk self-join (SortMergeJoin on band values) + popcount verify — no all-pairs stage.",
    "ivf_search_indexed": "Persisted-IVF probe: PartitionFilters prune to the nprobe centroid dirs — the scan never lists the other clusters' files.",
    "decontaminate": "Benchmark decontamination: DISTINCT benchmark gram set broadcasts; corpus probe is map-only; the only corpus-keyed shuffle is the per-doc count.",
    "lm_score": "Unigram-LM scoring: vocab built with one combiner-reduced shuffle, frozen-decimal logp table broadcast back — the corpus pass joins map-side.",
    "dsir_logweights": "DSIR weights: two bucket-keyed aggs bounded by the bucket count; ratio table broadcasts; corpus-sized stages are map-only plus one id-keyed count shuffle.",
    "bigram_lm": "Pruned interpolated bigram LM: checkpointed bigram counts feed prune + context rollup; broadcast model tables; one doc-keyed shuffle.",
    "quality_classifier": "Hashed linear classifier: literal integer-micro weight fold — zero joins, zero keyed shuffles, cost == one scan.",
    "quality_mix": "Selection composition: classifier -> band -> temperature mix -> hash gate; broadcast band thresholds, one |bands|-group aggregate.",
    "maxsim_topk": "ColBERT maxsim: map-only sum-of-max-cosine over staged token norms -> TakeOrderedAndProject; the knn plan class for multi-vector docs.",
    "source_report": "Per-source rollup: two-phase (source, md5) -> (source) hash aggregate, partial agg before BOTH exchanges, no Expand.",
    "heavy_hitters": "Exact heavy hitters: bounded-state MG candidates (mapInPandas) -> isin/broadcast-semi-join probe -> candidate-cardinality groupBy.",
    "dup_ngram_fraction": "Dup-n-gram fraction: repeated-window aggregate (one hash-keyed shuffle) LEFT-joined back per doc.",
    "events_pivot": "PIVOT: one conditional-aggregate pass over the same keyed shuffle as the plain groupBy.",
    "events_gapfill": "Gap filling: sequence() spine x distinct types (broadcast) LEFT-joined to the hourly counts — build side never the corpus.",
    "events_salted_skew": "Salted skew join: the hot key fans out over (ukey, __salt) — the join exchange hashes BOTH columns, so no single reducer owns the hot key.",
    "int8_search": "Int8 quantized search: mapInPandas partial top-k per Arrow batch -> per-query window over |batches|*k rows, never the corpus.",
    "pagerank": "PageRank below the small-graph gate (every sf0.01 graph): the ranks were computed on the driver over the collected edge list, so the plan is one LocalTableScan. Above the gate the final round joins the cached src-partitioned edge list, partial-aggregates groupBy(dst) map-side, and its lineage ends at the prior round's checkpoint.",
    "record_linkage": "Record linkage: block-key hash equi-join bounds candidates to block size; levenshtein verifies JVM-side; WindowGroupLimit forwards one row per left id before the exchange.",
    "profile_events": "Single-pass profiler: one HashAggregate over one scan (Expand fans the multi-column distincts inside the same pass); stack unpivot is driver-free.",
}


def main(sf: str = "/root/testdata/sf0.01") -> None:
    spark = get_spark(cores=8, shuffle_partitions=8)
    out = ["# PLANS — physical plans of headline queries (sf0.01, generated by tools/dump_plans.py)", ""]
    qs = {**entry.demoted_queries(), **entry.queries()}
    for name, blurb in SHOW.items():
        df = qs[name](spark, sf)
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines = [l[:240] for l in plan.splitlines()]
        out += [f"## {name}", "", blurb, "", "```"]
        out += lines[:28]
        if len(lines) > 28:
            out.append(f"... ({len(lines) - 28} more lines)")
        out += ["```", ""]
    print("\n".join(out))
    spark.stop()


if __name__ == "__main__":
    main()
