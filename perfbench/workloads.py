"""The benchmark's workloads: each is a fixed list of calls made in order
by one closed-loop client, over inputs generated from the seed with the
workload's settings."""

from __future__ import annotations

import dataclasses

from gen import Settings

# A call is either a registered query name or a direct MapReduce job,
# "mr_run:<app>", run with the app's mapf and reducef.


@dataclasses.dataclass(frozen=True)
class Workload:
    name: str
    why: str
    calls: tuple[str, ...]
    reads: tuple[str, ...]         # tables whose bytes count as input
    settings: Settings
    increments: int = 1            # input directories the passes rotate over


WORKLOADS = {w.name: w for w in (
    Workload(
        name="mr_text",
        why=("the reference's MapReduce surface: Python RDD closures, the "
             "FNV partitioner and the tokenizer over a Zipfian corpus"),
        # an odd number of calls puts the median sample inside one call's
        # group of samples, not on the edge between two
        calls=("mr_wc", "mr_indexer", "mr_docmeta", "mr_doccount",
               "mr_run:wc"),
        reads=("documents",),
        settings=Settings(sf=0.001, n_docs=8, doc_words=12_000,
                          vocab=20_000, n_events=2_000,
                          n_users=100),
    ),
    Workload(
        name="olap_mix",
        why=("TPC-H-style joins and event analytics: JVM-only Catalyst, "
             "scans, shuffles and both join strategies"),
        calls=("q1_pricing_summary", "q3_shipping_priority",
               "q5_local_supplier_volume", "q6_forecast_revenue",
               "q7_nation_volume", "q10_returned_items",
               "q12_shipping_speed_priority", "q13_customer_distribution",
               "q18_large_orders", "top3_orders_per_customer", "sessionize",
               "events_hourly", "asof_join_orders", "funnel_windowed",
               "cohort_retention"),
        reads=("region", "nation", "customer", "supplier", "part",
               "orders", "lineitem", "events"),
        settings=Settings(sf=0.02, n_docs=50, n_events=40_000,
                          n_users=2_000, user_skew=1.2),
    ),
    Workload(
        name="dedup_curation",
        why=("the LLM curation chain over one corpus with planted "
             "duplicates: driver-bound, many small jobs, span memo hits"),
        calls=("dedup_exact", "dedup_minhash_lsh_capped",
               "dedup_simhash_capped", "dedup_groups_capped",
               "dedup_keep_best_capped", "dedup_span_scrub",
               "embedding_neardup_lsh_capped", "ivf_search",
               "semantic_dedup_capped"),
        reads=("documents", "embeddings"),
        settings=Settings(sf=0.001, n_docs=400, doc_words=80, vocab=3_000,
                          exact_dup_share=0.05, near_dup_share=0.15,
                          boilerplate_share=0.10, n_vectors=400),
    ),
    Workload(
        name="stream_ingest",
        why=("state stores, checkpoints and writers over a fresh increment "
             "each pass, so nothing memoized carries over"),
        calls=("stream_cdc_upsert", "stream_sessionize", "stream_dedup_events",
               "cdc_apply", "jsonl_roundtrip_stats"),
        reads=("customer", "events", "documents"),
        settings=Settings(sf=0.002, n_docs=200, doc_words=60, vocab=2_000,
                          exact_dup_share=0.05, near_dup_share=0.10,
                          boilerplate_share=0.10, n_events=10_000,
                          n_users=300),
        # more directories than the span memo's 3 slots per application,
        # so no input-keyed cache survives from one pass to the next
        increments=4,
    ),
)}
