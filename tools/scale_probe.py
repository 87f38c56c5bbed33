"""10x scale probe: how do the heavy operators behave at 10x sf0.1?

The driver's testdata tops out at sf0.1 (single-row-group files, so
scans are single-task). This tool manufactures a 10x dataset under
/tmp/crmint_scale by unioning key-shifted copies of the sf0.1 tables —
key shifts keep join integrity (customer/orders/lineitem) and per-user
event densities; documents get a per-copy suffix token and embeddings a
per-copy epsilon so replicas are near- but not exact duplicates (the
realistic shape for dedup). Files are written repartitioned, so scans
parallelize — which also removes the single-row-group caveat noted in
BASELINE.md.

Usage: python tools/scale_probe.py [copies] — prints one JSON line of
per-query seconds at scale; compare against the bench.py numbers at
sf0.1 to see the scaling exponent. Results are recorded in BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from crmint_spark.catalog import TESTDATA_TABLES, load  # noqa: E402
from crmint_spark.registry import HEAVY_QUERIES, QUERIES  # noqa: E402

QUERIES = {**QUERIES, **HEAVY_QUERIES}  # probes cover the heavy tier too
from crmint_spark.session import get_spark  # noqa: E402

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
COPIES = int(sys.argv[1]) if len(sys.argv) > 1 else 10
OUT = f"/tmp/crmint_scale/x{COPIES}"
SHIFT = 10_000_000

PROBE = [
    "q01_pricing_summary",
    "q02_topk_revenue",
    "q08_sessionize",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "corpus_duplicate_passages",
    "text_perplexity",
    "text_lang_id",
    "dedup_clusters_star",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "q53_attribution_models",
    "q45_rfm_segmentation",
    "q48_pareto_abc",
    "corpus_shuffle",
    "corpus_bpe_pairs",
    # round 4: PQ family + the profiler (approx_count_distinct path
    # engages above SCALE_ROW_THRESHOLD — no Expand row multiply)
    "embedding_pq_codes",
    "ann_pq_adc_topk",
    "ann_ivfpq_topk",
    "q52_profile_columns",
    # round 5: bounded trainers, re-rank stage, PCA, KLL
    "ann_ivfpq_rerank_topk",
    "embedding_pca_top_component",
    "q57_kll_quantiles",
    # round 5b: char-grid substring spans, DSIR, inverted index, binary
    # hamming, vector-search TVF, embed->search RAG chain, BPE encode
    "dedup_char_spans",
    "corpus_dsir_weights",
    "text_inverted_index",
    "ann_binary_hamming_topk",
    "q59_vector_search",
    "bqml_generate_embedding",
    "corpus_bpe_encode",
    # round 6: index-routed search paths, clustering/PCA/autoencoder
    # model fits (bounded trainers — expect FLAT), time travel (swap
    # cost is the DML write), holiday ARIMA (per-series state)
    "q83_vector_index_search",
    "q84_search_index",
    "bqml_kmeans",
    "bqml_pca",
    "bqml_autoencoder_anomalies",
    "bqml_arima_holiday",
    "dml_time_travel",
    # round 7: retention GC rides the dml_time_travel probe (archive +
    # prune are file-count ops on the same path); broadcast encoders
    # (vocab fit = one groupBy; encode = broadcast join — expect FLAT);
    # forecast decomposition (driver replay bounded by model size)
    "bqml_vocab_broadcast",
    "bqml_explain_forecast",
    "ml_recommend_artifacts",
    # round 8: partitioned CREATE TABLE (probe the partition-count
    # failure mode — dates don't multiply with copies, so expect the
    # SAME ~2.4k partitions over more rows: sublinear write, flat
    # pruned read), PARTITIONS metadata (listdir + footers only), MV
    # smart rewrite (rewrite serves from the MV — flat), exact ONE_HOT
    # broadcast join (vocab fixed at 10k — flat)
    "dml_partitioned_table",
    "dml_partitions_metadata",
    "dml_mv_rewrite",
    "bqml_onehot_broadcast",
    # round 8 (late): partition-pruned copy-on-write (the one-month
    # MERGE rewrites ONE partition regardless of copies — expect the
    # probe scan to scale with data but the write to stay flat),
    # change-history reconstruction (diff cost ∝ mutated states)
    "dml_pruned_merge",
    "dml_change_history",
    "dml_table_options",
    # round 8 (this session): jobs plane (dml_statistics ride the DML
    # writes via Observation — expect the DML entries' own scaling,
    # zero extra passes; the JOBS view itself is an in-memory list),
    # storage accounting (footer+inode walks: file-count-bound, flat
    # at constant file counts), routine/index metadata (pure JSON),
    # ARIMA coefficients (per-series persisted state — flat)
    "dml_jobs_history",
    "dml_table_storage",
    "dml_routines_indexes",
    "bqml_arima_coefficients",
    # join elimination: the dropped join leaves ONE pushed-filter scan,
    # so the probe should scale as the bare fact aggregation
    "dml_join_elimination",
    "dml_column_field_paths",
    # round 9: index freshness planes. Binary gate (index_freshness)
    # pays one exact scan post-DML — scales as the corpus scan; the
    # delta entries re-scan only mutated partitions (INSERT lands 5
    # rows in one bucket; UPDATE one) — index build scales with data,
    # query side expected flat-to-sublinear. Star elimination drops 3
    # joins — scales as the bare lineitem-subset aggregation. MV
    # containment reads the (group-count-bound) MV — flat.
    "dml_index_freshness",
    "dml_index_delta",
    "dml_vector_delta",
    "dml_star_elimination",
    "dml_mv_containment",
    # round 10: catalog-plane CTAS freshness (CTAS + index build scale
    # with data; the post-DML query is one exact scan), MV global
    # containment (reads the group-count-bound MV — flat), analyzer
    # routing (two bucket-pruned postings probes + one scan — scales
    # as the corpus scan at worst)
    "dml_session_index_freshness",
    "dml_mv_global",
    "q93_analyzer_index",
    # round 11: lexer-surface script (scan bounded by o_orderkey
    # predicate — expect near-flat), persistent-UDF expansion
    # (inline expressions over a customer scan — expect linear
    # scan growth, no extra shuffles), column-DEFAULT DML chain
    # (CREATE + 3 INSERTs + MERGE over a MOD-filtered subset)
    "q94_lexer_edges",
    "q95_persistent_udfs",
    "dml_column_defaults",
    # round 12: streaming plane. The micro-drivers drain an
    # availableNow pass over an NDJSON drop of events (the drop itself
    # is session-scoped fixture plumbing, paid in the untimed warm
    # run). Expectations: windowed/sessionized scale with the event
    # volume through the pinned 8-partition state stores (state is MBs
    # — the pin must NOT serialize compute); dedup and the running
    # profile keep one built-in state-store row per key, so their state
    # grows with the key count while the per-key cost stays in the JVM;
    # the interval join's state stays bounded by the two-sided time
    # predicate at any volume.
    "streaming_windowed_counts",
    "streaming_sessionized",
    "streaming_dedup_keys",
    "streaming_running_profile",
    "streaming_merge_upsert",
    "streaming_interval_join",
]

# key columns to shift per copy so joins stay consistent and
# per-entity densities are preserved
KEY_SHIFTS = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    # region/nation: tiny dims, copied once unshifted
    "region": [],
    "nation": [],
}


def build(spark) -> None:
    os.makedirs(OUT, exist_ok=True)
    for t in TESTDATA_TABLES:
        src = load(spark, BASE, t)
        keys = KEY_SHIFTS.get(t, [])
        if not keys:
            out = src
        else:
            parts = []
            for i in range(COPIES):
                c = src
                for k in keys:
                    c = c.withColumn(k, F.col(k) + F.lit(i * SHIFT))
                if t == "documents" and i > 0:
                    # replicas become near-duplicates, not exact ones
                    c = c.withColumn(
                        "text", F.concat("text", F.lit(f" copy{i}"))
                    )
                if t == "embeddings" and i > 0:
                    c = c.withColumn(
                        "embedding",
                        F.transform(
                            "embedding",
                            lambda x: (x + F.lit(i * 1e-3)).cast("float"),
                        ),
                    )
                parts.append(c)
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
        out.repartition(32).write.mode("overwrite").parquet(
            os.path.join(OUT, f"{t}.parquet")
        )
        print(f"built {t}", flush=True)


def main() -> None:
    spark = get_spark("crmint-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    if not os.path.exists(os.path.join(OUT, "lineitem.parquet")):
        t0 = time.time()
        build(spark)
        print(f"build took {time.time() - t0:.1f}s", flush=True)
    only = os.environ.get("SPARK_GRAFT_PROBE_ONLY")
    probe = [
        n for n in PROBE if n in set(only.split(","))
    ] if only else PROBE
    timings = {}
    for name in probe:
        QUERIES[name](spark, OUT).count()  # warm (plan + JIT)
        t0 = time.time()
        QUERIES[name](spark, OUT).count()
        timings[name] = round(time.time() - t0, 3)
        print(name, timings[name], flush=True)
    print(
        json.dumps(
            {
                "metric": "scale_probe_seconds",
                "copies": COPIES,
                "queries": timings,
                "total": round(sum(timings.values()), 3),
            }
        )
    )


if __name__ == "__main__":
    main()
