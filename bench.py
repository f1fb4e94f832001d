"""Benchmark headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints TWO JSON lines — a detail line (FULL primary + secondary-SF
per-query maps, streaming batch-size profile), then a COMPACT final
line sized to survive the driver's 2000-char stdout tail capture:
{"metric": "headline_suite_wall_seconds", "value": total_sec,
 "unit": "sec", "queries": {<FINAL_SUBSET>: sec, ...},
 "queries_subset": true, "n_queries_timed": N, "sf": 0.1, ...}
The final line's query map is the FIXED subset FINAL_SUBSET (stable
keys round-over-round); the complete map lives on the detail line.
Size contract pinned in tests/test_bench_contract.py.

Each query is forced end-to-end with the noop sink (full plan
execution, no driver collect overhead). The same suite also runs at a
SECOND scale factor (default sf0.01, override
$SPARK_GRAFT_SF_DIR_SECONDARY, empty string disables): two points per
query separate the fixed plan/codegen cost from the data-proportional
cost — a query whose time barely moves across a 10x data step is
codegen-bound at this scale, one that scales ~linearly is data-bound.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "cdc_latest_state",
    "cdc_upsert_merge",
    "cdc_sessionize",
    "cdc_event_counts_windowed",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q10_returned_items",
    "asof_order_event",
    "text_quality_score",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "embed_cosine_topk",
    "ann_ivf_topk",
    "mm_binary_meta",
    "q8_market_share",
    "q18_large_volume_customers",
    "text_chunk_windows",
    "events_user_retention",
    "cdc_latest_state_agg",
    "q9_product_profit",
    "embed_near_dup_lsh",
    "cdc_latest_state_with_truncate",
    "corpus_decontaminate",
    "dedup_ngram_coverage",
    "semdedup_cells",
    "pack_sequences",
    "events_count_min_users",
    "corpus_bloom_decontaminate",
    "cdc_agg_incremental",
    "sample_importance_weights",
    "text_gopher_rules",
    "embed_pq_codes",
    "ann_pq_rerank_topk",
    "corpus_keep_list_v4",
    "corpus_keep_list_v4_lsh",
    "ann_ivf_kmeans",
    "graph_pagerank_knn",
    "dedup_containment",
    "supplier_revenue_pareto",
    "scd2_point_in_time_join",
    "embed_sign_hamming_topk",
    "graph_label_prop_knn",
    "graph_triangle_knn",
    "corpus_decontaminate_lsh",
    "text_bm25_topk",
    "mm_phash_near_dup",
    "events_hll_registers",
    "cdc_incremental_snapshot",
    "embed_keep_list",
    "dedup_lsh_tuning",
    "text_gopher_repetition",
    "corpus_line_dedup",
    "lineitem_price_deciles",
    "embed_pca_top_direction",
    "events_stl_decomposition",
    "corpus_training_manifest",
    "graph_modularity_knn",
    "ann_graph_greedy_topk",
    "dedup_minhash_b_bit",
    "events_peak_concurrency",
    "text_rake_phrases",
    "events_hll_overlap",
    "text_classifier_score",
    "layout_hilbert_compare",
    "corpus_keep_list_v7_lsh",
    "retrieval_rrf_hybrid",
    "mm_cdc_chunk_dedup",
    "embed_matryoshka_recall",
    "ann_filtered_search_recall",
    "events_user_bitmap_rollup",
    "ann_ivfpq_residual_topk",
    "text_winnowing_fingerprints",
    "cdc_reconciliation_chunks",
    "graph_hits_knn",
    "events_markov_attribution",
    "events_theta_sketch_ops",
    "graph_ppr_seeds",
    "events_value_quantile_hist",
    "corpus_curriculum_order",
    "cdc_merkle_anti_entropy",
    "lineitem_weighted_percentiles",
    "events_mrl_quantile_sketch",
    "graph_node2vec_corpus",
    "retrieval_mrr_multiquery",
    "ann_int8_gemm_topk",
    "dedup_ppjoin_exact",
    # r7: gate-map-served observability sweeps + the two plan
    # rewrites (band-prefix RFM ranks, TakeOrdered LOF rank)
    "ann_nprobe_curve",
    "ann_recall_report",
    "ann_index_maintenance_plan",
    "customer_rfm_segments",
    "customer_segment_migration",
    "embed_lof_outliers",
]


# Fixed subset of per-query timings carried on the COMPACT final line
# (the driver tails ~2000 chars of stdout; at 50+ timed queries the
# full map no longer fits — r3 bench silently dropped entries). The
# FULL map goes on the detail line; this subset is stable across
# rounds so round-over-round comparisons never lose a headline key.
FINAL_SUBSET = [
    "cdc_latest_state",
    "cdc_sessionize",
    "q1_pricing_summary",
    "q9_product_profit",
    "q18_large_volume_customers",
    "asof_order_event",
    "dedup_minhash_lsh",
    "dedup_containment",
    "dedup_lsh_tuning",
    "embed_near_dup_lsh",
    "semdedup_cells",
    "ann_ivf_kmeans",
    "embed_pq_codes",
    "ann_pq_rerank_topk",
    "graph_pagerank_knn",
    "corpus_keep_list_v4",
    "corpus_keep_list_v4_lsh",
    "corpus_keep_list_v7_lsh",
    "embed_keep_list",
    "pack_sequences",
    "text_gopher_rules",
    "text_bm25_topk",
    "mm_phash_near_dup",
    "cdc_incremental_snapshot",
    "streaming_sessionize",
    "streaming_cdc_ingest",
    "streaming_curation",
]


def build_final(timings: dict[str, float], extras: dict) -> str:
    """The compact final JSON line: fixed query subset + throughput
    metrics. Deterministically under the driver's ~2000-char tail
    capture — pinned by tests/test_bench_contract.py with worst-case
    magnitudes, so truncation can never silently return."""
    result = {
        "metric": "headline_suite_wall_seconds",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": {
            k: round(timings[k], 2) for k in FINAL_SUBSET if k in timings
        },
        "queries_subset": True,
        "n_queries_timed": len(timings),
    }
    result.update(extras)
    return json.dumps(result, separators=(",", ":"))


def _run_suite(spark, sf_dir: str) -> dict[str, float]:
    from aurora_cdc_demo_spark.registry import QUERIES, binlog_path

    # warm untimed: JVM + parquet footers, and the one-time binlog
    # materialization the DataSource-backed queries read (cached
    # across runs under .cache/)
    binlog_path(sf_dir)
    QUERIES["cdc_table_stats"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    # warm the Python DataSource worker pool (one tiny read) so the
    # timed DataSource-backed queries measure parse throughput, not
    # the one-time Python-worker interpreter spin-up
    from aurora_cdc_demo_spark.registry import read_binlog

    read_binlog(spark, sf_dir).select("seq").limit(1).collect()
    timings: dict[str, float] = {}
    for name in HEADLINE:
        t0 = time.perf_counter()
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        timings[name] = round(time.perf_counter() - t0, 3)
    return timings


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").split("sf")[-1])

    from aurora_cdc_demo_spark.session import get_spark

    spark = get_spark("aurora-cdc-bench")
    spark.sparkContext.setLogLevel("ERROR")

    timings = _run_suite(spark, sf_dir)

    # r5 verdict item 2: the keep-list entries above are AMORTIZED
    # numbers — whichever keep-list runs first materializes the
    # shared _gate_map verdict tables and later ones read cache hits
    # (v7_lsh's 0.57 s final-line entry in r5 was a cache hit over a
    # ~7.3 s cold build). Emit ONE cold-start number against a fresh
    # gate cache so round-over-round comparisons can't mistake cache
    # hits for speedups. (embed_pq_codes plays the same role for the
    # ANN index: its line IS the cold index build; the ADC queries
    # after it are the amortized serve cost.)
    from aurora_cdc_demo_spark.registry import _GATE_CACHE
    from aurora_cdc_demo_spark.registry import QUERIES as _Q

    _GATE_CACHE.clear()
    t0 = time.perf_counter()
    _Q["corpus_keep_list_v7_lsh"](spark, sf_dir).write.format(
        "noop"
    ).mode("overwrite").save()
    keep_list_cold_seconds = round(time.perf_counter() - t0, 3)

    # streaming throughput: availableNow micro-batch run of the
    # stateful sessionizer over the sf CDC log staged as parquet
    # (staging untimed; the timed span is the full stream execution)
    import shutil
    import tempfile
    from pathlib import Path

    from aurora_cdc_demo_spark.sources.cdc_log import cdc_operation_log
    from aurora_cdc_demo_spark.streaming.stateful import sessionize_stream

    workdir = tempfile.mkdtemp(prefix="bench_stream_")
    try:
        log = cdc_operation_log(spark, sf_dir)
        n_events = log.count()
        # stage as 32 files (AQE would coalesce to ~1) so the
        # maxFilesPerTrigger caps below yield real multi-batch runs;
        # range-partitioned by seq, with mtimes increasing in
        # partition order, so the file source delivers the log in
        # binlog order (it picks files by mtime)
        log.repartitionByRange(32, "seq").write.mode("overwrite").parquet(
            f"{workdir}/in"
        )
        t_stage = time.time() - 32
        for i, f in enumerate(sorted(Path(workdir, "in").glob("part-*"))):
            os.utime(f, (t_stage + i, t_stage + i))

        def _progress_dicts(query):
            out = []
            for p in query.recentProgress:
                if isinstance(p, dict):
                    out.append(p)
                elif isinstance(p, str):
                    out.append(json.loads(p))
                else:  # StreamingQueryProgress object
                    out.append(json.loads(p.json))
            return out

        def _staged_stream(max_files: int):
            return (
                spark.readStream.schema(
                    "key_id long, seq long, operation string, "
                    "event_type string, ts timestamp, value double"
                )
                .option("maxFilesPerTrigger", max_files)
                .parquet(f"{workdir}/in")
            )

        # three-point batch-size profile: the per-batch fixed cost
        # (trigger/commit overhead) vs data-proportional cost split of
        # the streaming path, same treatment as the two-SF batch
        # profile — 32 staged files through batches of 4, 16, and 32
        # files (8, 2, and 1 micro-batches)
        batch_profiles = []
        for mfpt in (4, 16, 32):
            t0 = time.perf_counter()
            q = (
                sessionize_stream(_staged_stream(mfpt))
                .writeStream.format("noop")
                .option("checkpointLocation", f"{workdir}/ckpt_{mfpt}")
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(600)
            dt = time.perf_counter() - t0
            durs = sorted(
                p["durationMs"]["triggerExecution"]
                for p in _progress_dicts(q)
                if p.get("numInputRows", 0) > 0
            )
            prof = {
                "max_files_per_trigger": mfpt,
                "n_batches": len(durs),
                "p50_ms": durs[len(durs) // 2] if durs else None,
                "max_ms": durs[-1] if durs else None,
                "events_per_sec": round(n_events / dt),
            }
            batch_profiles.append(prof)
            if mfpt == 16:
                # the 16-file run is the headline streaming number
                # (comparable with earlier rounds)
                timings["streaming_sessionize"] = round(dt, 3)
                streaming_events_per_sec = prof["events_per_sec"]
                batch_ms = {
                    "n_batches": prof["n_batches"],
                    "p50_ms": prof["p50_ms"],
                    "max_ms": prof["max_ms"],
                }
        stream = _staged_stream(16)

        # CDC ingest throughput: the same staged log driven through
        # the foreachBatch latest-state merge store (the reference's
        # headline metric is >=1000 events/sec bulk CDC ingest,
        # reference tests/test_cdc_integration.py) — JVM-side merge,
        # stage-and-swap parquet commit included in the timed span
        from aurora_cdc_demo_spark.streaming.pipelines import ParquetStateStore

        store = ParquetStateStore(spark, f"{workdir}/state")
        t0 = time.perf_counter()
        q2 = store.start(stream, f"{workdir}/ckpt2")
        q2.awaitTermination(600)
        dt2 = time.perf_counter() - t0
        timings["streaming_cdc_ingest"] = round(dt2, 3)
        cdc_events_per_sec = round(n_events / dt2)
        from aurora_cdc_demo_spark.operators.cdc_apply import latest_state

        got = spark.read.parquet(f"{workdir}/state")
        want = latest_state(log)
        if got.count() != want.count() or got.exceptAll(want).count():
            raise RuntimeError(
                "streaming_cdc_ingest: committed state differs from "
                "latest_state(log)"
            )

        # Python-DataSource replay throughput: full binlog batch read
        # through the JSON-parsing partition readers (the path the
        # reference's COMPARISON.md rates at 10k-50k events/sec for
        # its custom DataSource approach)
        from aurora_cdc_demo_spark.registry import read_binlog

        t0 = time.perf_counter()
        n_replay = read_binlog(spark, sf_dir).count()
        dt3 = time.perf_counter() - t0
        timings["datasource_replay_read"] = round(dt3, 3)
        replay_events_per_sec = round(n_replay / dt3)

        # same log through the JVM-native JSON scan (the at-rest
        # replay path: no Python workers in the scan)
        from aurora_cdc_demo_spark.registry import read_binlog_jvm

        t0 = time.perf_counter()
        n_native = read_binlog_jvm(spark, sf_dir).count()
        dt4 = time.perf_counter() - t0
        timings["native_replay_read"] = round(dt4, 3)
        native_events_per_sec = round(n_native / dt4)

        # streaming ingest curation: documents through the
        # exact-dedup + quality-floor CurationStore (two
        # micro-batches; stage-and-swap commits inside the span)
        from aurora_cdc_demo_spark.streaming.curation import CurationStore
        from aurora_cdc_demo_spark.tables import load_table

        docs = load_table(spark, sf_dir, "documents")
        n_docs = docs.count()
        docs.repartition(8).write.mode("overwrite").parquet(
            f"{workdir}/docs_in"
        )
        doc_stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 4)
            .parquet(f"{workdir}/docs_in")
        )
        cur = CurationStore(spark, f"{workdir}/admitted")
        t0 = time.perf_counter()
        q3 = cur.start(doc_stream, f"{workdir}/ckpt_curation")
        q3.awaitTermination(600)
        dt5 = time.perf_counter() - t0
        timings["streaming_curation"] = round(dt5, 3)
        curation_docs_per_sec = round(n_docs / dt5)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    # second scale factor: same suite, 10x-smaller data — the
    # two-point scaling profile (fixed cost vs data-proportional)
    sec_dir = os.environ.get(
        "SPARK_GRAFT_SF_DIR_SECONDARY", "/root/testdata/sf0.01"
    )
    # The driver captures only the LAST ~2000 chars of stdout, so the
    # FINAL line must be a compact, self-contained JSON that fits.
    # Everything bulky (the secondary-SF per-query map, the streaming
    # batch-size profile) goes on an earlier detail line.
    detail = {
        "metric": "headline_suite_detail",
        "sf": sf,
        "queries": {k: round(v, 3) for k, v in timings.items()},
        "streaming_batch_profiles": batch_profiles,
    }
    if sec_dir and os.path.isdir(sec_dir) and sec_dir.rstrip("/") != sf_dir.rstrip("/"):
        detail["sf_secondary"] = float(sec_dir.rstrip("/").split("sf")[-1])
        detail["queries_secondary"] = _run_suite(spark, sec_dir)
    print(json.dumps(detail, separators=(",", ":")))

    extras = {
        "streaming_events_per_sec": streaming_events_per_sec,
        "streaming_batch_latency": batch_ms,
        "cdc_ingest_events_per_sec": cdc_events_per_sec,
        "datasource_replay_events_per_sec": replay_events_per_sec,
        "native_replay_events_per_sec": native_events_per_sec,
        # regression pin for the Python-DataSource protocol path:
        # measured in the SAME run as the native scan, so the ratio
        # is host-load-insensitive where absolute events/s are not
        # (r2->r3 the absolute number swung 73k->52k->91k on load
        # alone). A real protocol regression shows as ratio_pct
        # collapsing; floor_ok pins replay >= native/8.
        "replay_native_ratio_pct": round(
            100 * replay_events_per_sec / native_events_per_sec
        ),
        "replay_floor_ok": replay_events_per_sec * 8
        >= native_events_per_sec,
        # r4 verdict item 3: the same same-run-ratio pin for the two
        # remaining unpinned throughputs. r3->r4 the ABSOLUTE numbers
        # swung -20%/-13% on host load alone while the vs-native
        # ratios stayed 27->17% / 11->7%; a real code regression shows
        # as the ratio collapsing below the floor, host load does not.
        "ingest_native_ratio_pct": round(
            100 * cdc_events_per_sec / native_events_per_sec
        ),
        "ingest_floor_ok": cdc_events_per_sec * 10
        >= native_events_per_sec,
        "sessionize_native_ratio_pct": round(
            100 * streaming_events_per_sec / native_events_per_sec
        ),
        "sessionize_floor_ok": streaming_events_per_sec * 25
        >= native_events_per_sec,
        "curation_docs_per_sec": curation_docs_per_sec,
        # cold-vs-amortized disclosure (r5 verdict item 2): the
        # final-line corpus_keep_list_v7_lsh entry is a _gate_map
        # cache hit; this is the same query against a FRESH cache
        "keep_list_cold_seconds": keep_list_cold_seconds,
        "sf": sf,
    }
    if "sf_secondary" in detail:
        extras["sf_secondary"] = detail["sf_secondary"]
    print(build_final(timings, extras))


if __name__ == "__main__":
    main()
