"""Round-3 operators: oracle parity, behavioral invariants, and
physical-plan scale guards for the new corpus gates (ngram-dup
coverage, C4 filters, PII scrub), embedding ops (SemDeDup, int8
quantization), sequence packing, GTID gap monitoring, and hourly
anomaly detection."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from aurora_cdc_demo_spark.registry import QUERIES
from aurora_cdc_demo_spark.tables import load_table

from .helpers import assert_matches_oracle

R3_QUERIES = [
    "dedup_ngram_coverage",
    "text_c4_filters",
    "text_pii_scrub",
    "semdedup_cells",
    "embed_quantize_int8",
    "pack_sequences",
    "cdc_gtid_gap_monitor",
    "events_anomaly_hours",
    "cdc_replay_typed_native",
    "cdc_schema_version_history",
    "ann_ivf_cell_stats",
    "corpus_keep_list_v3",
    "events_zorder_key",
    "text_heavy_hitters_per_source",
    "dedup_family_sizes",
    "embed_norm_stats",
    "cdc_latest_state_incremental",
    "ann_knn_graph",
    "dedup_minhash_estimate",
]


@pytest.mark.parametrize("name", R3_QUERIES)
def test_oracle_parity(spark, sf_dir, name):
    assert_matches_oracle(spark, name, sf_dir)


# -- ngram coverage ---------------------------------------------------------


def test_ngram_coverage_bounds_and_cover(spark, sf_dir):
    """Every doc with >= 5 tokens gets a row; dup fraction is a valid
    basis-point value; dup grams never exceed total grams."""
    cov = QUERIES["dedup_ngram_coverage"](spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    n_eligible = docs.where(
        F.size(F.split(F.col("text"), " ")) >= 5
    ).count()
    assert cov.count() == n_eligible
    assert cov.where("dup_bp < 0 OR dup_bp > 10000").count() == 0
    assert cov.where("n_dup_grams > n_grams").count() == 0


# -- C4 filters -------------------------------------------------------------


def test_c4_keep_iff_no_flags(spark, sf_dir):
    c4 = QUERIES["text_c4_filters"](spark, sf_dir)
    bad = c4.where(
        "(keep = 1) <> (flag_length = 0 AND flag_word_len = 0 "
        "AND flag_long_token = 0 AND flag_digits = 0)"
    ).count()
    assert bad == 0
    assert c4.count() == load_table(spark, sf_dir, "documents").count()


# -- PII scrub --------------------------------------------------------------


def test_pii_scrub_redacts_constructed_rows(spark):
    """The synthetic corpus is PII-free, so pin the production
    behavior (real hits) on constructed rows using the exact same
    patterns the query uses."""
    from aurora_cdc_demo_spark.registry import (
        _PII_EMAIL,
        _PII_IPV4,
        _PII_LONGNUM,
    )

    rows = [
        (1, "contact bob.smith+x@example.co.uk or 10.0.0.1 now"),
        (2, "card 1234567890123456 plain text"),
        (3, "no pii here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    scrub = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _PII_EMAIL, "<EMAIL>"),
            _PII_IPV4,
            "<IP>",
        ),
        _PII_LONGNUM,
        "<NUM>",
    )
    out = {
        r["doc_id"]: r["s"]
        for r in df.select("doc_id", scrub.alias("s")).collect()
    }
    assert out[1] == "contact <EMAIL> or <IP> now"
    assert out[2] == "card <NUM> plain text"
    assert out[3] == "no pii here at all"


def test_pii_scrub_noop_on_clean_corpus(spark, sf_dir):
    """On the PII-free corpus the scrub must be the identity: zero
    redactions and the scrubbed md5 equals the original md5."""
    pii = QUERIES["text_pii_scrub"](spark, sf_dir)
    assert pii.where("n_redactions > 0").count() == 0
    fp = QUERIES["text_fingerprint"](spark, sf_dir).select(
        "doc_id", "content_md5"
    )
    diff = pii.join(fp, "doc_id").where(
        "scrubbed_md5 <> content_md5"
    ).count()
    assert diff == 0


# -- SemDeDup ---------------------------------------------------------------


def test_semdedup_dropped_have_lower_id_neardup_cellmate(spark, sf_dir):
    """Soundness: every dropped vector has a lower-id near-dup
    (exact cosine >= tau) in its own cell, and the min vec_id of each
    cell is always kept."""
    sd = QUERIES["semdedup_cells"](spark, sf_dir)
    pairs = QUERIES["embed_near_dup"](spark, sf_dir)  # exact all-pairs
    cells = sd.select("vec_id", "cell")
    pc = (
        pairs.join(
            cells.withColumnRenamed("vec_id", "vec_a").withColumnRenamed(
                "cell", "cell_a"
            ),
            "vec_a",
        )
        .join(
            cells.withColumnRenamed("vec_id", "vec_b").withColumnRenamed(
                "cell", "cell_b"
            ),
            "vec_b",
        )
        .where("cell_a = cell_b")
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
    )
    dropped = sd.where("keep = 0").select("vec_id")
    assert dropped.join(pc, "vec_id", "left_anti").count() == 0
    mins = sd.groupBy("cell").agg(F.min("vec_id").alias("m"))
    kept = sd.where("keep = 1").select("vec_id")
    assert mins.join(kept, mins["m"] == kept["vec_id"], "left_anti").count() == 0


# -- int8 quantization ------------------------------------------------------


def test_quantize_error_bounded_by_half_bin(spark, sf_dir):
    """Reconstruction error at bin centers is at most half a bin
    width (plus edge clamping at the max): err_max_e6 must respect
    the widest dimension's bin."""
    q = QUERIES["embed_quantize_int8"](spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        F.posexplode("embedding").alias("dim", "x")
    ).groupBy("dim").agg(
        (F.max(F.col("x").cast("double")) - F.min(F.col("x").cast("double"))).alias(
            "rng"
        )
    )
    max_half_bin = dims.agg(F.max(F.col("rng") / 255 / 2)).collect()[0][0]
    bound_e6 = int(max_half_bin * 1_000_000) + 1
    assert q.where(F.col("err_max_e6") > bound_e6).count() == 0
    n_vecs = emb.count()
    assert q.count() == n_vecs
    assert q.where("code_sum < 0 OR code_sum > 255 * 64").count() == 0


def test_quantized_topk_recall(spark, sf_dir):
    """Int8 quantization must preserve neighborhood structure:
    brute-force top-5 on DEQUANTIZED vectors recalls >= 80% of the
    exact top-5 neighbors over the 10 query vectors (the bound this
    corpus actually achieves; compression that scrambled neighbors
    would fall far below it)."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings").orderBy("vec_id").toPandas()
    ids = emb["vec_id"].to_numpy()
    x = np.array([np.array(v, dtype=np.float64) for v in emb["embedding"]])
    lo, hi = x.min(axis=0), x.max(axis=0)
    scale = np.where(hi == lo, 1.0, (hi - lo) / 255)
    q = np.clip(np.floor((x - lo) / scale), 0, 255)
    deq = lo + (q + 0.5) * scale

    def topk(m, k=5):
        n = m / np.linalg.norm(m, axis=1, keepdims=True)
        sims = n @ n.T
        np.fill_diagonal(sims, -np.inf)
        out = {}
        for qi in range(len(ids)):
            if ids[qi] < 10:
                order = np.argsort(-sims[qi], kind="stable")[:k]
                out[ids[qi]] = set(ids[j] for j in order)
        return out

    exact, approx = topk(x), topk(deq)
    hits = sum(len(exact[i] & approx[i]) for i in exact)
    total = sum(len(exact[i]) for i in exact)
    assert hits / total >= 0.8, (hits, total)


def test_knn_graph_covers_cellmates(spark, sf_dir):
    """Every vector with at least one cell-mate gets 1..k dense
    ranks; cos is a valid cosine (within [-1, 1] scaled)."""
    g = QUERIES["ann_knn_graph"](spark, sf_dir)
    assert g.where("nn_rank < 1 OR nn_rank > 3").count() == 0
    assert g.where(
        "cos_e6 < -1000001 OR cos_e6 > 1000001"
    ).count() == 0
    # ranks are dense per vector: max rank == count
    per = g.groupBy("vec_id").agg(
        F.max("nn_rank").alias("mx"), F.count(F.lit(1)).alias("c")
    )
    assert per.where("mx <> c").count() == 0
    assert g.where("vec_id = neighbor_id").count() == 0


# -- sequence packing -------------------------------------------------------


def test_pack_sequences_conserves_docs_and_tokens(spark, sf_dir):
    """Packing is a partition of the corpus: bin doc/token totals sum
    to corpus totals, and no bin starts beyond its shard's token
    count."""
    packed = QUERIES["pack_sequences"](spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    tot = docs.select(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).alias("n_tokens"),
    ).collect()[0]
    agg = packed.agg(
        F.sum("n_docs").alias("d"), F.sum("n_tokens").alias("t")
    ).collect()[0]
    assert agg["d"] == tot["n_docs"]
    assert agg["t"] == tot["n_tokens"]
    # bins are non-empty, ordered ranges: first_doc <= last_doc
    assert packed.where("n_docs <= 0 OR first_doc > last_doc").count() == 0


def test_pack_sequences_bin_capacity(spark, sf_dir):
    """A bin holds the docs whose START lands inside it, so its token
    load is < CTX + the largest single doc (one straddler)."""
    packed = QUERIES["pack_sequences"](spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    max_doc = docs.agg(
        F.max(F.size(F.split(F.col("text"), " ")))
    ).collect()[0][0]
    over = packed.where(F.col("n_tokens") >= 512 + max_doc).count()
    assert over == 0


# -- GTID gap monitor -------------------------------------------------------


def test_gtid_gaps_account_for_missing(spark, sf_dir):
    """Per server: the event count plus missing count spans the seq
    range exactly, and gaps exist iff events are missing."""
    mon = QUERIES["cdc_gtid_gap_monitor"](spark, sf_dir).collect()
    assert len(mon) == 4  # one per routed server
    for r in mon:
        assert r["n_events"] + r["n_missing"] == r["last_seq"] - r["first_seq"] + 1
        assert (r["n_gaps"] > 0) == (r["n_missing"] > 0)
        assert r["max_gap"] <= r["n_missing"]


# -- hourly anomaly detection -----------------------------------------------


def test_anomaly_flags_exclusive_and_calibrated(spark, sf_dir):
    an = QUERIES["events_anomaly_hours"](spark, sf_dir)
    assert an.where("is_spike = 1 AND is_drop = 1").count() == 0
    assert an.where("median_hourly <= 0").count() == 0
    # flags match their definitions
    bad = an.where(
        "(is_spike = 1) <> (n_events > 2 * median_hourly) OR "
        "(is_drop = 1) <> (2 * n_events < median_hourly)"
    ).count()
    assert bad == 0


# -- schema-version history -------------------------------------------------


def test_schema_versions_split_at_ddl(spark, sf_dir):
    """Only the DDL'd table has two schema versions; its v2 group
    contains exactly one DDL event; version seq ranges don't
    overlap for the DDL'd table's data events."""
    h = {(r["tbl"], r["schema_version"]): r
         for r in QUERIES["cdc_schema_version_history"](spark, sf_dir).collect()}
    tables = {t for t, _ in h}
    assert tables == {"users_0", "users_1", "users_2", "users_3"}
    for t in tables:
        if t == "users_1":
            assert (t, "1") in h and (t, "2") in h
        else:
            assert (t, "2") not in h
    v2 = h[("users_1", "2")]
    assert v2["n_ddl"] == 1
    assert v2["last_ddl"].startswith("ALTER TABLE users_1")
    assert h[("users_1", "1")]["n_ddl"] == 0


# -- IVF cell stats ---------------------------------------------------------


def test_ivf_cell_stats_cover_corpus(spark, sf_dir):
    st = QUERIES["ann_ivf_cell_stats"](spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    total = st.agg(F.sum("n_vecs")).collect()[0][0]
    assert total == emb.count()
    assert st.where("share_bp < 0 OR share_bp > 10000").count() == 0
    assert st.where("min_cos_e6 > max_cos_e6").count() == 0


# -- minhash calibration ----------------------------------------------------


def test_minhash_estimate_calibrated(spark, sf_dir):
    """The sketch estimate must track exact Jaccard: mean absolute
    error under 2500 bp across candidate pairs (k=12 gives std
    ~1/sqrt(12) ~ 2900 bp worst-case at j=0.5; this corpus's
    candidates sit well inside that), and estimates are valid bp."""
    est = QUERIES["dedup_minhash_estimate"](spark, sf_dir).toPandas()
    assert len(est) > 0
    assert ((est["est_jaccard_bp"] >= 0) & (est["est_jaccard_bp"] <= 10000)).all()
    mae = (est["est_jaccard_bp"] - est["exact_jaccard_bp"]).abs().mean()
    assert mae <= 2500, mae


# -- incremental view maintenance -------------------------------------------


def test_incremental_equals_from_scratch(spark, sf_dir):
    """state(old half) merged with net(new half) must equal the
    from-scratch materialization row-for-row."""
    inc = QUERIES["cdc_latest_state_incremental"](spark, sf_dir)
    full = QUERIES["cdc_latest_state"](spark, sf_dir)
    assert inc.exceptAll(full).count() == 0
    assert full.exceptAll(inc).count() == 0


# -- observability views ----------------------------------------------------


def test_heavy_hitters_five_per_source(spark, sf_dir):
    hh = QUERIES["text_heavy_hitters_per_source"](spark, sf_dir)
    per = hh.groupBy("source").agg(F.count(F.lit(1)).alias("k"))
    assert per.where("k <> 5").count() == 0
    assert hh.where("rnk < 1 OR rnk > 5").count() == 0


def test_family_sizes_conserve_corpus(spark, sf_dir):
    fam = QUERIES["dedup_family_sizes"](spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    total = fam.agg(F.sum("n_docs")).collect()[0][0]
    assert total == docs.count()
    # family count at each size is consistent: n_docs = size * n_families
    assert fam.where("n_docs <> family_size * n_families").count() == 0


def test_norm_stats_no_zero_vectors_and_cover(spark, sf_dir):
    ns = QUERIES["embed_norm_stats"](spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    assert ns.agg(F.sum("n_vecs")).collect()[0][0] == emb.count()
    assert ns.where("n_zero_vecs > 0").count() == 0  # healthy corpus
    assert ns.where("min_norm_e6 > max_norm_e6").count() == 0


# -- z-order key ------------------------------------------------------------


def test_zorder_interleave_bijective(spark, sf_dir):
    """The Morton interleave is a bijection on (x16, y16): decoding
    the bits back must reproduce the inputs, and distinct key counts
    must match distinct input-pair counts."""
    z = QUERIES["events_zorder_key"](spark, sf_dir)
    pairs = z.select("x16", "y16").distinct().count()
    keys = z.select("zkey").distinct().count()
    assert pairs == keys
    sample = z.limit(200).collect()
    for r in sample:
        x = sum(((r["zkey"] >> (2 * i)) & 1) << i for i in range(16))
        y = sum(((r["zkey"] >> (2 * i + 1)) & 1) << i for i in range(16))
        assert (x, y) == (r["x16"], r["y16"])
        assert r["zbucket"] == r["zkey"] >> 24


def test_zorder_is_shuffle_free(spark, sf_dir):
    plan = _plan(spark, sf_dir, "events_zorder_key")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


# -- keep-list v3 -----------------------------------------------------------


def test_keep_list_v3_refines_v2(spark, sf_dir):
    """v3 adds two restriction gates, so every v3 keep is a v2 keep
    and any divergent decision is one of the new reason codes."""
    v2 = {r["doc_id"]: (r["keep"], r["decision"])
          for r in QUERIES["corpus_keep_list_v2"](spark, sf_dir).collect()}
    v3 = {r["doc_id"]: (r["keep"], r["decision"])
          for r in QUERIES["corpus_keep_list_v3"](spark, sf_dir).collect()}
    assert v2.keys() == v3.keys()
    for d, (keep3, dec3) in v3.items():
        keep2, dec2 = v2[d]
        if keep3:
            assert keep2
        if dec3 != dec2:
            assert dec3 in ("dup_heavy", "c4_filtered"), (d, dec2, dec3)
    assert set(d for _, d in v3.values()) <= {
        "keep", "exact_dup", "near_dup", "contaminated", "dup_heavy",
        "repetitive", "c4_filtered", "low_quality", "sampled_out",
    }


# -- JVM-native binlog scan -------------------------------------------------


def test_native_binlog_scan_matches_datasource(spark, sf_dir):
    """The at-rest JVM JSON scan and the Python DataSource must
    produce row-identical 21-column events (full schema compare, all
    columns, order-insensitive)."""
    from aurora_cdc_demo_spark.registry import read_binlog, read_binlog_jvm

    a = read_binlog(spark, sf_dir)
    b = read_binlog_jvm(spark, sf_dir)
    # same column names and types (nullability differs by design:
    # the DataSource declares its metadata fields non-null, a JSON
    # scan is all-nullable)
    assert [(f.name, f.dataType) for f in a.schema.fields] == [
        (f.name, f.dataType) for f in b.schema.fields
    ]
    assert a.count() == b.count()
    # maps aren't comparable in exceptAll — compare sorted entries
    def canon(df):
        cols = []
        for f in df.schema.fields:
            if str(f.dataType).startswith("MapType"):
                cols.append(
                    F.to_json(
                        F.map_from_entries(
                            F.array_sort(F.map_entries(F.col(f.name)))
                        )
                    ).alias(f.name)
                )
            else:
                cols.append(F.col(f.name))
        return df.select(cols)

    assert canon(a).exceptAll(canon(b)).count() == 0
    assert canon(b).exceptAll(canon(a)).count() == 0


def test_native_replay_no_python_in_plan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "cdc_replay_typed_native")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "PythonDataSource" not in plan


# -- physical-plan scale guards --------------------------------------------


def _optimized(spark, sf_dir, name: str) -> str:
    df = QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().optimizedPlan().toString()


def _plan(spark, sf_dir, name: str) -> str:
    return (
        QUERIES[name](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def test_ngram_coverage_no_broadcast_of_gram_table(spark, sf_dir):
    """The gram doc-frequency table grows with the corpus — no forced
    broadcast hint may survive."""
    assert _optimized(spark, sf_dir, "dedup_ngram_coverage").count(
        "strategy=broadcast"
    ) == 0


def test_c4_and_pii_are_shuffle_free(spark, sf_dir):
    for name in ["text_c4_filters", "text_pii_scrub"]:
        plan = _plan(spark, sf_dir, name)
        assert "Exchange" not in plan, name
        assert "BatchEvalPython" not in plan, name


def test_semdedup_no_cartesian_on_data(spark, sf_dir):
    """The only nested-loop join allowed is the fixed-size seed
    assignment; the cell-mate compare must be an equi join.
    (Probes the BUILDER plan — the registered query returns the
    materialized gate map, whose plan is just the cached RDD.)"""
    from aurora_cdc_demo_spark.operators import similarity as _sim

    plan = (
        _sim.semdedup(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    # the seed cross join (a broadcast of N_SEEDS=16 rows) appears
    # once per `cells` CTE reference — three bounded broadcasts; the
    # data-sized cell-mate compare must be the equi SortMergeJoin
    assert plan.count("BroadcastNestedLoopJoin") <= 3
    assert "SortMergeJoin [cell" in plan

    # the staged builds semdedup_cells and the tau sweep are served
    # from: the seed assignment keeps its one bounded seed cross
    # join, and the cell-mate compare over the materialized cells is
    # an equi join on `cell` with no nested-loop join at all
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView(
        "embeddings"
    )
    cells = spark.sql(_sim.sem_cells_build_sql())
    cells_plan = cells._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in cells_plan
    assert cells_plan.count("BroadcastNestedLoopJoin") <= 1
    cells.localCheckpoint().createOrReplaceTempView("sem_cells_probe")
    bmax_plan = (
        spark.sql(_sim.sem_bmax_build_sql("sem_cells_probe"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in bmax_plan
    assert "NestedLoopJoin" not in bmax_plan
    assert re.search(r"(SortMerge|ShuffledHash|BroadcastHash)Join \[cell", bmax_plan)
