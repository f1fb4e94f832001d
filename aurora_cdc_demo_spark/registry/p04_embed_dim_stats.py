from __future__ import annotations

from .p01_cdc_operation_log import (  # noqa: F401
    F,
    QUERIES,
    _BINLOG_LOG_CTE,
    _KEEP_GATES_CTES_LSH,
    _KEEP_QUALITY_BP,
    _V3_EXTRA_CTES,
    _dedup,
    _mm,
    _morton_sql,
    _near_dup_clusters,
    _sim,
    _sk,
    _text,
    _text_minhash_mats,
    ensure_utc,
    load_table,
    query,
    read_binlog_jvm,
)
from .p02_text_gopher_rules import (  # noqa: F401
    _graph_edges_map,
    ORACLES,
    _BOILERPLATE_BP,
    _DSIR_MIN_MEAN_PPM,
    _V4_EXTRA_CTES,
    _knn_edges_view,
    _knn_uedges_view,
    _sampling,
)
from .p03_cdc_state_checksums import (  # noqa: F401
    _HLL_ALPHA_E5,
    _HLL_M,
    _HLL_SHIFT,
    _SPLIT_TRAIN_PCT,
    _SPLIT_VAL_PCT,
    _V5_EXTRA_CTES,
    _V6_EXTRA_CTES,
    _V6_SELECT,
    _hll_lc_table,
)

# ---------------------------------------------------------------------------
# R8: embedding dimension stats, uniqueness profile, transition lift
# ---------------------------------------------------------------------------


@query(
    "embed_dim_stats",
    oracle="""
        WITH comps AS (
            SELECT generate_subscripts(embedding, 1) - 1 AS pos,
                   CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE)
                        * 1000000) AS BIGINT) AS x
            FROM embeddings)
        , s AS (
            SELECT pos, CAST(COUNT(*) AS BIGINT) AS n,
                   MIN(x) AS lo_e6, MAX(x) AS hi_e6,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(x * x) AS BIGINT) AS sxx
            FROM comps GROUP BY pos)
        SELECT CAST(pos AS BIGINT) AS pos, n, lo_e6, hi_e6,
               CAST(sx // n AS BIGINT) AS mean_e6,
               CAST((sxx - (sx * sx) // n) // n AS BIGINT) AS var_e12,
               CAST(CASE WHEN hi_e6 - lo_e6 < 1000 THEN 1 ELSE 0 END
                    AS BIGINT) AS is_dead
        FROM s
    """,
)
def q_embed_dim_stats(spark, sf_dir):
    """Per-DIMENSION embedding statistics: range, integer mean and
    population variance (e6/e12 floor-scaled) and a dead-dimension
    flag (range < 1e-3) — the profile that sizes quantizers: int8
    (#96) spends its 256 bins per dimension on [lo, hi], PQ (#138)
    allocates codebooks across sub-vectors, and dead dims waste
    both (the signal to prune or rotate first). One corpus
    posexplode, one pos-keyed aggregate — DIMS-bounded output."""
    emb = load_table(spark, sf_dir, "embeddings")
    comps = emb.select(
        F.posexplode("embedding").alias("pos", "c")
    ).select(
        "pos",
        F.floor(F.col("c").cast("double") * 1000000)
        .cast("long")
        .alias("x"),
    )
    return (
        comps.groupBy("pos")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("x").alias("lo_e6"),
            F.max("x").alias("hi_e6"),
            F.sum("x").alias("sx"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )
        .select(
            F.col("pos").cast("long").alias("pos"),
            "n",
            "lo_e6",
            "hi_e6",
            F.expr("sx div n").cast("long").alias("mean_e6"),
            F.expr("(sxx - (sx * sx) div n) div n")
            .cast("long")
            .alias("var_e12"),
            F.expr(
                "CAST(CASE WHEN hi_e6 - lo_e6 < 1000 THEN 1 ELSE 0 END"
                " AS BIGINT)"
            ).alias("is_dead"),
        )
    )


_UNIQ_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_orderpriority",
)


@query(
    "dq_uniqueness_profile",
    oracle=f"""
        SELECT col, n, n_distinct,
               CAST((10000 * n_distinct) // n AS BIGINT) AS distinct_bp,
               CAST(CASE WHEN n_distinct = n THEN 1 ELSE 0 END
                    AS BIGINT) AS is_candidate_key
        FROM ({" UNION ALL ".join(
            f"SELECT '{c}' AS col, CAST(COUNT(*) AS BIGINT) AS n, "
            f"CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct "
            f"FROM orders"
            for c in _UNIQ_COLS)})
    """,
)
def q_dq_uniqueness_profile(spark, sf_dir):
    """Column uniqueness profile of the orders table: distinct
    ratio (bp) per column and the candidate-key certificate
    (distinct == rows) — the profiling step that validates merge
    keys before a CDC applier trusts them (a 'primary key' at 9 999
    bp means silent upsert collisions), next to completeness
    (#215) and referential integrity (#203). One pass per column
    over the same scan; at 100 TB the exact distincts swap for the
    HLL sketch (#62) with the same report shape."""
    o = load_table(spark, sf_dir, "orders")
    parts = []
    for c in _UNIQ_COLS:
        parts.append(
            o.agg(
                F.lit(c).alias("col"),
                F.count(F.lit(1)).alias("n"),
                F.countDistinct(c).alias("n_distinct"),
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u.select(
        "col",
        "n",
        "n_distinct",
        F.expr("(10000 * n_distinct) div n").cast("long").alias(
            "distinct_bp"
        ),
        F.expr(
            "CAST(CASE WHEN n_distinct = n THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("is_candidate_key"),
    )


@query(
    "events_transition_lift",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   lead(event_type) OVER (
                       PARTITION BY user_id
                       ORDER BY event_id ASC) AS nxt
            FROM events)
        , trans AS (
            SELECT event_type AS src, nxt AS dst,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2)
        , marg AS (
            SELECT src, CAST(SUM(n) AS BIGINT) AS n_src FROM trans
            GROUP BY src)
        , margd AS (
            SELECT dst, CAST(SUM(n) AS BIGINT) AS n_dst FROM trans
            GROUP BY dst)
        , tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM trans)
        SELECT tr.src, tr.dst, tr.n,
               CAST((1000000 * tr.n * tot.t)
                    // (m.n_src * d.n_dst) AS BIGINT) AS lift_ppm
        FROM trans tr
        JOIN marg m ON m.src = tr.src
        JOIN margd d ON d.dst = tr.dst
        CROSS JOIN tot
    """,
)
def q_events_transition_lift(spark, sf_dir):
    """Transition LIFT over consecutive event types per user:
    observed transition count vs the independence expectation
    (row-marginal × column-marginal / total, integer ppm) — > 1e6
    marks genuinely sequential behavior, completing the raw
    transition counts (#129) and the stationary distribution
    (#158) with the strength-of-association view. One user-keyed
    lead window (shares the events shuffle), then type²-bounded
    algebra."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("event_id").asc())
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("nxt")
    ).where(F.col("nxt").isNotNull())
    trans = seq.groupBy(
        F.col("event_type").alias("src"), F.col("nxt").alias("dst")
    ).agg(F.count(F.lit(1)).alias("n"))
    marg = trans.groupBy("src").agg(F.sum("n").alias("n_src"))
    margd = trans.groupBy("dst").agg(F.sum("n").alias("n_dst"))
    tot = trans.agg(F.sum("n").alias("t"))
    return (
        trans.join(F.broadcast(marg), "src")
        .join(F.broadcast(margd), "dst")
        .crossJoin(F.broadcast(tot))
        .select(
            "src",
            "dst",
            "n",
            F.expr("(1000000 * n * t) div (n_src * n_dst)")
            .cast("long")
            .alias("lift_ppm"),
        )
    )


_DECILE_BANDS = 32


@query(
    "lineitem_price_deciles",
    oracle="""
        WITH v AS (
            SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                        AS BIGINT) AS p
            FROM lineitem)
        , ranked AS (
            SELECT p, row_number() OVER (ORDER BY p ASC) AS rn,
                   COUNT(*) OVER () AS n
            FROM v)
        SELECT CAST(d AS BIGINT) AS decile,
               CAST(MAX((d * n + 9) // 10) AS BIGINT) AS global_rank,
               CAST(MAX(p) AS BIGINT) AS price_centi
        FROM ranked CROSS JOIN (SELECT unnest(range(1, 10)) AS d) ds
        WHERE rn = (d * n + 9) // 10
        GROUP BY d
    """,
)
def q_lineitem_price_deciles(spark, sf_dir):
    """EXACT price deciles over the FACT table without a global
    sort or single-reducer window — the #132/#194 band-prefix
    decomposition applied at value grain where it matters most:
    prices land in {B} value bands scaled by the broadcast
    (min, max); band populations prefix-sum over a {B}-row table;
    the rank window partitions BY BAND (≈1/{B} of the fact per
    reducer, and {B} is a knob); global_rank = band_prefix +
    within_band_rank. The value at a rank position is unique
    whatever the tie order, so the output equals the oracle's
    single global window bit-for-bit. This is the scale template
    for every 'exact percentile of a fact column' ask that
    approx_percentile can't satisfy.""".replace(
        "{B}", str(_DECILE_BANDS)
    )
    from ..operators.rank import RankSpec, band_prefix

    li = load_table(spark, sf_dir, "lineitem")
    v = li.select(
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("p")
    )
    # shared band-prefix machinery (r7 verdict item 5); the bucket
    # prefix now comes from the bounded BxB self-join instead of a
    # B-row window, so this plan carries ZERO unpartitioned windows
    # (it previously carried one bounded B-row prefix window). No
    # tiebreak: the value at a rank position is unique whatever the
    # tie order (docstring above), so row_number over (p ASC) alone
    # is exact for this output.
    withn = v.crossJoin(
        F.broadcast(v.agg(F.count(F.lit(1)).alias("n")))
    )
    ranked = band_prefix(
        withn,
        [RankSpec("p", "rn", ascending=True)],
        n_buckets=_DECILE_BANDS,
    )
    ds = spark.range(1, 10).select(F.col("id").alias("decile"))
    return (
        ranked.join(
            F.broadcast(ds),
            F.col("rn") == F.expr("(decile * n + 9) div 10"),
        )
        .groupBy("decile")
        .agg(
            F.max("rn").cast("long").alias("global_rank"),
            F.max("p").cast("long").alias("price_centi"),
        )
    )


# ---------------------------------------------------------------------------
# R8: seasonal-naive backtest, IQR outlier screen
# ---------------------------------------------------------------------------


@query(
    "events_seasonal_naive_backtest",
    oracle="""
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS h,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY 1)
        , j AS (
            SELECT a.h, a.n AS actual, b.n AS predicted
            FROM hourly a
            JOIN hourly b ON b.h = a.h - INTERVAL 7 DAY)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_hours,
               CAST(SUM(ABS(actual - predicted)) AS BIGINT)
                   AS total_abs_err,
               CAST(SUM(ABS(actual - predicted)) // COUNT(*)
                    AS BIGINT) AS mae,
               CAST((10000 * SUM(ABS(actual - predicted)))
                    // SUM(actual) AS BIGINT) AS wape_bp,
               CAST(SUM(CASE WHEN actual > predicted THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_over,
               CAST(SUM(CASE WHEN actual < predicted THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_under
        FROM j
    """,
)
def q_events_seasonal_naive_backtest(spark, sf_dir):
    """Seasonal-naive forecast backtest: predict each hour's event
    volume with the SAME hour one week earlier and score MAE +
    weighted absolute percentage error (bp integers) with the
    over/under split — the baseline every real forecasting model
    must beat, and the capacity-planning sanity number on its own
    (WAPE ≈ how wrong a naive scaler would be). One hour-keyed
    aggregate, one self-equi-join on the shifted hour key
    (hour-grid-bounded), integer algebra after."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count(F.lit(1)).alias("n"))
    pred = hourly.select(
        (F.col("h") + F.expr("INTERVAL 7 DAY")).alias("h"),
        F.col("n").alias("predicted"),
    )
    j = hourly.withColumnRenamed("n", "actual").join(pred, "h")
    return j.agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum(F.abs(F.col("actual") - F.col("predicted"))).alias(
            "total_abs_err"
        ),
        F.expr("sum(ABS(actual - predicted)) div count(1)")
        .cast("long")
        .alias("mae"),
        F.expr("(10000 * sum(ABS(actual - predicted))) div sum(actual)")
        .cast("long")
        .alias("wape_bp"),
        F.sum(
            F.when(F.col("actual") > F.col("predicted"), 1).otherwise(0)
        ).alias("n_over"),
        F.sum(
            F.when(F.col("actual") < F.col("predicted"), 1).otherwise(0)
        ).alias("n_under"),
    )


@query(
    "dq_outlier_price_iqr",
    oracle="""
        WITH v AS (
            SELECT p.p_type,
                   CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) * 100
                        AS BIGINT) AS p
            FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey)
        , ranked AS (
            SELECT p_type, p,
                   row_number() OVER (
                       PARTITION BY p_type ORDER BY p ASC) AS rn,
                   COUNT(*) OVER (PARTITION BY p_type) AS n
            FROM v)
        , q AS (
            SELECT p_type,
                   CAST(MAX(CASE WHEN rn = (n + 3) // 4 THEN p END)
                        AS BIGINT) AS q1,
                   CAST(MAX(CASE WHEN rn = (3 * n + 3) // 4 THEN p END)
                        AS BIGINT) AS q3,
                   CAST(MAX(n) AS BIGINT) AS n
            FROM ranked GROUP BY p_type)
        SELECT v.p_type, q.n AS n_lines, q.q1 AS q1_centi,
               q.q3 AS q3_centi,
               CAST(SUM(CASE WHEN 2 * v.p < 5 * q.q1 - 3 * q.q3
                          OR 2 * v.p > 5 * q.q3 - 3 * q.q1
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM v JOIN q ON q.p_type = v.p_type
        GROUP BY v.p_type, q.n, q.q1, q.q3
    """,
)
def q_dq_outlier_price_iqr(spark, sf_dir):
    """Tukey-fence price outliers per part type: exact integer
    quartiles (rank positions ceil(n/4), ceil(3n/4)) and the count
    outside [Q1 − 1.5·IQR, Q3 + 1.5·IQR] — the fence test written
    2p < 5q1 − 3q3 (×2 clears the .5 without leaving integers).
    The per-type rank window shuffles the fact by p_type (~150
    keys; at 100 TB the within-type rank decomposes into the
    band-prefix form #254 per type — same algebra, noted not
    needed at bench scale). Quartile rows broadcast back into the
    fence scan."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    v = li.join(F.broadcast(pt), li["l_partkey"] == pt["p_partkey"]).select(
        "p_type",
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("p"),
    )
    wr = Window.partitionBy("p_type").orderBy(F.col("p").asc())
    wn = Window.partitionBy("p_type")
    ranked = v.select(
        "p_type",
        "p",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    q = ranked.groupBy("p_type").agg(
        F.max(
            F.when(F.col("rn") == F.expr("(n + 3) div 4"), F.col("p"))
        ).alias("q1"),
        F.max(
            F.when(F.col("rn") == F.expr("(3 * n + 3) div 4"), F.col("p"))
        ).alias("q3"),
        F.max("n").alias("n"),
    )
    return (
        v.join(F.broadcast(q), "p_type")
        .groupBy("p_type", "n", "q1", "q3")
        .agg(
            F.sum(
                F.when(
                    (2 * F.col("p") < 5 * F.col("q1") - 3 * F.col("q3"))
                    | (2 * F.col("p") > 5 * F.col("q3") - 3 * F.col("q1")),
                    1,
                ).otherwise(0)
            ).alias("n_outliers")
        )
        .select(
            "p_type",
            F.col("n").alias("n_lines"),
            F.col("q1").alias("q1_centi"),
            F.col("q3").alias("q3_centi"),
            "n_outliers",
        )
    )


@query(
    "corpus_keep_list_source_bias",
    oracle=_KEEP_GATES_CTES_LSH
    + _V3_EXTRA_CTES
    + _V4_EXTRA_CTES
    + _V5_EXTRA_CTES
    + _V6_EXTRA_CTES
    + ", v6 AS ("
    + _V6_SELECT
    + """)
        SELECT d.source,
               CAST(COUNT(*) AS BIGINT) AS n_before,
               CAST(SUM(CASE WHEN v.keep THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_kept,
               CAST((10000 * SUM(CASE WHEN v.keep THEN 1 ELSE 0 END))
                    // COUNT(*) AS BIGINT) AS keep_bp
        FROM documents d JOIN v6 v USING (doc_id)
        GROUP BY d.source
    """,
)
def q_corpus_keep_list_source_bias(spark, sf_dir):
    """Did the TEXT keep-list bias the corpus? Per-source survival
    rates through the full twelve-gate v6_lsh chain — the text-side
    twin of the embedding bias report (#221): a source whose
    keep_bp collapses relative to the corpus mean lost its voice to
    gates that fired asymmetrically (the audit Abbas et al./Dodge
    et al. run before trusting a filtered corpus). Pure
    composition: one source-keyed aggregate over the keep-list
    join."""
    kl = QUERIES["corpus_keep_list_v6_lsh"](spark, sf_dir).select(
        "doc_id", "keep"
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    return (
        docs.join(kl, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_before"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_kept"),
            F.expr(
                "(10000 * sum(CASE WHEN keep THEN 1 ELSE 0 END))"
                " div count(1)"
            ).alias("keep_bp"),
        )
    )


@query(
    "customer_order_running_total",
    oracle="""
        SELECT o_custkey, o_orderkey,
               CAST(row_number() OVER w AS BIGINT) AS order_seq,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    OVER (PARTITION BY o_custkey ORDER BY o_orderdate,
                          o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND
                          CURRENT ROW) AS BIGINT) AS cum_spend_centi,
               CAST(COALESCE((epoch_us(o_orderdate)
                    - epoch_us(lag(o_orderdate) OVER w)) // 86400000000,
                    -1) AS BIGINT) AS days_since_prev
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey)
    """,
)
def q_customer_order_running_total(spark, sf_dir):
    """Per-customer order timeline: sequence number, running spend
    (exact centi money), and inter-order gap in whole days (−1 for
    the first order) — the everyday cumulative-window surface
    (running totals, lag deltas) the RFM/LTV marts (#170/#186)
    aggregate away. One customer-keyed sort window; all three
    functions share the single window spec, so Spark plans ONE
    shuffle + sort."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).cast("long").alias("order_seq"),
        F.sum(cents).over(wsum).cast("long").alias("cum_spend_centi"),
        F.coalesce(
            (
                (
                    F.unix_micros("o_orderdate")
                    - F.unix_micros(F.lag("o_orderdate").over(w))
                )
                / F.lit(86400000000)
            ).cast("long"),
            F.lit(-1),
        ).alias("days_since_prev"),
    )


@query(
    "embed_label_compactness",
    oracle="""
        WITH comps AS (
            SELECT label,
                   generate_subscripts(embedding, 1) - 1 AS pos,
                   CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE)
                        * 1000000) AS BIGINT) AS x
            FROM embeddings)
        , lp AS (
            SELECT label, pos, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(x * x) AS BIGINT) AS sxx
            FROM comps GROUP BY label, pos)
        , gp AS (
            SELECT pos, CAST(SUM(sx) AS BIGINT) AS gsx,
                   CAST(SUM(n) AS BIGINT) AS gn
            FROM lp GROUP BY pos)
        SELECT lp.label, CAST(MIN(lp.n) AS BIGINT) AS n_vecs,
               CAST(SUM(lp.sxx - (lp.sx * lp.sx) // lp.n) AS BIGINT)
                   AS wss_e12,
               CAST(SUM(lp.n * ((lp.sx // lp.n) - (gp.gsx // gp.gn))
                        * ((lp.sx // lp.n) - (gp.gsx // gp.gn)))
                    AS BIGINT) AS bss_e12
        FROM lp JOIN gp ON gp.pos = lp.pos
        GROUP BY lp.label
    """,
)
def q_embed_label_compactness(spark, sf_dir):
    """FULL-VECTOR variance decomposition per label: within-label
    scatter (Σ over dims of the sxx − sx²/n identity) and
    between-label scatter (n·‖μ_label − μ_global‖², integer means)
    — the Fisher-criterion pieces at vector grain, extending the
    norm-only ANOVA (#220): bss/wss per label says whether labels
    are separable clusters or arbitrary tags (drives whether
    label-stratified sampling or label-prop eval means anything).
    One corpus posexplode, then label×DIMS-bounded algebra."""
    emb = load_table(spark, sf_dir, "embeddings")
    comps = emb.select(
        "label", F.posexplode("embedding").alias("pos", "c")
    ).select(
        "label",
        "pos",
        F.floor(F.col("c").cast("double") * 1000000)
        .cast("long")
        .alias("x"),
    )
    lp = comps.groupBy("label", "pos").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    gp = lp.groupBy("pos").agg(
        F.sum("sx").alias("gsx"), F.sum("n").alias("gn")
    )
    return (
        lp.join(gp, "pos")
        .groupBy("label")
        .agg(
            F.min("n").cast("long").alias("n_vecs"),
            F.sum(F.expr("sxx - (sx * sx) div n"))
            .cast("long")
            .alias("wss_e12"),
            F.sum(
                F.expr(
                    "n * ((sx div n) - (gsx div gn))"
                    " * ((sx div n) - (gsx div gn))"
                )
            )
            .cast("long")
            .alias("bss_e12"),
        )
    )


@query(
    "mm_frame_dedup",
    oracle=f"""
        WITH frames AS ({_mm.MM_FRAME_SAMPLE_SQL})
        , ranked AS (
            SELECT doc_id, frame_idx, frame_md5,
                   row_number() OVER (
                       PARTITION BY frame_md5
                       ORDER BY doc_id ASC, frame_idx ASC) AS rn
            FROM frames)
        SELECT doc_id, frame_idx, (rn = 1) AS keep
        FROM ranked
    """,
)
def q_mm_frame_dedup(spark, sf_dir):
    """Cross-corpus FRAME dedup: the line-dedup discipline (#226)
    applied at frame grain over the sampled-frame table (#83) —
    repeated intros/watermarks/test patterns collapse to their
    first (doc, frame) occurrence corpus-wide, the multimodal twin
    of line-level text dedup (a video pipeline dedups frames
    before feature extraction for exactly this reason). One
    frame-hash-keyed rank window over the frame table (bounded:
    N_FRAMES per doc)."""
    from pyspark.sql import Window

    frames = QUERIES["mm_frame_sample"](spark, sf_dir).select(
        "doc_id", "frame_idx", "frame_md5"
    )
    w = Window.partitionBy("frame_md5").orderBy(
        F.col("doc_id").asc(), F.col("frame_idx").asc()
    )
    return (
        frames.withColumn("rn", F.row_number().over(w))
        .select(
            "doc_id", "frame_idx", (F.col("rn") == 1).alias("keep")
        )
    )


@query("dedup_minhash_k_sweep", oracle=_dedup.minhash_k_sweep_sql("duck"))
def q_dedup_minhash_k_sweep(spark, sf_dir):
    """MinHash hash-count calibration: estimate error vs exact
    Jaccard at k = 4/8/12 hashes over the SAME LSH candidate pairs —
    completes the tuning family (#110 per-pair calibration, #176
    band-shape S-curve, #190 threshold sweep) with the
    accuracy-per-hash curve that justifies NUM_MINHASH: error should
    shrink ~1/√k, and a k where it plateaus is signature budget
    wasted. Signatures, candidates, and exact intersections compute
    once; the k-arms read a bounded per-pair table."""
    docs = load_table(spark, sf_dir, "documents")
    sh = _dedup.shingles(docs)
    sig = _dedup.minhash_signatures(sh)
    cand = _dedup.lsh_candidates(sig)
    jac = _dedup._pair_jaccard(sh, pairs=cand).select(
        "doc_a",
        "doc_b",
        F.expr("(10000 * inter) div uni").alias("exact_bp"),
    )
    a = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[
            F.col(f"mh{j}").alias(f"a{j}")
            for j in range(_dedup.NUM_MINHASH)
        ],
    )
    b = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[
            F.col(f"mh{j}").alias(f"b{j}")
            for j in range(_dedup.NUM_MINHASH)
        ],
    )
    scored = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .join(jac, ["doc_a", "doc_b"], "left")
        .select(
            *[
                F.expr(
                    " + ".join(
                        f"(CASE WHEN a{j} = b{j} THEN 1 ELSE 0 END)"
                        for j in range(k)
                    )
                )
                .cast("long")
                .alias(f"m{k}")
                for k in _dedup.MINHASH_K_SWEEP
            ],
            F.coalesce(F.col("exact_bp"), F.lit(0)).alias("exact_bp"),
        )
        .localCheckpoint()
    )
    arms = []
    for k in _dedup.MINHASH_K_SWEEP:
        err = F.abs(F.expr(f"(10000 * m{k}) div {k}") - F.col("exact_bp"))
        arms.append(
            scored.agg(
                F.lit(k).cast("long").alias("k"),
                F.count(F.lit(1)).alias("n_pairs"),
                F.expr(
                    f"sum(ABS((10000 * m{k}) div {k} - exact_bp))"
                    " div count(1)"
                )
                .cast("long")
                .alias("mean_abs_err_bp"),
                F.max(err).cast("long").alias("max_abs_err_bp"),
            )
        )
    out = arms[0]
    for arm in arms[1:]:
        out = out.unionByName(arm)
    return out


# ---------------------------------------------------------------------------
# R9: graph structure metrics over the KNN graph
# ---------------------------------------------------------------------------

_ASSORT_UEDGES_DUCK = """
        {ctes}
        , uedges AS MATERIALIZED (
            SELECT vec_id AS src, neighbor_id AS dst FROM knn
            UNION
            SELECT neighbor_id, vec_id FROM knn)
"""


def _assort_body_sql(div: str) -> str:
    """Degree-assortativity report body over ``uedges(src, dst)``.

    Pearson r over the directed edge list of (deg(src), deg(dst))
    pairs — the standard undirected formulation, since every edge
    appears in both orientations. sqrt-free: we report the covariance
    and variance NUMERATORS (m·Σxy − Σx·Σy etc.) exactly, plus the
    SIGNED r² in e6 (sign(cov)·10⁶·cov² / (varx·vary)) so both
    engines agree bit-for-bit without a square root. Products of two
    ~e14 numerators need 128-bit intermediates: HUGEINT (duck) /
    DECIMAL(38,0) (spark)."""
    big = "HUGEINT" if div == "//" else "DECIMAL(38,0)"
    return f"""
        , deg AS (
            SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
            FROM uedges GROUP BY src)
        , ed AS (
            SELECT da.d AS x, db.d AS y
            FROM uedges e
            JOIN deg da ON da.node = e.src
            JOIN deg db ON db.node = e.dst)
        , s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS m,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(x * x) AS BIGINT) AS sxx,
                   CAST(SUM(y * y) AS BIGINT) AS syy,
                   CAST(SUM(x * y) AS BIGINT) AS sxy
            FROM ed)
        , nums AS (
            SELECT m,
                   CAST(m AS {big}) * sxy - CAST(sx AS {big}) * sy
                       AS cov_num,
                   CAST(m AS {big}) * sxx - CAST(sx AS {big}) * sx
                       AS varx_num,
                   CAST(m AS {big}) * syy - CAST(sy AS {big}) * sy
                       AS vary_num
            FROM s)
        SELECT m AS n_directed_edges,
               CAST(cov_num AS BIGINT) AS cov_num,
               CAST(varx_num AS BIGINT) AS varx_num,
               CAST(vary_num AS BIGINT) AS vary_num,
               CAST(CASE WHEN varx_num = 0 OR vary_num = 0 THEN 0
                    ELSE (CASE WHEN cov_num < 0 THEN -1 ELSE 1 END)
                         * ((CAST(1000000 AS {big}) * cov_num * cov_num)
                            {div} (varx_num * vary_num))
                    END AS BIGINT) AS assort_r2_signed_e6
        FROM nums
    """


@query(
    "graph_assortativity_knn",
    oracle=_ASSORT_UEDGES_DUCK.format(
        ctes="WITH knn AS MATERIALIZED ("
        + _sim.graph_edges_sql("duck") + ")"
    )
    + _assort_body_sql("//"),
)
def q_graph_assortativity_knn(spark, sf_dir):
    """Degree assortativity of the KNN graph — do hubs link to hubs
    (r > 0, social-network-like) or to the periphery (r < 0,
    core-periphery / hub-spoke)? The one-number structural summary
    that tells an ANN operator whether hubness (#248's margin
    collapse) is concentrated or diffuse, and whether the k-core
    (#249) will peel in thin shells or collapse at once. One degree
    aggregate + one edge-degree join over the checkpointed edge
    list; the report is a single row of exact integer moment
    numerators (sqrt-free signed r² — see _assort_body_sql).
    128-bit products via DECIMAL(38,0)/HUGEINT, the DSIR discipline
    (#119)."""
    _knn_uedges_view(spark, sf_dir)
    return spark.sql(
        "WITH uedges AS (SELECT src, dst FROM knn_uedges_mat)"
        + _assort_body_sql("div")
    )


_EMB_WITNESS_CAP = 64  # hubs above this degree don't serve as witnesses


def _embeddedness_body_sql() -> str:
    """Edge-embeddedness body over ``uedges(src, dst)``: for every
    undirected edge (a < b), the count of common neighbors and the
    neighborhood-Jaccard share in bp. Wedge join is witness-capped
    (degree ≤ {cap}) — identical df-cap discipline to link-pred
    (#157) and containment (#127): Θ(Σ_w≤cap deg(w)²) instead of
    hub-quadratic, common counts a documented lower bound on
    hub-adjacent edges (exact at test SF, pinned in pytest). The
    union denominator excludes the endpoints themselves
    (deg_a + deg_b − common − 2); a 0/0 edge (two degree-1 nodes)
    reports 0 bp.""".replace("{cap}", str(_EMB_WITNESS_CAP))
    return f"""
        , deg AS (
            SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
            FROM uedges GROUP BY src)
        , wit AS (SELECT node FROM deg WHERE d <= {_EMB_WITNESS_CAP})
        , wedge AS (
            SELECT e1.dst AS a, e2.dst AS b
            FROM uedges e1
            JOIN wit w ON w.node = e1.src
            JOIN uedges e2 ON e2.src = e1.src AND e1.dst < e2.dst)
        , cn AS (
            SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c
            FROM wedge GROUP BY a, b)
        , canon AS (SELECT src AS a, dst AS b FROM uedges WHERE src < dst)
        SELECT e.a, e.b, da.d AS deg_a, db.d AS deg_b,
               COALESCE(cn.c, 0) AS common_neighbors,
               CAST(CASE WHEN da.d + db.d - COALESCE(cn.c, 0) - 2 <= 0
                    THEN 0
                    ELSE (10000 * COALESCE(cn.c, 0))
                         / (da.d + db.d - COALESCE(cn.c, 0) - 2)
                    END AS BIGINT) AS embeddedness_bp,
               COALESCE(cn.c, 0) = 0 AS is_local_bridge
        FROM canon e
        JOIN deg da ON da.node = e.a
        JOIN deg db ON db.node = e.b
        LEFT JOIN cn ON cn.a = e.a AND cn.b = e.b
    """


@query(
    "graph_edge_embeddedness_knn",
    oracle=_ASSORT_UEDGES_DUCK.format(
        ctes="WITH knn AS MATERIALIZED ("
        + _sim.graph_edges_sql("duck") + ")"
    )
    + _embeddedness_body_sql().replace("/ (da.d", "// (da.d"),
)
def q_graph_edge_embeddedness_knn(spark, sf_dir):
    """Edge embeddedness (Granovetter weak ties) over the KNN
    graph: per EXISTING edge, common-neighbor count and
    neighborhood-Jaccard bp — the complement of link-pred (#157,
    which scores NON-edges): embeddedness ≈ 0 marks local bridges,
    the edges that glue otherwise-separate similarity regions
    together and that community detection (#148/#187) is most
    likely to cut; high embeddedness marks redundant intra-cluster
    edges a graph-sparsification pass could drop first. Same
    witness-capped wedge join as the triangle counter — linear in
    capped wedges, never hub-quadratic; edge list built once and
    checkpointed."""
    _knn_uedges_view(spark, sf_dir)
    return spark.sql(
        "WITH uedges AS (SELECT src, dst FROM knn_uedges_mat)"
        + _embeddedness_body_sql().replace(
            "/ (da.d", "div (da.d"
        )
    )


@query(
    "events_user_type_diversity",
    oracle="""
        WITH tc AS (
            SELECT user_id, event_type,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM events GROUP BY user_id, event_type)
        SELECT user_id,
               CAST(SUM(c) AS BIGINT) AS n_events,
               CAST(COUNT(*) AS BIGINT) AS n_types,
               CAST((10000 * MAX(c)) // SUM(c) AS BIGINT)
                   AS dominant_share_bp,
               CAST((10000 * (SUM(c) * SUM(c) - SUM(c * c)))
                    // (SUM(c) * SUM(c)) AS BIGINT) AS simpson_bp
        FROM tc GROUP BY user_id
    """,
)
def q_events_user_type_diversity(spark, sf_dir):
    """Behavioral diversity per user WITHOUT logarithms: the
    Gini–Simpson index 1 − Σp² as an exact rational in bp
    (10000·(N² − Σc²)/N², integer counts only — the log-free twin
    of Shannon entropy, same ranking for the screening purpose),
    plus the dominant-type share. 0 bp = single-behavior bots /
    scrapers, high bp = genuine multi-surface users — the
    per-user mixing signal that volume-side skew views (#233 Gini,
    #178 HHI) can't see. Two hash aggregates, both with map-side
    partial aggregation; second is user-grain (bounded by users ×
    |type vocab| intermediate)."""
    ev = load_table(spark, sf_dir, "events")
    tc = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    return tc.groupBy("user_id").agg(
        F.sum("c").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.expr("(10000 * max(c)) div sum(c)")
        .cast("long")
        .alias("dominant_share_bp"),
        F.expr(
            "(10000 * (sum(c) * sum(c) - sum(c * c)))"
            " div (sum(c) * sum(c))"
        )
        .cast("long")
        .alias("simpson_bp"),
    )


@query(
    "orders_purchase_cadence",
    oracle="""
        WITH seq AS (
            SELECT o_custkey, o_orderdate,
                   lag(o_orderdate) OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey) AS prev_dt
            FROM orders)
        , gaps AS (
            SELECT o_custkey,
                   CAST((epoch_us(o_orderdate) - epoch_us(prev_dt))
                        // 86400000000 AS BIGINT) AS gap_d
            FROM seq WHERE prev_dt IS NOT NULL)
        , med AS (
            SELECT o_custkey, gap_d AS median_gap_days
            FROM (
                SELECT o_custkey, gap_d,
                       row_number() OVER (
                           PARTITION BY o_custkey ORDER BY gap_d) AS rn,
                       COUNT(*) OVER (PARTITION BY o_custkey) AS n
                FROM gaps)
            WHERE rn = (n + 1) // 2)
        , cust AS (
            SELECT o_custkey,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   MAX(o_orderdate) AS last_dt
            FROM orders GROUP BY o_custkey)
        , hw AS (SELECT MAX(o_orderdate) AS hwm FROM orders)
        SELECT c.o_custkey, c.n_orders, m.median_gap_days,
               CAST((epoch_us(hw.hwm) - epoch_us(c.last_dt))
                    // 86400000000 AS BIGINT) AS recency_days,
               CAST((100 * ((epoch_us(hw.hwm) - epoch_us(c.last_dt))
                    // 86400000000))
                    // GREATEST(m.median_gap_days, 1) AS BIGINT)
                   AS cadence_ratio_x100,
               ((epoch_us(hw.hwm) - epoch_us(c.last_dt)) // 86400000000)
                   > 2 * GREATEST(m.median_gap_days, 1) AS churned
        FROM cust c JOIN med m ON m.o_custkey = c.o_custkey
        CROSS JOIN hw
    """,
)
def q_orders_purchase_cadence(spark, sf_dir):
    """SELF-relative churn: each repeat customer's median
    inter-order gap (exact lower-median order statistic, the #234
    formulation) vs days since their last order at the data's
    high-water mark — churned = recency > 2× OWN median cadence.
    Population-relative recency quintiles (#170 RFM) call every
    infrequent-but-regular buyer cold; cadence-relative
    classification is what retention teams actually page on. One
    customer-keyed sort window for gaps (same shuffle the running-
    total timeline #258 already pays), customer-grain algebra
    after; the high-water mark is a single-row broadcast, not a
    driver collect."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    day_us = 86400000000
    gaps = (
        o.select(
            "o_custkey",
            "o_orderdate",
            F.lag("o_orderdate").over(w).alias("prev_dt"),
        )
        .where(F.col("prev_dt").isNotNull())
        .select(
            "o_custkey",
            (
                (
                    F.unix_micros("o_orderdate")
                    - F.unix_micros("prev_dt")
                )
                / F.lit(day_us)
            )
            .cast("long")
            .alias("gap_d"),
        )
    )
    wg = Window.partitionBy("o_custkey").orderBy(F.col("gap_d").asc())
    wn = Window.partitionBy("o_custkey")
    med = (
        gaps.withColumn("rn", F.row_number().over(wg))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .where(F.expr("rn = (n + 1) div 2"))
        .select("o_custkey", F.col("gap_d").alias("median_gap_days"))
    )
    cust = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.max("o_orderdate").alias("last_dt"),
    )
    hw = o.agg(F.max("o_orderdate").alias("hwm"))
    rec = (
        (F.unix_micros(F.col("hwm")) - F.unix_micros(F.col("last_dt")))
        / F.lit(day_us)
    ).cast("long")
    med_floor = F.greatest(F.col("median_gap_days"), F.lit(1))
    return (
        cust.join(med, "o_custkey")
        .crossJoin(F.broadcast(hw))
        .select(
            "o_custkey",
            "n_orders",
            "median_gap_days",
            rec.alias("recency_days"),
            F.expr(
                "(100 * ((unix_micros(hwm) - unix_micros(last_dt))"
                " div 86400000000))"
                " div GREATEST(median_gap_days, 1)"
            )
            .cast("long")
            .alias("cadence_ratio_x100"),
            (rec > 2 * med_floor).alias("churned"),
        )
    )


_HOT_KEY_TOPK = 8
_HOT_KEY_BP = 100  # keys above 1% of a table's traffic are "hot"


@query(
    "cdc_hot_key_report",
    oracle=f"""
        WITH {_BINLOG_LOG_CTE}
        , kc AS (
            SELECT tbl, key_id, CAST(COUNT(*) AS BIGINT) AS n_events
            FROM binlog WHERE key_id IS NOT NULL
            GROUP BY tbl, key_id)
        , tot AS (
            SELECT tbl, CAST(SUM(n_events) AS BIGINT) AS t
            FROM kc GROUP BY tbl)
        , ranked AS (
            SELECT kc.tbl, kc.key_id, kc.n_events,
                   CAST(row_number() OVER (
                       PARTITION BY kc.tbl
                       ORDER BY kc.n_events DESC, kc.key_id ASC)
                       AS BIGINT) AS rnk,
                   CAST((10000 * kc.n_events) // t.t AS BIGINT)
                       AS share_bp
            FROM kc JOIN tot t ON t.tbl = kc.tbl)
        SELECT tbl, key_id, rnk, n_events, share_bp,
               share_bp > {_HOT_KEY_BP} AS is_hot,
               CAST(CASE WHEN share_bp > {_HOT_KEY_BP}
                    THEN (share_bp * 32) // 10000 + 1 ELSE 1 END
                    AS BIGINT) AS salt_buckets
        FROM ranked WHERE rnk <= {_HOT_KEY_TOPK}
    """,
)
def q_cdc_hot_key_report(spark, sf_dir):
    """Hot-key detector per CDC table: the top-{k} keys by event
    share (bp) with a concrete salting prescription — salt_buckets
    = ceil-ish of the key's share of a 32-slot shuffle round
    (share_bp·32/10⁴ + 1), i.e. how many sub-keys it takes before
    no reducer sees more than ~1/32 of the table's traffic. This is
    the MEASUREMENT that decides when the salted-agg/join rewrites
    (#38/#136) are worth their extra pre-aggregation: text-side
    heavy hitters (#105) found hot TOKENS; this finds hot KEYS on
    the write path, where one viral row turns a partitioned upsert
    into a straggler. Key-grain aggregate (map-side combined) +
    per-table top-K via TakeOrdered-style rank window — never a
    global sort; the rank window partitions by table.""".replace(
        "{k}", str(_HOT_KEY_TOPK)
    )
    from pyspark.sql import Window

    raw = read_binlog_jvm(spark, sf_dir)
    kc = (
        raw.where(F.col("primary_keys")["key_id"].isNotNull())
        .select(
            F.col("table").alias("tbl"),
            F.col("primary_keys")["key_id"].cast("long").alias("key_id"),
        )
        .groupBy("tbl", "key_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    tot = kc.groupBy("tbl").agg(F.sum("n_events").alias("t"))
    w = Window.partitionBy("tbl").orderBy(
        F.col("n_events").desc(), F.col("key_id").asc()
    )
    ranked = (
        kc.join(F.broadcast(tot), "tbl")
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .withColumn(
            "share_bp", F.expr("(10000 * n_events) div t").cast("long")
        )
    )
    return ranked.where(F.col("rnk") <= _HOT_KEY_TOPK).select(
        "tbl",
        "key_id",
        "rnk",
        F.col("n_events").cast("long").alias("n_events"),
        "share_bp",
        (F.col("share_bp") > _HOT_KEY_BP).alias("is_hot"),
        F.expr(
            f"CASE WHEN share_bp > {_HOT_KEY_BP}"
            " THEN (share_bp * 32) div 10000 + 1 ELSE 1 END"
        )
        .cast("long")
        .alias("salt_buckets"),
    )


_PCA_ROUNDS = 3


def _pca_fd(a: str, b: str, div: str) -> str:
    """Floor division a/b (b > 0) that is IDENTICAL on both engines
    even for negative a: subtract the positive remainder first, then
    divide exactly — Spark's `div` truncates toward zero while
    DuckDB's `//` floors, so raw integer division of a negative
    numerator silently disagrees by one."""
    return (
        f"((({a}) - (((({a}) % ({b})) + ({b})) % ({b}))) {div} ({b}))"
    )


def _pca_comps_cte(dialect: str) -> str:
    """(vec_id, pos, x=floor(c*1e6)) exploded components, per
    dialect (duck: generate_subscripts/unnest; spark: posexplode)."""
    if dialect == "duck":
        return """
            SELECT vec_id,
                   generate_subscripts(embedding, 1) - 1 AS pos,
                   CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE)
                        * 1000000) AS BIGINT) AS x
            FROM embeddings"""
    return """
            SELECT vec_id, pos,
                   CAST(FLOOR(CAST(c AS DOUBLE) * 1000000) AS BIGINT)
                       AS x
            FROM embeddings
            LATERAL VIEW posexplode(embedding) t AS pos, c"""


def _pca_mu_body(div: str) -> str:
    return f"""
            SELECT pos, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST({_pca_fd('SUM(x)', 'COUNT(*)', div)} AS BIGINT)
                       AS m
            FROM comps GROUP BY pos"""


def _pca_cov_body(mu: str) -> str:
    """Centered outer-product aggregate over ``comps`` + mean
    relation ``{mu}(pos, m)`` — the ONE corpus-scale pass (classic
    two-pass mean-then-covariance; rows×dims² products collapse
    map-side into a dims²-bounded partial per partition, the
    Gram-matrix treeAggregate shape MLlib's RowMatrix uses; the
    shuffle moves only n_partitions×dims² rows at any SF)."""
    return f"""
            SELECT a.pos AS p, b.pos AS q,
                   CAST(SUM(a.cx * b.cx) AS BIGINT) AS c
            FROM (SELECT c.vec_id, c.pos, c.x - m.m AS cx
                  FROM comps c JOIN {mu} m ON m.pos = c.pos) a
            JOIN (SELECT c.vec_id, c.pos, c.x - m.m AS cx
                  FROM comps c JOIN {mu} m ON m.pos = c.pos) b
                ON b.vec_id = a.vec_id
            GROUP BY a.pos, b.pos"""


def _pca_round_body(cov: str, prev: str, div: str, big: str) -> str:
    """One power-iteration round over materialized ``{cov}(p,q,c)``:
    matvec in 128-bit, then max-abs normalization back to e3 via
    posrem floor division (cross-engine safe for negative
    components)."""
    return f"""
            SELECT w.p,
                   CAST({_pca_fd('1000 * w.w', 'm.mx', div)} AS BIGINT)
                       AS v
            FROM (SELECT cov.p,
                         CAST(SUM(CAST(cov.c AS {big}) * pv.v)
                              AS {big}) AS w
                  FROM {cov} cov JOIN {prev} pv ON pv.p = cov.q
                  GROUP BY cov.p) w
            CROSS JOIN (
                  SELECT MAX(ABS(w2.w)) AS mx
                  FROM (SELECT CAST(SUM(CAST(cov.c AS {big}) * pv.v)
                               AS {big}) AS w
                        FROM {cov} cov JOIN {prev} pv ON pv.p = cov.q
                        GROUP BY cov.p) w2) m"""


def _pca_final_body(cov: str, mu: str, last: str, div: str, big: str) -> str:
    return f"""
        , wf AS (
            SELECT cov.p,
                   CAST(SUM(CAST(cov.c AS {big}) * lv.v)
                        AS {big}) AS w
            FROM {cov} cov JOIN {last} lv ON lv.p = cov.q
            GROUP BY cov.p)
        , ray AS (
            SELECT CAST(SUM(CAST(lv.v AS {big}) * wf.w)
                        AS {big}) AS num,
                   CAST(SUM(lv.v * lv.v) AS BIGINT) AS den
            FROM {last} lv JOIN wf ON wf.p = lv.p)
        , tr AS (SELECT CAST(SUM(c) AS BIGINT) AS trace
                 FROM {cov} WHERE p = q)
        SELECT lv.p AS pos, mu.m AS mean_e6, lv.v AS pc1_e3,
               CAST({_pca_fd('10000 * ray.num',
                             f'CAST(ray.den AS {big}) * tr.trace', div)}
                    AS BIGINT) AS eigen_share_bp,
               tr.trace AS cov_trace
        FROM {last} lv
        JOIN {mu} mu ON mu.pos = lv.p
        CROSS JOIN ray CROSS JOIN tr
    """


def _pca_oracle_sql() -> str:
    """DuckDB single-statement twin. Multiply-referenced chains are
    AS MATERIALIZED (DuckDB inlines CTEs otherwise — the cov chain
    is referenced by every round plus the trace; see the verify
    skill's CTE-inlining gotcha)."""
    div, big = "//", "HUGEINT"
    sql = f"""
        WITH comps AS MATERIALIZED ({_pca_comps_cte('duck')})
        , mu AS MATERIALIZED ({_pca_mu_body(div)})
        , cov AS MATERIALIZED ({_pca_cov_body('mu')})
        , v0 AS (SELECT pos AS p, CAST(1000 AS BIGINT) AS v FROM mu)"""
    prev = "v0"
    for i in range(1, _PCA_ROUNDS + 1):
        sql += f"""
        , v{i} AS MATERIALIZED ({_pca_round_body('cov', prev, div, big)})"""
        prev = f"v{i}"
    return sql + _pca_final_body("cov", "mu", prev, div, big)


@query("embed_pca_top_direction", oracle=_pca_oracle_sql())
def q_embed_pca_top_direction(spark, sf_dir):
    """Top principal direction + variance share of the embedding
    corpus, computed bit-identically on both engines: integer
    covariance (floor-mean centered, e6 inputs), three unrolled
    power-iteration rounds with max-abs e3 normalization, Rayleigh-
    quotient variance share in bp against the covariance trace. The
    anisotropy probe that explains WHY cosine histograms (#214)
    bunch and how much a JL/PQ budget (#185/#138) must spend on the
    dominant axis; a share near 10000 bp says the corpus is nearly
    rank-1 (embedding collapse — a real training-failure signal).

    Scale shape: TWO corpus passes (mean, then the centered
    Gram-matrix aggregate — see _pca_cov_body) and then ONLY
    dims-bounded algebra. The mean (64 rows) and covariance (4096
    rows) relations are MATERIALIZED before the iteration — glued
    into one plan, Catalyst re-derives the corpus self-join once
    per round reference and the tree grows exponentially (observed:
    242 exchanges / 201 Generates before materialization, ~20
    after; same embed_keep_list lesson). Each round's v is also
    checkpointed, so round plans stay flat. Division is
    posrem-floored everywhere so negative components can't split
    the engines (_pca_fd); DuckDB twin uses AS MATERIALIZED for the
    same reason (CTE inlining)."""
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView(
        "embeddings"
    )
    div, big = "div", "DECIMAL(38,0)"
    mu = spark.sql(
        f"WITH comps AS ({_pca_comps_cte('spark')}) {_pca_mu_body(div)}"
    ).localCheckpoint()
    mu.createOrReplaceTempView("pca_mu_mat")
    cov = spark.sql(
        f"WITH comps AS ({_pca_comps_cte('spark')})"
        f" {_pca_cov_body('pca_mu_mat')}"
    ).localCheckpoint()
    cov.createOrReplaceTempView("pca_cov_mat")
    v = spark.sql(
        "SELECT pos AS p, CAST(1000 AS BIGINT) AS v FROM pca_mu_mat"
    ).localCheckpoint()
    v.createOrReplaceTempView("pca_v_mat_0")
    for i in range(1, _PCA_ROUNDS + 1):
        v = spark.sql(
            _pca_round_body("pca_cov_mat", f"pca_v_mat_{i - 1}", div, big)
        ).localCheckpoint()
        v.createOrReplaceTempView(f"pca_v_mat_{i}")
    return spark.sql(
        "WITH placeholder AS (SELECT 1)"
        + _pca_final_body(
            "pca_cov_mat", "pca_mu_mat", f"pca_v_mat_{_PCA_ROUNDS}", div, big
        )
    )


def _stl_sql(dialect: str) -> str:
    """Classical additive decomposition of the daily event-count
    series: trend = centered 7-day moving average (full-window rows
    only, guarded by count AND span so a gappy grid can't fake a
    window), seasonal = per-day-of-week floor-mean of the detrended
    series, residual = the exact remainder. Day-of-week is
    epoch-day mod 7 on BOTH engines (DuckDB dayofweek starts
    Sunday=0, Spark Sunday=1 — a silent off-by-one). All integer:
    counts, floor means via posrem division (detrended goes
    negative). The corpus-scale work is the one day aggregate; the
    windows run on the DAY-grain series (bounded by the calendar,
    not the data — the #57 rolling-7d discipline)."""
    div = "//" if dialect == "duck" else "div"
    day = (
        "date_trunc('day', ts)"
    )
    sql = f"""
        WITH daily AS (
            SELECT {day} AS day, CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY {day})
        , ma AS (
            SELECT day, n,
                   CAST(SUM(n) OVER w AS BIGINT) AS s7,
                   CAST(COUNT(*) OVER w AS BIGINT) AS c7,
                   MIN(day) OVER w AS d_lo,
                   MAX(day) OVER w AS d_hi
            FROM daily
            WINDOW w AS (ORDER BY day
                         ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING))
        , full_w AS (
            SELECT day, n, CAST(s7 {div} 7 AS BIGINT) AS trend,
                   n - (s7 {div} 7) AS det,
                   CAST((epoch_us(day) {div} 86400000000) % 7
                        AS BIGINT) AS dow
            FROM ma
            WHERE c7 = 7
              AND (epoch_us(d_hi) - epoch_us(d_lo)) {div} 86400000000
                  = 6)
        , seas AS (
            SELECT dow,
                   CAST({_pca_fd('SUM(det)', 'COUNT(*)', div)}
                        AS BIGINT) AS s
            FROM full_w GROUP BY dow)
        SELECT f.day, f.n AS n_events, f.trend AS trend_ma7,
               s.s AS seasonal_dow,
               CAST(f.det - s.s AS BIGINT) AS residual
        FROM full_w f JOIN seas s ON s.dow = f.dow
    """
    if dialect == "spark":
        sql = sql.replace("epoch_us(", "unix_micros(")
    return sql


@query("events_stl_decomposition", oracle=_stl_sql("duck"))
def q_events_stl_decomposition(spark, sf_dir):
    """Additive trend/seasonal/residual decomposition of daily event
    volume — the classical STL-shaped split, exact in integers: the
    baseline every anomaly screen in the family (#99 hourly, #206
    CUSUM, #244 MAD) implicitly assumes. residual isolates what's
    left after the week-shape and the level — the series a capacity
    planner actually alerts on; conservation n = trend + seasonal +
    residual holds EXACTLY by construction (pinned in pytest, both
    engines bit-identical via posrem floor means). See _stl_sql for
    the calendar-bounded window shape."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "events"
    )
    return spark.sql(_stl_sql("spark"))


@query(
    "events_feature_adoption",
    oracle="""
        WITH first_use AS (
            SELECT user_id, event_type,
                   date_trunc('day', MIN(ts)) AS first_day
            FROM events GROUP BY user_id, event_type)
        , adopt AS (
            SELECT event_type, first_day AS day,
                   CAST(COUNT(*) AS BIGINT) AS new_adopters
            FROM first_use GROUP BY event_type, first_day)
        , tot AS (
            SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
            FROM events)
        SELECT a.event_type, a.day, a.new_adopters,
               CAST(SUM(a.new_adopters) OVER (
                   PARTITION BY a.event_type ORDER BY a.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_adopters,
               CAST((10000 * CAST(SUM(a.new_adopters) OVER (
                   PARTITION BY a.event_type ORDER BY a.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT)) // t.n_users AS BIGINT)
                   AS adoption_bp
        FROM adopt a CROSS JOIN tot t
    """,
)
def q_events_feature_adoption(spark, sf_dir):
    """Feature-adoption curve: per event type and day, users whose
    FIRST use of that type lands on that day, the running adopter
    count, and the share of the whole user base in bp — the
    product-analytics S-curve that DAU/stickiness (#146) and
    retention (#195) don't give you (those count activity, this
    counts first-touch). One (user, type) min-aggregate over the
    corpus (map-side combined), then day×type-bounded algebra; the
    cumulative window partitions by type over the day grid, and the
    user-base total is a single-row broadcast."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    first = ev.groupBy("user_id", "event_type").agg(
        F.date_trunc("day", F.min("ts")).alias("first_day")
    )
    adopt = first.groupBy(
        "event_type", F.col("first_day").alias("day")
    ).agg(F.count(F.lit(1)).alias("new_adopters"))
    tot = ev.agg(F.countDistinct("user_id").alias("n_users"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        adopt.crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "day",
            F.col("new_adopters").cast("long").alias("new_adopters"),
            F.sum("new_adopters").over(w).cast("long").alias(
                "cum_adopters"
            ),
            F.expr(
                "(10000 * sum(new_adopters) OVER ("
                "PARTITION BY event_type ORDER BY day"
                " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))"
                " div n_users"
            )
            .cast("long")
            .alias("adoption_bp"),
        )
    )


def _pca_ray_body(cov: str, v: str, div: str, big: str) -> str:
    """Rayleigh pieces (num = vᵀCv in 128-bit, den = vᵀv) over
    materialized ``{cov}`` and ``{v}``."""
    return f"""
            SELECT CAST(SUM(CAST(lv.v AS {big}) * wf.w) AS {big})
                       AS num,
                   CAST(SUM(lv.v * lv.v) AS BIGINT) AS den
            FROM {v} lv
            JOIN (SELECT cov.p,
                         CAST(SUM(CAST(cov.c AS {big}) * pv.v)
                              AS {big}) AS w
                  FROM {cov} cov JOIN {v} pv ON pv.p = cov.q
                  GROUP BY cov.p) wf ON wf.p = lv.p"""


def _pca_deflate_body(cov: str, v: str, ray: str, div: str, big: str) -> str:
    """Hotelling deflation C' = C − λ·vvᵀ/(vᵀv) in exact integers:
    subtracted entry = fd(num·v_p·v_q, den²) with num/den the
    Rayleigh pieces — posrem-floored so both engines produce the
    SAME deflated matrix bit-for-bit (num·v_p·v_q ≤ ~1e30, den² ≤
    ~4e15: both inside 128-bit)."""
    sub = _pca_fd(
        "ray.num * a.v * b.v", f"CAST(ray.den AS {big}) * ray.den", div
    )
    return f"""
            SELECT cov.p, cov.q,
                   CAST(cov.c - {sub} AS BIGINT) AS c
            FROM {cov} cov
            JOIN {v} a ON a.p = cov.p
            JOIN {v} b ON b.p = cov.q
            CROSS JOIN {ray} ray"""


def _pca_top2_final(v1: str, v2: str, r1: str, r2: str, tr: str,
                    div: str, big: str) -> str:
    s1 = _pca_fd(
        "10000 * r1.num", f"CAST(r1.den AS {big}) * t.trace", div
    )
    s2 = _pca_fd(
        "10000 * r2.num", f"CAST(r2.den AS {big}) * t.trace", div
    )
    return f"""
        SELECT a.p AS pos, a.v AS pc1_e3, b.v AS pc2_e3,
               CAST({s1} AS BIGINT) AS share1_bp,
               CAST({s2} AS BIGINT) AS share2_bp,
               d.dot AS ortho_dot
        FROM {v1} a
        JOIN {v2} b ON b.p = a.p
        CROSS JOIN {r1} r1 CROSS JOIN {r2} r2
        CROSS JOIN (SELECT CAST(SUM(x.v * y.v) AS BIGINT) AS dot
                    FROM {v1} x JOIN {v2} y ON y.p = x.p) d
        CROSS JOIN {tr} t
    """


def _pca_top2_oracle() -> str:
    div, big = "//", "HUGEINT"
    sql = f"""
        WITH comps AS MATERIALIZED ({_pca_comps_cte('duck')})
        , mu AS MATERIALIZED ({_pca_mu_body(div)})
        , cov AS MATERIALIZED ({_pca_cov_body('mu')})
        , v0 AS (SELECT pos AS p, CAST(1000 AS BIGINT) AS v FROM mu)"""
    prev = "v0"
    for i in range(1, _PCA_ROUNDS + 1):
        sql += f"""
        , a{i} AS MATERIALIZED ({_pca_round_body('cov', prev, div, big)})"""
        prev = f"a{i}"
    v1 = prev
    sql += f"""
        , r1 AS MATERIALIZED ({_pca_ray_body('cov', v1, div, big)})
        , cov2 AS MATERIALIZED (
            {_pca_deflate_body('cov', v1, 'r1', div, big)})
        , b0 AS (SELECT pos AS p, CAST(1000 AS BIGINT) AS v FROM mu)"""
    prev = "b0"
    for i in range(1, _PCA_ROUNDS + 1):
        sql += f"""
        , b{i} AS MATERIALIZED ({_pca_round_body('cov2', prev, div, big)})"""
        prev = f"b{i}"
    v2 = prev
    sql += f"""
        , r2 AS MATERIALIZED ({_pca_ray_body('cov2', v2, div, big)})
        , tr AS (SELECT CAST(SUM(c) AS BIGINT) AS trace
                 FROM cov WHERE p = q)
        {_pca_top2_final(v1, v2, 'r1', 'r2', 'tr', div, big)}"""
    return sql


@query("embed_pca_top2", oracle=_pca_top2_oracle())
def q_embed_pca_top2(spark, sf_dir):
    """TOP-2 principal directions by Hotelling deflation: iterate to
    the dominant direction, subtract λ₁·v₁v₁ᵀ/(v₁ᵀv₁) from the
    covariance IN EXACT INTEGERS (posrem-floored — both engines
    deflate to the identical matrix), iterate again. Reports both
    e3 directions, each one's variance share against the ORIGINAL
    trace, and the v₁·v₂ dot product as the measured orthogonality
    defect of floor-integer deflation (pinned small in pytest).
    Extends #267 to the question a PQ/JL budget (#138/#185)
    actually asks — how much variance do the top FEW axes hold?
    Same scale shape as #267: two corpus passes, then everything is
    dims-bounded; cov, each iterate, Rayleigh pieces, and the
    deflated matrix are all materialized before composition (4096
    rows max), so no corpus subtree is ever re-derived."""
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView(
        "embeddings"
    )
    div, big = "div", "DECIMAL(38,0)"

    def mat(df, name):
        d = df.localCheckpoint()
        d.createOrReplaceTempView(name)
        return d

    mat(
        spark.sql(
            f"WITH comps AS ({_pca_comps_cte('spark')}) {_pca_mu_body(div)}"
        ),
        "p2_mu",
    )
    mat(
        spark.sql(
            f"WITH comps AS ({_pca_comps_cte('spark')})"
            f" {_pca_cov_body('p2_mu')}"
        ),
        "p2_cov",
    )
    mat(
        spark.sql("SELECT pos AS p, CAST(1000 AS BIGINT) AS v FROM p2_mu"),
        "p2_a0",
    )
    for i in range(1, _PCA_ROUNDS + 1):
        mat(
            spark.sql(_pca_round_body("p2_cov", f"p2_a{i - 1}", div, big)),
            f"p2_a{i}",
        )
    v1 = f"p2_a{_PCA_ROUNDS}"
    mat(spark.sql(_pca_ray_body("p2_cov", v1, div, big)), "p2_r1")
    mat(
        spark.sql(_pca_deflate_body("p2_cov", v1, "p2_r1", div, big)),
        "p2_cov2",
    )
    mat(
        spark.sql("SELECT pos AS p, CAST(1000 AS BIGINT) AS v FROM p2_mu"),
        "p2_b0",
    )
    for i in range(1, _PCA_ROUNDS + 1):
        mat(
            spark.sql(_pca_round_body("p2_cov2", f"p2_b{i - 1}", div, big)),
            f"p2_b{i}",
        )
    v2 = f"p2_b{_PCA_ROUNDS}"
    mat(spark.sql(_pca_ray_body("p2_cov2", v2, div, big)), "p2_r2")
    mat(
        spark.sql(
            "SELECT CAST(SUM(c) AS BIGINT) AS trace FROM p2_cov"
            " WHERE p = q"
        ),
        "p2_tr",
    )
    return spark.sql(
        "WITH placeholder AS (SELECT 1)"
        + _pca_top2_final(v1, v2, "p2_r1", "p2_r2", "p2_tr", div, big)
    )


@query("dedup_method_agreement", oracle=_dedup.method_agreement_sql())
def q_dedup_method_agreement(spark, sf_dir):
    """2×2 confusion grid between MinHash (bag-of-shingles estimate
    ≥ τ) and SimHash (64-bit profile Hamming ≤ 3) verdicts on the
    SAME MinHash-LSH candidate pairs, with per-cell mean exact
    Jaccard and mean Hamming — the cross-METHOD audit completing
    the within-method tuning family (#110 calibration, #176
    S-curve, #190 threshold sweep, #261 hash count): disagreement
    cells show which near-dup definition each family actually
    implements (reorderings land mh_only, frequency-profile twins
    land sh_only), the evidence for choosing the production gate.
    See operators/dedup.py:method_agreement for the
    O(docs+candidates) shape."""
    return _dedup.method_agreement(load_table(spark, sf_dir, "documents"))


@query(
    "events_power_user_curve",
    oracle="""
        WITH uc AS (
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY user_id)
        , ranked AS (
            SELECT user_id, n,
                   CAST(row_number() OVER (ORDER BY n, user_id)
                        AS BIGINT) AS rn,
                   CAST(COUNT(*) OVER () AS BIGINT) AS nu,
                   CAST(SUM(n) OVER () AS BIGINT) AS t
            FROM uc)
        , dec AS (
            SELECT ((rn - 1) * 10) // nu + 1 AS decile,
                   CAST(COUNT(*) AS BIGINT) AS n_users,
                   CAST(SUM(n) AS BIGINT) AS n_events,
                   MIN(t) AS t
            FROM ranked GROUP BY 1)
        SELECT CAST(decile AS BIGINT) AS decile, n_users, n_events,
               CAST((10000 * n_events) // t AS BIGINT) AS share_bp,
               CAST((10000 * CAST(SUM(n_events) OVER (
                   ORDER BY decile
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT)) // t AS BIGINT) AS cum_share_bp
        FROM dec
    """,
)
def q_events_power_user_curve(spark, sf_dir):
    """The Lorenz curve behind the Gini number (#233): users ranked
    by activity and cut into deciles, each decile's share and
    cumulative share of total events in bp — the table a capacity/
    abuse reviewer reads ("the top decile generates X% of load")
    where a single Gini coefficient hides the shape. The rank
    window is USER-grain — a dimension-bounded relation (the #233
    justification), not the fact table; the decile roll-up and the
    10-row cumulative window are constant-size."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    uc = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    wr = Window.orderBy(F.col("n").asc(), F.col("user_id").asc())
    ranked = uc.select(
        "n",
        F.row_number().over(wr).cast("long").alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("long").alias(
            "nu"
        ),
        F.sum("n").over(Window.partitionBy()).cast("long").alias("t"),
    )
    dec = ranked.groupBy(
        F.expr("((rn - 1) * 10) div nu + 1").cast("long").alias("decile")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("n").cast("long").alias("n_events"),
        F.min("t").alias("t"),
    )
    return dec.select(
        "decile",
        "n_users",
        "n_events",
        F.expr("(10000 * n_events) div t").cast("long").alias("share_bp"),
        F.expr(
            "(10000 * sum(n_events) OVER (ORDER BY decile"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) div t"
        )
        .cast("long")
        .alias("cum_share_bp"),
    )


_LIFT_TOP_TOKENS = 20


@query(
    "text_token_lift_pairs",
    oracle=f"""
        WITH dt AS (
            SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t
            FROM documents)
        , nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n
                 FROM documents)
        , df AS (
            SELECT t, CAST(COUNT(*) AS BIGINT) AS df
            FROM dt GROUP BY t)
        , top AS (
            SELECT t, df FROM (
                SELECT t, df, row_number() OVER (
                    ORDER BY df DESC, t ASC) AS rn
                FROM df)
            WHERE rn <= {_LIFT_TOP_TOKENS})
        , co AS (
            SELECT a.t AS tok_a, b.t AS tok_b,
                   CAST(COUNT(*) AS BIGINT) AS co_docs
            FROM dt a
            JOIN dt b ON b.doc_id = a.doc_id AND a.t < b.t
            JOIN top ta ON ta.t = a.t
            JOIN top tb ON tb.t = b.t
            GROUP BY a.t, b.t)
        SELECT c.tok_a, c.tok_b, ta.df AS df_a, tb.df AS df_b,
               c.co_docs,
               CAST((1000000 * c.co_docs * nd.n)
                    // (ta.df * tb.df) AS BIGINT) AS lift_ppm
        FROM co c
        JOIN top ta ON ta.t = c.tok_a
        JOIN top tb ON tb.t = c.tok_b
        CROSS JOIN nd
    """,
)
def q_text_token_lift_pairs(spark, sf_dir):
    """Collocation mining over the head vocabulary: for the top-{k}
    tokens by document frequency, every co-occurring pair's lift vs
    independence in ppm (10⁶·P(a,b)/(P(a)P(b)) as an exact integer
    rational) — the token-level twin of the event-transition lift
    (#253) and the association-rule mart (#Zipf/#BPE family's
    semantic complement): lift ≫ 10⁶ = phrase-like collocations a
    tokenizer should merge, lift ≪ 10⁶ = complementary-distribution
    tokens (topic separators). The corpus pass is one distinct
    (doc, token) projection; the pair join is restricted to the
    {k}-token head BEFORE it fans out (two broadcast semijoins), so
    the candidate space is ≤ C({k},2) per doc — vocabulary-head
    bounded, never corpus × vocab². Pairs with zero co-occurrence
    are absent by construction (they have no lift evidence and
    would make the output quadratic in the head size at no
    information gain).""".replace("{k}", str(_LIFT_TOP_TOKENS))
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    dt = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("t")
    ).distinct()
    nd = docs.agg(F.countDistinct("doc_id").alias("n"))
    df = dt.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    wr = Window.orderBy(F.col("df").desc(), F.col("t").asc())
    top = (
        df.withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") <= _LIFT_TOP_TOKENS)
        .select("t", "df")
    )
    a = dt.join(
        F.broadcast(top.select(F.col("t"), F.col("df").alias("df_a"))),
        "t",
    ).select("doc_id", F.col("t").alias("tok_a"), "df_a")
    b = dt.join(
        F.broadcast(top.select(F.col("t"), F.col("df").alias("df_b"))),
        "t",
    ).select("doc_id", F.col("t").alias("tok_b"), "df_b")
    co = (
        a.join(b, "doc_id")
        .where(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b", "df_a", "df_b")
        .agg(F.count(F.lit(1)).cast("long").alias("co_docs"))
    )
    return co.crossJoin(F.broadcast(nd)).select(
        "tok_a",
        "tok_b",
        F.col("df_a").cast("long").alias("df_a"),
        F.col("df_b").cast("long").alias("df_b"),
        "co_docs",
        F.expr("(1000000 * co_docs * n) div (df_a * df_b)")
        .cast("long")
        .alias("lift_ppm"),
    )


def _growth_sql(dialect: str) -> str:
    """Weekly growth accounting over epoch-week buckets (epoch-day
    div 7 — cross-engine deterministic, unlike date_trunc('week')
    locale edges). active = new + retained + resurrected by
    construction; churned(w) = actives of w−1 that are absent in w.
    All relations after the one distinct (user, week) projection
    are user×week-bounded."""
    div = "//" if dialect == "duck" else "div"
    ep = "epoch_us" if dialect == "duck" else "unix_micros"
    return f"""
        WITH ua AS (
            SELECT DISTINCT user_id,
                   CAST(({ep}(ts) {div} 86400000000) {div} 7
                        AS BIGINT) AS wk
            FROM events)
        , fw AS (
            SELECT user_id, MIN(wk) AS fw FROM ua GROUP BY user_id)
        , flags AS (
            SELECT ua.user_id, ua.wk,
                   CASE WHEN ua.wk = fw.fw THEN 1 ELSE 0 END AS is_new,
                   CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END
                       AS was_prev
            FROM ua
            JOIN fw ON fw.user_id = ua.user_id
            LEFT JOIN ua p ON p.user_id = ua.user_id
                AND p.wk = ua.wk - 1)
        , mx AS (SELECT MAX(wk) AS mwk FROM ua)
        , churn AS (
            SELECT a.wk + 1 AS wk, CAST(COUNT(*) AS BIGINT) AS c
            FROM ua a
            LEFT JOIN ua b ON b.user_id = a.user_id
                AND b.wk = a.wk + 1
            CROSS JOIN mx
            WHERE b.user_id IS NULL AND a.wk + 1 <= mx.mwk
            GROUP BY a.wk + 1)
        SELECT f.wk AS week_id,
               CAST(COUNT(*) AS BIGINT) AS n_active,
               CAST(SUM(f.is_new) AS BIGINT) AS n_new,
               CAST(SUM(f.was_prev) AS BIGINT) AS n_retained,
               CAST(COUNT(*) - SUM(f.is_new) - SUM(f.was_prev)
                    AS BIGINT) AS n_resurrected,
               CAST(COALESCE(MIN(ch.c), 0) AS BIGINT) AS n_churned
        FROM flags f
        LEFT JOIN churn ch ON ch.wk = f.wk
        GROUP BY f.wk
    """


@query("events_growth_accounting", oracle=_growth_sql("duck"))
def q_events_growth_accounting(spark, sf_dir):
    """The growth-accounting decomposition every consumer product
    reports weekly: actives split into NEW (first-ever week),
    RETAINED (also active last week), RESURRECTED (returning after
    a gap), plus CHURNED (active last week, absent this week) —
    the flows behind the DAU/WAU stock (#146) and the D-N curve
    (#195): two products with identical retention curves can have
    opposite churn/resurrection flows. Conservation laws (active =
    new+retained+resurrected; churned(w) = active(w−1) −
    retained(w)) pinned in pytest on both engines. One distinct
    (user, week) projection of the corpus; everything after is
    user×week-bounded joins on (user_id, wk) — and a user can be
    new AND retained never (first week has no predecessor), so the
    split is a true partition."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "events"
    )
    return spark.sql(_growth_sql("spark"))


_ACF_LAGS = (1, 24, 168)


def _acf_sql(dialect: str) -> str:
    """Autocorrelation of the hourly event-count series at fixed
    lags, sqrt-free: per lag, the Pearson covariance/variance
    NUMERATORS over the overlapping (x_t, x_{t+L}) pairs plus the
    signed r² in e6 — the same exact-integer discipline as the
    assortativity report. The series is hour-grid bounded (the
    corpus pass is one hour aggregate); each lag arm is a
    self-join on hr+L over that bounded series."""
    div = "//" if dialect == "duck" else "div"
    big = "HUGEINT" if dialect == "duck" else "DECIMAL(38,0)"
    ep = "epoch_us" if dialect == "duck" else "unix_micros"
    arms = []
    for lag in _ACF_LAGS:
        arms.append(f"""
        SELECT CAST({lag} AS BIGINT) AS lag,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(CAST(COUNT(*) AS {big}) * SUM(x * y)
                    - CAST(SUM(x) AS {big}) * SUM(y) AS BIGINT)
                   AS cov_num,
               CAST(CAST(COUNT(*) AS {big}) * SUM(x * x)
                    - CAST(SUM(x) AS {big}) * SUM(x) AS BIGINT)
                   AS varx_num,
               CAST(CAST(COUNT(*) AS {big}) * SUM(y * y)
                    - CAST(SUM(y) AS {big}) * SUM(y) AS BIGINT)
                   AS vary_num,
               CAST(CASE WHEN CAST(COUNT(*) AS {big}) * SUM(x * x)
                              - CAST(SUM(x) AS {big}) * SUM(x) = 0
                         OR CAST(COUNT(*) AS {big}) * SUM(y * y)
                              - CAST(SUM(y) AS {big}) * SUM(y) = 0
                    THEN 0
                    ELSE (CASE WHEN CAST(COUNT(*) AS {big}) * SUM(x * y)
                               - CAST(SUM(x) AS {big}) * SUM(y) < 0
                          THEN -1 ELSE 1 END)
                         * ((CAST(1000000 AS {big})
                             * (CAST(COUNT(*) AS {big}) * SUM(x * y)
                                - CAST(SUM(x) AS {big}) * SUM(y))
                             * (CAST(COUNT(*) AS {big}) * SUM(x * y)
                                - CAST(SUM(x) AS {big}) * SUM(y)))
                            {div} ((CAST(COUNT(*) AS {big}) * SUM(x * x)
                                    - CAST(SUM(x) AS {big}) * SUM(x))
                                   * (CAST(COUNT(*) AS {big}) * SUM(y * y)
                                      - CAST(SUM(y) AS {big}) * SUM(y))))
                    END AS BIGINT) AS acf_r2_signed_e6
        FROM (SELECT a.n AS x, b.n AS y
              FROM hourly a JOIN hourly b ON b.hr = a.hr + {lag})""")
    return f"""
        WITH hourly AS (
            SELECT CAST({ep}(ts) {div} 3600000000 AS BIGINT) AS hr,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY 1)
        {" UNION ALL ".join(arms)}
    """


@query("events_acf", oracle=_acf_sql("duck"))
def q_events_acf(spark, sf_dir):
    """Autocorrelation function of hourly traffic at lags 1 (hour
    persistence), 24 (daily seasonality), 168 (weekly seasonality)
    — the one diagnostic that justifies the seasonal-naive
    baseline's t−7d choice (#255) and the STL week window (#268):
    if acf(168) ≪ acf(24), the forecaster should difference on
    days, not weeks. Exact integer moment numerators + sqrt-free
    signed r² (the #262 discipline); the corpus collapses to the
    hour grid in one aggregate, and each lag arm self-joins the
    BOUNDED hourly series — the arms re-read an ~hours-sized
    relation, not the corpus (duck's CTE inlining is harmless at
    that size)."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "events"
    )
    return spark.sql(_acf_sql("spark"))


@query(
    "embed_quantization_distortion",
    oracle=_sim.quant_distortion_sql("duck"),
)
def q_embed_quantization_distortion(spark, sf_dir):
    """Mean/max squared-L2 reconstruction distortion of the PQ
    codebook (#138) vs the sign/Hamming sketch (#147) on the same
    normalized vectors — recall (#172) tells you WHICH method wins
    at ranking; this tells you WHY (how much geometry each budget
    keeps), and it's the number a quantizer ablation reports.
    Distances are the same left-associated double folds the PQ
    assignment already ranks on, floored to e9 integers at the
    output boundary only. See
    operators/similarity.py:quant_distortion_sql."""
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView(
        "embeddings"
    )
    return spark.sql(_sim.quant_distortion_sql("spark"))


@query(
    "corpus_training_manifest",
    oracle=_KEEP_GATES_CTES_LSH
    + _V3_EXTRA_CTES
    + _V4_EXTRA_CTES
    + _V5_EXTRA_CTES
    + _V6_EXTRA_CTES
    + ", v6 AS ("
    + _V6_SELECT
    + f""")
        , base AS MATERIALIZED (
            SELECT d.doc_id, d.lang, d.source, v.keep, v.decision,
                   CAST(len(string_split(d.text, ' ')) AS BIGINT)
                       AS n_tokens,
                   CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)),
                        1, 8) AS BIGINT) % 100 AS bkt
            FROM documents d JOIN v6 v USING (doc_id))
        , lc AS (
            SELECT lang, CAST(COUNT(*) AS BIGINT) AS nk
            FROM base WHERE keep GROUP BY lang)
        , lw AS (
            SELECT lang, nk,
                   CAST(FLOOR(SQRT(CAST(nk AS DOUBLE))) AS BIGINT) AS w
            FROM lc)
        , tot AS (
            SELECT CAST(COALESCE(SUM(w), 0) AS BIGINT) AS tw,
                   CAST(COALESCE(SUM(nk), 0) AS BIGINT) AS tk
            FROM lw)
        SELECT b.doc_id, b.lang, b.source, b.n_tokens, b.keep,
               b.decision,
               CASE WHEN b.bkt < {_SPLIT_TRAIN_PCT} THEN 'train'
                    WHEN b.bkt < {_SPLIT_TRAIN_PCT + _SPLIT_VAL_PCT}
                        THEN 'val'
                    ELSE 'test' END AS split,
               CASE WHEN b.keep AND t.tw > 0 THEN
                   CAST((CAST(1000000 AS HUGEINT) * l.w * t.tk)
                        // (CAST(t.tw AS HUGEINT) * l.nk) AS BIGINT)
               END AS weight_ppm
        FROM base b
        LEFT JOIN lw l USING (lang)
        CROSS JOIN tot t
    """,
)
def q_corpus_training_manifest(spark, sf_dir):
    """THE final deliverable of the curation pipeline: one row per
    document carrying everything a training run consumes — the
    twelve-gate keep verdict + reason (#243 v6_lsh), the
    content-stable train/val/test split (#236's md5-bucket rule:
    membership is a pure function of doc_id, so appends and
    re-partitions never leak across splits), the token count, and
    the language sampling weight in ppm computed over the SURVIVOR
    corpus (√-temperature, the #174 rule — recomputed post-dedup
    because dedup shifts language mass, which is exactly why the
    funnel #200 and bias audit #257 exist; NULL for rejected docs
    and whenever no survivors exist — on THIS synthetic word-salad
    testdata the repetition gate rejects every document, so the
    weight column is exercised by the clean-corpus pytest, not the
    oracle). weight_ppm is normalized so a uniform sampler reading
    survivors at these weights reproduces the temperature mix
    (mean ≈ 10⁶ over survivors; law pinned in pytest on a corpus
    that passes the gates).
    Composition discipline: the gate verdict join is MATERIALIZED
    before the survivor census — the base table feeds both the
    language census and the final join, and without the checkpoint
    Catalyst re-derives the whole twelve-gate chain per reference
    (the embed_keep_list lesson); census/weights are lang-bounded
    broadcasts; the weight product runs in 128-bit (at corpus
    scale 10⁶·w·n_docs overflows BIGINT)."""
    kl = QUERIES["corpus_keep_list_v6_lsh"](spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    bkt = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
            16,
            10,
        ).cast("long")
        % 100
    )
    base = (
        docs.join(kl, "doc_id")
        .select(
            "doc_id",
            "lang",
            "source",
            "keep",
            "decision",
            F.size(F.split(F.col("text"), " "))
            .cast("long")
            .alias("n_tokens"),
            bkt.alias("bkt"),
        )
        .localCheckpoint()
    )
    lw = (
        base.where(F.col("keep"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("nk"))
        .select(
            "lang",
            "nk",
            F.floor(F.sqrt(F.col("nk").cast("double")))
            .cast("long")
            .alias("w"),
        )
    )
    tot = lw.agg(
        F.coalesce(F.sum("w"), F.lit(0)).alias("tw"),
        F.coalesce(F.sum("nk"), F.lit(0)).alias("tk"),
    )
    split = (
        F.when(F.col("bkt") < _SPLIT_TRAIN_PCT, "train")
        .when(
            F.col("bkt") < _SPLIT_TRAIN_PCT + _SPLIT_VAL_PCT, "val"
        )
        .otherwise("test")
    )
    return (
        base.join(F.broadcast(lw), "lang", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "lang",
            "source",
            "n_tokens",
            "keep",
            "decision",
            split.alias("split"),
            F.when(
                F.col("keep") & (F.col("tw") > 0),
                F.expr(
                    "(CAST(1000000 AS DECIMAL(38,0)) * w * tk)"
                    " div (CAST(tw AS DECIMAL(38,0)) * nk)"
                ).cast("long"),
            ).alias("weight_ppm"),
        )
    )


def _modularity_body_sql(lp: str, edges: str, div: str, big: str) -> str:
    """Newman modularity over directed-doubled edges: with m2 = |directed
    edges|, intra_c = directed edges inside community c, deg_c = directed
    degree mass of c, each community contributes
    (m2·intra_c − deg_c²)/m2² and Q = Σ_c contribution. Emitted as
    per-community SIGNED e6 fixed-point via posrem floor division
    (_pca_fd — contributions go negative for communities sparser than
    their degree mass predicts), with the global Q as the exact sum of
    the per-community integers (document: the sum of floors, a
    well-defined deterministic quantity both engines share)."""
    contrib = _pca_fd(
        f"CAST(1000000 AS {big}) * (CAST(m.m2 AS {big}) * s.intra"
        f" - CAST(s.degsum AS {big}) * s.degsum)",
        f"CAST(m.m2 AS {big}) * m.m2",
        div,
    )
    return f"""
        , ec AS (
            SELECT la.community_id AS ca, lb.community_id AS cb
            FROM {edges} e
            JOIN {lp} la ON la.vec_id = e.src
            JOIN {lp} lb ON lb.vec_id = e.dst)
        , m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m2 FROM ec)
        , s AS (
            SELECT ca AS community_id,
                   CAST(SUM(CASE WHEN ca = cb THEN 1 ELSE 0 END)
                        AS BIGINT) AS intra,
                   CAST(COUNT(*) AS BIGINT) AS degsum
            FROM ec GROUP BY ca)
        , contribs AS (
            SELECT s.community_id, s.intra, s.degsum,
                   CAST({contrib} AS BIGINT) AS contribution_e6
            FROM s CROSS JOIN m)
        SELECT c.community_id, c.intra AS intra_directed,
               c.degsum AS degree_sum, c.contribution_e6,
               CAST(g.q AS BIGINT) AS q_e6
        FROM contribs c
        CROSS JOIN (SELECT SUM(contribution_e6) AS q FROM contribs) g
    """


@query(
    "graph_modularity_knn",
    oracle=f"""
        {_sim._graph_edge_head('duck', None)}
        {_sim._uedges_cte('MATERIALIZED ')}
        {_sim._lp_rounds('uedges', 'v', '//')[0]}
        , lp AS MATERIALIZED (
            SELECT vec_id, lbl AS community_id
            FROM {_sim._lp_rounds('uedges', 'v', '//')[1]})
        {_modularity_body_sql('lp', 'uedges', '//', 'HUGEINT')}
    """,
)
def q_graph_modularity_knn(spark, sf_dir):
    """Newman modularity Q of the label-propagation partition
    (#148) on the KNN graph — THE number that says whether the
    detected communities beat the degree-preserving null model
    (Q ≈ 0: propagation artifacts; Q ≳ 0.3: real structure), the
    missing summary over the per-community profile table (#187):
    per community the signed e6 contribution, plus the global Q as
    their exact sum. The edge list and the community map are each
    built once (checkpointed); the modularity algebra runs on the
    community-bounded census. 128-bit products (m2·intra, deg²
    exceed BIGINT at cluster scale); posrem floor division keeps
    negative contributions bit-identical across engines."""
    lp = (
        QUERIES["graph_label_prop_knn"](spark, sf_dir)
        .select("vec_id", "community_id")
        .localCheckpoint()
    )
    lp.createOrReplaceTempView("lp_mod_mat")
    return spark.sql(
        "WITH placeholder AS (SELECT 1)"
        + _modularity_body_sql(
            "lp_mod_mat", "knn_uedges_mat", "div", "DECIMAL(38,0)"
        )
    )


@query(
    "dedup_best_of_cluster",
    oracle=f"""
        WITH cl AS ({ORACLES["dedup_clusters"]})
        , q AS ({_text.TEXT_ORACLES["text_quality_score"]})
        , ranked AS (
            SELECT cl.doc_id, cl.cluster_id, q.quality_bp,
                   row_number() OVER (
                       PARTITION BY cl.cluster_id
                       ORDER BY q.quality_bp DESC, cl.doc_id ASC)
                       AS rn
            FROM cl JOIN q ON q.doc_id = cl.doc_id)
        SELECT doc_id, cluster_id,
               CAST(quality_bp AS BIGINT) AS quality_bp,
               rn = 1 AS is_keeper
        FROM ranked
    """,
)
def q_dedup_best_of_cluster(spark, sf_dir):
    """Quality-argmax canonical selection: within each near-dup
    cluster (#63) keep the HIGHEST-QUALITY member (ties to smallest
    doc_id) instead of the min-id convention every keep-list uses —
    the refinement real curation runs apply (of N crawls of the
    same page, keep the cleanest, not the first-crawled; min-id
    keeps whatever the crawler happened to see first). One row per
    doc with its verdict; downstream keep-lists can swap their
    canonical rule for this one without touching the cluster
    graph. Cluster map and quality scores are both already-verified
    operators composed by doc_id; the rank window partitions by
    cluster (bounded fan-in — cluster sizes are the #106 family
    histogram, never corpus-scale)."""
    from pyspark.sql import Window

    cl = QUERIES["dedup_clusters"](spark, sf_dir)
    q = QUERIES["text_quality_score"](spark, sf_dir).select(
        "doc_id", "quality_bp"
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality_bp").desc(), F.col("doc_id").asc()
    )
    return (
        cl.join(q, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .select(
            "doc_id",
            "cluster_id",
            F.col("quality_bp").cast("long").alias("quality_bp"),
            (F.col("rn") == 1).alias("is_keeper"),
        )
    )


_EWMA_WINDOW = 24
_EWMA_DEN = (1 << _EWMA_WINDOW) - 1
_EWMA_VALUES = ", ".join(
    f"({j}, {1 << (_EWMA_WINDOW - j)})" for j in range(1, _EWMA_WINDOW + 1)
)


def _forecast_backtest_sql(dialect: str) -> str:
    """One-step-ahead backtest of three baselines over the hourly
    grid: EWMA with alpha = 1/2 truncated at {w} terms (weights are
    POWERS OF TWO, so the forecast is the exact integer
    num div (2^{w} − 1) — no float smoothing recursion), the
    seasonal-naive t−168, and the naive t−1. All models score only
    hours where every model is defined (full EWMA window AND a
    t−168 ancestor), so the comparison is apples-to-apples. The
    corpus pass is the one hour aggregate; the EWMA arm joins the
    BOUNDED hourly grid against a {w}-row weight table.""".replace(
        "{w}", str(_EWMA_WINDOW)
    )
    div = "//" if dialect == "duck" else "div"
    big = "HUGEINT" if dialect == "duck" else "DECIMAL(38,0)"
    ep = "epoch_us" if dialect == "duck" else "unix_micros"
    return f"""
        WITH hourly AS (
            SELECT CAST({ep}(ts) {div} 3600000000 AS BIGINT) AS hr,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY 1)
        , offsets AS (SELECT j, w FROM (VALUES {_EWMA_VALUES})
                      AS t(j, w))
        , ew AS (
            SELECT h.hr,
                   CAST(SUM(CAST(p.n AS {big}) * o.w) AS {big}) AS num,
                   CAST(COUNT(*) AS BIGINT) AS k
            FROM hourly h
            JOIN offsets o ON 1 = 1
            JOIN hourly p ON p.hr = h.hr - o.j
            GROUP BY h.hr)
        , evalh AS (
            SELECT h.hr, h.n,
                   CAST(ew.num {div} {_EWMA_DEN} AS BIGINT) AS f_ewma,
                   sn.n AS f_seasonal,
                   nv.n AS f_naive
            FROM hourly h
            JOIN ew ON ew.hr = h.hr AND ew.k = {_EWMA_WINDOW}
            JOIN hourly sn ON sn.hr = h.hr - 168
            JOIN hourly nv ON nv.hr = h.hr - 1)
        SELECT 'ewma_half' AS model,
               CAST(COUNT(*) AS BIGINT) AS n_hours,
               CAST((100 * SUM(ABS(n - f_ewma))) {div} COUNT(*)
                    AS BIGINT) AS mae_e2,
               CAST((10000 * SUM(ABS(n - f_ewma))) {div} SUM(n)
                    AS BIGINT) AS wape_bp
        FROM evalh
        UNION ALL
        SELECT 'seasonal_168',
               CAST(COUNT(*) AS BIGINT),
               CAST((100 * SUM(ABS(n - f_seasonal))) {div} COUNT(*)
                    AS BIGINT),
               CAST((10000 * SUM(ABS(n - f_seasonal))) {div} SUM(n)
                    AS BIGINT)
        FROM evalh
        UNION ALL
        SELECT 'naive_1',
               CAST(COUNT(*) AS BIGINT),
               CAST((100 * SUM(ABS(n - f_naive))) {div} COUNT(*)
                    AS BIGINT),
               CAST((10000 * SUM(ABS(n - f_naive))) {div} SUM(n)
                    AS BIGINT)
        FROM evalh
    """


@query("events_forecast_backtest", oracle=_forecast_backtest_sql("duck"))
def q_events_forecast_backtest(spark, sf_dir):
    """Head-to-head one-step-ahead forecast backtest on hourly
    traffic: integer EWMA (alpha = 1/2 — power-of-two weights make
    exponential smoothing EXACT, no float recursion), seasonal
    naive t−168 (#255's rule at hour grain), and naive t−1, scored
    by MAE and WAPE over the identical evaluable hours. The model-
    selection mart that the single-baseline backtest (#255) can't
    give you: if naive_1 wins, traffic is a random walk and the
    seasonal story is noise; if seasonal_168 wins, the week shape
    (#268/#275) is the signal. See _forecast_backtest_sql for the
    hour-grid-bounded shape."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "events"
    )
    return spark.sql(_forecast_backtest_sql("spark"))


_DRIFT_BANDS = 64  # value bands for the first-half decile decomposition


@query(
    "events_value_drift_chi2",
    oracle="""
        WITH hr AS (
            SELECT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
                   CAST(FLOOR(value * 100) AS BIGINT) AS v
            FROM events WHERE value IS NOT NULL)
        , mid AS (
            SELECT (MIN(h) + MAX(h) + 1) // 2 AS m FROM hr)
        , halves AS (
            SELECT CASE WHEN hr.h < mid.m THEN 1 ELSE 2 END AS half,
                   hr.v
            FROM hr CROSS JOIN mid)
        , r1 AS (
            SELECT v, row_number() OVER (ORDER BY v ASC) AS rn,
                   COUNT(*) OVER () AS n
            FROM halves WHERE half = 1)
        , bounds AS (
            SELECT CAST(d AS BIGINT) AS d, MAX(v) AS bd
            FROM r1 CROSS JOIN (SELECT unnest(range(1, 10)) AS d) ds
            WHERE rn = (d * n + 9) // 10
            GROUP BY d)
        , banded AS (
            SELECT h.half,
                   CAST(COALESCE(SUM(CASE WHEN h.v > b.bd THEN 1
                                     ELSE 0 END), 0) AS BIGINT) AS band
            FROM (SELECT half, v,
                         row_number() OVER () AS rid
                  FROM halves) h
            LEFT JOIN bounds b ON 1 = 1
            GROUP BY h.rid, h.half, h.v)
        , cells AS (
            SELECT band,
                   CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS c1,
                   CAST(SUM(CASE WHEN half = 2 THEN 1 ELSE 0 END)
                        AS BIGINT) AS c2
            FROM banded GROUP BY band)
        , tots AS (
            SELECT CAST(SUM(c1) AS BIGINT) AS t1,
                   CAST(SUM(c2) AS BIGINT) AS t2
            FROM cells)
        , scored AS (
            SELECT c.band, c.c1, c.c2,
                   CAST((c.c1 * t.t2) // t.t1 AS BIGINT) AS expected2,
                   CAST((1000 * (c.c2 - (c.c1 * t.t2) // t.t1)
                         * (c.c2 - (c.c1 * t.t2) // t.t1))
                        // GREATEST((c.c1 * t.t2) // t.t1, 1)
                        AS BIGINT) AS contrib_e3
            FROM cells c CROSS JOIN tots t)
        SELECT s.band, s.c1, s.c2, s.expected2, s.contrib_e3,
               CAST(g.chi AS BIGINT) AS chi2_e3
        FROM scored s
        CROSS JOIN (SELECT SUM(contrib_e3) AS chi FROM scored) g
    """,
)
def q_events_value_drift_chi2(spark, sf_dir):
    """Numeric-distribution drift between the FIRST and SECOND half
    of the stream (midpoint-hour split): first-half value deciles
    define 10 equal-expected bands, the second half is counted into
    them, and the chi-square statistic (e3 integer, per-band
    contributions + exact-sum total) says whether the value
    distribution moved — the numeric-column twin of the vocabulary
    drift screen (#210) and the log-free stand-in for PSI (same
    monotone purpose, no logarithms). Boundaries on the Spark side
    come from the #254 band-prefix decomposition (NO global sort:
    values land in {B} bands from a broadcast (min,max), the rank
    window partitions by band, boundary rank = band prefix +
    within-band rank); the oracle uses DuckDB's plain global window
    — same boundaries bit-for-bit because a rank position's VALUE
    is tie-order invariant. Counting into bands is a 9-row
    broadcast join; the chi-square is 10-cell algebra.""".replace(
        "{B}", str(_DRIFT_BANDS)
    )
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hr = ev.where(F.col("value").isNotNull()).select(
        F.expr("unix_micros(ts) div 3600000000").alias("h"),
        F.floor(F.col("value") * 100).cast("long").alias("v"),
    )
    mid = hr.agg(
        F.expr("(MIN(h) + MAX(h) + 1) div 2").alias("m")
    )
    halves = hr.crossJoin(F.broadcast(mid)).select(
        F.when(F.col("h") < F.col("m"), 1).otherwise(2).alias("half"),
        "v",
    )
    h1 = halves.where(F.col("half") == 1).select("v")
    mm = h1.agg(
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    b = h1.crossJoin(F.broadcast(mm)).withColumn(
        "band_k",
        F.expr(f"((v - lo) * {_DRIFT_BANDS}) div (hi - lo + 1)"),
    )
    bcnt = b.groupBy("band_k").agg(F.count(F.lit(1)).alias("bn"))
    wpre = (
        Window.orderBy("band_k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow - 0)
    )
    pre = bcnt.select(
        "band_k",
        (F.sum("bn").over(wpre) - F.col("bn")).alias("prefix"),
    )
    wband = Window.partitionBy("band_k").orderBy(F.col("v").asc())
    ranked = (
        b.join(F.broadcast(pre), "band_k")
        .withColumn("rn", F.row_number().over(wband) + F.col("prefix"))
    )
    ds = spark.range(1, 10).select(F.col("id").alias("d"))
    bounds = (
        ranked.crossJoin(F.broadcast(ds))
        .where(F.expr("rn = (d * n + 9) div 10"))
        .groupBy("d")
        .agg(F.max("v").alias("bd"))
        .select("bd")
    )
    banded = (
        halves.withColumn("rid", F.monotonically_increasing_id())
        .join(F.broadcast(bounds), F.lit(True), "left")
        .groupBy("rid", "half", "v")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("v") > F.col("bd"), 1).otherwise(0)),
                F.lit(0),
            )
            .cast("long")
            .alias("band")
        )
    )
    cells = banded.groupBy("band").agg(
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
        .cast("long")
        .alias("c1"),
        F.sum(F.when(F.col("half") == 2, 1).otherwise(0))
        .cast("long")
        .alias("c2"),
    )
    tots = cells.agg(
        F.sum("c1").alias("t1"), F.sum("c2").alias("t2")
    )
    scored = (
        cells.crossJoin(F.broadcast(tots))
        .select(
            "band",
            "c1",
            "c2",
            F.expr("(c1 * t2) div t1").cast("long").alias("expected2"),
            F.expr(
                "(1000 * (c2 - (c1 * t2) div t1)"
                " * (c2 - (c1 * t2) div t1))"
                " div GREATEST((c1 * t2) div t1, 1)"
            )
            .cast("long")
            .alias("contrib_e3"),
        )
        .localCheckpoint()
    )
    tot_chi = scored.agg(F.sum("contrib_e3").alias("chi"))
    return scored.crossJoin(F.broadcast(tot_chi)).select(
        "band",
        "c1",
        "c2",
        "expected2",
        "contrib_e3",
        F.col("chi").cast("long").alias("chi2_e3"),
    )


_BOT_DOMINANT_BP = 9000   # >90% of activity in one event type
_BOT_FANO_LOW_E3 = 200    # Fano < 0.2: metronomic automation
_BOT_FANO_HIGH_E3 = 5000  # Fano > 5.0: extreme burst scripting
_BOT_VOLUME_X = 10        # > 10x the mean per-user volume


@query(
    "events_user_audit",
    oracle=f"""
        WITH dv AS ({ORACLES["events_user_type_diversity"]})
        , bs AS ({ORACLES["events_burstiness"]})
        , mv AS (
            SELECT CAST(SUM(n_events) // COUNT(*) AS BIGINT)
                       AS mean_events
            FROM dv)
        SELECT dv.user_id, dv.n_events, dv.n_types,
               dv.dominant_share_bp, bs.fano_e3,
               dv.dominant_share_bp > {_BOT_DOMINANT_BP}
                   AS single_surface,
               bs.fano_e3 < {_BOT_FANO_LOW_E3} AS metronomic,
               bs.fano_e3 > {_BOT_FANO_HIGH_E3} AS bursty,
               dv.n_events > {_BOT_VOLUME_X} * mv.mean_events
                   AS extreme_volume,
               NOT (dv.dominant_share_bp > {_BOT_DOMINANT_BP}
                    OR bs.fano_e3 < {_BOT_FANO_LOW_E3}
                    OR bs.fano_e3 > {_BOT_FANO_HIGH_E3}
                    OR dv.n_events > {_BOT_VOLUME_X} * mv.mean_events)
                   AS keep,
               CASE WHEN dv.dominant_share_bp > {_BOT_DOMINANT_BP}
                        THEN 'single_surface'
                    WHEN bs.fano_e3 < {_BOT_FANO_LOW_E3}
                        THEN 'metronomic'
                    WHEN bs.fano_e3 > {_BOT_FANO_HIGH_E3}
                        THEN 'bursty'
                    WHEN dv.n_events > {_BOT_VOLUME_X} * mv.mean_events
                        THEN 'extreme_volume'
                    ELSE 'keep' END AS decision
        FROM dv
        JOIN bs ON bs.user_id = dv.user_id
        CROSS JOIN mv
    """,
)
def q_events_user_audit(spark, sf_dir):
    """USER-grain keep-list — the corpus keep-list discipline
    (#242) applied to the traffic side: four bot-signature gates
    with priority-ordered reason codes (single_surface = >90%
    one-type activity from the diversity screen #264; metronomic /
    bursty = Fano-factor extremes from #241 — cron-like automation
    and burst scripting respectively; extreme_volume = >10× the
    mean per-user load). A training pipeline ingesting behavioral
    events filters users exactly like it filters documents, and
    for the same reason: automation inflates frequency statistics
    the same way boilerplate inflates n-gram counts. Pure
    composition of two verified user-grain operators by user_id
    equi-join plus a single-row mean broadcast."""
    dv = QUERIES["events_user_type_diversity"](spark, sf_dir)
    bs = QUERIES["events_burstiness"](spark, sf_dir).select(
        "user_id", "fano_e3"
    )
    mv = dv.agg(
        F.expr("sum(n_events) div count(1)").alias("mean_events")
    )
    j = dv.join(bs, "user_id").crossJoin(F.broadcast(mv))
    single = F.col("dominant_share_bp") > _BOT_DOMINANT_BP
    metro = F.col("fano_e3") < _BOT_FANO_LOW_E3
    bursty = F.col("fano_e3") > _BOT_FANO_HIGH_E3
    volume = F.col("n_events") > _BOT_VOLUME_X * F.col("mean_events")
    decision = (
        F.when(single, "single_surface")
        .when(metro, "metronomic")
        .when(bursty, "bursty")
        .when(volume, "extreme_volume")
        .otherwise("keep")
    )
    return j.select(
        "user_id",
        "n_events",
        "n_types",
        "dominant_share_bp",
        "fano_e3",
        single.alias("single_surface"),
        metro.alias("metronomic"),
        bursty.alias("bursty"),
        volume.alias("extreme_volume"),
        (~(single | metro | bursty | volume)).alias("keep"),
        decision.alias("decision"),
    )


@query(
    "part_single_source_risk",
    oracle="""
        WITH ps AS (
            SELECT l_partkey,
                   CAST(COUNT(DISTINCT l_suppkey) AS BIGINT)
                       AS n_suppliers,
                   CAST(SUM(CAST(ROUND(l_extendedprice
                        * (1 - l_discount) * 10000) AS BIGINT))
                        AS BIGINT) AS rev_e4
            FROM lineitem GROUP BY l_partkey)
        , tot AS (SELECT CAST(SUM(rev_e4) AS BIGINT) AS t FROM ps)
        SELECT p.p_type,
               CAST(COUNT(*) AS BIGINT) AS n_parts,
               CAST(SUM(CASE WHEN ps.n_suppliers = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_single_source,
               CAST(SUM(CASE WHEN ps.n_suppliers = 1 THEN ps.rev_e4
                        ELSE 0 END) AS BIGINT) AS revenue_at_risk_e4,
               CAST((10000 * SUM(CASE WHEN ps.n_suppliers = 1
                        THEN ps.rev_e4 ELSE 0 END)) // MIN(t.t)
                    AS BIGINT) AS risk_share_bp
        FROM ps
        JOIN part p ON p.p_partkey = ps.l_partkey
        CROSS JOIN tot t
        GROUP BY p.p_type
    """,
)
def q_part_single_source_risk(spark, sf_dir):
    """Supply-chain concentration risk per part type: parts whose
    entire observed volume comes from ONE supplier, with the exact
    integer revenue that supplier outage would strand and its share
    of total revenue — the procurement twin of the HHI screen
    (#178): HHI says revenue is concentrated ACROSS suppliers,
    this says specific parts have NO alternative at all. One
    part-grain aggregate over the fact table (distinct-supplier is
    per-part hash distinct with partial aggregation), a broadcast
    dimension join, and a type-bounded roll-up."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    ps = li.groupBy("l_partkey").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.sum(rev).alias("rev_e4"),
    )
    tot = ps.agg(F.sum("rev_e4").alias("t"))
    single_rev = F.sum(
        F.when(F.col("n_suppliers") == 1, F.col("rev_e4")).otherwise(0)
    )
    return (
        ps.join(
            F.broadcast(part.select("p_partkey", "p_type")),
            ps.l_partkey == F.col("p_partkey"),
        )
        .crossJoin(F.broadcast(tot))
        .groupBy("p_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum(
                F.when(F.col("n_suppliers") == 1, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_single_source"),
            single_rev.cast("long").alias("revenue_at_risk_e4"),
            F.expr(
                "(10000 * sum(CASE WHEN n_suppliers = 1 THEN rev_e4"
                " ELSE 0 END)) div min(t)"
            )
            .cast("long")
            .alias("risk_share_bp"),
        )
    )


@query(
    "events_type_affinity",
    oracle="""
        WITH ut AS (
            SELECT DISTINCT user_id, event_type FROM events)
        , nu AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS u
                 FROM events)
        , tc AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
            FROM ut GROUP BY event_type)
        , co AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   CAST(COUNT(*) AS BIGINT) AS n_both
            FROM ut a
            JOIN ut b ON b.user_id = a.user_id
                AND a.event_type < b.event_type
            GROUP BY 1, 2)
        SELECT c.type_a, c.type_b, ta.n AS users_a, tb.n AS users_b,
               c.n_both,
               CAST((1000000 * c.n_both * nu.u) // (ta.n * tb.n)
                    AS BIGINT) AS lift_ppm,
               CAST((10000 * c.n_both) // (ta.n + tb.n - c.n_both)
                    AS BIGINT) AS jaccard_bp
        FROM co c
        JOIN tc ta ON ta.event_type = c.type_a
        JOIN tc tb ON tb.event_type = c.type_b
        CROSS JOIN nu
    """,
)
def q_events_type_affinity(spark, sf_dir):
    """User-grain behavior affinity: for every event-type pair, the
    user-overlap lift vs independence (exact ppm) and Jaccard bp —
    completing the lift family at its third grain (sequence
    transitions #253, document collocations #273, now user
    co-engagement): lift ≫ 10⁶ pairs are surfaces the same users
    adopt together (bundle them), ≪ 10⁶ pairs partition the user
    base (different audiences). One distinct (user, type)
    projection; the self-join fans out ≤ |types| per user and the
    result is |types|²-bounded — the vocabulary here is the type
    enum, so every post-projection relation broadcasts at any
    corpus scale."""
    ev = load_table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    nu = ev.agg(F.countDistinct("user_id").alias("u"))
    tc = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = ut.select(
        "user_id", F.col("event_type").alias("type_a")
    )
    b = ut.select(
        "user_id", F.col("event_type").alias("type_b")
    )
    co = (
        a.join(b, "user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    ta = tc.select(
        F.col("event_type").alias("type_a"), F.col("n").alias("users_a")
    )
    tb = tc.select(
        F.col("event_type").alias("type_b"), F.col("n").alias("users_b")
    )
    return (
        co.join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .crossJoin(F.broadcast(nu))
        .select(
            "type_a",
            "type_b",
            F.col("users_a").cast("long").alias("users_a"),
            F.col("users_b").cast("long").alias("users_b"),
            F.col("n_both").cast("long").alias("n_both"),
            F.expr("(1000000 * n_both * u) div (users_a * users_b)")
            .cast("long")
            .alias("lift_ppm"),
            F.expr(
                "(10000 * n_both) div (users_a + users_b - n_both)"
            )
            .cast("long")
            .alias("jaccard_bp"),
        )
    )


_MAHA_FLAG_E6 = 2 * 64 * 1_000_000  # z-square sum > 2x dims


def _maha_sql(dialect: str) -> str:
    """Diagonal-covariance Mahalanobis score per vector: z² summed
    over dims with per-dim integer mean/variance (floor means via
    posrem division — components go negative). Per-term quotient is
    fd(10⁶·cx², var) so the sum lands in e6 z-square units
    (E[score] ≈ dims·10⁶ under the null, pinned in pytest). Two
    corpus passes (dim stats, then the score scan — the dim-stats
    relation is a 64-row broadcast back onto the scan) and nothing
    corpus-sized shuffles except the pos-keyed stats aggregate."""
    div = "//" if dialect == "duck" else "div"
    big = "HUGEINT" if dialect == "duck" else "DECIMAL(38,0)"
    if dialect == "duck":
        comps = """
            SELECT vec_id,
                   generate_subscripts(embedding, 1) - 1 AS pos,
                   CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE)
                        * 1000000) AS BIGINT) AS x
            FROM embeddings"""
    else:
        comps = """
            SELECT vec_id, pos,
                   CAST(FLOOR(CAST(c AS DOUBLE) * 1000000) AS BIGINT)
                       AS x
            FROM embeddings
            LATERAL VIEW posexplode(embedding) t AS pos, c"""
    mu = _pca_fd("sx", "n", div)
    var = _pca_fd(
        f"CAST(n AS {big}) * sxx - CAST(sx AS {big}) * sx",
        f"CAST(n AS {big}) * n",
        div,
    )
    term = _pca_fd(
        f"CAST(1000000 AS {big}) * (c.x - s.mu) * (c.x - s.mu)",
        "GREATEST(s.var_e12, 1)",
        div,
    )
    return f"""
        WITH comps AS ({comps})
        , stats AS (
            SELECT pos, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(x * x) AS BIGINT) AS sxx
            FROM comps GROUP BY pos)
        , dimp AS (
            SELECT pos, CAST({mu} AS BIGINT) AS mu,
                   CAST({var} AS BIGINT) AS var_e12
            FROM stats)
        SELECT c.vec_id,
               CAST(SUM(CAST({term} AS BIGINT)) AS BIGINT) AS maha_e6,
               CAST(SUM(CAST({term} AS BIGINT)) AS BIGINT)
                   > {_MAHA_FLAG_E6} AS is_outlier
        FROM comps c JOIN dimp s ON s.pos = c.pos
        GROUP BY c.vec_id
    """


@query("embed_mahalanobis_outliers", oracle=_maha_sql("duck"))
def q_embed_mahalanobis_outliers(spark, sf_dir):
    """GLOBAL whitened outlier screen: per-vector diagonal
    Mahalanobis score (Σ z² in e6, per-dim integer mean/variance)
    with a 2×dims flag threshold — the distribution-level
    complement of the cell-LOCAL far-tail queue (#205, farthest
    from own centroid): a vector can sit close to some centroid yet
    far from the corpus distribution along low-variance dims, and
    only whitening sees that. This is also the screen that uses
    the per-dim stats profile (#251) as an actual decision input.
    Exact cross-engine integers throughout (_pca_fd posrem
    division; 128-bit products for n·sxx and 10⁶·cx²); mean score
    ≈ dims·10⁶ under the null is pinned in pytest."""
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView(
        "embeddings"
    )
    return spark.sql(_maha_sql("spark"))


@query(
    "embed_two_nn_ratio",
    oracle=f"""
        WITH knn AS MATERIALIZED ({_sim.graph_edges_sql('duck')})
        , top2 AS (
            SELECT vec_id,
                   CAST(SUM(CASE WHEN nn_rank = 1 THEN cos_e6 END)
                        AS BIGINT) AS cos1_e6,
                   CAST(SUM(CASE WHEN nn_rank = 2 THEN cos_e6 END)
                        AS BIGINT) AS cos2_e6
            FROM knn WHERE nn_rank <= 2
            GROUP BY vec_id HAVING COUNT(*) = 2)
        , mu AS (
            SELECT vec_id,
                   CAST((1000 * (1000000 - cos2_e6))
                        // GREATEST(1000000 - cos1_e6, 1) AS BIGINT)
                       AS mu2_e3
            FROM top2)
        , hist AS (
            SELECT CASE WHEN mu2_e3 < 1500 THEN 0
                        WHEN mu2_e3 < 2000 THEN 1
                        WHEN mu2_e3 < 3000 THEN 2
                        WHEN mu2_e3 < 5000 THEN 3
                        ELSE 4 END AS bucket,
                   mu2_e3
            FROM mu)
        SELECT CAST(bucket AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_vecs,
               CAST(MIN(mu2_e3) AS BIGINT) AS min_mu2_e3,
               CAST(MAX(mu2_e3) AS BIGINT) AS max_mu2_e3,
               CAST(SUM(mu2_e3) // COUNT(*) AS BIGINT) AS mean_mu2_e3
        FROM hist GROUP BY bucket
    """,
)
def q_embed_two_nn_ratio(spark, sf_dir):
    """TwoNN intrinsic-dimension evidence, log-free: per vector the
    squared-distance ratio of its 2nd to 1st nearest neighbor
    μ² = (1−cos₂)/(1−cos₁) (exact e3 rational on the floored
    cosines — for unit vectors d² = 2−2cos, so the 2s cancel),
    bucketed into the five bands an ID reader inspects. Facco et
    al.'s estimator is id = ln N / Σ ln μ — the LOG of this exact
    distribution; we publish the distribution itself (the same
    oracle-honesty split as the HLL registers #156 vs estimate
    #208). μ² hugging 1 everywhere = high intrinsic dimension (ANN
    budgets #138/#180 will pay for it); a fat ≥5000 band = low-ID
    manifold structure worth a smaller PQ/IVF budget. Reuses the
    #109/#248 cell-bounded KNN chain — nothing new touches the
    corpus; the histogram is 5-row algebra."""
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView(
        "embeddings"
    )
    _graph_edges_map(spark, sf_dir).createOrReplaceTempView(
        "twonn_knn_mat"
    )
    return spark.sql(
        f"""
        WITH knn AS (SELECT * FROM twonn_knn_mat)
        , top2 AS (
            SELECT vec_id,
                   CAST(SUM(CASE WHEN nn_rank = 1 THEN cos_e6 END)
                        AS BIGINT) AS cos1_e6,
                   CAST(SUM(CASE WHEN nn_rank = 2 THEN cos_e6 END)
                        AS BIGINT) AS cos2_e6
            FROM knn WHERE nn_rank <= 2
            GROUP BY vec_id HAVING COUNT(*) = 2)
        , mu AS (
            SELECT vec_id,
                   CAST((1000 * (1000000 - cos2_e6))
                        div GREATEST(1000000 - cos1_e6, 1) AS BIGINT)
                       AS mu2_e3
            FROM top2)
        , hist AS (
            SELECT CASE WHEN mu2_e3 < 1500 THEN 0
                        WHEN mu2_e3 < 2000 THEN 1
                        WHEN mu2_e3 < 3000 THEN 2
                        WHEN mu2_e3 < 5000 THEN 3
                        ELSE 4 END AS bucket,
                   mu2_e3
            FROM mu)
        SELECT CAST(bucket AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_vecs,
               CAST(MIN(mu2_e3) AS BIGINT) AS min_mu2_e3,
               CAST(MAX(mu2_e3) AS BIGINT) AS max_mu2_e3,
               CAST(SUM(mu2_e3) div COUNT(*) AS BIGINT) AS mean_mu2_e3
        FROM hist GROUP BY bucket
        """
    )


_LAYOUT_CHUNKS = 64


def _layout_pruning_sql(dialect: str) -> str:
    """Zone-map pruning simulation across three physical orderings
    of the SAME events data: time-clustered (the natural ingestion
    layout), user-clustered, and Z-ORDER (the #104 Morton key).
    Rows land in {C} equal-WIDTH chunks of each layout's ordering
    key (range partitioning — no global sort, unlike rank-equal
    chunks; chunk row counts are reported so unevenness is
    visible); each chunk keeps (min, max) zone maps on user_id and
    event hour; two band probes (the central 40-45% slice of each
    dimension's span) are then tested for chunk overlap. The table
    a layout decision actually reads: ts-layout prunes the time
    probe and nothing else, user-layout the reverse, Z-order prunes
    BOTH partially — measured, not asserted. One scan per layout
    arm; all bounds are single-row broadcasts; output is
    3 layouts × 2 probes.""".replace("{C}", str(_LAYOUT_CHUNKS))
    div = "//" if dialect == "duck" else "div"
    ep = "epoch_us" if dialect == "duck" else "unix_micros"
    morton = _morton_sql("x16", "y16", dialect)
    layouts = {
        "ts": "hr",
        "user": "user_id",
        "zorder": "zkey",
    }
    chunk_arms = " UNION ALL ".join(
        f"""
        SELECT '{name}' AS layout,
               ((k - kmin) * {_LAYOUT_CHUNKS}) {div} (kmax - kmin + 1)
                   AS chunk,
               user_id, hr, n_dup
        FROM (SELECT {key} AS k, user_id, hr, 1 AS n_dup FROM base) b
        CROSS JOIN (SELECT MIN({key}) AS kmin, MAX({key}) AS kmax
                    FROM base) mm"""
        for name, key in layouts.items()
    )
    return f"""
        WITH raw AS (
            SELECT CAST(user_id % 65536 AS BIGINT) AS x16,
                   CAST(({ep}(ts) {div} 3600000000) % 65536 AS BIGINT)
                       AS y16,
                   user_id,
                   CAST({ep}(ts) {div} 3600000000 AS BIGINT) AS hr
            FROM events)
        , base AS (
            SELECT user_id, hr,
                   CAST({morton} AS BIGINT) AS zkey
            FROM raw)
        , chunked AS ({chunk_arms})
        , zones AS (
            SELECT layout, chunk,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   MIN(user_id) AS u_lo, MAX(user_id) AS u_hi,
                   MIN(hr) AS h_lo, MAX(hr) AS h_hi
            FROM chunked GROUP BY layout, chunk)
        , span AS (
            SELECT MIN(user_id) AS su_lo, MAX(user_id) AS su_hi,
                   MIN(hr) AS sh_lo, MAX(hr) AS sh_hi
            FROM base)
        , probes AS (
            SELECT 'user_band' AS probe,
                   su_lo + ((su_hi - su_lo) * 40) {div} 100 AS p_lo,
                   su_lo + ((su_hi - su_lo) * 45) {div} 100 AS p_hi,
                   1 AS on_user
            FROM span
            UNION ALL
            SELECT 'hour_band',
                   sh_lo + ((sh_hi - sh_lo) * 40) {div} 100,
                   sh_lo + ((sh_hi - sh_lo) * 45) {div} 100,
                   0
            FROM span)
        SELECT z.layout, p.probe,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(SUM(CASE WHEN (p.on_user = 1 AND z.u_hi >= p.p_lo
                                   AND z.u_lo <= p.p_hi)
                             OR (p.on_user = 0 AND z.h_hi >= p.p_lo
                                 AND z.h_lo <= p.p_hi)
                        THEN 1 ELSE 0 END) AS BIGINT)
                   AS chunks_scanned,
               CAST((10000 * SUM(CASE WHEN (p.on_user = 1
                                   AND z.u_hi >= p.p_lo
                                   AND z.u_lo <= p.p_hi)
                             OR (p.on_user = 0 AND z.h_hi >= p.p_lo
                                 AND z.h_lo <= p.p_hi)
                        THEN z.n_rows ELSE 0 END))
                    {div} SUM(z.n_rows) AS BIGINT) AS rows_scanned_bp
        FROM zones z CROSS JOIN probes p
        GROUP BY z.layout, p.probe
    """


@query("layout_pruning_compare", oracle=_layout_pruning_sql("duck"))
def q_layout_pruning_compare(spark, sf_dir):
    """WHICH physical layout should the landing zone use? Measured
    zone-map pruning for the same data under time-clustered,
    user-clustered, and Z-ordered chunking, probed with a user-band
    and an hour-band predicate — the quantified version of the
    choice #104 (builds the Z-key) and #160 (audits one layout)
    leave implicit, and the exhibit behind every OPTIMIZE/ZORDER
    decision at 100 TB: single-key layouts prune their own
    dimension to ~2 of {C} chunks and scan everything on the other;
    Z-order pays a modest penalty on both. See _layout_pruning_sql
    for the no-global-sort equal-width chunking.""".replace(
        "{C}", str(_LAYOUT_CHUNKS)
    )
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "events"
    )
    return spark.sql(_layout_pruning_sql("spark"))


@query(
    "dedup_chain_artifact_report",
    oracle=f"""
        WITH cl AS ({ORACLES["dedup_clusters"]})
        , {_dedup._SHINGLES_SQL.lstrip()}
        , inter AS (
            SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
                   COUNT(*) AS inter
            FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
            GROUP BY 1, 2)
        , pairs AS (
            SELECT doc_a, doc_b
            FROM inter p
            JOIN sc cx ON p.doc_a = cx.doc_id
            JOIN sc cy ON p.doc_b = cy.doc_id
            WHERE 10000 * inter >= {_dedup.JACCARD_THRESHOLD_BP}
                  * (cx.c + cy.c - inter))
        , sizes AS (
            SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n
            FROM cl GROUP BY cluster_id HAVING COUNT(*) >= 2)
        , in_edges AS (
            SELECT ca.cluster_id, CAST(COUNT(*) AS BIGINT) AS e
            FROM pairs p
            JOIN cl ca ON ca.doc_id = p.doc_a
            JOIN cl cb ON cb.doc_id = p.doc_b
                AND cb.cluster_id = ca.cluster_id
            GROUP BY ca.cluster_id)
        , dens AS (
            SELECT s.cluster_id, s.n,
                   COALESCE(e.e, 0) AS e,
                   CAST((10000 * COALESCE(e.e, 0) * 2)
                        // (s.n * (s.n - 1)) AS BIGINT) AS density_bp
            FROM sizes s
            LEFT JOIN in_edges e ON e.cluster_id = s.cluster_id)
        SELECT n AS cluster_size,
               CAST(COUNT(*) AS BIGINT) AS n_clusters,
               CAST(SUM(density_bp) // COUNT(*) AS BIGINT)
                   AS mean_density_bp,
               CAST(MIN(density_bp) AS BIGINT) AS min_density_bp,
               CAST(SUM(CASE WHEN density_bp < 10000 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_chained
        FROM dens GROUP BY n
    """,
)
def q_dedup_chain_artifact_report(spark, sf_dir):
    """The chaining audit connected-components dedup owes its
    users: per cluster size, the mean and minimum PAIR DENSITY
    (direct near-dup edges over all member pairs, bp) and the count
    of clusters with density < 10000 — clusters holding members
    that are NOT pairwise similar, i.e. A~B~C chains where the
    min-id canonical silently deletes a C that never resembled A
    (the standard transitive-closure over-merge criticism of
    every components-based dedup, #63/#80 included; SemDeDup's
    cell bound #95 exists precisely to limit it). Density computes
    from cluster sizes and the edge relation ALGEBRAICALLY
    (e·2/(n·(n−1)) — member pairs are never enumerated), so the
    report costs one edge-to-cluster join beyond the chains it
    audits."""
    edges = _dedup.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents")
    ).select("doc_a", "doc_b")
    cl = QUERIES["dedup_clusters"](spark, sf_dir).localCheckpoint()
    sizes = (
        cl.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 2)
    )
    ca = cl.select(
        F.col("doc_id").alias("doc_a"), F.col("cluster_id").alias("ca")
    )
    cb = cl.select(
        F.col("doc_id").alias("doc_b"), F.col("cluster_id").alias("cb")
    )
    in_edges = (
        edges.join(ca, "doc_a")
        .join(cb, "doc_b")
        .where(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("cluster_id"))
        .agg(F.count(F.lit(1)).alias("e"))
    )
    dens = (
        sizes.join(in_edges, "cluster_id", "left")
        .select(
            "n",
            F.coalesce(F.col("e"), F.lit(0)).alias("e"),
        )
        .withColumn(
            "density_bp",
            F.expr("(10000 * e * 2) div (n * (n - 1))").cast("long"),
        )
    )
    return dens.groupBy(F.col("n").alias("cluster_size")).agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.expr("sum(density_bp) div count(1)")
        .cast("long")
        .alias("mean_density_bp"),
        F.min("density_bp").cast("long").alias("min_density_bp"),
        F.sum(F.when(F.col("density_bp") < 10000, 1).otherwise(0))
        .cast("long")
        .alias("n_chained"),
    )


@query(
    "revenue_bridge_mom",
    oracle="""
        WITH m AS (
            SELECT date_trunc('month', o_orderdate) AS month,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT))
                        AS BIGINT) AS rev_e4
            FROM orders GROUP BY 1)
        , lagged AS (
            SELECT month, n_orders, rev_e4,
                   lag(n_orders) OVER w AS pn,
                   lag(rev_e4) OVER w AS pr
            FROM m WINDOW w AS (ORDER BY month))
        SELECT month, n_orders, rev_e4,
               CAST(rev_e4 - pr AS BIGINT) AS d_rev_e4,
               CAST((n_orders - pn) * (pr // pn) AS BIGINT)
                   AS volume_effect_e4,
               CAST((rev_e4 - pr) - (n_orders - pn) * (pr // pn)
                    AS BIGINT) AS price_effect_e4
        FROM lagged WHERE pn IS NOT NULL
    """,
)
def q_revenue_bridge_mom(spark, sf_dir):
    """Month-over-month revenue BRIDGE: ΔRevenue split into the
    volume effect (Δorders × prior average order value, exact e4
    integers, floor average) and the price/mix effect (the exact
    residual — the two-factor waterfall every finance review walks,
    conservation volume + price = Δrev BY CONSTRUCTION and pinned
    in pytest). YoY growth (#183) says revenue moved; the bridge
    says whether more orders or bigger orders moved it. One
    month-grain aggregate; the lag window runs on the month
    dimension (#268 discipline)."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("month")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 10000).cast("long"))
        .cast("long")
        .alias("rev_e4"),
    )
    w = Window.orderBy("month")
    lagged = m.select(
        "month",
        "n_orders",
        "rev_e4",
        F.lag("n_orders").over(w).alias("pn"),
        F.lag("rev_e4").over(w).alias("pr"),
    ).where(F.col("pn").isNotNull())
    return lagged.select(
        "month",
        "n_orders",
        "rev_e4",
        (F.col("rev_e4") - F.col("pr")).cast("long").alias("d_rev_e4"),
        F.expr("(n_orders - pn) * (pr div pn)")
        .cast("long")
        .alias("volume_effect_e4"),
        F.expr("(rev_e4 - pr) - (n_orders - pn) * (pr div pn)")
        .cast("long")
        .alias("price_effect_e4"),
    )


_ATTR_FLAGS_SQL = """
               NOT e.is_canonical AS g_exact_dup,
               c.cluster_id <> d.doc_id AS g_near_dup,
               co.doc_id IS NOT NULL AS g_contaminated,
               COALESCE(n.is_dup_heavy, FALSE) AS g_dup_heavy,
               r.is_repetitive AS g_repetitive,
               c4.c4_filtered AS g_c4_filtered,
               g.gopher_filtered AS g_gopher_filtered,
               gr2.gopher_repetitive AS g_gopher_repetitive,
               qu.quality_bp < {q} AS g_low_quality,
               ds.off_target AS g_off_target,
               NOT s.in_sample AS g_sampled_out,
               ld.boilerplate AS g_boilerplate"""

_ATTR_N_FIRED_SQL = """
        (CASE WHEN NOT e.is_canonical THEN 1 ELSE 0 END)
        + (CASE WHEN c.cluster_id <> d.doc_id THEN 1 ELSE 0 END)
        + (CASE WHEN co.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        + (CASE WHEN COALESCE(n.is_dup_heavy, FALSE) THEN 1 ELSE 0 END)
        + (CASE WHEN r.is_repetitive THEN 1 ELSE 0 END)
        + (CASE WHEN c4.c4_filtered THEN 1 ELSE 0 END)
        + (CASE WHEN g.gopher_filtered THEN 1 ELSE 0 END)
        + (CASE WHEN gr2.gopher_repetitive THEN 1 ELSE 0 END)
        + (CASE WHEN qu.quality_bp < {q} THEN 1 ELSE 0 END)
        + (CASE WHEN ds.off_target THEN 1 ELSE 0 END)
        + (CASE WHEN NOT s.in_sample THEN 1 ELSE 0 END)
        + (CASE WHEN ld.boilerplate THEN 1 ELSE 0 END)"""


@query(
    "corpus_gate_attribution",
    oracle=_KEEP_GATES_CTES_LSH
    + _V3_EXTRA_CTES
    + _V4_EXTRA_CTES
    + _V5_EXTRA_CTES
    + _V6_EXTRA_CTES
    + f"""
        SELECT d.doc_id,
               {_ATTR_FLAGS_SQL.format(q=_KEEP_QUALITY_BP)},
               CAST({_ATTR_N_FIRED_SQL.format(q=_KEEP_QUALITY_BP)}
                    AS BIGINT) AS n_gates_fired,
               ({_ATTR_N_FIRED_SQL.format(q=_KEEP_QUALITY_BP)}) = 1
                   AS sole_blocker
        FROM documents d
        JOIN exact e USING (doc_id)
        JOIN clusters c USING (doc_id)
        JOIN quality qu USING (doc_id)
        JOIN samp s USING (doc_id)
        JOIN rep r USING (doc_id)
        JOIN c4 USING (doc_id)
        JOIN goph g USING (doc_id)
        JOIN dsir ds USING (doc_id)
        JOIN grep gr2 USING (doc_id)
        JOIN ld USING (doc_id)
        LEFT JOIN contaminated co USING (doc_id)
        LEFT JOIN ngc n USING (doc_id)
    """,
)
def q_corpus_gate_attribution(spark, sf_dir):
    """MULTI-LABEL gate attribution for the twelve-gate keep-list:
    every gate's verdict per document (not just the first-priority
    reason code v6 reports), the count of gates fired, and the
    sole_blocker flag — docs exactly ONE gate rejects, the
    actionable set for gate tuning ('if I relaxed the repetition
    threshold, which documents would actually come back?' — under
    priority codes alone that question is unanswerable because
    later gates' verdicts are masked). Pure composition: the same
    twelve verified component queries the v6 chain consumes,
    joined by doc_id with each flag referenced once (no
    re-derivation, so no checkpoint needed — unlike the manifest's
    census-plus-join double reference)."""
    docs = load_table(spark, sf_dir, "documents")
    exact = _dedup.dedup_exact(docs).select(
        "doc_id", (~F.col("is_canonical")).alias("g_exact_dup")
    )
    clusters = _near_dup_clusters(spark, sf_dir, "lsh").select(
        "doc_id",
        (F.col("cluster_id") != F.col("doc_id")).alias("g_near_dup"),
    )
    quality = _text.quality_score(docs).select(
        "doc_id",
        (F.col("quality_bp") < _KEEP_QUALITY_BP).alias("g_low_quality"),
    )
    rate_map = F.create_map(
        *[F.lit(x) for kv in _sampling.SAMPLE_RATES_BP.items() for x in kv]
    )
    samp = docs.select(
        "doc_id",
        (
            ~(
                _sampling._hash_bp(F.col("doc_id"))
                < F.coalesce(
                    rate_map[F.col("lang")],
                    F.lit(_sampling.DEFAULT_RATE_BP),
                ).cast("long")
            )
        ).alias("g_sampled_out"),
    )
    rep = QUERIES["text_repetition_stats"](spark, sf_dir).select(
        "doc_id", (F.col("is_repetitive") == 1).alias("g_repetitive")
    )
    con = QUERIES["corpus_decontaminate"](spark, sf_dir).select(
        "doc_id", F.lit(True).alias("g_contaminated")
    )
    ngc = QUERIES["dedup_ngram_coverage"](spark, sf_dir).select(
        "doc_id", (F.col("is_dup_heavy") == 1).alias("g_dup_heavy")
    )
    c4 = QUERIES["text_c4_filters"](spark, sf_dir).select(
        "doc_id", (F.col("keep") == 0).alias("g_c4_filtered")
    )
    goph = QUERIES["text_gopher_rules"](spark, sf_dir).select(
        "doc_id", (F.col("keep") == 0).alias("g_gopher_filtered")
    )
    dsir = QUERIES["sample_importance_weights"](spark, sf_dir).select(
        "doc_id",
        (F.col("mean_ratio_ppm") < _DSIR_MIN_MEAN_PPM).alias(
            "g_off_target"
        ),
    )
    grep = QUERIES["text_gopher_repetition"](spark, sf_dir).select(
        "doc_id", (F.col("keep") == 0).alias("g_gopher_repetitive")
    )
    ld = QUERIES["corpus_line_dedup_report"](spark, sf_dir).select(
        "doc_id",
        (F.col("removed_char_bp") > _BOILERPLATE_BP).alias(
            "g_boilerplate"
        ),
    )
    j = (
        docs.select("doc_id")
        .join(exact, "doc_id")
        .join(clusters, "doc_id")
        .join(con, "doc_id", "left")
        .join(ngc, "doc_id", "left")
        .join(rep, "doc_id")
        .join(c4, "doc_id")
        .join(goph, "doc_id")
        .join(grep, "doc_id")
        .join(quality, "doc_id")
        .join(dsir, "doc_id")
        .join(samp, "doc_id")
        .join(ld, "doc_id")
        .withColumn(
            "g_contaminated",
            F.coalesce(F.col("g_contaminated"), F.lit(False)),
        )
        .withColumn(
            "g_dup_heavy",
            F.coalesce(F.col("g_dup_heavy"), F.lit(False)),
        )
    )
    flags = [
        "g_exact_dup",
        "g_near_dup",
        "g_contaminated",
        "g_dup_heavy",
        "g_repetitive",
        "g_c4_filtered",
        "g_gopher_filtered",
        "g_gopher_repetitive",
        "g_low_quality",
        "g_off_target",
        "g_sampled_out",
        "g_boilerplate",
    ]
    n_fired = F.expr(
        " + ".join(f"(CASE WHEN {f} THEN 1 ELSE 0 END)" for f in flags)
    ).cast("long")
    return j.select(
        "doc_id",
        *flags,
        n_fired.alias("n_gates_fired"),
        (n_fired == 1).alias("sole_blocker"),
    )


def _cohort_matrix_sql(dialect: str) -> str:
    div = "//" if dialect == "duck" else "div"
    ep = "epoch_us" if dialect == "duck" else "unix_micros"
    return f"""
        WITH ua AS (
            SELECT DISTINCT user_id,
                   CAST(({ep}(ts) {div} 86400000000) {div} 7
                        AS BIGINT) AS wk
            FROM events)
        , fw AS (
            SELECT user_id, MIN(wk) AS cohort FROM ua
            GROUP BY user_id)
        , cells AS (
            SELECT fw.cohort, ua.wk - fw.cohort AS weeks_since,
                   CAST(COUNT(*) AS BIGINT) AS n_active
            FROM ua JOIN fw ON fw.user_id = ua.user_id
            GROUP BY fw.cohort, ua.wk - fw.cohort)
        , sizes AS (
            SELECT cohort, n_active AS cohort_size
            FROM cells WHERE weeks_since = 0)
        SELECT c.cohort AS cohort_week, c.weeks_since, c.n_active,
               s.cohort_size,
               CAST((10000 * c.n_active) {div} s.cohort_size
                    AS BIGINT) AS retention_bp
        FROM cells c JOIN sizes s ON s.cohort = c.cohort
    """


@query("events_cohort_retention_matrix", oracle=_cohort_matrix_sql("duck"))
def q_events_cohort_retention_matrix(spark, sf_dir):
    """The weekly cohort-retention TRIANGLE — rows are acquisition
    cohorts (first-activity epoch-week), columns weeks-since, cells
    the share of the cohort still active (bp) — the table that
    separates 'retention is improving' from 'old cohorts are
    aging out' (a single global D-N curve #195 mixes the two; the
    growth-accounting flows #274 sum over cohorts). week-0 cells
    are exactly 10000 bp by construction (pinned). One distinct
    (user, week) projection, one user-keyed first-week join, then
    cohort×week-bounded algebra — same scale shape as #274."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "events"
    )
    return spark.sql(_cohort_matrix_sql("spark"))


_ATTR_LOOKBACK_US = 7 * 86400000000


@query(
    "events_purchase_attribution",
    oracle=f"""
        WITH purchases AS (
            SELECT event_id AS pid, user_id, ts FROM events
            WHERE event_type = 'purchase')
        , touches AS (
            SELECT user_id, event_id, ts, event_type FROM events
            WHERE event_type <> 'purchase')
        , firsts AS (
            SELECT p.pid, t.event_type,
                   row_number() OVER (
                       PARTITION BY p.pid
                       ORDER BY t.ts ASC, t.event_id ASC) AS rn
            FROM purchases p
            JOIN touches t ON t.user_id = p.user_id
                AND t.ts < p.ts
                AND epoch_us(t.ts) >= epoch_us(p.ts)
                    - {_ATTR_LOOKBACK_US})
        , attributed AS (
            SELECT p.pid,
                   COALESCE(f.event_type, 'no_touch') AS first_touch
            FROM purchases p
            LEFT JOIN firsts f ON f.pid = p.pid AND f.rn = 1)
        , tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM purchases)
        SELECT a.first_touch,
               CAST(COUNT(*) AS BIGINT) AS n_purchases,
               CAST((10000 * COUNT(*)) // tot.t AS BIGINT) AS share_bp
        FROM attributed a CROSS JOIN tot
        GROUP BY a.first_touch, tot.t
    """,
)
def q_events_purchase_attribution(spark, sf_dir):
    """First-touch attribution: every purchase credited to the
    EARLIEST non-purchase event of the same user inside a 7-day
    lookback (ties by event id; purchases with an empty window land
    in 'no_touch') — the marketing-channel mart the funnel family
    (#58/#137) and conversion lag (#173) don't answer: lag says
    how long conversion takes, attribution says what STARTED it.
    The user-keyed range join fans out by per-user 7-day activity;
    at 100 TB it runs as the banded interval join (#59's template:
    bucket both sides by day so a probe only meets ±7 day bands,
    never a whole user history); the rank window partitions by
    purchase."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id"),
        F.col("ts").alias("pts"),
    )
    touches = ev.where(F.col("event_type") != "purchase").select(
        "user_id",
        F.col("event_id").alias("tid"),
        F.col("ts").alias("tts"),
        "event_type",
    )
    joined = purchases.join(touches, "user_id").where(
        (F.col("tts") < F.col("pts"))
        & (
            F.unix_micros("tts")
            >= F.unix_micros("pts") - F.lit(_ATTR_LOOKBACK_US)
        )
    )
    w = Window.partitionBy("pid").orderBy(
        F.col("tts").asc(), F.col("tid").asc()
    )
    firsts = (
        joined.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("pid", "event_type")
    )
    attributed = purchases.join(firsts, "pid", "left").select(
        "pid",
        F.coalesce(F.col("event_type"), F.lit("no_touch")).alias(
            "first_touch"
        ),
    )
    tot = purchases.agg(F.count(F.lit(1)).alias("t"))
    return (
        attributed.crossJoin(F.broadcast(tot))
        .groupBy("first_touch", "t")
        .agg(F.count(F.lit(1)).cast("long").alias("n_purchases"))
        .select(
            "first_touch",
            "n_purchases",
            F.expr("(10000 * n_purchases) div t")
            .cast("long")
            .alias("share_bp"),
        )
    )


@query(
    "ann_graph_greedy_topk",
    oracle=_sim.graph_greedy_topk_sql("duck"),
)
def q_ann_graph_greedy_topk(spark, sf_dir):
    """GRAPH-WALK ANN — the sixth (and at billion-vector scale the
    state-of-the-art) search paradigm next to brute force, IVF,
    trained-k-means IVF, PQ, and sign-Hamming: an HNSW-style
    layer-0 greedy best-first walk (Malkov & Yashunin 2018) over
    the corpus KNN graph (#147's edge list). The coarse quantizer
    supplies the ENTRY point per probe (exactly the role of HNSW's
    upper layers: one broadcast argmax over the seed table), then
    GREEDY_HOPS unrolled rounds each expand the current node's
    KNN_K neighbors, score them against the probe by exact cosine,
    and keep the argmax of {current} ∪ {neighbors} — a stalled walk
    is a fixpoint by construction, so fixed unrolling subsumes the
    classic 'stop when no improvement' rule. The final top-k is an
    exact rerank of every node the walk VISITED (the ef-search
    candidate pool). recall@5 = 0.60 vs brute force at sf0.001
    (pinned band in tests/test_round10.py) from a pool of ≤
    1 + HOPS·KNN_K candidates per probe — ~10 distance evaluations
    per hop round vs the corpus-sized scan brute force pays.

    Scale: the edge list is built ONCE and checkpoint-materialized
    (local/reliable split, same as graph_pagerank_knn — hop rounds
    must not re-run the cell self-join); each hop is a frontier
    (ONE row per probe) equi-joined to the KNN_K-bounded edge list
    plus a vec_id-keyed embedding fetch — per-hop work is
    O(|probes|·KNN_K), independent of corpus size, which is the
    whole point of graph-walk ANN. Reference has no ANN surface;
    this extends the pipeline brief's similarity-search family.
    Edges come from the shared `graph_knn_edges` gate map (r6)."""
    edges = _knn_edges_view(spark, sf_dir)
    spark.sql(
        f"SELECT src, dst FROM {edges}"
    ).createOrReplaceTempView("greedy_edges_mat")
    return spark.sql(
        _sim._greedy_view_sql(None, _sim.GREEDY_HOPS)
    )


@query("dedup_minhash_b_bit", oracle=_dedup.BBIT_MINHASH_SQL)
def q_dedup_minhash_b_bit(spark, sf_dir):
    """b-bit minwise hashing (Li & Konig 2010): per LSH candidate
    pair, the 4-bit-truncated sketch estimate beside the full-width
    one and the exact Jaccard — the 16× signature-compression
    knob's measured cost, with the collision-corrected unbiased
    estimator in exact integer bp; see
    operators/dedup.py:bbit_minhash_estimate for the algebra and
    the negative-numerator guard. matches_b4 ≥ matches_full and
    the b4=full-at-12 fixpoint are pinned in tests/test_round10."""
    docs, sh, sig = _text_minhash_mats(spark, sf_dir)
    return _dedup.bbit_minhash_estimate(docs, sh=sh, signatures=sig)


@query(
    "events_multitouch_attribution",
    oracle=f"""
        WITH purchases AS (
            SELECT event_id AS pid, user_id, ts FROM events
            WHERE event_type = 'purchase')
        , touches AS (
            SELECT user_id, event_id, ts, event_type FROM events
            WHERE event_type <> 'purchase')
        , windowed AS (
            SELECT p.pid, t.event_type,
                   row_number() OVER (
                       PARTITION BY p.pid
                       ORDER BY t.ts ASC, t.event_id ASC) AS rn,
                   row_number() OVER (
                       PARTITION BY p.pid
                       ORDER BY t.ts DESC, t.event_id DESC) AS rn_last,
                   COUNT(*) OVER (PARTITION BY p.pid) AS n
            FROM purchases p
            JOIN touches t ON t.user_id = p.user_id
                AND t.ts < p.ts
                AND epoch_us(t.ts) >= epoch_us(p.ts)
                    - {_ATTR_LOOKBACK_US})
        , credited AS (
            SELECT event_type,
                   CASE WHEN rn = 1 THEN 10000 ELSE 0 END AS first_bp,
                   CASE WHEN rn_last = 1 THEN 10000 ELSE 0 END
                       AS last_bp,
                   (10000 // n) + (CASE WHEN rn <= 10000 % n
                                   THEN 1 ELSE 0 END) AS linear_bp
            FROM windowed)
        SELECT event_type AS channel,
               CAST(COUNT(*) AS BIGINT) AS n_touches,
               CAST(SUM(first_bp) AS BIGINT) AS first_credit_bp,
               CAST(SUM(last_bp) AS BIGINT) AS last_credit_bp,
               CAST(SUM(linear_bp) AS BIGINT) AS linear_credit_bp
        FROM credited GROUP BY event_type
    """,
)
def q_events_multitouch_attribution(spark, sf_dir):
    """MULTI-touch attribution beside #292's first-touch: per
    purchase, every non-purchase event in the 7-day lookback gets
    credit under three models at once — first-touch (10000 bp to
    the earliest), last-touch (to the latest), and LINEAR (10000
    div n to each, with the remainder distributed one bp to the n
    mod positions earliest — so each purchase's credit sums to
    EXACTLY 10000 bp under every model, the conservation law
    pytest pins; naive floor division would leak n−1 bp per
    purchase). Channel-grain sums answer the budget question
    first/last alone bias: channels that ASSIST mid-journey earn
    linear credit but zero first/last. Same banded-interval scale
    shape as #292; the three windows share one partition key
    (pid), so Spark computes them in a single sort."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id"),
        F.col("ts").alias("pts"),
    )
    touches = ev.where(F.col("event_type") != "purchase").select(
        "user_id",
        F.col("event_id").alias("tid"),
        F.col("ts").alias("tts"),
        "event_type",
    )
    joined = purchases.join(touches, "user_id").where(
        (F.col("tts") < F.col("pts"))
        & (
            F.unix_micros("tts")
            >= F.unix_micros("pts") - F.lit(_ATTR_LOOKBACK_US)
        )
    )
    wp = Window.partitionBy("pid")
    wa = wp.orderBy(F.col("tts").asc(), F.col("tid").asc())
    wd = wp.orderBy(F.col("tts").desc(), F.col("tid").desc())
    windowed = joined.select(
        "pid",
        "event_type",
        F.row_number().over(wa).alias("rn"),
        F.row_number().over(wd).alias("rn_last"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    credited = windowed.select(
        "event_type",
        F.when(F.col("rn") == 1, 10000).otherwise(0).alias("first_bp"),
        F.when(F.col("rn_last") == 1, 10000)
        .otherwise(0)
        .alias("last_bp"),
        (
            F.expr("10000 div n")
            + F.when(F.col("rn") <= F.expr("10000 % n"), 1).otherwise(0)
        ).alias("linear_bp"),
    )
    return credited.groupBy(
        F.col("event_type").alias("channel")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_touches"),
        F.sum("first_bp").cast("long").alias("first_credit_bp"),
        F.sum("last_bp").cast("long").alias("last_credit_bp"),
        F.sum("linear_bp").cast("long").alias("linear_credit_bp"),
    )


@query("text_rake_keywords", oracle=_text.rake_keywords_sql("duck"))
def q_text_rake_keywords(spark, sf_dir):
    """RAKE keyword extraction (Rose et al. 2010): corpus top-20
    words by co-occurrence degree / frequency over stopword-
    delimited candidate phrases — the graph-free keyword ranker
    that complements tf-idf (#110) and distinctive-token lift
    (#240): RAKE rewards words that ANCHOR long multi-word runs,
    not words that are merely frequent or merely source-specific.
    String-level overlap-free phrase split (no positional window);
    see operators/text.py:rake_keywords_sql for the doubling trick
    and scale shape."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(_text.rake_keywords_sql("spark"))


def _reorder_hazard_sql(dialect: str) -> str:
    div = "//" if dialect == "duck" else "div"
    ep = "epoch_us" if dialect == "duck" else "unix_micros"
    return f"""
        WITH seq AS (
            SELECT o_custkey, o_orderdate,
                   lag(o_orderdate) OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey) AS prev_dt
            FROM orders)
        , ev AS (
            SELECT CAST(((({ep}(o_orderdate) - {ep}(prev_dt))
                        {div} 86400000000) {div} 7) AS BIGINT) AS b,
                   1 AS is_event
            FROM seq WHERE prev_dt IS NOT NULL)
        , hw AS (SELECT MAX(o_orderdate) AS hwm FROM orders)
        , cen AS (
            SELECT CAST(((({ep}(hw.hwm) - {ep}(c.last_dt))
                        {div} 86400000000) {div} 7) AS BIGINT) AS b,
                   0 AS is_event
            FROM (SELECT o_custkey, MAX(o_orderdate) AS last_dt
                  FROM orders GROUP BY o_custkey) c
            CROSS JOIN hw)
        , obs AS (
            SELECT b, is_event FROM ev
            UNION ALL SELECT b, is_event FROM cen)
        , byb AS (
            SELECT b,
                   CAST(SUM(is_event) AS BIGINT) AS n_reorder,
                   CAST(SUM(1 - is_event) AS BIGINT) AS n_censored,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM obs GROUP BY b)
        , risk AS (
            SELECT b, n_reorder, n_censored,
                   CAST(SUM(n) OVER (ORDER BY b DESC) AS BIGINT)
                       AS n_at_risk
            FROM byb)
        SELECT b AS gap_week, n_at_risk, n_reorder, n_censored,
               CAST((10000 * n_reorder) {div} n_at_risk AS BIGINT)
                   AS hazard_bp
        FROM risk
    """


@query("orders_reorder_hazard", oracle=_reorder_hazard_sql("duck"))
def q_orders_reorder_hazard(spark, sf_dir):
    """Discrete-time reorder SURVIVAL table (the Kaplan-Meier input
    grid): observations are inter-order gaps per customer (events)
    plus each customer's open gap since their LAST order, right-
    censored at the corpus high-water-mark date — dropping the
    censored arm (what a naive gap histogram does) overstates late
    hazards because long open gaps silently leave the denominator.
    Bucketed by 7-day intervals: n_at_risk(b) = observations
    surviving to b (reverse-cumulative window, includes b),
    hazard_bp = 10000·reorders(b)/at-risk(b), floor-exact. The KM
    survival CURVE is a cumulative product of (1 − hazard) — a
    float product the integer-exact contract deliberately leaves to
    the consumer; this table is the estimator's sufficient input
    (hazards + risk sets), which IS exact.

    Scale: one lag window per customer partition (key-bounded), one
    customer-grain aggregate, then bucket-grain algebra (≤ span/7
    rows); the reverse cumsum runs on the bucket dimension, never
    rows — the #268 window-on-dimension discipline."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders"
    )
    return spark.sql(_reorder_hazard_sql("spark"))


def _peak_concurrency_sql(dialect: str) -> str:
    div = "//" if dialect == "duck" else "div"
    ep = "epoch_us" if dialect == "duck" else "unix_micros"
    return f"""
        WITH flagged AS (
            SELECT user_id, ts, event_id,
                CASE WHEN lag({ep}(ts)) OVER w IS NULL THEN 1
                     WHEN {ep}(ts) - lag({ep}(ts)) OVER w
                          > 1800000000 THEN 1
                     ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
        , sess AS (
            SELECT user_id,
                   CAST(SUM(new_sess) OVER (
                       PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid,
                   ts
            FROM flagged)
        , spans AS (
            SELECT user_id, sid,
                   MIN(ts) AS s_start, MAX(ts) AS s_end
            FROM sess GROUP BY user_id, sid)
        , b AS (
            SELECT date_trunc('day', s_start) AS day,
                   {ep}(s_start) AS t_us, 1 AS delta, 0 AS ord
            FROM spans
            UNION ALL
            SELECT date_trunc('day', s_end) AS day,
                   {ep}(s_end) AS t_us, -1 AS delta, 1 AS ord
            FROM spans)
        , daily AS (
            SELECT day,
                   CAST(SUM(delta) AS BIGINT) AS net,
                   CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_started
            FROM b GROUP BY day)
        , carry AS (
            SELECT day, n_started,
                   CAST(SUM(net) OVER (ORDER BY day) - net AS BIGINT)
                       AS carry_in
            FROM daily)
        , run AS (
            SELECT day,
                   CAST(SUM(delta) OVER (
                       PARTITION BY day ORDER BY t_us, ord)
                       AS BIGINT) AS r
            FROM b)
        , peak AS (
            SELECT day, CAST(MAX(r) AS BIGINT) AS max_run
            FROM run GROUP BY day)
        SELECT c.day, c.n_started, c.carry_in,
               CAST(c.carry_in + GREATEST(p.max_run, 0) AS BIGINT)
                   AS peak_concurrent
        FROM carry c JOIN peak p ON p.day = c.day
    """


@query("events_peak_concurrency", oracle=_peak_concurrency_sql("duck"))
def q_events_peak_concurrency(spark, sf_dir):
    """Per-day PEAK simultaneous sessions — the capacity-planning
    number (how many concurrent users must the serving tier hold?)
    that session counts and DAU (#55/#190) cannot give. Sessions
    are the #66 lag-flag islands (gap > 30 min splits, span =
    [first event, last event]); each span emits +1/-1 boundary
    rows and concurrency(t) is their prefix sum. The prefix NEVER
    runs globally: per-day windows take the within-day running sum
    (starts ordered before ends at equal timestamps — closed-
    interval semantics; the default RANGE frame makes tie groups
    share the group-end value, so the per-day MAX is deterministic
    without a unique tiebreak), and the cross-day baseline is the
    band-prefix carry_in — a day-grain cumulative of net deltas,
    the #132/#194 decomposition that keeps the global sort off the
    data rows. Midnight-crossing sessions are handled exactly: the
    +1 lands in the start day, the -1 in the end day, carry_in
    bridges. peak = carry_in + max(0, within-day max run) — the
    max(0,·) covers days whose first boundary is an end (the peak
    then stands at the carried baseline before any boundary).

    Laws pinned in tests/test_round10: global net telescopes to
    zero (every span closes), carry_in ≥ 0, per-day peak ≥
    carry-adjusted bounds, and the sf0.001 peak cross-checked
    against a Python sweep."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "events"
    )
    return spark.sql(_peak_concurrency_sql("spark"))


@query("text_rake_phrases", oracle=_text.rake_phrases_sql("duck"))
def q_text_rake_phrases(spark, sf_dir):
    """Phrase-grain RAKE (Rose et al. 2010): top-15 candidate
    phrases by summed member-word deg/freq score — the keyphrase
    surface (#296 ranks words; this ranks the multi-word spans
    RAKE was designed for, capped at RAKE_MAX_PHRASE words as
    practical implementations do). Vocabulary-bounded word stats,
    corpus-linear distinct phrases, one broadcastable token join;
    see operators/text.py:rake_phrases_sql."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(_text.rake_phrases_sql("spark"))


@query("graph_seed_reach_layers", oracle=_sim.seed_reach_sql("duck"))
def q_graph_seed_reach_layers(spark, sf_dir):
    """Multi-source BFS census from the quantizer seeds over the
    DIRECTED KNN edge list, GREEDY_HOPS unrolled rounds — the
    COVERAGE CERTIFICATE for the graph-walk ANN (#293): a vector in
    layer −1 cannot be returned by any ≤-H-hop walk from any seed,
    whatever the probe, so (reached mass)/(corpus) upper-bounds the
    walk's achievable recall and tells a deployment whether to add
    hops, seeds, or graph degree (at sf0.001: 224/500 reachable in
    3 hops — exactly why #293's recall band sits at 0.6, and the
    measured case for n_cells ∝ n sizing at scale). Counts-only
    census: each round's reached set is eagerly materialized before
    being referenced twice (expansion + census — the
    multiplicative-CTE lesson); sets are node-sized, expansion is
    an edge-keyed equi-join, census is scalar counts.
    tests/test_round10 pins monotone non-increasing layer growth
    beyond hop 1 on this graph class and mass conservation to the
    corpus total. Edges come from the shared `graph_knn_edges` gate
    map (r6)."""
    edges = _knn_edges_view(spark, sf_dir)
    spark.sql(
        f"SELECT src, dst FROM {edges}"
    ).createOrReplaceTempView("greedy_edges_mat")
    return _sim.seed_reach_layers(spark, sf_dir, edges_view="greedy_edges_mat")


# ---------------------------------------------------------------------------
# R11: HLL set algebra (audience overlap), k-anonymity, hashed
# linear quality classifier, Hilbert layout keys
# ---------------------------------------------------------------------------


def _hll_est_chain(dialect: str, regs: str, keys: list[str]) -> str:
    """SELECT producing ``keys + hll_estimate`` from a register
    table ``regs`` (columns: keys, bucket, rho) — the exact-integer
    Flajolet estimator + linear-counting correction of #208,
    factored so set-algebra queries can estimate ANY register table
    (per-type, per-pair union) with one shared code path. 2^(−rho)
    terms are 2^(SHIFT−rho) BIGINT shifts; the alpha·m²·2^SHIFT
    numerator runs in DECIMAL(38,0)/HUGEINT; the LC branch reads the
    precomputed integer m·ln(m/V) table (no runtime floats)."""
    kcols = ", ".join(keys)
    if dialect == "spark":
        shl = f"shiftleft(CAST(1 AS BIGINT), {_HLL_SHIFT} - CAST(rho AS INT))"
        big = "DECIMAL(38,0)"
        est = (
            f"CAST((CAST({_HLL_ALPHA_E5} AS {big}) * {_HLL_M} * {_HLL_M}"
            f" * CAST(shiftleft(CAST(1 AS BIGINT), {_HLL_SHIFT}) AS {big}))"
            f" div (CAST(denom AS {big}) * 100000) AS BIGINT)"
        )
    else:
        shl = f"(CAST(1 AS BIGINT) << ({_HLL_SHIFT} - CAST(rho AS INT)))"
        est = (
            f"CAST((CAST({_HLL_ALPHA_E5} AS HUGEINT) * {_HLL_M} * {_HLL_M}"
            f" * (CAST(1 AS HUGEINT) << {_HLL_SHIFT}))"
            f" // (CAST(denom AS HUGEINT) * 100000) AS BIGINT)"
        )
    return f"""
        SELECT {kcols},
               CAST(CASE WHEN raw_est <= {_HLL_M * 5 // 2} AND n_empty > 0
                    THEN lc.lc_est ELSE raw_est END AS BIGINT)
                   AS hll_estimate
        FROM (
            SELECT {kcols}, {est} AS raw_est,
                   {_HLL_M} - n_filled AS n_empty
            FROM (
                SELECT {kcols},
                       CAST(COUNT(*) AS BIGINT) AS n_filled,
                       CAST(SUM({shl}) AS BIGINT)
                           + ({_HLL_M} - CAST(COUNT(*) AS BIGINT))
                           * CAST({2 ** _HLL_SHIFT} AS BIGINT) AS denom
                FROM {regs} GROUP BY {kcols}) d) r
        LEFT JOIN {_hll_lc_table()} ON lc.v = r.n_empty
    """


def _hll_overlap_sql(dialect: str, regs_src: str) -> str:
    """Set algebra over per-event-type HLL registers: union via
    register-wise MAX (the ONLY exact sketch operation), then
    intersection by inclusion–exclusion |A∩B| ≈ |A|+|B|−|A∪B|,
    audited against the exact intersection. ``regs_src`` is the
    register relation (event_type, bucket, rho) — a materialized
    temp view on the Spark side, an AS MATERIALIZED CTE in duck."""
    div = "div" if dialect == "spark" else "//"
    single = _hll_est_chain(dialect, "regs_r", ["event_type"])
    union = _hll_est_chain(dialect, "uregs", ["ta", "tb"])
    mat = "MATERIALIZED " if dialect != "spark" else ""
    return f"""
        WITH regs_r AS {mat}({regs_src})
        , types AS (SELECT DISTINCT event_type FROM events)
        , pairs AS (
            SELECT a.event_type AS ta, b.event_type AS tb
            FROM types a JOIN types b ON a.event_type < b.event_type)
        , uregs AS {mat}(
            SELECT p.ta, p.tb, r.bucket, MAX(r.rho) AS rho
            FROM pairs p JOIN regs_r r
              ON r.event_type = p.ta OR r.event_type = p.tb
            GROUP BY p.ta, p.tb, r.bucket)
        , est_single AS {mat}({single})
        , est_union AS ({union})
        , exact_single AS {mat}(
            SELECT event_type,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_d
            FROM events GROUP BY event_type)
        , exact_pairs AS (
            SELECT a.event_type AS ta, b.event_type AS tb,
                   CAST(COUNT(*) AS BIGINT) AS exact_inter
            FROM (SELECT DISTINCT event_type, user_id FROM events) a
            JOIN (SELECT DISTINCT event_type, user_id FROM events) b
              ON a.user_id = b.user_id AND a.event_type < b.event_type
            GROUP BY a.event_type, b.event_type)
        SELECT eu.ta AS type_a, eu.tb AS type_b,
               ea.hll_estimate AS est_a,
               eb.hll_estimate AS est_b,
               eu.hll_estimate AS est_union,
               GREATEST(CAST(0 AS BIGINT),
                        ea.hll_estimate + eb.hll_estimate
                        - eu.hll_estimate) AS est_inter,
               x.exact_inter,
               xa.exact_d + xb.exact_d - x.exact_inter AS exact_union,
               (10000 * GREATEST(CAST(0 AS BIGINT),
                        ea.hll_estimate + eb.hll_estimate
                        - eu.hll_estimate))
                   {div} eu.hll_estimate AS jacc_est_bp,
               (10000 * x.exact_inter)
                   {div} (xa.exact_d + xb.exact_d - x.exact_inter)
                   AS jacc_exact_bp
        FROM est_union eu
        JOIN est_single ea ON ea.event_type = eu.ta
        JOIN est_single eb ON eb.event_type = eu.tb
        JOIN exact_pairs x ON x.ta = eu.ta AND x.tb = eu.tb
        JOIN exact_single xa ON xa.event_type = eu.ta
        JOIN exact_single xb ON xb.event_type = eu.tb
    """


@query(
    "events_hll_overlap",
    oracle=_hll_overlap_sql(
        "duck", _sk.hll_sql("events", "user_id", "duck", group="event_type")
    ),
)
def q_events_hll_overlap(spark, sf_dir):
    """Audience-overlap mart from SKETCHES ALONE: for every
    event-type pair, estimate |A∪B| by register-wise MAX of the two
    per-type HLL register tables (the one set operation HLL supports
    exactly — max of registers IS the union's registers, the same
    mergeability that makes the sketch streamable) and |A∩B| by
    inclusion–exclusion, clamped at 0; Jaccard in bp from the two.
    The exact intersection/union audit columns sit beside the
    estimates, so the mart doubles as the published error-profile of
    sketch-based overlap at this register width. Re-expresses the
    reference's monitoring joins (notebooks' per-table distinct
    counts) as a pairwise overlap matrix with NO second scan per
    pair: at 100 TB the per-type registers (256 rows each, MAX-
    mergeable per micro-batch, #156's streaming law) are the ONLY
    state touched by the pairwise algebra — the events table is
    scanned once for registers (+ once here for the audit twin, a
    column the production mart would drop).

    Scale: pairs × 256 register rows of algebra after one scan;
    registers localCheckpointed before the pairwise chain references
    them (expansion + two single-type estimates — the
    multiplicative-CTE rule); estimator exact-integer end to end
    (DECIMAL(38,0)/HUGEINT numerators, floor div, constant LC
    table)."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    regs = spark.sql(
        _sk.hll_sql("events", "user_id", "spark", group="event_type")
    ).localCheckpoint()
    regs.createOrReplaceTempView("hll_overlap_regs")
    return spark.sql(_hll_overlap_sql("spark", "SELECT * FROM hll_overlap_regs"))


def _k_anonymity_sql(dialect: str) -> str:
    """k-anonymity risk profile over a quasi-identifier projection
    of customer: (nation, market segment, 1000-unit balance band).
    Band uses the posrem floor form — acctbal goes negative and
    Spark div truncates toward zero while DuckDB // floors, so the
    naive quotient disagrees by one below zero (the r8 law)."""
    div = "div" if dialect == "spark" else "//"
    band = (
        "((c - (((c % 100000) + 100000) % 100000))"
        f" {div} 100000)"
    )
    return f"""
        WITH cents AS (
            SELECT CAST(ROUND(c_acctbal * 100) AS BIGINT) AS c,
                   c_nationkey, c_mktsegment
            FROM customer)
        , qi AS (
            SELECT c_nationkey, c_mktsegment, {band} AS bal_band
            FROM cents)
        , gs AS (
            SELECT c_nationkey, c_mktsegment, bal_band,
                   CAST(COUNT(*) AS BIGINT) AS gsize
            FROM qi GROUP BY c_nationkey, c_mktsegment, bal_band)
        , tot AS (
            SELECT CAST(SUM(gsize) AS BIGINT) AS n_rows,
                   CAST(COUNT(*) AS BIGINT) AS n_groups,
                   CAST(MIN(gsize) AS BIGINT) AS k_anonymity
            FROM gs)
        SELECT k.k, t.n_groups, t.n_rows, t.k_anonymity,
               CAST(SUM(CASE WHEN g.gsize < k.k THEN 1 ELSE 0 END)
                    AS BIGINT) AS groups_below_k,
               CAST(SUM(CASE WHEN g.gsize < k.k THEN g.gsize ELSE 0 END)
                    AS BIGINT) AS rows_below_k,
               CAST((10000 * SUM(CASE WHEN g.gsize < k.k
                                 THEN g.gsize ELSE 0 END))
                    AS BIGINT) {div} t.n_rows AS rows_below_bp
        FROM gs g
        CROSS JOIN (VALUES (2), (5), (10), (25)) AS k(k)
        CROSS JOIN tot t
        GROUP BY k.k, t.n_groups, t.n_rows, t.k_anonymity
    """


@query("dq_k_anonymity", oracle=_k_anonymity_sql("duck"))
def q_dq_k_anonymity(spark, sf_dir):
    """Re-identification risk profile — the governance gate a CDC
    pipeline runs BEFORE publishing a landing table downstream (the
    complement of #94's PII scrub: scrubbing direct identifiers is
    useless if the quasi-identifier combination (nation, segment,
    balance band) still isolates individuals). Reports the dataset's
    k-anonymity (min QI group size) and, for each policy threshold
    k ∈ {2,5,10,25}, how many QI groups and what row mass (bp) fall
    below it — the exact numbers a release decision needs (suppress,
    coarsen bands, or pass).

    Scale: one hash-aggregate over the QI projection (group count ≤
    nations × segments × bands, a few thousand however large the
    table), then constant-size threshold algebra; balance banding is
    exact integer cents with the posrem floor (negative balances)."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_k_anonymity_sql("spark"))


from ..operators.classifier import (  # noqa: E402
    CLF_BIAS_E4 as _CLF_BIAS_E4,
    CLF_BUCKETS as _CLF_BUCKETS,
    clf_score_df as _clf_score_df,
    clf_score_sql as _clf_score_sql,
)

# (scoring definition lives in operators/classifier.py — shared with
# the streaming admission gate so batch and stream cannot drift)


@query("text_classifier_score", oracle=_clf_score_sql("duck"))
def q_text_classifier_score(spark, sf_dir):
    """Model-based quality gate — the missing paradigm beside the
    rule-based gates (#22 heuristics, #93 C4, #118/#84 Gopher,
    #112/#167 CCNet LM familiarity): a HASHED-FEATURE LINEAR
    CLASSIFIER (fasttext-style: token → hash bucket → weight,
    mean-pooled + bias → logit), the architecture GPT-3/LLaMA-class
    pipelines use for 'looks like reference text' scoring. Weights
    are a 64-bucket VALUES literal in e4 fixed point (a deployment
    pastes its trained weights; hashing makes the feature map
    vocabulary-free, so the plan is identical whatever the corpus).
    Exact integer end to end: e4 weights, posrem-floor mean
    (weight sums go negative), logit and keep flag both emitted.

    Scale: explode → 64-row broadcast join → per-doc sum; no
    vocabulary table, no shuffle wider than the doc-keyed
    aggregation; the weight table is O(buckets) however large the
    model corpus was. tests pin score recomputation independently
    in Python and hash-bucket stability."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(_clf_score_sql("spark"))


from ..operators import hilbert as _hilbert  # noqa: E402


@query(
    "events_hilbert_key",
    oracle=f"""
        WITH t AS (
            SELECT event_id,
                   CAST(user_id % 256 AS BIGINT) AS x8,
                   CAST((epoch_us(ts) // 3600000000) % 256 AS BIGINT)
                       AS y8
            FROM events)
        SELECT event_id, hx8 AS x8, hy8 AS y8, hkey,
               CAST(hkey // 1024 AS BIGINT) AS hbucket
        FROM ({_hilbert.hilbert_key_sql('duck', 'x8', 'y8',
                                        '(SELECT event_id, x8, y8 FROM t) tt')}) s
    """,
)
def q_events_hilbert_key(spark, sf_dir):
    """Hilbert-curve clustering key over (user_id, event hour) —
    the locality-tighter sibling of the Z-order key (#104; real
    lakehouse OPTIMIZE offers both): consecutive Hilbert keys are
    ADJACENT grid cells (no Morton diagonal jumps), so equal-width
    key chunks get strictly tighter user/hour zone maps — measured
    against Z-order on the same grid in layout_hilbert_compare.

    Engine-friendly formulation (operators/hilbert.py): the
    textbook xy2d loop mutates (x,y) per level and unrolls into a
    ~4×-per-level expression tree that stalls Catalyst's
    project-collapse (the 64-column pHash lesson) — but the
    rotation automaton has only FOUR reachable states, so the
    8-level walk factors into TWO nibble steps through a
    precomputed 1024-row VALUES LUT: two broadcast joins, zero
    expression growth, exact integers; LUT built once in Python
    (the JL-sign-matrix constants rule) and pinned bijective vs the
    reference xy2d on the full 256×256 grid in pytest.

    Scale: per-row projection + two O(1) broadcast joins — the sort
    that CONSUMES the key is the compaction job's existing
    exchange, same as #104."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        f"""
        WITH t AS (
            SELECT event_id,
                   CAST(user_id % 256 AS BIGINT) AS x8,
                   CAST((unix_micros(ts) div 3600000000) % 256 AS BIGINT)
                       AS y8
            FROM events)
        SELECT event_id, hx8 AS x8, hy8 AS y8, hkey,
               CAST(hkey div 1024 AS BIGINT) AS hbucket
        FROM ({_hilbert.hilbert_key_sql('spark', 'x8', 'y8',
                                        '(SELECT event_id, x8, y8 FROM t) tt')}) s
        """
    )


def _layout_compare_core(dialect: str, layouts: dict[str, str], src: str) -> str:
    """Chunk/zone/probe machinery of #219's layout simulation,
    parameterized over the layout-key dict and source relation so
    the Hilbert-vs-Zorder twin reuses the identical experiment."""
    div = "//" if dialect == "duck" else "div"
    chunk_arms = " UNION ALL ".join(
        f"""
        SELECT '{name}' AS layout,
               ((k - kmin) * {_LAYOUT_CHUNKS}) {div} (kmax - kmin + 1)
                   AS chunk,
               user_id, hr
        FROM (SELECT {key} AS k, user_id, hr FROM {src}) b
        CROSS JOIN (SELECT MIN({key}) AS kmin, MAX({key}) AS kmax
                    FROM {src}) mm"""
        for name, key in layouts.items()
    )
    return f"""
        , chunked AS ({chunk_arms})
        , zones AS (
            SELECT layout, chunk,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   MIN(user_id) AS u_lo, MAX(user_id) AS u_hi,
                   MIN(hr) AS h_lo, MAX(hr) AS h_hi
            FROM chunked GROUP BY layout, chunk)
        , span AS (
            SELECT MIN(user_id) AS su_lo, MAX(user_id) AS su_hi,
                   MIN(hr) AS sh_lo, MAX(hr) AS sh_hi
            FROM {src})
        , probes AS (
            SELECT 'user_band' AS probe,
                   su_lo + ((su_hi - su_lo) * 40) {div} 100 AS p_lo,
                   su_lo + ((su_hi - su_lo) * 45) {div} 100 AS p_hi,
                   1 AS on_user
            FROM span
            UNION ALL
            SELECT 'hour_band',
                   sh_lo + ((sh_hi - sh_lo) * 40) {div} 100,
                   sh_lo + ((sh_hi - sh_lo) * 45) {div} 100,
                   0
            FROM span)
        SELECT z.layout, p.probe,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(SUM(CASE WHEN (p.on_user = 1 AND z.u_hi >= p.p_lo
                                   AND z.u_lo <= p.p_hi)
                             OR (p.on_user = 0 AND z.h_hi >= p.p_lo
                                 AND z.h_lo <= p.p_hi)
                        THEN 1 ELSE 0 END) AS BIGINT)
                   AS chunks_scanned,
               CAST((10000 * SUM(CASE WHEN (p.on_user = 1
                                   AND z.u_hi >= p.p_lo
                                   AND z.u_lo <= p.p_hi)
                             OR (p.on_user = 0 AND z.h_hi >= p.p_lo
                                 AND z.h_lo <= p.p_hi)
                        THEN z.n_rows ELSE 0 END))
                    {div} SUM(z.n_rows) AS BIGINT) AS rows_scanned_bp,
               CAST(SUM(z.u_hi - z.u_lo) {div} COUNT(*) AS BIGINT)
                   AS avg_u_extent,
               CAST(SUM(z.h_hi - z.h_lo) {div} COUNT(*) AS BIGINT)
                   AS avg_h_extent
        FROM zones z CROSS JOIN probes p
        GROUP BY z.layout, p.probe
    """


_HZ_LAYOUTS = {
    "ts": "hr",
    "user": "user_id",
    "zorder8": "zkey",
    "hilbert8": "hkey",
}


def _hilbert_base_sql(dialect: str) -> str:
    """(user_id, hr, zkey, hkey) per event on the SAME 256×256
    grid — the apples-to-apples basis the mixed-resolution #104 key
    can't give. Coordinates are SPAN-NORMALIZED (value scaled into
    0..255 over the observed min/max, a 1-row broadcast), not
    modulo-wrapped: a wrapped coordinate decorrelates the key from
    the probe dimension and zone maps stop pruning — measured
    before this fix (hour-band pruned 0 chunks under % 256)."""
    div = "//" if dialect == "duck" else "div"
    ep = "epoch_us" if dialect == "duck" else "unix_micros"
    raw = f"""(SELECT user_id, hr,
                   ((user_id - umin) * 256) {div} (umax - umin + 1) AS x8,
                   ((hr - hmin) * 256) {div} (hmax - hmin + 1) AS y8
            FROM (SELECT user_id,
                         CAST({ep}(ts) {div} 3600000000 AS BIGINT) AS hr
                  FROM events) e
            CROSS JOIN (
                SELECT MIN(user_id) AS umin, MAX(user_id) AS umax,
                       MIN(CAST({ep}(ts) {div} 3600000000 AS BIGINT))
                           AS hmin,
                       MAX(CAST({ep}(ts) {div} 3600000000 AS BIGINT))
                           AS hmax
                FROM events) mm) raw"""
    hil = _hilbert.hilbert_key_sql(dialect, "x8", "y8", raw)
    zx = " + ".join(
        f"((({{x}} >> {i}) & 1) << {2 * i})"
        if dialect == "duck"
        else f"shiftleft(shiftright({{x}}, {i}) & 1, {2 * i})"
        for i in range(8)
    )
    zy = " + ".join(
        f"((({{y}} >> {i}) & 1) << {2 * i + 1})"
        if dialect == "duck"
        else f"shiftleft(shiftright({{y}}, {i}) & 1, {2 * i + 1})"
        for i in range(8)
    )
    zkey = (zx + " + " + zy).replace("{x}", "hx8").replace("{y}", "hy8")
    return f"""
        SELECT user_id, hr, hkey,
               CAST({zkey} AS BIGINT) AS zkey
        FROM ({hil}) h
    """


@query(
    "layout_hilbert_compare",
    oracle=(
        f"WITH hzbase AS MATERIALIZED ({_hilbert_base_sql('duck')})"
        + _layout_compare_core("duck", _HZ_LAYOUTS, "hzbase")
    ),
)
def q_layout_hilbert_compare(spark, sf_dir):
    """Does Hilbert beat Z-order as the OPTIMIZE clustering key?
    The #219 zone-map experiment re-run with BOTH space-filling
    curves on the identical SPAN-NORMALIZED 256×256 (user, hour)
    grid (plus the two single-key baselines): 64 equal-width chunks
    per layout, per-chunk user/hour zone maps, the same two band
    probes, PLUS average zone extents — the locality metric the
    probe count is too coarse to separate. Measured at sf0.01:
    both curves prune both bands to 8/64 chunks (vs 4-and-64 for
    the single-key layouts — the real loser), and Hilbert's
    no-diagonal-jump property appears as tighter average hour
    extents (88 vs Morton's 94 on this grid): the honest version of
    the HILBERT-vs-ZORDER folklore — a modest, real tightening, not
    a probe-count revolution.

    Scale: the per-row key basis (two broadcast LUT joins + codegen
    bit-interleave) is localCheckpointed ONCE on the Spark side,
    then each of 4 layout arms re-reads the tiny materialized
    relation (the multiplicative-CTE rule; duck twin uses AS
    MATERIALIZED) — one events scan total; everything after is
    bounded zone algebra."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    base = spark.sql(_hilbert_base_sql("spark")).localCheckpoint()
    base.createOrReplaceTempView("hzbase_mat")
    return spark.sql(
        "WITH _x AS (SELECT 1)"
        + _layout_compare_core("spark", _HZ_LAYOUTS, "hzbase_mat")
    )


