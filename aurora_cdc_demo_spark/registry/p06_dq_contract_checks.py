from __future__ import annotations

from .p01_cdc_operation_log import (  # noqa: F401
    F,
    QUERIES,
    _BINLOG_LOG_CTE,
    _gate_map,
    _sim,
    _with_log,
    cdc_operation_log,
    ensure_utc,
    load_table,
    query,
    read_binlog_jvm,
)
from .p02_text_gopher_rules import (  # noqa: F401
    _graph_edges_map,
    ORACLES,
)
from .p03_cdc_state_checksums import (  # noqa: F401
    _gini_weighted_rank,
)
from .p05_corpus_keep_list_v7 import (  # noqa: F401
    _HAAR_HOURS,
    _HAAR_LEVELS,
    _HAM_BUDGET,
    _SCENE_FRAMES,
    _SCENE_WIN,
    _recon_checksum,
)

# ---------------------------------------------------------------------------
# Declarative data-contract validation
# ---------------------------------------------------------------------------


def _contract_checks_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    return f"""
        WITH checks AS (
            SELECT 'orders.o_orderkey' AS target, 'not_null' AS rule,
                   CAST(SUM(CASE WHEN o_orderkey IS NULL
                            THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_violations,
                   CAST(COUNT(*) AS BIGINT) AS n_rows
            FROM orders
            UNION ALL
            SELECT 'orders.o_orderkey', 'unique',
                   CAST(COUNT(*) - COUNT(DISTINCT o_orderkey)
                       AS BIGINT),
                   CAST(COUNT(*) AS BIGINT)
            FROM orders
            UNION ALL
            SELECT 'orders.o_totalprice', 'min_bound_0',
                   CAST(SUM(CASE WHEN o_totalprice < 0
                            THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(COUNT(*) AS BIGINT)
            FROM orders
            UNION ALL
            SELECT 'orders.o_orderstatus', 'enum_member',
                   CAST(SUM(CASE WHEN o_orderstatus NOT IN
                            ('O', 'F', 'P') THEN 1 ELSE 0 END)
                       AS BIGINT),
                   CAST(COUNT(*) AS BIGINT)
            FROM orders
            UNION ALL
            SELECT 'lineitem.l_quantity', 'range_1_50',
                   CAST(SUM(CASE WHEN l_quantity < 1
                                  OR l_quantity > 50
                            THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(COUNT(*) AS BIGINT)
            FROM lineitem
            UNION ALL
            SELECT 'lineitem.l_discount', 'range_0_0p1',
                   CAST(SUM(CASE WHEN l_discount < 0
                                  OR l_discount > 0.1
                            THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(COUNT(*) AS BIGINT)
            FROM lineitem
            UNION ALL
            SELECT 'lineitem.l_orderkey', 'fk_orders',
                   CAST(COUNT(*) AS BIGINT),
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem)
            FROM lineitem l
            LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
            WHERE o.o_orderkey IS NULL
            UNION ALL
            SELECT 'customer.c_acctbal', 'min_bound_-1000',
                   CAST(SUM(CASE WHEN c_acctbal < -1000
                            THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(COUNT(*) AS BIGINT)
            FROM customer)
        SELECT target, rule, n_violations, n_rows,
               (n_violations = 0) AS passed,
               CAST((n_violations * 1000000) {div} n_rows AS BIGINT)
                   AS violation_ppm
        FROM checks
    """


@query("dq_contract_checks", oracle=_contract_checks_sql("duck"))
def q_dq_contract_checks(spark, sf_dir):
    """DECLARATIVE DATA-CONTRACT SUITE (the Deequ/Great-Expectations
    run shape): one mart row per (target, rule) with violation
    count, pass flag, and ppm rate — not-null, uniqueness, bound,
    enum-membership, range, and referential rules over the
    warehouse tables, the per-rule generalization of the
    single-purpose audits (#67 value rules, #203 FKs, #215
    completeness, #252 uniqueness): a CI gate consumes THIS table,
    not seven bespoke ones. Every rule arm is a conditional
    aggregate (COUNT/SUM CASE) or an anti-join, so adding a rule
    adds one UNION arm and zero new scan patterns.

    Scale: each arm is a single-pass aggregate over its table
    (map-side combined; the FK arm is the #203 broadcast-able
    anti-join); arms over the same table share nothing ACROSS the
    union by design — an optimizer may multi-scan, a production
    suite groups same-table rules into one aggregate (as the three
    orders arms trivially could; kept separate here for the
    one-row-per-rule contract)."""
    ensure_utc(spark)
    for t in ("orders", "lineitem", "customer"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_contract_checks_sql("spark"))


# ---------------------------------------------------------------------------
# Snake-draft consumer assignment (CDC stream balancing)
# ---------------------------------------------------------------------------

_N_CONSUMERS = 4


def _consumer_assignment_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    n2 = 2 * _N_CONSUMERS
    return f"""
        WITH rates AS (
            SELECT event_type AS tbl,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events GROUP BY event_type)
        , ranked AS (
            SELECT tbl, n_events,
                   CAST(row_number() OVER (
                       ORDER BY n_events DESC, tbl ASC) AS BIGINT)
                       AS rnk
            FROM rates)
        , assigned AS (
            SELECT tbl, n_events, rnk,
                   CAST(CASE WHEN (rnk - 1) % {n2} < {_N_CONSUMERS}
                        THEN (rnk - 1) % {n2}
                        ELSE {n2} - 1 - ((rnk - 1) % {n2})
                        END AS BIGINT) AS consumer
            FROM ranked)
        , loads AS (
            SELECT consumer,
                   CAST(SUM(n_events) AS BIGINT) AS consumer_load
            FROM assigned GROUP BY consumer)
        , tot AS (
            SELECT CAST(SUM(n_events) AS BIGINT) AS total
            FROM rates)
        SELECT a.tbl, a.n_events, a.rnk, a.consumer,
               l.consumer_load,
               CAST((l.consumer_load * {_N_CONSUMERS} * 10000)
                    {div} t.total AS BIGINT) AS load_vs_ideal_bp
        FROM assigned a
        JOIN loads l ON l.consumer = a.consumer
        CROSS JOIN tot t
    """


@query(
    "cdc_consumer_assignment",
    oracle=_consumer_assignment_sql("duck"),
)
def q_cdc_consumer_assignment(spark, sf_dir):
    """SNAKE-DRAFT CONSUMER ASSIGNMENT — the deterministic answer
    to 'spread these CDC streams across N consumers by load': rank
    streams by event rate, deal them boustrophedon (0,1,2,3,3,2,
    1,0,...) so each consumer gets one pick per half-round from
    alternating ends — the closed-form approximation of LPT bin
    packing that needs NO sequential argmin (LPT is inherently
    iterative; the snake is rank arithmetic, so it stays a window +
    modular CASE at any stream count). Per-stream assignment plus
    per-consumer load and its bp ratio vs the ideal even split —
    the balance report the TableManager scheduler consumes (its
    table GROUPS solve priority; this solves placement).

    Scale: one aggregate to stream grain (streams = event types
    here; tables in production — dimension-bounded), one rank
    window over streams, modular arithmetic; the fact table is
    touched once."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_consumer_assignment_sql("spark"))


def _stratified_exact_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    if dialect == "spark":
        h = (
            "CAST(conv(substring(md5(concat('strat:',"
            " CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT)"
        )
    else:
        h = (
            "CAST('0x' || substr(md5('strat:' ||"
            " CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)"
        )
    return f"""
        WITH strata AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM documents GROUP BY source)
        , tot AS (
            SELECT CAST(SUM(n_docs) AS BIGINT) AS n FROM strata)
        , quota AS (
            SELECT s.source, s.n_docs,
                   CAST(({_HAM_BUDGET} * s.n_docs) {div} t.n
                       AS BIGINT) AS floor_alloc,
                   CAST(({_HAM_BUDGET} * s.n_docs) % t.n
                       AS BIGINT) AS rem_num
            FROM strata s CROSS JOIN tot t)
        , leftover AS (
            SELECT CAST({_HAM_BUDGET} - SUM(floor_alloc) AS BIGINT)
                       AS l
            FROM quota)
        , alloc AS (
            SELECT q.source,
                   q.floor_alloc
                   + CASE WHEN CAST(row_number() OVER (
                              ORDER BY q.rem_num DESC, q.source ASC)
                              AS BIGINT) <= lv.l
                          THEN 1 ELSE 0 END AS alloc
            FROM quota q CROSS JOIN leftover lv)
        , hashed AS (
            SELECT doc_id, source, {h} AS hk
            FROM documents)
        , ranked AS (
            SELECT doc_id, source, hk,
                   CAST(row_number() OVER (
                       PARTITION BY source
                       ORDER BY hk ASC, doc_id ASC) AS BIGINT)
                       AS rn
            FROM hashed)
        SELECT r.doc_id, r.source, r.rn AS strat_rank,
               a.alloc AS stratum_take
        FROM ranked r
        JOIN alloc a ON a.source = r.source
        WHERE r.rn <= a.alloc
    """


@query("sample_stratified_exact", oracle=_stratified_exact_sql("duck"))
def q_sample_stratified_exact(spark, sf_dir):
    """EXACT-COUNT STRATIFIED SAMPLE — the composition of Hamilton
    apportionment (#344) with deterministic hash-rank selection:
    each stratum contributes EXACTLY its allocated count (smallest
    md5-rank docs win — reproducible, mergeable, no RNG), so the
    sample hits the budget of {B} docs precisely where the
    hash-threshold sampler (#53) only hits it in expectation
    (binomial noise ±√n per stratum). This is the sampler a
    fixed-size eval set or labeling budget actually needs.
    Σ takes = budget and per-stratum take == #344's alloc, pinned.

    Scale: stratum stats + Hamilton run on the stratum-bounded
    table; selection is a per-stratum rank window — at fact-scale
    strata this becomes per-stratum TakeOrdered (top-alloc by hash),
    which Spark executes as partial top-k per partition, no global
    sort.""".replace("{B}", str(_HAM_BUDGET))
    ensure_utc(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(_stratified_exact_sql("spark"))


# ---------------------------------------------------------------------------
# Weighted exact percentiles (quantity-weighted price)
# ---------------------------------------------------------------------------

_WPCT_BANDS = 64
_WPCT_GRID = (25, 50, 75, 90)


def _weighted_pct_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    grid = ", ".join(f"({q})" for q in _WPCT_GRID)
    if dialect != "spark":
        # oracle: one cumulative window over distinct values
        return f"""
        WITH wp AS (
            SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                        AS BIGINT) AS p,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
                       AS w
            FROM lineitem GROUP BY 1)
        , tot AS (SELECT CAST(SUM(w) AS BIGINT) AS wt FROM wp)
        , cum AS (
            SELECT p, CAST(SUM(w) OVER (ORDER BY p ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS BIGINT) AS cw
            FROM wp)
        , grid AS (SELECT * FROM (VALUES {grid}) AS g(pct))
        SELECT g.pct,
               CAST((g.pct * t.wt + 99) {div} 100 AS BIGINT)
                   AS threshold_w,
               CAST(MIN(c.p) AS BIGINT) AS price_centi,
               t.wt AS total_w
        FROM grid g CROSS JOIN tot t
        JOIN cum c ON c.cw >= (g.pct * t.wt + 99) {div} 100
        GROUP BY g.pct, t.wt
        """
    # spark: band-prefix decomposition — no global window
    return f"""
        WITH wp AS (
            SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                        AS BIGINT) AS p,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
                       AS w
            FROM lineitem GROUP BY 1)
        , mm AS (
            SELECT MIN(p) AS lo, MAX(p) AS hi,
                   CAST(SUM(w) AS BIGINT) AS wt
            FROM wp)
        , banded AS (
            SELECT p, w,
                   ((p - lo) * {_WPCT_BANDS}) {div} (hi - lo + 1)
                       AS band
            FROM wp CROSS JOIN mm)
        , bsum AS (
            SELECT band, CAST(SUM(w) AS BIGINT) AS bw
            FROM banded GROUP BY band)
        , bpre AS (
            SELECT band,
                   CAST(COALESCE(SUM(bw) OVER (ORDER BY band ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS BIGINT) AS prefix
            FROM bsum)
        , cum AS (
            SELECT b.p, bp.prefix
                   + CAST(SUM(b.w) OVER (PARTITION BY b.band
                       ORDER BY b.p ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS BIGINT) AS cw
            FROM banded b JOIN bpre bp ON bp.band = b.band)
        , grid AS (SELECT * FROM (VALUES {grid}) AS g(pct))
        SELECT g.pct,
               CAST((g.pct * m.wt + 99) {div} 100 AS BIGINT)
                   AS threshold_w,
               CAST(MIN(c.p) AS BIGINT) AS price_centi,
               m.wt AS total_w
        FROM grid g CROSS JOIN mm m
        JOIN cum c ON c.cw >= (g.pct * m.wt + 99) {div} 100
        GROUP BY g.pct, m.wt
    """


@query(
    "lineitem_weighted_percentiles",
    oracle=_weighted_pct_sql("duck"),
)
def q_lineitem_weighted_percentiles(spark, sf_dir):
    """QUANTITY-WEIGHTED exact price percentiles — the weighted
    order statistic (#254 handles the unweighted case): the p-th
    weighted percentile is the smallest price whose CUMULATIVE
    QUANTITY reaches ceil(p·W/100), i.e. 'the price below which p%
    of UNITS (not line items) trade' — the statistic pricing and
    inventory actually want. The Spark plan is the band-prefix
    decomposition at distinct-value grain (values hash-aggregate →
    {B} band weight sums prefix over a {B}-row window → within-band
    cumulative windows at ≈1/{B} of the values per reducer); the
    DuckDB oracle keeps the single global cumulative window — the
    answer is plan-independent because the minimum crossing value
    is unique. HUGEINT window-sum gotcha handled by casting every
    windowed sum.

    Scale: the fact table collapses to distinct (price, Σqty) rows
    first (map-side combine); no global sort, no single-reducer
    window — the #254 template extended with weights.""".replace(
        "{B}", str(_WPCT_BANDS)
    )
    ensure_utc(spark)
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem"
    )
    return spark.sql(_weighted_pct_sql("spark"))


# ---------------------------------------------------------------------------
# Skip-bigram sequence mining (frequent a→…→b within K events)
# ---------------------------------------------------------------------------

_SKIP_K = 3


def _skip_bigrams_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    big = (
        "DECIMAL(38,0)" if dialect == "spark" else "HUGEINT"
    )
    leads = ", ".join(
        f"lead(event_type, {j}) OVER w AS l{j}"
        for j in range(1, _SKIP_K + 1)
    )
    arr = ", ".join(f"l{j}" for j in range(1, _SKIP_K + 1))
    if dialect == "spark":
        expand = (
            f"SELECT ta, tb FROM"
            f" (SELECT event_type AS ta, array({arr}) AS ls FROM seq)"
            f" LATERAL VIEW explode(ls) t AS tb"
        )
    else:
        expand = (
            f"SELECT event_type AS ta,"
            f" unnest(list_value({arr})) AS tb FROM seq"
        )
    return f"""
        WITH seq AS (
            SELECT event_type, {leads}
            FROM events
            WINDOW w AS (PARTITION BY user_id
                         ORDER BY ts ASC, event_id ASC))
        , pairs AS (
            SELECT ta, tb FROM ({expand}) x WHERE tb IS NOT NULL)
        , sup AS (
            SELECT ta, tb, CAST(COUNT(*) AS BIGINT) AS support
            FROM pairs GROUP BY ta, tb)
        , lt AS (
            SELECT ta, CAST(SUM(support) AS BIGINT) AS nl
            FROM sup GROUP BY ta)
        , rt AS (
            SELECT tb, CAST(SUM(support) AS BIGINT) AS nr
            FROM sup GROUP BY tb)
        , tot AS (
            SELECT CAST(SUM(support) AS BIGINT) AS t FROM sup)
        SELECT s.ta AS type_a, s.tb AS type_b, s.support,
               l.nl AS n_left, r.nr AS n_right,
               CAST((CAST(s.support AS {big}) * t.t * 10000)
                    {div} (l.nl * CAST(r.nr AS {big})) AS BIGINT)
                   AS lift_bp
        FROM sup s
        JOIN lt l ON l.ta = s.ta
        JOIN rt r ON r.tb = s.tb
        CROSS JOIN tot t
    """


@query("events_skip_bigrams", oracle=_skip_bigrams_sql("duck"))
def q_events_skip_bigrams(spark, sf_dir):
    """SKIP-BIGRAM SEQUENCE MINING (the L=2 core of
    PrefixSpan/SPADE with a gap constraint): how often does type a
    precede type b within the next {K} events of the same user —
    including NON-adjacent precedence, which the adjacent-only
    transition matrix (#129) and top paths (#161) structurally
    miss (a click→…→purchase with an error between them counts
    here, not there). Support plus association lift vs the
    independence baseline (support·total / (left·right) in bp,
    DECIMAL(38,0)/HUGEINT numerators per the overflow rule — four
    BIGINT counters multiply past 2⁶³ at fact scale).

    Scale: ONE user-partitioned window pass computes all {K} leads
    (shared shuffle), a bounded ×{K} expansion, then
    |types|²-bounded algebra; no self-join on the fact
    table.""".replace("{K}", str(_SKIP_K))
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_skip_bigrams_sql("spark"))


# ---------------------------------------------------------------------------
# Audio loudness normalization plan (linear power gains, no dB/logs)
# ---------------------------------------------------------------------------

_GAIN_CAP_BP = 40000  # max 4x power amplification


def _audio_gain_sql(dialect: str) -> str:
    gen = (
        f"LATERAL VIEW explode(sequence(0, {_SCENE_FRAMES - 1}))"
        " g AS frame_idx"
        if dialect == "spark"
        else f", generate_series(0, {_SCENE_FRAMES - 1}) AS g(frame_idx)"
    )
    sub = "substring" if dialect == "spark" else "substr"
    div = "div" if dialect == "spark" else "//"
    energy = " + ".join(
        f"ascii({sub}(text, CAST(frame_idx *"
        f" (length(text) {div} {_SCENE_FRAMES}) + {j + 1} AS INT), 1))"
        for j in range(_SCENE_WIN)
    )
    return f"""
        WITH frames AS (
            SELECT doc_id, frame_idx,
                   CAST({energy} AS BIGINT) AS energy
            FROM documents {gen})
        , clips AS (
            SELECT doc_id,
                   CAST(SUM(energy * energy) {div} COUNT(*)
                       AS BIGINT) AS clip_power
            FROM frames GROUP BY doc_id)
        , ranked AS (
            SELECT clip_power,
                   row_number() OVER (
                       ORDER BY clip_power ASC, clip_power ASC)
                       AS rn,
                   COUNT(*) OVER () AS n
            FROM clips)
        , med AS (
            SELECT CAST(MIN(clip_power) AS BIGINT) AS target_power
            FROM ranked WHERE rn = (n + 1) {div} 2)
        SELECT c.doc_id, c.clip_power, m.target_power,
               CAST((m.target_power * 10000)
                    {div} GREATEST(CAST(1 AS BIGINT), c.clip_power)
                   AS BIGINT) AS power_gain_bp,
               CAST(LEAST((m.target_power * 10000)
                    {div} GREATEST(CAST(1 AS BIGINT), c.clip_power),
                    CAST({_GAIN_CAP_BP} AS BIGINT)) AS BIGINT)
                   AS gain_capped_bp
        FROM clips c CROSS JOIN med m
    """


@query("mm_audio_power_gain", oracle=_audio_gain_sql("duck"))
def q_mm_audio_power_gain(spark, sf_dir):
    """LOUDNESS NORMALIZATION PLAN for the audio modality — the
    per-clip gain a training pipeline applies so every clip plays
    at comparable level (the batch analog of ffmpeg loudnorm's
    first pass): clip power = mean squared frame energy over the
    #331 stub grid, target = the corpus EXACT MEDIAN power (the
    #65 lower-median rank idiom), gain = target/clip in basis
    points of POWER RATIO — the log-free integer form (dB = 10
    log10(ratio) is presentation, the ratio is the math; a driver
    formats dB if a human needs it), capped at 4× amplification
    (the standard clipping guard). Stub energies swap for decoded
    RMS via mapInPandas with every downstream column unchanged
    (#33 discipline).

    Scale: one constant-×16 frame expansion + doc-grain aggregate;
    the median window runs at CLIP grain (band-prefix per #254 if
    clips reach fact scale); gains are pure codegen arithmetic."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(_audio_gain_sql("spark"))


# ---------------------------------------------------------------------------
# Haar denoise + exact integer inverse reconstruction
# ---------------------------------------------------------------------------


def _haar_denoise_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    us = "unix_micros" if dialect == "spark" else "epoch_us"
    if dialect == "spark":
        grid = (
            "SELECT idx FROM (SELECT explode(sequence(0,"
            f" {_HAAR_HOURS - 1})) AS idx)"
        )
    else:
        grid = (
            f"SELECT unnest(generate_series(0, {_HAAR_HOURS - 1}))"
            " AS idx"
        )
    ctes = f"""
        WITH b AS (
            SELECT MIN({us}(ts)) AS t0 FROM events)
        , hours AS (
            SELECT ({us}(ts) - b.t0) {div} 3600000000 AS idx
            FROM events CROSS JOIN b)
        , counts AS (
            SELECT idx, CAST(COUNT(*) AS BIGINT) AS v
            FROM hours WHERE idx < {_HAAR_HOURS} GROUP BY idx)
        , grid AS ({grid})
        , g0 AS (
            SELECT g.idx, COALESCE(c.v, CAST(0 AS BIGINT)) AS v
            FROM grid g LEFT JOIN counts c ON c.idx = g.idx)"""
    prev = "g0"
    for lv in range(1, _HAAR_LEVELS + 1):
        val = "v" if lv == 1 else "a"
        ctes += f"""
        , l{lv} AS (
            SELECT idx {div} 2 AS idx,
                   CAST(SUM(CASE WHEN idx % 2 = 0 THEN {val}
                            ELSE -{val} END) AS BIGINT) AS d,
                   CAST(SUM({val}) AS BIGINT) AS a
            FROM {prev} GROUP BY idx {div} 2)
        , t{lv} AS (
            SELECT CAST(MAX(ABS(d)) {div} 4 AS BIGINT) AS thr
            FROM l{lv})
        , k{lv} AS (
            SELECT l.idx, l.d, l.a,
                   CAST(CASE WHEN ABS(l.d) >= t.thr THEN l.d
                        ELSE 0 END AS BIGINT) AS dk
            FROM l{lv} l CROSS JOIN t{lv} t)"""
        prev = f"l{lv}"
    # inverse: start from a_L, carry (full, denoised) together
    ctes += f"""
        , r{_HAAR_LEVELS} AS (
            SELECT idx, a AS vf, a AS vd FROM l{_HAAR_LEVELS})"""
    for lv in range(_HAAR_LEVELS, 0, -1):
        mult = 2 ** (_HAAR_LEVELS - lv)
        ctes += f"""
        , r{lv - 1} AS (
            SELECT r.idx * 2 + bb.b AS idx,
                   CAST(r.vf + (1 - 2 * bb.b) * {mult} * k.d
                       AS BIGINT) AS vf,
                   CAST(r.vd + (1 - 2 * bb.b) * {mult} * k.dk
                       AS BIGINT) AS vd
            FROM r{lv} r
            JOIN k{lv} k ON k.idx = r.idx
            CROSS JOIN (VALUES (0), (1)) AS bb(b))"""
    scale = 2**_HAAR_LEVELS
    return f"""{ctes}
        SELECT g.idx AS hour_idx, g.v AS observed,
               r.vf AS recon_full_x{scale},
               r.vd AS recon_denoised_x{scale},
               CAST(ABS(r.vd - {scale} * g.v) AS BIGINT)
                   AS denoise_residual_x{scale}
        FROM g0 g JOIN r0 r ON r.idx = g.idx
    """


@query("events_haar_denoise", oracle=_haar_denoise_sql("duck"))
def q_events_haar_denoise(spark, sf_dir):
    """HAAR DENOISING with the EXACT integer inverse transform —
    the reconstruction half of #345: detail coefficients below a
    quarter of their level's max magnitude are zeroed (hard
    thresholding, the wavelet-shrinkage primitive), then the
    ladder inverts level by level; working at scale 2^L keeps every
    intermediate a BIGINT (x̂·8 is integer even when the thresholded
    halves would not be), and the FULL-detail path reconstructs
    recon_full_x8 == 8·observed BIT-FOR-BIT — the invertibility
    law carried inside the output itself (a float wavelet can only
    promise ≈). The denoised series is the smoothed baseline the
    anomaly screens (#244/#206) compare against; its residual
    column IS the per-hour anomaly signal at multi-scale.

    Scale: same O(grid) ladder as #345 after one corpus pass; the
    inverse is L joins over the 8..64-row dyadic tables with a
    2-row VALUES expansion — no shuffle beyond the forward's."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_haar_denoise_sql("spark"))


# ---------------------------------------------------------------------------
# TPC-H Q21 analog: suppliers who kept multi-supplier orders waiting
# ---------------------------------------------------------------------------


def _q21_analog_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    late = (
        "l.l_shipdate > o.o_orderdate + INTERVAL 90 DAYS"
        if dialect == "spark"
        else "l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY"
    )
    return f"""
        WITH lines AS (
            SELECT l.l_orderkey, l.l_suppkey,
                   CASE WHEN {late} THEN 1 ELSE 0 END AS is_late
            FROM lineitem l
            JOIN orders o ON o.o_orderkey = l.l_orderkey)
        , per_order AS (
            SELECT l_orderkey,
                   CAST(COUNT(DISTINCT l_suppkey) AS BIGINT)
                       AS n_supp,
                   CAST(COUNT(DISTINCT CASE WHEN is_late = 1
                        THEN l_suppkey END) AS BIGINT)
                       AS n_late_supp,
                   MAX(CASE WHEN is_late = 1 THEN l_suppkey END)
                       AS late_supp
            FROM lines GROUP BY l_orderkey)
        , blamed AS (
            SELECT late_supp AS suppkey,
                   CAST(COUNT(*) AS BIGINT) AS numwait
            FROM per_order
            WHERE n_supp >= 2 AND n_late_supp = 1
            GROUP BY late_supp)
        , ranked AS (
            SELECT b.suppkey, s.s_name, b.numwait,
                   CAST(row_number() OVER (
                       ORDER BY b.numwait DESC, s.s_name ASC)
                       AS BIGINT) AS rnk
            FROM blamed b JOIN supplier s ON s.s_suppkey = b.suppkey)
        SELECT suppkey, s_name, numwait, rnk
        FROM ranked WHERE rnk <= 10
    """


@query("q21_suppliers_waiting", oracle=_q21_analog_sql("duck"))
def q_q21_suppliers_waiting(spark, sf_dir):
    """TPC-H Q21 ANALOG — 'suppliers who kept orders waiting',
    re-expressed for this schema exactly as q12 was (the testdata
    carries no commit/receipt dates, so LATE = shipped > 90 days
    after the order date — q12's documented rule): in orders with
    ≥ 2 distinct suppliers where EXACTLY ONE supplier shipped
    late, blame that supplier; top 10 by wait count. This closes
    the last TPC-H query slot with a stated analog instead of an
    absence (the sole-blocker semantics — the interesting part of
    Q21 — are preserved; only the lateness predicate is adapted,
    as the reference's own demo queries adapt theirs).

    Scale: one fact-fact equi-join on the order key (co-partitioned
    at scale by bucketing both on orderkey — sinks/bucketed.py),
    one order-grain aggregate with two conditional distincts, a
    supplier-dimension broadcast, TakeOrdered for the top 10."""
    ensure_utc(spark)
    for t in ("lineitem", "orders", "supplier"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_q21_analog_sql("spark"))


# ---------------------------------------------------------------------------
# Semi-hard triplet mining (FaceNet recipe)
# ---------------------------------------------------------------------------

_TRIPLET_MARGIN_E6 = 200000  # 0.2 cosine margin


def _semihard_triplets_sql(dialect: str) -> str:
    from ..operators.similarity import N_QUERIES

    return f"""
        WITH v AS (
            SELECT vec_id, embedding, label,
                   {_sim._norm('embedding', dialect)} AS nrm
            FROM embeddings)
        , q AS (
            SELECT vec_id AS anchor_id, embedding AS qe, nrm AS qn,
                   label AS alabel
            FROM v WHERE vec_id < {N_QUERIES})
        , scored AS (
            SELECT q.anchor_id, q.alabel, v.vec_id, v.label,
                   CAST(FLOOR(
                       ({_sim._dot('q.qe', 'v.embedding', dialect)})
                       / (q.qn * v.nrm) * 1000000) AS BIGINT)
                       AS cos_e6
            FROM q CROSS JOIN v WHERE v.vec_id <> q.anchor_id)
        , pos AS (
            SELECT anchor_id, vec_id AS positive_id,
                   cos_e6 AS pos_cos_e6
            FROM (
                SELECT anchor_id, vec_id, cos_e6,
                       row_number() OVER (
                           PARTITION BY anchor_id
                           ORDER BY cos_e6 DESC, vec_id ASC) AS rn
                FROM scored WHERE label = alabel) t
            WHERE rn = 1)
        , neg AS (
            SELECT s.anchor_id, s.vec_id AS negative_id,
                   s.cos_e6 AS neg_cos_e6,
                   row_number() OVER (
                       PARTITION BY s.anchor_id
                       ORDER BY s.cos_e6 DESC, s.vec_id ASC) AS rn
            FROM scored s
            JOIN pos p ON p.anchor_id = s.anchor_id
            WHERE s.label <> s.alabel
              AND s.cos_e6 < p.pos_cos_e6
              AND p.pos_cos_e6 - s.cos_e6 < {_TRIPLET_MARGIN_E6})
        SELECT p.anchor_id, p.positive_id, p.pos_cos_e6,
               n.negative_id, n.neg_cos_e6,
               CAST(p.pos_cos_e6 - n.neg_cos_e6 AS BIGINT) AS gap_e6
        FROM pos p
        JOIN neg n ON n.anchor_id = p.anchor_id AND n.rn = 1
    """


@query("embed_semihard_triplets", oracle=_semihard_triplets_sql("duck"))
def q_embed_semihard_triplets(spark, sf_dir):
    """SEMI-HARD TRIPLET MINING (Schroff et al. 2015, FaceNet — the
    selection rule that made triplet loss train): per anchor, the
    nearest SAME-label vector is the positive; the negative is the
    HARDEST different-label vector that is still farther than the
    positive but within the margin band (pos_cos − margin <
    neg_cos < pos_cos). Too-hard negatives (closer than the
    positive) collapse training, too-easy ones (outside the
    margin) contribute zero gradient — semi-hard is the band that
    learns; #309's hard negatives are the serving-side diagnosis,
    this is the training-batch construction. Anchors with an empty
    band drop (documented; the margin is the knob).

    Scale: anchors are N_QUERIES-bounded broadcast against one
    corpus scan (at scale the candidate set comes from the IVF/LSH
    cells like #309); two anchor-partitioned rank windows over the
    scored rows."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView(
        "embeddings"
    )
    return spark.sql(_semihard_triplets_sql("spark"))


# ---------------------------------------------------------------------------
# AMS tug-of-war F2 sketch (self-join size estimation)
# ---------------------------------------------------------------------------

_AMS_ESTIMATORS = 16


def _ams_f2_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    if dialect == "spark":
        h = (
            "CAST(conv(substring(md5(concat(CAST(j AS STRING), ':',"
            " CAST(user_id AS STRING))), 1, 8), 16, 10) AS BIGINT)"
        )
        gen = (
            f"LATERAL VIEW explode(sequence(0, {_AMS_ESTIMATORS - 1}))"
            " t AS j"
        )
    else:
        h = (
            "CAST('0x' || substr(md5(CAST(j AS VARCHAR) || ':' ||"
            " CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)"
        )
        gen = (
            f", unnest(generate_series(0, {_AMS_ESTIMATORS - 1}))"
            " AS t(j)"
        )
    return f"""
        WITH signs AS (
            SELECT j, user_id,
                   CAST(1 - 2 * ({h} % 2) AS BIGINT) AS sg
            FROM (SELECT DISTINCT user_id FROM events) u {gen})
        , sums AS (
            SELECT s.j,
                   CAST(SUM(s.sg) AS BIGINT) AS z
            FROM events e JOIN signs s ON s.user_id = e.user_id
            GROUP BY s.j)
        , ests AS (
            SELECT j, z, CAST(z * z AS BIGINT) AS est_f2 FROM sums)
        , groups AS (
            SELECT j {div} 4 AS g,
                   CAST(SUM(est_f2) {div} COUNT(*) AS BIGINT)
                       AS gmean
            FROM ests GROUP BY j {div} 4)
        , ranked AS (
            SELECT gmean,
                   row_number() OVER (ORDER BY gmean ASC, gmean ASC)
                       AS rn,
                   COUNT(*) OVER () AS n
            FROM groups)
        , med AS (
            SELECT CAST(MIN(gmean) AS BIGINT) AS mom_est
            FROM ranked WHERE rn = (n + 1) {div} 2)
        , mean_e AS (
            SELECT CAST(SUM(est_f2) {div} COUNT(*) AS BIGINT)
                       AS mean_est
            FROM ests)
        , exact AS (
            SELECT CAST(SUM(c * c) AS BIGINT) AS exact_f2
            FROM (SELECT CAST(COUNT(*) AS BIGINT) AS c
                  FROM events GROUP BY user_id) g)
        SELECT e.j, e.z, e.est_f2,
               m.mom_est, a.mean_est, x.exact_f2
        FROM ests e
        CROSS JOIN med m CROSS JOIN mean_e a CROSS JOIN exact x
    """


@query("events_ams_f2_sketch", oracle=_ams_f2_sql("duck"))
def q_events_ams_f2_sketch(spark, sf_dir):
    """AMS TUG-OF-WAR SKETCH (Alon-Matias-Szegedy 1996, the
    second-moment estimator that started streaming sketches): each
    estimator hashes every user to a ±1 sign, accumulates the
    signed event count Z = Σ sg(u)·f_u in ONE pass, and Z² is an
    unbiased estimate of F2 = Σ f_u² — the SELF-JOIN SIZE, which is
    what a cost-based optimizer needs to predict a user-keyed join
    fan-out before running it (the sketch-side sibling of the
    exact histogram-product audit #318). {E} estimators combined
    BOTH ways the paper prescribes — the plain mean (unbiased,
    Var ≤ 2F2²/E) and the MEDIAN-OF-MEANS over 4 groups of 4 (the
    concentration trick: one Z² is F2·χ²₁-distributed with median
    ≈ 0.455·F2, so a raw median is badly biased — measured here
    before this fix) — beside the exact F2, so estimator error is
    visible in the mart.

    Scale: signs table is distinct-users × {E} (hash expressions,
    no state); one fact scan joined to the broadcast-able signs (at
    true fact scale the sign is computed INLINE per row — the join
    here keeps the oracle twin aligned); {E}-row algebra after.
    Mergeable: per-partition Z's SUM.""".replace(
        "{E}", str(_AMS_ESTIMATORS)
    )
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_ams_f2_sql("spark"))


# ---------------------------------------------------------------------------
# Bitemporal as-of grid (valid time × transaction order)
# ---------------------------------------------------------------------------


def _bitemporal_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    us = "unix_micros" if dialect == "spark" else "epoch_us"
    if dialect == "spark":
        kh = (
            "CAST(conv(substring(md5(concat(CAST(key_id AS STRING),"
            " ':', CAST(seq AS STRING))), 1, 8), 16, 10) AS BIGINT)"
        )
    else:
        kh = (
            "CAST('0x' || substr(md5(CAST(key_id AS VARCHAR) || ':'"
            " || CAST(seq AS VARCHAR)), 1, 8) AS BIGINT)"
        )
    body = f"""
        , bounds AS (
            SELECT CAST(MAX(seq) AS BIGINT) AS smax,
                   MIN({us}(ts)) AS tlo, MAX({us}(ts)) AS thi
            FROM log)
        , grid AS (
            SELECT sp.p AS seq_pct, vp.p AS valid_pct
            FROM (VALUES (50), (75), (100)) AS sp(p)
            CROSS JOIN (VALUES (50), (75), (100)) AS vp(p))
        , cells AS (
            SELECT g.seq_pct, g.valid_pct,
                   (b.smax * g.seq_pct) {div} 100 AS s_cut,
                   b.tlo + ((b.thi - b.tlo) * g.valid_pct) {div} 100
                       AS v_cut
            FROM grid g CROSS JOIN bounds b)
        , qualifying AS (
            SELECT c.seq_pct, c.valid_pct, l.key_id, l.seq,
                   l.operation, l.value, l.ts,
                   row_number() OVER (
                       PARTITION BY c.seq_pct, c.valid_pct, l.key_id
                       ORDER BY l.ts DESC, l.seq DESC) AS rn
            FROM log l
            JOIN cells c ON l.seq <= c.s_cut
                        AND {us}(l.ts) <= c.v_cut)
        SELECT seq_pct, valid_pct,
               CAST(SUM(CASE WHEN operation <> 'DELETE'
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_live_keys,
               CAST(SUM(CASE WHEN operation <> 'DELETE'
                        THEN CAST(ROUND(value * 100) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS sum_value_cents,
               CAST(SUM(CASE WHEN operation <> 'DELETE'
                        THEN {kh} ELSE 0 END) AS BIGINT)
                   AS state_checksum
        FROM qualifying WHERE rn = 1
        GROUP BY seq_pct, valid_pct
    """
    return _with_log(body)


@query("cdc_bitemporal_grid", oracle=_bitemporal_sql("duck"))
def q_cdc_bitemporal_grid(spark, sf_dir):
    """BITEMPORAL AS-OF GRID — the two-clock reconstruction a
    temporal warehouse owes its auditors (Snodgrass; SQL:2011
    system-versioned + application-time tables): VALID time (the
    event's ts — when the fact was true) and TRANSACTION order
    (seq — when the pipeline learned it) answer different
    questions, and 'state as of V as KNOWN at S' needs both cuts
    at once: filter seq ≤ S_cut AND ts ≤ V_cut, then latest per
    key. A 3×3 (seq%, valid%) grid of cuts with live-key counts,
    value sums, and an order-insensitive state checksum per cell —
    the single-clock точка queries (#34 state-at-timestamp, #116
    state diff) are this grid's edges. Late-arriving data is
    exactly where the two clocks disagree: cell (100, 50) sees
    facts valid by mid-window that arrived any time, cell
    (50, 100) only early-arriving knowledge.

    Scale: one log scan fanned by the 9-row broadcast grid
    (constant ×9), one (cell, key)-partitioned rank window; all
    cuts are scalar broadcasts."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_bitemporal_sql("spark"))


def _ams_join_size_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    if dialect == "spark":
        h = (
            "CAST(conv(substring(md5(concat(CAST(j AS STRING), ':',"
            " CAST(k AS STRING))), 1, 8), 16, 10) AS BIGINT)"
        )
        gen = (
            f"LATERAL VIEW explode(sequence(0, {_AMS_ESTIMATORS - 1}))"
            " t AS j"
        )
    else:
        h = (
            "CAST('0x' || substr(md5(CAST(j AS VARCHAR) || ':' ||"
            " CAST(k AS VARCHAR)), 1, 8) AS BIGINT)"
        )
        gen = (
            f", unnest(generate_series(0, {_AMS_ESTIMATORS - 1}))"
            " AS t(j)"
        )
    return f"""
        WITH keys AS (
            SELECT DISTINCT user_id AS k FROM events
            UNION
            SELECT DISTINCT o_custkey AS k FROM orders)
        , signs AS (
            SELECT j, k, CAST(1 - 2 * ({h} % 2) AS BIGINT) AS sg
            FROM keys {gen})
        , za AS (
            SELECT s.j, CAST(SUM(s.sg) AS BIGINT) AS z
            FROM events e JOIN signs s ON s.k = e.user_id
            GROUP BY s.j)
        , zb AS (
            SELECT s.j, CAST(SUM(s.sg) AS BIGINT) AS z
            FROM orders o JOIN signs s ON s.k = o.o_custkey
            GROUP BY s.j)
        , ests AS (
            SELECT a.j, a.z AS z_events, b.z AS z_orders,
                   CAST(a.z * b.z AS BIGINT) AS est_join
            FROM za a JOIN zb b ON b.j = a.j)
        , mean_e AS (
            SELECT CAST(SUM(est_join) {div} COUNT(*) AS BIGINT)
                       AS mean_est
            FROM ests)
        , exact AS (
            SELECT CAST(SUM(fa.c * fb.c) AS BIGINT) AS exact_join
            FROM (SELECT user_id AS k, CAST(COUNT(*) AS BIGINT) AS c
                  FROM events GROUP BY user_id) fa
            JOIN (SELECT o_custkey AS k,
                         CAST(COUNT(*) AS BIGINT) AS c
                  FROM orders GROUP BY o_custkey) fb
              ON fb.k = fa.k)
        SELECT e.j, e.z_events, e.z_orders, e.est_join,
               m.mean_est, x.exact_join
        FROM ests e CROSS JOIN mean_e m CROSS JOIN exact x
    """


@query("events_orders_join_size_ams", oracle=_ams_join_size_sql("duck"))
def q_events_orders_join_size_ams(spark, sf_dir):
    """AMS JOIN-SIZE ESTIMATION — the use case the tug-of-war
    sketch was built for (AMS 1996 §3; the cost-model primitive):
    with a SHARED sign function over the join key domain,
    E[Z_events · Z_orders] = Σ_k f_events(k)·f_orders(k) — the
    exact row count of events ⋈ orders on user=custkey — so two
    single-pass scans predict a join's size WITHOUT running it
    (the sketch-side answer to the exact histogram-product audit
    #318, and cross-relation where #361's F2 is the self-join
    diagonal). Per-estimator products (sign cancellation makes
    some negative — that is the unbiasedness mechanism, visible),
    their mean, and the exact join size beside.

    Scale: each Z is one scan with an inline sign hash (the signs
    CTE keeps the oracle twin aligned; production computes sg in
    the projection); the estimate needs NO shuffle of either fact
    table — the whole point. Mergeable: partial Z's sum."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_ams_join_size_sql("spark"))


# ---------------------------------------------------------------------------
# Behavioral k-means on hour-of-day activity profiles
# ---------------------------------------------------------------------------

_BKM_K = 4
_BKM_ROUNDS = 2


def _behavior_kmeans_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    mat = "MATERIALIZED " if dialect != "spark" else ""
    hod = (
        "CAST(date_format(ts, 'H') AS INT)"
        if dialect == "spark"
        else "CAST(date_part('hour', ts) AS INT)"
    )
    if dialect == "spark":
        grid = (
            "SELECT u.user_id, h AS hod FROM users u"
            " LATERAL VIEW explode(sequence(0, 23)) t AS h"
        )
    else:
        grid = (
            "SELECT u.user_id, t.h AS hod FROM users u,"
            " unnest(generate_series(0, 23)) AS t(h)"
        )
    ctes = f"""
        WITH raw AS (
            SELECT user_id, {hod} AS hod,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM events GROUP BY user_id, {hod})
        , users AS (SELECT DISTINCT user_id FROM raw)
        , grid AS ({grid})
        , prof AS {mat}(
            SELECT g.user_id, g.hod,
                   COALESCE(r.c, CAST(0 AS BIGINT)) AS c
            FROM grid g
            LEFT JOIN raw r ON r.user_id = g.user_id
                           AND r.hod = g.hod)
        , c0 AS (
            SELECT user_id AS k, hod,
                   CAST(c * 1000 AS BIGINT) AS cent_e3
            FROM prof WHERE user_id < {_BKM_K})"""
    prev_c = "c0"
    for i in range(1, _BKM_ROUNDS + 1):
        ctes += f"""
        , d{i} AS (
            SELECT p.user_id, cc.k,
                   CAST(SUM((p.c * 1000 - cc.cent_e3)
                            * (p.c * 1000 - cc.cent_e3))
                       AS BIGINT) AS dist
            FROM prof p JOIN {prev_c} cc ON cc.hod = p.hod
            GROUP BY p.user_id, cc.k)
        , a{i} AS {mat}(
            SELECT user_id, k AS cluster FROM (
                SELECT user_id, k,
                       row_number() OVER (
                           PARTITION BY user_id
                           ORDER BY dist ASC, k ASC) AS rn
                FROM d{i}) t
            WHERE rn = 1)
        , c{i} AS {mat}(
            SELECT a.cluster AS k, p.hod,
                   CAST((SUM(p.c) * 1000) {div} COUNT(DISTINCT a.user_id)
                       AS BIGINT) AS cent_e3
            FROM prof p JOIN a{i} a ON a.user_id = p.user_id
            GROUP BY a.cluster, p.hod)"""
        prev_c = f"c{i}"
    final_a = f"a{_BKM_ROUNDS}"
    return f"""{ctes}
        , sizes AS (
            SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members
            FROM {final_a} GROUP BY cluster)
        SELECT a.user_id, a.cluster, s.n_members,
               d.dist AS dist_e6
        FROM {final_a} a
        JOIN sizes s ON s.cluster = a.cluster
        JOIN d{_BKM_ROUNDS} d ON d.user_id = a.user_id
                             AND d.k = a.cluster
    """


@query("events_behavior_kmeans", oracle=_behavior_kmeans_sql("duck"))
def q_events_behavior_kmeans(spark, sf_dir):
    """BEHAVIORAL SEGMENTATION — integer Lloyd k-means on
    CONSTRUCTED features (each user's dense 24-bin hour-of-day
    activity profile), the relational sibling of the embedding-
    space k-means (#128): no vector column exists; the 'vectors'
    are (user, hod, count) rows, distances are a hod-keyed join +
    aggregate, and centroids are e3 floor-scaled integer means —
    so both engines land on identical assignments (the #128
    bit-identical discipline on a feature the warehouse built
    itself). Seeds = first K users' profiles; {R} unrolled rounds;
    output carries final cluster, size, and the user's distance.

    Scale: profile build is one fact aggregate + a ×24 dense grid
    (linear); each round is a (user×K×24)-row join-aggregate —
    K bounded — and a user-partitioned argmin window; centroids
    are K×24 rows, broadcast by construction. DuckDB MATERIALIZED
    on prof/assignments (multiply-referenced chains).""".replace(
        "{R}", str(_BKM_ROUNDS)
    )
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_behavior_kmeans_sql("spark"))


# ---------------------------------------------------------------------------
# Histogram quantile bounds (mergeable sketch + exact within-bin)
# ---------------------------------------------------------------------------

_HQ_BINS = 128
_HQ_GRID = (50, 90, 99)


def _hist_quantile_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    grid = ", ".join(f"({q})" for q in _HQ_GRID)
    return f"""
        WITH v AS (
            SELECT CAST(ROUND(value * 100) AS BIGINT) AS c
            FROM events)
        , mm AS (
            SELECT MIN(c) AS lo, MAX(c) AS hi,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM v)
        , binned AS (
            SELECT c, ((c - lo) * {_HQ_BINS}) {div} (hi - lo + 1)
                       AS b
            FROM v CROSS JOIN mm)
        , hist AS (
            SELECT b, CAST(COUNT(*) AS BIGINT) AS bn
            FROM binned GROUP BY b)
        , cum AS (
            SELECT b, bn,
                   CAST(SUM(bn) OVER (ORDER BY b ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS BIGINT) AS cbn,
                   CAST(COALESCE(SUM(bn) OVER (ORDER BY b ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS BIGINT) AS prefix
            FROM hist)
        , grid AS (SELECT * FROM (VALUES {grid}) AS g(q_pct))
        , targets AS (
            SELECT g.q_pct,
                   CAST((g.q_pct * m.n + 99) {div} 100 AS BIGINT)
                       AS target_rank
            FROM grid g CROSS JOIN mm m)
        , crossing AS (
            SELECT t.q_pct, t.target_rank,
                   CAST(MIN(c.b) AS BIGINT) AS bin_idx
            FROM targets t JOIN cum c ON c.cbn >= t.target_rank
            GROUP BY t.q_pct, t.target_rank)
        , exacts AS (
            SELECT x.q_pct,
                   CAST(MIN(r.c) AS BIGINT) AS exact_cents
            FROM crossing x
            JOIN cum cu ON cu.b = x.bin_idx
            JOIN (
                SELECT bi.c, bi.b,
                       row_number() OVER (
                           PARTITION BY bi.b
                           ORDER BY bi.c ASC) AS wr
                FROM binned bi) r
              ON r.b = x.bin_idx
             AND r.wr = x.target_rank - cu.prefix
            GROUP BY x.q_pct)
        SELECT x.q_pct, x.target_rank, x.bin_idx,
               CAST(m.lo + (x.bin_idx * (m.hi - m.lo + 1))
                    {div} {_HQ_BINS} AS BIGINT) AS est_lo_cents,
               CAST(m.lo + ((x.bin_idx + 1) * (m.hi - m.lo + 1))
                    {div} {_HQ_BINS} AS BIGINT) AS est_hi_cents,
               e.exact_cents
        FROM crossing x
        JOIN exacts e ON e.q_pct = x.q_pct
        CROSS JOIN mm m
    """


@query("events_value_quantile_hist", oracle=_hist_quantile_sql("duck"))
def q_events_value_quantile_hist(spark, sf_dir):
    """HISTOGRAM QUANTILE BOUNDS — the mergeable-sketch answer to
    'p50/p90/p99 of a fact column' with an a-priori error
    CONTRACT: a {B}-bin equi-width histogram brackets any quantile
    inside one bin (est_lo ≤ true ≤ est_hi, width (hi−lo)/{B} —
    the bound is structural, not probabilistic, unlike
    percentile_approx's rank-error ε), and because histograms SUM,
    per-partition/per-day histograms maintain the sketch
    incrementally where a rank window cannot. The exact value is
    computed beside via the SAME decomposition (prefix + within-
    crossing-bin rank — #254's band-prefix, so the audit costs one
    extra window over 1/{B} of the data), making the bounds law
    (lo ≤ exact ≤ hi) visible per row and pinned in pytest.

    Scale: one scan → {B}-row histogram (map-side combined);
    cumulative window over {B} rows; the exact audit ranks ONLY
    the crossing bins. Mergeable: histograms add.""".replace(
        "{B}", str(_HQ_BINS)
    )
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_hist_quantile_sql("spark"))


# ---------------------------------------------------------------------------
# Merkle anti-entropy tree over the reconciliation chunks
# ---------------------------------------------------------------------------

_MERKLE_LEAVES = 16
_MERKLE_LEVELS = 4  # 16 -> 8 -> 4 -> 2 -> 1


def _merkle_tree_sql(
    dialect: str, side_a: str, side_b: str
) -> str:
    div = "div" if dialect == "spark" else "//"
    cast = "STRING" if dialect == "spark" else "VARCHAR"
    if dialect == "spark":
        gen = (
            f"SELECT idx FROM (SELECT"
            f" explode(sequence(0, {_MERKLE_LEAVES - 1})) AS idx)"
        )
    else:
        gen = (
            f"SELECT unnest(generate_series(0,"
            f" {_MERKLE_LEAVES - 1})) AS idx"
        )

    def leaf(side: str, tag: str) -> str:
        return f"""
        , ck{tag} AS ({_recon_checksum(dialect, side)})
        , leaves{tag} AS (
            SELECT g.idx,
                   md5(CAST(COALESCE(SUM(c.checksum), 0) AS {cast})
                       || ':' ||
                       CAST(COALESCE(SUM(c.n_rows), 0) AS {cast}))
                       AS h
            FROM lgrid g
            LEFT JOIN ck{tag} c
              ON c.chunk % {_MERKLE_LEAVES} = g.idx
            GROUP BY g.idx)"""

    ctes = f"""
        WITH lgrid AS ({gen})"""
    ctes += leaf(side_a, "a") + leaf(side_b, "b")
    arms = []
    for tag in ("a", "b"):
        prev = f"leaves{tag}"
        arms.append(
            f"SELECT 0 AS lvl, idx, h AS h{tag} FROM leaves{tag}"
            if tag == "a"
            else None
        )
        for lv in range(1, _MERKLE_LEVELS + 1):
            ctes += f"""
        , n{tag}{lv} AS (
            SELECT l.idx {div} 2 AS idx,
                   md5(MIN(CASE WHEN l.idx % 2 = 0 THEN l.h END)
                       || MIN(CASE WHEN l.idx % 2 = 1 THEN l.h END))
                       AS h
            FROM {prev} l GROUP BY l.idx {div} 2)"""
            prev = f"n{tag}{lv}"
    all_a = "\n            UNION ALL ".join(
        ["SELECT 0 AS lvl, idx, h FROM leavesa"]
        + [
            f"SELECT {lv} AS lvl, idx, h FROM na{lv}"
            for lv in range(1, _MERKLE_LEVELS + 1)
        ]
    )
    all_b = "\n            UNION ALL ".join(
        ["SELECT 0 AS lvl, idx, h FROM leavesb"]
        + [
            f"SELECT {lv} AS lvl, idx, h FROM nb{lv}"
            for lv in range(1, _MERKLE_LEVELS + 1)
        ]
    )
    return f"""{ctes}
        , ta AS ({all_a})
        , tb AS ({all_b})
        SELECT ta.lvl AS level, CAST(ta.idx AS BIGINT) AS node_idx,
               ta.h AS hash_a, tb.h AS hash_b,
               CAST(CASE WHEN ta.h = tb.h THEN 1 ELSE 0 END
                   AS BIGINT) AS is_match
        FROM ta JOIN tb ON tb.lvl = ta.lvl AND tb.idx = ta.idx
    """


@query(
    "cdc_merkle_anti_entropy",
    oracle=_with_log(
        ", lg AS (SELECT * FROM log WHERE seq % 251 <> 250)"
        + _merkle_tree_sql("duck", "lg", "lg").replace(
            "WITH lgrid", ", lgrid", 1
        )
    ),
)
def q_cdc_merkle_anti_entropy(spark, sf_dir):
    """MERKLE ANTI-ENTROPY (Dynamo/Cassandra repair; Merkle 1987)
    — the O(log) localization layer ABOVE #326's flat chunk diff:
    hash the 16 chunk checksums into leaves, hash sibling pairs up
    4 levels to a root, and compare the two pipelines' trees
    top-down — equal roots certify the whole table in ONE
    comparison; a divergent root needs only log₂(chunks) probes to
    the bad chunk, which is the entire point when chunks number in
    the millions and the network between replicas is the cost.
    Both trees here are built from the repo's two REAL ingestion
    paths (#326's sides), so all-match is the cross-path
    equivalence certificate again — now with the repair-protocol
    shape. Python twin re-derives the tree and pins the
    one-leaf-flip → exactly-one-node-per-level property.

    Scale: the leaf layer is #326's chunk aggregate; everything
    above is log₂(chunks) tiny hash levels; at a million chunks
    the tree is built in 20 levels of bounded aggregates and the
    comparison transfers O(divergent paths), not O(chunks)."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    cdc_operation_log(spark, sf_dir).where(
        "seq % 251 <> 250"
    ).createOrReplaceTempView("merkle_a")
    read_binlog_jvm(spark, sf_dir).select(
        F.col("primary_keys")["key_id"].cast("long").alias("key_id"),
        "seq",
        "operation",
    ).createOrReplaceTempView("merkle_b")
    return spark.sql(_merkle_tree_sql("spark", "merkle_a", "merkle_b"))


# ---------------------------------------------------------------------------
# Difference-in-differences over hash-split arms
# ---------------------------------------------------------------------------


def _did_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    us = "unix_micros" if dialect == "spark" else "epoch_us"
    if dialect == "spark":
        arm = (
            "CAST(conv(substring(md5(concat('ab:',"
            " CAST(user_id AS STRING))), 1, 8), 16, 10) AS BIGINT)"
            " % 2"
        )
    else:
        arm = (
            "CAST('0x' || substr(md5('ab:' ||"
            " CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) % 2"
        )
    return f"""
        WITH b AS (
            SELECT MIN({us}(ts)) AS lo, MAX({us}(ts)) AS hi
            FROM events)
        , tagged AS (
            SELECT {arm} AS arm,
                   CASE WHEN {us}(ts) < b.lo + (b.hi - b.lo) {div} 2
                        THEN 0 ELSE 1 END AS period,
                   CAST(ROUND(value * 100) AS BIGINT) AS cents
            FROM events CROSS JOIN b)
        , cells AS (
            SELECT arm, period,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(cents) AS BIGINT) AS sum_cents,
                   CAST(SUM(cents) {div} COUNT(*) AS BIGINT)
                       AS mean_cents
            FROM tagged GROUP BY arm, period)
        , wide AS (
            SELECT
                MAX(CASE WHEN arm = 0 AND period = 0
                    THEN mean_cents END) AS a_pre,
                MAX(CASE WHEN arm = 0 AND period = 1
                    THEN mean_cents END) AS a_post,
                MAX(CASE WHEN arm = 1 AND period = 0
                    THEN mean_cents END) AS b_pre,
                MAX(CASE WHEN arm = 1 AND period = 1
                    THEN mean_cents END) AS b_post
            FROM cells)
        SELECT c.arm, c.period, c.n_events, c.sum_cents,
               c.mean_cents,
               CAST((w.b_post - w.b_pre) - (w.a_post - w.a_pre)
                   AS BIGINT) AS did_cents
        FROM cells c CROSS JOIN wide w
    """


@query("events_did_estimate", oracle=_did_sql("duck"))
def q_events_did_estimate(spark, sf_dir):
    """DIFFERENCE-IN-DIFFERENCES — the causal-inference workhorse
    on top of the #325 experimentation plumbing: deterministic
    md5 arm assignment × epoch-midpoint pre/post split gives the
    2×2 mean table, and DiD = (B_post − B_pre) − (A_post − A_pre)
    cancels both the arm-level baseline difference and the common
    time trend — the estimate an A/B readout quotes when treatment
    started mid-experiment. Floor-integer cell means (the same
    cents discipline as #325; the exact Σ/n pairs ride along so a
    driver can compute unbiased variants); on this untreated corpus
    DiD ≈ 0 — the placebo/parallel-trends check, pinned in a band.

    Scale: one scan, one 4-group aggregate, a 1-row pivot — the
    entire analysis is map-side combinable."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_did_sql("spark"))


# ---------------------------------------------------------------------------
# Cross-modality dedup agreement (text MinHash vs embedding cosine)
# ---------------------------------------------------------------------------


def _cross_modal_agreement_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    # duck-only: the Spark side composes the two registered
    # DataFrame queries directly (see the query function below).
    assert dialect == "duck"
    text_pairs = ORACLES["dedup_minhash_lsh"]
    embed_pairs = ORACLES["embed_near_dup"]
    return f"""
        WITH tp AS ({text_pairs})
        , ep AS ({embed_pairs})
        , u AS (
            SELECT COALESCE(t.doc_a, e.vec_a) AS id_a,
                   COALESCE(t.doc_b, e.vec_b) AS id_b,
                   CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END
                       AS in_text,
                   CASE WHEN e.vec_a IS NOT NULL THEN 1 ELSE 0 END
                       AS in_embed
            FROM tp t
            FULL OUTER JOIN ep e
              ON e.vec_a = t.doc_a AND e.vec_b = t.doc_b)
        , counts AS (
            SELECT CAST(SUM(in_text * in_embed) AS BIGINT) AS n_both,
                   CAST(SUM(in_text * (1 - in_embed)) AS BIGINT)
                       AS n_text_only,
                   CAST(SUM((1 - in_text) * in_embed) AS BIGINT)
                       AS n_embed_only,
                   CAST(COUNT(*) AS BIGINT) AS n_union
            FROM u)
        SELECT n_both, n_text_only, n_embed_only, n_union,
               CAST((n_both * 10000) {div}
                    GREATEST(CAST(1 AS BIGINT), n_union) AS BIGINT)
                   AS jaccard_agreement_bp
        FROM counts
    """


@query(
    "dedup_cross_modal_agreement",
    oracle=_cross_modal_agreement_sql("duck"),
)
def q_dedup_cross_modal_agreement(spark, sf_dir):
    """CROSS-MODALITY dedup agreement — do TEXT duplicates and
    EMBEDDING duplicates name the same pairs? #271 audits two text
    sketches against each other; this audits across modalities
    (MinHash-LSH verified pairs #27 vs cosine near-dups #30, the
    doc/vec id spaces shared by the testdata contract), which is
    the question a pipeline faces when deciding whether SemDeDup
    can REPLACE n-gram dedup or must run beside it: high agreement
    ⇒ redundant passes, low agreement (this synthetic corpus:
    text shingles and random embeddings are independent by
    construction, so ≈0 — the honest expected value, pinned) ⇒
    the two gates catch DIFFERENT duplication and both stay.
    2×2 census over the union universe + Jaccard agreement in bp.

    Scale: both pair sets are the already-sub-quadratic candidate
    chains; the audit adds one pair-keyed FULL OUTER join on
    outputs that are candidate-sized, not corpus-sized."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView(
        "embeddings"
    )
    tp = QUERIES["dedup_minhash_lsh"](spark, sf_dir)
    ep = QUERIES["embed_near_dup"](spark, sf_dir)
    u = (
        tp.selectExpr("doc_a AS id_a", "doc_b AS id_b", "1 AS in_text")
        .join(
            ep.selectExpr(
                "vec_a AS id_a", "vec_b AS id_b", "1 AS in_embed"
            ),
            ["id_a", "id_b"],
            "full_outer",
        )
        .selectExpr(
            "COALESCE(in_text, 0) AS in_text",
            "COALESCE(in_embed, 0) AS in_embed",
        )
    )
    return u.selectExpr(
        "CAST(SUM(in_text * in_embed) AS BIGINT) AS n_both",
        "CAST(SUM(in_text * (1 - in_embed)) AS BIGINT) AS n_text_only",
        "CAST(SUM((1 - in_text) * in_embed) AS BIGINT) AS n_embed_only",
        "CAST(COUNT(*) AS BIGINT) AS n_union",
    ).selectExpr(
        "n_both",
        "n_text_only",
        "n_embed_only",
        "n_union",
        "CAST((n_both * 10000) div GREATEST(CAST(1 AS BIGINT),"
        " n_union) AS BIGINT) AS jaccard_agreement_bp",
    )


# ---------------------------------------------------------------------------
# Soft dedup: per-doc downweighting instead of removal
# ---------------------------------------------------------------------------


def _soft_dedup_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    clusters = ORACLES["dedup_clusters"]
    head = f"WITH cl AS ({clusters})" if dialect != "spark" else (
        "WITH cl AS (SELECT doc_id, cluster_id FROM soft_dedup_cl)"
    )
    return f"""{head}
        , sizes AS (
            SELECT cluster_id,
                   CAST(COUNT(*) AS BIGINT) AS cluster_size
            FROM cl GROUP BY cluster_id)
        SELECT c.doc_id, c.cluster_id, s.cluster_size,
               CAST(1000000 {div} s.cluster_size AS BIGINT)
                   AS weight_ppm,
               CASE WHEN c.doc_id = c.cluster_id THEN 1 ELSE 0 END
                   AS is_canonical
        FROM cl c JOIN sizes s ON s.cluster_id = c.cluster_id
    """


@query("sample_soft_dedup_weights", oracle=_soft_dedup_sql("duck"))
def q_sample_soft_dedup_weights(spark, sf_dir):
    """SOFT DEDUP — downweight duplicates instead of dropping them
    (the modern alternative hard removal: weight 1/cluster_size
    keeps each duplicate FAMILY's total sampling mass at one
    document, so near-duplicate evidence still contributes without
    multiplying — the knob between 'keep all' (weight 1) and the
    keep-list's hard keep/drop). Weights in e6 floor integers over
    the MinHash-LSH connected components (#63); the canonical flag
    (min-label representative) rides along so a consumer can switch
    between soft weighting and hard selection from ONE mart.
    Conservation law pinned: Σ weights per cluster ∈
    (1e6 − size, 1e6].

    Scale: the component map is the already-linear #63 chain
    (checkpointed Pregel); this adds one cluster-keyed aggregate
    and a join — both on the doc-grain map."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    QUERIES["dedup_clusters"](spark, sf_dir).createOrReplaceTempView(
        "soft_dedup_cl"
    )
    return spark.sql(_soft_dedup_sql("spark"))


# ---------------------------------------------------------------------------
# Curriculum ordering (easy-first training order, no global sort)
# ---------------------------------------------------------------------------


def _curriculum_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    if dialect == "spark":
        h = (
            "CAST(conv(substring(md5(concat('cur:',"
            " CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT)"
        )
    else:
        h = (
            "CAST('0x' || substr(md5('cur:' ||"
            " CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)"
        )
    quality = ORACLES["text_quality_score"]
    q_src = (
        f"({quality})"
        if dialect != "spark"
        else "curriculum_quality"
    )
    return f"""
        WITH q AS (
            SELECT doc_id, quality_bp FROM {q_src})
        , bucketed AS (
            SELECT doc_id, quality_bp,
                   CAST(LEAST(3, quality_bp {div} 2500) AS BIGINT)
                       AS bucket,
                   {h} AS hk
            FROM q)
        , ranked AS (
            SELECT doc_id, quality_bp, bucket,
                   CAST(row_number() OVER (
                       PARTITION BY bucket
                       ORDER BY hk ASC, doc_id ASC) AS BIGINT)
                       AS order_in_bucket
            FROM bucketed)
        , bsizes AS (
            SELECT bucket, CAST(COUNT(*) AS BIGINT) AS bn
            FROM bucketed GROUP BY bucket)
        , bpre AS (
            SELECT bucket,
                   CAST(COALESCE(SUM(bn) OVER (
                       ORDER BY bucket DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS BIGINT) AS prefix
            FROM bsizes)
        SELECT r.doc_id, r.quality_bp, r.bucket,
               r.order_in_bucket,
               CAST(p.prefix + r.order_in_bucket AS BIGINT)
                   AS global_order
        FROM ranked r JOIN bpre p ON p.bucket = r.bucket
    """


@query("corpus_curriculum_order", oracle=_curriculum_sql("duck"))
def q_corpus_curriculum_order(spark, sf_dir):
    """CURRICULUM ORDERING (Bengio et al. 2009 applied to corpus
    prep): assign every document a deterministic TRAINING POSITION
    — highest-quality bucket first (quality_bp quartile buckets,
    easy/clean-first is the standard LM curriculum), hash-shuffled
    WITHIN each bucket (md5 order — reproducible shuffling without
    an RNG, the property a resumable data loader needs). The
    global position is bucket-prefix + within-bucket rank — the
    #254 band-prefix decomposition again, so NO global sort ever
    runs: at 100 TB the loader reads position ranges directly.
    Dense-cover law pinned (positions are exactly 1..n with bucket
    boundaries contiguous).

    Scale: quality scores are the existing #22 map-only pass;
    within-bucket rank windows shard by bucket; the prefix table
    is 4 rows. The anti-curriculum or mixed variant is the same
    mart read in a different order."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    QUERIES["text_quality_score"](spark, sf_dir).select(
        "doc_id", "quality_bp"
    ).createOrReplaceTempView("curriculum_quality")
    return spark.sql(_curriculum_sql("spark"))


# ---------------------------------------------------------------------------
# Sample-ratio-mismatch (SRM) guardrail
# ---------------------------------------------------------------------------


def _srm_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    if dialect == "spark":
        arm = (
            "CAST(conv(substring(md5(concat('ab:',"
            " CAST(user_id AS STRING))), 1, 8), 16, 10) AS BIGINT)"
            " % 2"
        )
    else:
        arm = (
            "CAST('0x' || substr(md5('ab:' ||"
            " CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) % 2"
        )
    return f"""
        WITH assign AS (
            SELECT DISTINCT user_id, {arm} AS arm
            FROM events)
        , counts AS (
            SELECT
                CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_a,
                CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_b
            FROM assign)
        SELECT n_a, n_b,
               CAST(((n_a - n_b) * (n_a - n_b) * 1000000)
                    {div} (n_a + n_b) AS BIGINT) AS srm_chi2_e6,
               CAST(CASE WHEN ((n_a - n_b) * (n_a - n_b) * 1000000)
                              {div} (n_a + n_b) > 3841459
                    THEN 1 ELSE 0 END AS BIGINT) AS srm_flag
        FROM counts
    """


@query("events_srm_check", oracle=_srm_sql("duck"))
def q_events_srm_check(spark, sf_dir):
    """SAMPLE-RATIO MISMATCH — the guardrail every experimentation
    platform fires BEFORE reading any metric (Fabijan et al. 2019:
    most corrupted A/B results announce themselves as an assignment
    imbalance): under a healthy 50/50 hash split, the 1-df
    chi-square (n_a−n_b)²/(n_a+n_b) exceeds 3.84 (p<0.05, the
    constant e6-inlined from Python) only by chance — a triggered
    flag means bot filtering, logging loss, or a biased hash ATE
    one arm. USER-grain assignment (distinct-project first) so
    per-user activity volume can't mask the imbalance. On the md5
    split the flag is 0 — the no-false-alarm law pinned beside
    #325's 4σ balance band.

    Scale: one distinct-project + a 2-cell conditional aggregate —
    map-side combinable end to end."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_srm_sql("spark"))


# ---------------------------------------------------------------------------
# Conversion decomposition: rate x volume with exact cross term
# ---------------------------------------------------------------------------


def _conv_decomp_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    us = "unix_micros" if dialect == "spark" else "epoch_us"
    return f"""
        WITH b AS (
            SELECT MIN({us}(ts)) AS lo, MAX({us}(ts)) AS hi
            FROM events)
        , tagged AS (
            SELECT CASE WHEN {us}(ts) < b.lo + (b.hi - b.lo) {div} 2
                        THEN 0 ELSE 1 END AS period,
                   user_id,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                       END AS is_conv
            FROM events CROSS JOIN b)
        , per AS (
            SELECT period,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users,
                   CAST(COUNT(DISTINCT CASE WHEN is_conv = 1
                        THEN user_id END) AS BIGINT) AS converters
            FROM tagged GROUP BY period)
        , wide AS (
            SELECT
                MAX(CASE WHEN period = 0 THEN users END) AS u0,
                MAX(CASE WHEN period = 1 THEN users END) AS u1,
                MAX(CASE WHEN period = 0 THEN converters END) AS c0,
                MAX(CASE WHEN period = 1 THEN converters END) AS c1
            FROM per)
        SELECT u0, u1, c0, c1,
               CAST(c1 - c0 AS BIGINT) AS delta_converters,
               CAST((u1 - u0) * c0 AS BIGINT) AS volume_term_xu0,
               CAST((c1 * u0 - c0 * u1) AS BIGINT) AS rate_term_xu0,
               CAST((c1 - c0) * u0 - ((u1 - u0) * c0
                    + (c1 * u0 - c0 * u1)) AS BIGINT)
                   AS residual_check
        FROM wide
    """


@query("events_conversion_decomposition", oracle=_conv_decomp_sql("duck"))
def q_events_conversion_decomposition(spark, sf_dir):
    """CONVERSION METRIC-TREE DECOMPOSITION — 'did conversions move
    because of TRAFFIC or because of RATE?': converters = users ×
    rate, so Δc·u0 = (Δu)·c0 + (c1·u0 − c0·u1) EXACTLY — the
    volume term (user growth at the old rate) and the rate term
    (rate change at constant mix), both kept as integer numerators
    over the COMMON denominator u0·u1-free form, so the identity
    is exact with NO division anywhere: residual_check = 0 by
    algebra, carried in the output (the #298 revenue-bridge
    discipline applied to a ratio metric — there the decomposed
    quantity was a sum, here a rate, which is why the common-
    denominator trick is needed at all). Per-period user/converter
    counts ride along; a driver divides for display.

    Scale: one scan, two distinct-aggregates at period grain, a
    1-row pivot."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_conv_decomp_sql("spark"))


# ---------------------------------------------------------------------------
# Laspeyres / Paasche price indices across shipment halves
# ---------------------------------------------------------------------------


def _price_index_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    us = "unix_micros" if dialect == "spark" else "epoch_us"
    big = "DECIMAL(38,0)" if dialect == "spark" else "HUGEINT"
    return f"""
        WITH b AS (
            SELECT MIN({us}(l_shipdate)) AS lo,
                   MAX({us}(l_shipdate)) AS hi
            FROM lineitem)
        , tagged AS (
            SELECT CASE WHEN {us}(l_shipdate)
                             < b.lo + (b.hi - b.lo) {div} 2
                        THEN 0 ELSE 1 END AS period,
                   l_partkey,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
                       AS q,
                   CAST(SUM(CAST(ROUND(l_extendedprice * 100)
                        AS BIGINT)) AS BIGINT) AS spend_e2
            FROM lineitem CROSS JOIN b
            GROUP BY 1, l_partkey)
        , px AS (
            SELECT period, l_partkey, q,
                   CAST(spend_e2 {div} q AS BIGINT) AS unit_e2
            FROM tagged WHERE q > 0)
        , basket AS (
            SELECT p0.l_partkey, p0.q AS q0, p1.q AS q1,
                   p0.unit_e2 AS p0c, p1.unit_e2 AS p1c
            FROM px p0 JOIN px p1
              ON p1.l_partkey = p0.l_partkey
             AND p0.period = 0 AND p1.period = 1)
        , sums AS (
            SELECT CAST(SUM(p1c * q0) AS BIGINT) AS s_p1q0,
                   CAST(SUM(p0c * q0) AS BIGINT) AS s_p0q0,
                   CAST(SUM(p1c * q1) AS BIGINT) AS s_p1q1,
                   CAST(SUM(p0c * q1) AS BIGINT) AS s_p0q1,
                   CAST(COUNT(*) AS BIGINT) AS n_basket_parts
            FROM basket)
        SELECT n_basket_parts, s_p1q0, s_p0q0, s_p1q1, s_p0q1,
               CAST((CAST(s_p1q0 AS {big}) * 1000000) {div} s_p0q0
                   AS BIGINT) AS laspeyres_ppm,
               CAST((CAST(s_p1q1 AS {big}) * 1000000) {div} s_p0q1
                   AS BIGINT) AS paasche_ppm
        FROM sums
    """


@query("lineitem_price_index", oracle=_price_index_sql("duck"))
def q_lineitem_price_index(spark, sf_dir):
    """PRICE INDICES (Laspeyres 1871 / Paasche 1874 — the CPI
    algebra): how much did the PRICE LEVEL move between shipment
    halves, holding the BASKET fixed — Laspeyres weights new prices
    by OLD quantities (Σp₁q₀/Σp₀q₀), Paasche by new (Σp₁q₁/Σp₀q₁);
    the two bracket the true cost-of-living change and their gap
    measures substitution. Distinct from the revenue bridge
    (#298): the bridge decomposes realized revenue, an index holds
    quantities constant to isolate pure price motion. Basket =
    parts traded in BOTH halves (the standard matched-model rule,
    count reported); unit prices are floor-integer cents from
    spend/quantity; ratios in DECIMAL(38,0)/HUGEINT ppm per the
    overflow rule.

    Scale: one fact aggregate to (period, part) grain, a part-keyed
    self-join at dimension scale, scalar sums — no windows."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem"
    )
    return spark.sql(_price_index_sql("spark"))


# ---------------------------------------------------------------------------
# CDC op-transition legality audit
# ---------------------------------------------------------------------------


def _op_transition_sql(dialect: str) -> str:
    body = """
        , seqd AS (
            SELECT key_id, operation,
                   lag(operation) OVER (
                       PARTITION BY key_id ORDER BY ts ASC, seq ASC)
                       AS prev_op
            FROM log)
        , trans AS (
            SELECT COALESCE(prev_op, 'START') AS from_op,
                   operation AS to_op,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM seqd GROUP BY COALESCE(prev_op, 'START'), operation)
        SELECT from_op, to_op, n,
               CAST(CASE
                    WHEN from_op = 'START' AND to_op = 'INSERT'
                        THEN 1
                    WHEN from_op = 'START' THEN 0
                    WHEN from_op = 'INSERT'
                         AND to_op IN ('UPDATE', 'DELETE') THEN 1
                    WHEN from_op = 'UPDATE'
                         AND to_op IN ('UPDATE', 'DELETE') THEN 1
                    WHEN from_op = 'DELETE' AND to_op = 'INSERT'
                        THEN 1
                    ELSE 0 END AS BIGINT) AS is_legal
        FROM trans
    """
    return _with_log(body)


@query("cdc_op_transition_audit", oracle=_op_transition_sql("duck"))
def q_cdc_op_transition_audit(spark, sf_dir):
    """OP-TRANSITION LEGALITY MATRIX — the state-machine audit of a
    change stream (every CDC applier implicitly assumes it; this
    makes it checkable): per key, adjacent operation pairs in
    commit order, counted into a (from, to) matrix with the
    legality verdict of the INSERT→UPDATE*→DELETE→INSERT lifecycle
    automaton — INSERT after INSERT without a DELETE means lost
    deletes or duplicated capture; UPDATE/DELETE as a key's FIRST
    op means the capture started mid-life (exactly the #198
    pre_existing class, here localized to the transition that
    reveals it; the incremental snapshot #163 is the remedy).
    Illegal-mass = Σ n where is_legal = 0 is the stream's
    integrity debt, consumable by a CI gate like #352.

    Scale: one key-partitioned lag window (the #198 shuffle,
    shareable), a ≤ 5×5-bounded matrix aggregate."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_op_transition_sql("spark"))


# ---------------------------------------------------------------------------
# Rolling exact least-squares trend slope
# ---------------------------------------------------------------------------

_SLOPE_WIN = 7


def _rolling_slope_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    us = "unix_micros" if dialect == "spark" else "epoch_us"
    big = "DECIMAL(38,0)" if dialect == "spark" else "HUGEINT"
    return f"""
        WITH b AS (
            SELECT MIN({us}(ts)) AS t0 FROM events)
        , daily AS (
            SELECT ({us}(ts) - b.t0) {div} 86400000000 AS day_idx,
                   CAST(COUNT(*) AS BIGINT) AS y
            FROM events CROSS JOIN b
            GROUP BY ({us}(ts) - b.t0) {div} 86400000000)
        , rolled AS (
            SELECT day_idx, y,
                   CAST(SUM(y) OVER w AS BIGINT) AS sy,
                   CAST(SUM(day_idx * y) OVER w AS BIGINT) AS sxy,
                   CAST(SUM(day_idx) OVER w AS BIGINT) AS sx,
                   CAST(SUM(day_idx * day_idx) OVER w AS BIGINT)
                       AS sxx,
                   CAST(COUNT(*) OVER w AS BIGINT) AS n_in_win
            FROM daily
            WINDOW w AS (ORDER BY day_idx ASC
                         ROWS BETWEEN {_SLOPE_WIN - 1} PRECEDING
                         AND CURRENT ROW))
        , nums AS (
            SELECT day_idx, y, sy, n_in_win,
                   CAST(({_SLOPE_WIN} * sxy - sx * sy) AS {big})
                       * 1000000 AS num,
                   CAST({_SLOPE_WIN} * sxx - sx * sx AS {big})
                       AS den
            FROM rolled WHERE n_in_win = {_SLOPE_WIN})
        SELECT day_idx, y, sy, n_in_win,
               CAST((num - (((num % den) + den) % den)) {div} den
                   AS BIGINT) AS slope_e6
        FROM nums
    """


@query("events_rolling_slope", oracle=_rolling_slope_sql("duck"))
def q_events_rolling_slope(spark, sf_dir):
    """ROLLING EXACT LEAST-SQUARES TREND — the 7-day OLS slope of
    daily volume, recomputed each day from window sums ALONE: with
    the window re-indexed to x = 0..6, slope = (nΣxy − ΣxΣy)/196
    where Σxy = Σ(day·y) − window_start·Σy — two cumulative window
    sums, no per-window re-scan, no matrix anywhere. The TREND
    member of the anomaly family: CUSUM (#206) finds level shifts,
    MAD (#244) outlier days, EWMA (#280) smooths — this puts a
    signed slope (events/day per day, e6-scaled; the numerator goes
    NEGATIVE on down-trends, so the division uses the posrem floor
    form — Spark div truncates toward zero, DuckDB // floors, the
    r8 rule) on every day.

    Scale: one day-grain aggregate + one ordered window (single
    partition over DAYS — calendar-bounded, the documented
    dimension-window exemption); everything else is codegen."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_rolling_slope_sql("spark"))


# ---------------------------------------------------------------------------
# Supplier assortment similarity (postings-shaped set Jaccard)
# ---------------------------------------------------------------------------

_ASSORT_TOP = 20


def _assortment_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    return f"""
        WITH sp AS (
            SELECT DISTINCT l_suppkey AS suppkey,
                            l_partkey AS partkey
            FROM lineitem)
        , sizes AS (
            SELECT suppkey, CAST(COUNT(*) AS BIGINT) AS n_parts
            FROM sp GROUP BY suppkey)
        , inter AS (
            SELECT a.suppkey AS supp_a, b.suppkey AS supp_b,
                   CAST(COUNT(*) AS BIGINT) AS n_common
            FROM sp a JOIN sp b
              ON b.partkey = a.partkey AND a.suppkey < b.suppkey
            GROUP BY a.suppkey, b.suppkey)
        , scored AS (
            SELECT i.supp_a, i.supp_b, i.n_common,
                   sa.n_parts AS n_a, sb.n_parts AS n_b,
                   CAST((i.n_common * 10000) {div}
                        (sa.n_parts + sb.n_parts - i.n_common)
                       AS BIGINT) AS jaccard_bp
            FROM inter i
            JOIN sizes sa ON sa.suppkey = i.supp_a
            JOIN sizes sb ON sb.suppkey = i.supp_b)
        , top AS (
            SELECT * FROM scored
            ORDER BY jaccard_bp DESC, supp_a ASC, supp_b ASC
            LIMIT {_ASSORT_TOP})
        SELECT supp_a, supp_b, n_a, n_b, n_common, jaccard_bp,
               CAST(row_number() OVER (
                   ORDER BY jaccard_bp DESC, supp_a ASC, supp_b ASC)
                   AS BIGINT) AS rnk
        FROM top
    """


@query(
    "supplier_assortment_similarity",
    oracle=_assortment_sql("duck"),
)
def q_supplier_assortment_similarity(spark, sf_dir):
    """SUPPLIER ASSORTMENT SIMILARITY — which suppliers stock the
    same catalog (exact set Jaccard over each supplier's DISTINCT
    shipped parts): the substitutability/consolidation input
    procurement asks for, and the warehouse-side twin of the
    user-behavior affinity matrix (#284) — same postings algebra,
    entity×item instead of user×event. Top-{T} pairs by Jaccard
    with both set sizes visible.

    Scale: the distinct supplier×part projection collapses the
    fact table first (map-side combine); candidate pairs come from
    the PART-keyed equi-join — postings-shaped, Σ per-part
    supplier-count² bounded by part fan-out (df-cappable like
    #127 if a commodity part ever explodes); never suppliers²
    blind. TakeOrderedAndProject for the top slice.""".replace(
        "{T}", str(_ASSORT_TOP)
    )
    ensure_utc(spark)
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem"
    )
    return spark.sql(_assortment_sql("spark"))


# ---------------------------------------------------------------------------
# Per-group exact percentiles via grouped band-prefix
# ---------------------------------------------------------------------------

_GPCT_BANDS = 32
_GPCT_GRID = (50, 90)


def _group_pct_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    grid = ", ".join(f"({q})" for q in _GPCT_GRID)
    return f"""
        WITH v AS (
            SELECT event_type,
                   CAST(ROUND(value * 100) AS BIGINT) AS c
            FROM events)
        , mm AS (
            SELECT event_type, MIN(c) AS lo, MAX(c) AS hi,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM v GROUP BY event_type)
        , banded AS (
            SELECT v.event_type, v.c,
                   ((v.c - m.lo) * {_GPCT_BANDS})
                       {div} (m.hi - m.lo + 1) AS band
            FROM v JOIN mm m ON m.event_type = v.event_type)
        , bsum AS (
            SELECT event_type, band,
                   CAST(COUNT(*) AS BIGINT) AS bn
            FROM banded GROUP BY event_type, band)
        , bpre AS (
            SELECT event_type, band,
                   CAST(COALESCE(SUM(bn) OVER (
                       PARTITION BY event_type ORDER BY band ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS BIGINT) AS prefix,
                   CAST(SUM(bn) OVER (
                       PARTITION BY event_type ORDER BY band ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS BIGINT) AS cbn
            FROM bsum)
        , grid AS (SELECT * FROM (VALUES {grid}) AS g(q_pct))
        , targets AS (
            SELECT m.event_type, g.q_pct,
                   CAST((g.q_pct * m.n + 99) {div} 100 AS BIGINT)
                       AS target_rank
            FROM mm m CROSS JOIN grid g)
        , crossing AS (
            SELECT t.event_type, t.q_pct, t.target_rank,
                   CAST(MIN(p.band) AS BIGINT) AS band
            FROM targets t
            JOIN bpre p ON p.event_type = t.event_type
                       AND p.cbn >= t.target_rank
            GROUP BY t.event_type, t.q_pct, t.target_rank)
        , ranked AS (
            SELECT event_type, band, c,
                   row_number() OVER (
                       PARTITION BY event_type, band
                       ORDER BY c ASC) AS wr
            FROM banded)
        SELECT x.event_type, x.q_pct, x.target_rank,
               CAST(MIN(r.c) AS BIGINT) AS value_cents
        FROM crossing x
        JOIN bpre p ON p.event_type = x.event_type
                   AND p.band = x.band
        JOIN ranked r ON r.event_type = x.event_type
                     AND r.band = x.band
                     AND r.wr = x.target_rank - p.prefix
        GROUP BY x.event_type, x.q_pct, x.target_rank
    """


@query("events_value_percentiles_by_type", oracle=_group_pct_sql("duck"))
def q_events_value_percentiles_by_type(spark, sf_dir):
    """PER-GROUP exact percentiles at fact scale — the GROUPED
    generalization of #254's band-prefix decomposition: every
    event type gets its own (min, max) band space, band
    populations prefix-sum per group, and the rank window that
    finds the crossing value partitions by (group, band) — ≈1/32
    of EACH group's rows per reducer, so one skewed group cannot
    single-reducer the job the way
    percentile_disc(...) OVER (PARTITION BY type) would. p50/p90
    per type, exact (not approx), matching a full per-group sort
    bit-for-bit.

    Scale: two group-keyed aggregates + a group×band-bounded
    prefix window + rank windows over crossing bands only; the
    pattern extends to any (group, value) percentile ask."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_group_pct_sql("spark"))


# ---------------------------------------------------------------------------
# Multi-table replication frontier
# ---------------------------------------------------------------------------


def _frontier_sql(dialect: str) -> str:
    return f"""
        WITH {_BINLOG_LOG_CTE}
        , heads AS (
            SELECT tbl,
                   CAST(MAX(seq) AS BIGINT) AS head_seq,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM binlog GROUP BY tbl)
        , frontier AS (
            SELECT CAST(MIN(head_seq) AS BIGINT) AS frontier_seq
            FROM heads)
        , behind AS (
            SELECT b.tbl, CAST(COUNT(*) AS BIGINT) AS n_past_frontier
            FROM binlog b CROSS JOIN frontier f
            WHERE b.seq > f.frontier_seq
            GROUP BY b.tbl)
        SELECT h.tbl, h.head_seq, h.n_events,
               f.frontier_seq,
               CAST(h.head_seq - f.frontier_seq AS BIGINT)
                   AS lag_seq,
               CAST(COALESCE(bh.n_past_frontier, 0) AS BIGINT)
                   AS n_past_frontier
        FROM heads h
        CROSS JOIN frontier f
        LEFT JOIN behind bh ON bh.tbl = h.tbl
    """


@query("cdc_multi_table_frontier", oracle=_frontier_sql("duck"))
def q_cdc_multi_table_frontier(spark, sf_dir):
    """MULTI-TABLE REPLICATION FRONTIER — the coordination scalar a
    multi-stream consumer (the reference's 500-table scheduler;
    this repo's TableManager groups) actually acts on: the GLOBAL
    frontier is the minimum per-table head seq — everything at or
    below it is fully consistent ACROSS tables (a cross-table
    transaction can be safely joined; #164's multi-table txn check
    assumes exactly this cut) — and each table's lag to the
    frontier plus its event count PAST the frontier quantify who
    is holding the line back (the input to rebalancing via #353).

    Scale: one table-keyed aggregate (map-side combined), a scalar
    broadcast, one filtered recount — two passes over the binlog,
    both full-scan-shaped with no shuffle beyond the table key."""
    ensure_utc(spark)
    raw = read_binlog_jvm(spark, sf_dir)
    heads = raw.groupBy(F.col("table").alias("tbl")).agg(
        F.max("seq").cast("long").alias("head_seq"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    frontier = heads.agg(
        F.min("head_seq").cast("long").alias("frontier_seq")
    )
    behind = (
        raw.crossJoin(F.broadcast(frontier))
        .where(F.col("seq") > F.col("frontier_seq"))
        .groupBy(F.col("table").alias("tbl"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_past_frontier"))
    )
    return (
        heads.crossJoin(F.broadcast(frontier))
        .join(behind, "tbl", "left")
        .select(
            "tbl",
            "head_seq",
            "n_events",
            "frontier_seq",
            (F.col("head_seq") - F.col("frontier_seq"))
            .cast("long")
            .alias("lag_seq"),
            F.coalesce(F.col("n_past_frontier"), F.lit(0))
            .cast("long")
            .alias("n_past_frontier"),
        )
    )


# ---------------------------------------------------------------------------
# Torn-transaction atomicity audit at a replication cut
# ---------------------------------------------------------------------------

_TORN_CUT_PCT = 75


def _txn_atomicity_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    return f"""
        WITH {_BINLOG_LOG_CTE}
        , cut AS (
            SELECT (MAX(seq) * {_TORN_CUT_PCT}) {div} 100 AS s
            FROM binlog)
        , txns AS (
            SELECT transaction_id,
                   CAST(MIN(seq) AS BIGINT) AS first_seq,
                   CAST(MAX(seq) AS BIGINT) AS last_seq,
                   CAST(COUNT(*) AS BIGINT) AS n_ops,
                   CAST(COUNT(DISTINCT tbl) AS BIGINT) AS n_tables
            FROM binlog GROUP BY transaction_id)
        , marked AS (
            SELECT t.*, c.s AS cut_seq,
                   CASE WHEN t.first_seq <= c.s
                             AND t.last_seq > c.s
                        THEN 1 ELSE 0 END AS is_torn
            FROM txns t CROSS JOIN cut c)
        , safe AS (
            SELECT CAST(COALESCE(MIN(CASE WHEN is_torn = 1
                        THEN first_seq END) - 1,
                        MAX(cut_seq)) AS BIGINT) AS safe_cut
            FROM marked)
        SELECT CAST(m.cut_seq AS BIGINT) AS cut_seq,
               s.safe_cut,
               CAST(SUM(m.is_torn) AS BIGINT) AS n_torn_txns,
               CAST(SUM(CASE WHEN m.is_torn = 1 THEN m.n_ops
                        ELSE 0 END) AS BIGINT) AS torn_ops,
               CAST(SUM(CASE WHEN m.is_torn = 1
                             AND m.n_tables > 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS torn_multi_table,
               CAST(COUNT(*) AS BIGINT) AS n_txns
        FROM marked m CROSS JOIN safe s
        GROUP BY m.cut_seq, s.safe_cut
    """


@query("cdc_txn_atomicity_at_cut", oracle=_txn_atomicity_sql("duck"))
def q_cdc_txn_atomicity_at_cut(spark, sf_dir):
    """TORN-TRANSACTION AUDIT — the atomicity half of cut
    consistency (#378's frontier gives the cross-TABLE cut; this
    checks the cross-ROW one): a naive snapshot at seq S applies
    transactions PARTIALLY when their events straddle S — the torn
    set an exactly-once applier must either complete or roll back
    (Debezium's transaction-metadata topic exists for exactly
    this). Reports the torn census at the 75% cut (count, op mass,
    how many straddle MULTIPLE tables — the dangerous kind #164
    joins would corrupt) and the SAFE CUT: the largest boundary at
    or below S that no transaction straddles (min torn first_seq −
    1 — rewinding to it restores atomicity with minimal replay).

    Scale: one txn-keyed aggregate (map-side combined; txn spans
    are generator-bounded at 8 ops), scalar cut/safe broadcasts —
    no row-level shuffle beyond the txn key."""
    ensure_utc(spark)
    raw = read_binlog_jvm(spark, sf_dir)
    txns = raw.groupBy("transaction_id").agg(
        F.min("seq").cast("long").alias("first_seq"),
        F.max("seq").cast("long").alias("last_seq"),
        F.count(F.lit(1)).cast("long").alias("n_ops"),
        F.countDistinct("table").cast("long").alias("n_tables"),
    )
    cut = raw.agg(
        F.expr(f"(MAX(seq) * {_TORN_CUT_PCT}) div 100")
        .cast("long")
        .alias("cut_seq")
    )
    marked = txns.crossJoin(F.broadcast(cut)).withColumn(
        "is_torn",
        F.expr(
            "CASE WHEN first_seq <= cut_seq AND last_seq > cut_seq"
            " THEN 1 ELSE 0 END"
        ),
    )
    safe = marked.agg(
        F.expr(
            "CAST(COALESCE(MIN(CASE WHEN is_torn = 1"
            " THEN first_seq END) - 1, MAX(cut_seq)) AS BIGINT)"
        ).alias("safe_cut")
    )
    return (
        marked.crossJoin(F.broadcast(safe))
        .groupBy("cut_seq", "safe_cut")
        .agg(
            F.sum("is_torn").cast("long").alias("n_torn_txns"),
            F.sum(
                F.expr(
                    "CASE WHEN is_torn = 1 THEN n_ops ELSE 0 END"
                )
            )
            .cast("long")
            .alias("torn_ops"),
            F.sum(
                F.expr(
                    "CASE WHEN is_torn = 1 AND n_tables > 1"
                    " THEN 1 ELSE 0 END"
                )
            )
            .cast("long")
            .alias("torn_multi_table"),
            F.count(F.lit(1)).cast("long").alias("n_txns"),
        )
        .select(
            F.col("cut_seq").cast("long").alias("cut_seq"),
            "safe_cut",
            "n_torn_txns",
            "torn_ops",
            "torn_multi_table",
            "n_txns",
        )
    )


# ---------------------------------------------------------------------------
# Exact Kolmogorov-Smirnov drift between time halves
# ---------------------------------------------------------------------------


def _ks_drift_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    us = "unix_micros" if dialect == "spark" else "epoch_us"
    big = "DECIMAL(38,0)" if dialect == "spark" else "HUGEINT"
    return f"""
        WITH b AS (
            SELECT MIN({us}(ts)) AS lo, MAX({us}(ts)) AS hi
            FROM events)
        , tagged AS (
            SELECT CASE WHEN {us}(ts) < b.lo + (b.hi - b.lo) {div} 2
                        THEN 0 ELSE 1 END AS half,
                   CAST(ROUND(value * 100) AS BIGINT) AS c
            FROM events CROSS JOIN b)
        , counts AS (
            SELECT c,
                   CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n0,
                   CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n1
            FROM tagged GROUP BY c)
        , tots AS (
            SELECT CAST(SUM(n0) AS BIGINT) AS t0,
                   CAST(SUM(n1) AS BIGINT) AS t1
            FROM counts)
        , cum AS (
            SELECT c,
                   CAST(SUM(n0) OVER (ORDER BY c ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS BIGINT) AS c0,
                   CAST(SUM(n1) OVER (ORDER BY c ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS BIGINT) AS c1
            FROM counts)
        , gaps AS (
            SELECT cu.c,
                   ABS(CAST(cu.c0 AS {big}) * t.t1
                       - CAST(cu.c1 AS {big}) * t.t0) AS gap_num
            FROM cum cu CROSS JOIN tots t)
        , best AS (
            SELECT MAX(gap_num) AS max_gap FROM gaps)
        SELECT t.t0 AS n_first_half, t.t1 AS n_second_half,
               CAST(MIN(g.c) AS BIGINT) AS argmax_value_cents,
               CAST((bst.max_gap * 1000000)
                    {div} (CAST(t.t0 AS {big}) * t.t1) AS BIGINT)
                   AS ks_d_ppm,
               CAST(((bst.max_gap * 1000000)
                    {div} (CAST(t.t0 AS {big}) * t.t1))
                    * (t.t0 * t.t1) {div} (t.t0 + t.t1)
                   AS BIGINT) AS ks_scaled_e6
        FROM best bst
        CROSS JOIN tots t
        JOIN gaps g ON g.gap_num = bst.max_gap
        GROUP BY t.t0, t.t1, bst.max_gap
    """


@query("events_value_ks_drift", oracle=_ks_drift_sql("duck"))
def q_events_value_ks_drift(spark, sf_dir):
    """EXACT two-sample KOLMOGOROV-SMIRNOV drift — the
    nonparametric companion to the binned chi-square (#281): D =
    max_x |F̂₁(x) − F̂₂(x)| compares the WHOLE distribution shape
    with no binning choices, computed exactly as an integer: the
    ECDF gap at value x is |c0·t1 − c1·t0| over the common
    denominator t0·t1 (DECIMAL(38,0)/HUGEINT — the product passes
    2⁶³ at fact scale), so the argmax and D are bit-exact in both
    engines. Reports D in ppm, the value where the gap peaks (the
    drift's LOCATION — actionable where a test statistic alone is
    not), and D·n₀n₁/(n₀+n₁) e6-scaled (the quantity whose square
    root drives the significance threshold; a driver applies the
    Kolmogorov distribution).

    Scale: one scan → distinct-value counts (map-side combined),
    one ordered cumulative window over DISTINCT cents (value-
    bounded here; the #254 band-prefix decomposition drops in
    verbatim if the value domain reaches fact scale — stated),
    scalar totals broadcast."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_ks_drift_sql("spark"))


# ---------------------------------------------------------------------------
# Skyline (Pareto-dominance) over supplier service metrics
# ---------------------------------------------------------------------------


def _skyline_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    us = "unix_micros" if dialect == "spark" else "epoch_us"
    return f"""
        WITH m AS (
            SELECT l.l_suppkey AS suppkey,
                   CAST(SUM({us}(l.l_shipdate)
                            - {us}(o.o_orderdate))
                        {div} (COUNT(*) * 86400000000) AS BIGINT)
                       AS mean_delay_days,
                   CAST(SUM(CAST(ROUND(l.l_extendedprice * 100)
                            AS BIGINT)) {div} SUM(CAST(l.l_quantity
                            AS BIGINT)) AS BIGINT)
                       AS unit_price_e2,
                   CAST(COUNT(*) AS BIGINT) AS n_lines
            FROM lineitem l
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            GROUP BY l.l_suppkey)
        , dominated AS (
            SELECT DISTINCT a.suppkey
            FROM m a JOIN m b
              ON b.suppkey <> a.suppkey
             AND b.mean_delay_days <= a.mean_delay_days
             AND b.unit_price_e2 <= a.unit_price_e2
             AND (b.mean_delay_days < a.mean_delay_days
                  OR b.unit_price_e2 < a.unit_price_e2))
        SELECT m.suppkey, m.mean_delay_days, m.unit_price_e2,
               m.n_lines,
               CAST(CASE WHEN d.suppkey IS NULL THEN 1 ELSE 0 END
                   AS BIGINT) AS on_skyline
        FROM m LEFT JOIN dominated d ON d.suppkey = m.suppkey
    """


@query("supplier_skyline", oracle=_skyline_sql("duck"))
def q_supplier_skyline(spark, sf_dir):
    """SKYLINE / PARETO-DOMINANCE query (Borzsony, Kossmann &
    Stocker 2001 — 'the skyline operator') — the multi-criteria
    shortlist no single score can give: a supplier is ON the
    skyline iff no other supplier is at least as good on BOTH
    mean ship delay and unit price and strictly better on one;
    every procurement 'cheap AND fast' shortlist is this operator.
    Both metrics are floor-integer (days, cents) so dominance is
    exact; the full table is returned with the on_skyline flag so
    the dominated mass is visible too.

    Scale: metrics collapse the fact join to SUPPLIER grain first
    (dimension-sized), so the dominance self-join is dimension²
    with an early DISTINCT — the standard block-nested skyline;
    at extreme cardinalities the sort-filter skyline (order by one
    axis, running min on the other) drops in, and THIS phrasing
    stays the oracle. Dominance-law pinned in pytest (no skyline
    point dominated, every non-skyline point dominated)."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem"
    )
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders"
    )
    return spark.sql(_skyline_sql("spark"))


# ---------------------------------------------------------------------------
# Adjusted Rand Index between the two IVF clusterings
# ---------------------------------------------------------------------------


def _ari_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    big = "DECIMAL(38,0)" if dialect == "spark" else "HUGEINT"
    if dialect == "spark":
        head = """
        WITH pa AS (SELECT vec_id, cell FROM ari_cells_a)
        , pb AS (SELECT vec_id, cell FROM ari_cells_b)"""
    else:
        head = f"""
        WITH pa AS (SELECT vec_id, cell
                    FROM ({ORACLES['semdedup_cells']}) x)
        , pb AS (SELECT vec_id, cell
                 FROM ({ORACLES['ann_ivf_kmeans']}) y)"""
    return f"""{head}
        , joint AS (
            SELECT pa.cell AS ca, pb.cell AS cb,
                   CAST(COUNT(*) AS BIGINT) AS nij
            FROM pa JOIN pb ON pb.vec_id = pa.vec_id
            GROUP BY pa.cell, pb.cell)
        , s AS (
            SELECT CAST(SUM((nij * (nij - 1)) {div} 2) AS BIGINT)
                       AS sij,
                   CAST(SUM(nij) AS BIGINT) AS n
            FROM joint)
        , arow AS (
            SELECT CAST(SUM((ai * (ai - 1)) {div} 2) AS BIGINT)
                       AS a_sum
            FROM (SELECT CAST(SUM(nij) AS BIGINT) AS ai
                  FROM joint GROUP BY ca) t)
        , brow AS (
            SELECT CAST(SUM((bj * (bj - 1)) {div} 2) AS BIGINT)
                       AS b_sum
            FROM (SELECT CAST(SUM(nij) AS BIGINT) AS bj
                  FROM joint GROUP BY cb) t)
        , terms AS (
            SELECT s.sij, s.n, a.a_sum, b.b_sum,
                   CAST((s.n * (s.n - 1)) {div} 2 AS {big}) AS n2
            FROM s CROSS JOIN arow a CROSS JOIN brow b)
        , frac AS (
            SELECT sij, n, a_sum, b_sum,
                   2 * CAST(sij AS {big}) * n2
                       - 2 * CAST(a_sum AS {big}) * b_sum AS num2,
                   (CAST(a_sum AS {big}) + b_sum) * n2
                       - 2 * CAST(a_sum AS {big}) * b_sum AS den2
            FROM terms)
        SELECT n, sij AS sum_pairs_joint, a_sum AS sum_pairs_a,
               b_sum AS sum_pairs_b,
               CAST((num2 * 1000000
                     - (((num2 * 1000000) % den2 + den2) % den2))
                    {div} den2 AS BIGINT) AS ari_ppm
        FROM frac
    """


@query("embed_clustering_ari", oracle=_ari_sql("duck"))
def q_embed_clustering_ari(spark, sf_dir):
    """ADJUSTED RAND INDEX (Hubert & Arabie 1985) between the two
    coarse quantizers the repo ships — seed-based cells (#95's
    assignment) vs trained k-means cells (#128): the
    chance-corrected pair-counting agreement that answers 'did
    Lloyd training actually MOVE the partition, and how far?' —
    the clustering-evaluation primitive beside the internal
    quality indices (#246 Davies-Bouldin): ARI compares two
    partitions, DB scores one. Exact rational arithmetic: all
    three pair sums are integer, the chance correction is the
    common-denominator form 2·Sij·N₂ − 2AB over (A+B)·N₂ − 2AB in
    DECIMAL(38,0)/HUGEINT (N₂·pair-sums pass 2⁶³ at corpus scale),
    posrem floor ppm (ARI goes negative below chance).

    Scale: one vec-keyed join of two cell maps (both linear
    chains), a |cells_a × cells_b|-bounded contingency aggregate,
    scalar algebra."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView(
        "embeddings"
    )
    QUERIES["semdedup_cells"](spark, sf_dir).select(
        "vec_id", "cell"
    ).createOrReplaceTempView("ari_cells_a")
    QUERIES["ann_ivf_kmeans"](spark, sf_dir).select(
        "vec_id", "cell"
    ).createOrReplaceTempView("ari_cells_b")
    return spark.sql(_ari_sql("spark"))


# ---------------------------------------------------------------------------
# Lead-lag cross-correlation between event-type series
# ---------------------------------------------------------------------------

_XCORR_MAX_LAG = 3


def _xcorr_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    us = "unix_micros" if dialect == "spark" else "epoch_us"
    big = "DECIMAL(38,0)" if dialect == "spark" else "HUGEINT"
    lags = ", ".join(
        f"({L})" for L in range(-_XCORR_MAX_LAG, _XCORR_MAX_LAG + 1)
    )
    return f"""
        WITH b AS (
            SELECT MIN({us}(ts)) AS t0 FROM events)
        , hourly AS (
            SELECT ({us}(ts) - b.t0) {div} 3600000000 AS h,
                   CAST(SUM(CASE WHEN event_type = 'click'
                            THEN 1 ELSE 0 END) AS BIGINT) AS x,
                   CAST(SUM(CASE WHEN event_type = 'purchase'
                            THEN 1 ELSE 0 END) AS BIGINT) AS y
            FROM events CROSS JOIN b
            GROUP BY ({us}(ts) - b.t0) {div} 3600000000)
        , lags AS (SELECT * FROM (VALUES {lags}) AS l(lag))
        , paired AS (
            SELECT l.lag, a.x, c.y
            FROM lags l
            JOIN hourly a ON 1 = 1
            JOIN hourly c ON c.h = a.h + l.lag)
        , sums AS (
            SELECT lag,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(x * y) AS BIGINT) AS sxy
            FROM paired GROUP BY lag)
        SELECT lag, n, sx, sy,
               CAST(CAST(n AS {big}) * sxy
                    - CAST(sx AS {big}) * sy AS BIGINT)
                   AS cov_num,
               CAST(row_number() OVER (
                   ORDER BY CAST(n AS {big}) * sxy
                            - CAST(sx AS {big}) * sy DESC,
                            lag ASC) AS BIGINT) AS cov_rank
        FROM sums
    """


@query("events_type_lead_lag", oracle=_xcorr_sql("duck"))
def q_events_type_lead_lag(spark, sf_dir):
    """LEAD-LAG CROSS-CORRELATION between the click and purchase
    hourly series — 'does one metric MOVE FIRST?': for each lag L
    in ±{K} hours, the exact covariance NUMERATOR n·Σxy − Σx·Σy of
    clicks(t) against purchases(t+L) over the overlapping hours
    (each lag has its own n — edge hours drop, the standard
    unpadded cross-correlogram). The argmax lag (cov_rank = 1) is
    the lead estimate feeding conversion-lag attribution (#173
    measures per-pair delay; this detects the population-level
    lead without pairing users). Numerators stay exact in
    DECIMAL(38,0)/HUGEINT; normalization (÷σxσy) needs square
    roots and belongs to the driver — ranking by covariance at
    fixed series is ordering-equivalent.

    Scale: ONE hourly aggregate (map-side combined), a 7-row lag
    grid joined to the hour-bounded series twice, per-lag scalar
    sums — the series table is calendar-bounded, never
    fact-sized.""".replace("{K}", str(_XCORR_MAX_LAG))
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_xcorr_sql("spark"))


# ---------------------------------------------------------------------------
# ABC / XYZ inventory segmentation matrix
# ---------------------------------------------------------------------------


def _abc_xyz_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    us = "unix_micros" if dialect == "spark" else "epoch_us"
    big = "DECIMAL(38,0)" if dialect == "spark" else "HUGEINT"
    return f"""
        WITH b AS (
            SELECT MIN({us}(l_shipdate)) AS t0 FROM lineitem)
        , monthly AS (
            SELECT l_partkey,
                   ({us}(l_shipdate) - b.t0) {div} 2592000000000
                       AS mo,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
                       AS q,
                   CAST(SUM(CAST(ROUND(l_extendedprice * 100)
                        AS BIGINT)) AS BIGINT) AS rev_e2
            FROM lineitem CROSS JOIN b
            GROUP BY l_partkey,
                     ({us}(l_shipdate) - b.t0) {div} 2592000000000)
        , parts AS (
            SELECT l_partkey,
                   CAST(SUM(rev_e2) AS BIGINT) AS rev_e2,
                   CAST(COUNT(*) AS BIGINT) AS n_months,
                   CAST(SUM(q) AS BIGINT) AS sq,
                   CAST(SUM(q * q) AS BIGINT) AS sqq
            FROM monthly GROUP BY l_partkey)
        , tot AS (
            SELECT CAST(SUM(rev_e2) AS BIGINT) AS total_rev
            FROM parts)
        , ranked AS (
            SELECT p.*,
                   CAST(SUM(p.rev_e2) OVER (
                       ORDER BY p.rev_e2 DESC, p.l_partkey ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS BIGINT) AS cum_rev
            FROM parts p)
        , classed AS (
            SELECT r.l_partkey, r.rev_e2, r.n_months,
                   CASE WHEN (r.cum_rev * 100) <= 80 * t.total_rev
                        THEN 'A'
                        WHEN (r.cum_rev * 100) <= 95 * t.total_rev
                        THEN 'B'
                        ELSE 'C' END AS abc_class,
                   CASE WHEN r.n_months < 2 THEN 'Z'
                        WHEN (CAST(r.n_months AS {big}) * r.sqq
                              - CAST(r.sq AS {big}) * r.sq)
                             * 1000000
                             <= CAST(r.sq AS {big}) * r.sq
                               * 100000
                        THEN 'X'
                        WHEN (CAST(r.n_months AS {big}) * r.sqq
                              - CAST(r.sq AS {big}) * r.sq)
                             * 1000000
                             <= CAST(r.sq AS {big}) * r.sq
                               * 600000
                        THEN 'Y'
                        ELSE 'Z' END AS xyz_class
            FROM ranked r CROSS JOIN tot t)
        SELECT abc_class, xyz_class,
               CAST(COUNT(*) AS BIGINT) AS n_parts,
               CAST(SUM(rev_e2) AS BIGINT) AS class_rev_e2
        FROM classed
        GROUP BY abc_class, xyz_class
    """


@query("part_abc_xyz_matrix", oracle=_abc_xyz_sql("duck"))
def q_part_abc_xyz_matrix(spark, sf_dir):
    """ABC/XYZ INVENTORY SEGMENTATION — the planner's 3×3: ABC
    classes by cumulative revenue share (A = the parts covering
    80%, B to 95%, C the tail — the Pareto cut #132 computes for
    suppliers, here at part grain feeding the class boundary), XYZ
    by demand VARIABILITY (squared coefficient of variation of
    monthly quantities — CoV² avoids the square root: n·Σq² − (Σq)²
    vs thresholds 0.1/0.6 of (Σq)², exact in DECIMAL(38,0)/HUGEINT;
    single-month parts are Z by convention). AX parts get tight
    auto-replenishment, CZ manual review — the matrix IS the
    policy table.

    Scale: fact → (part, month) → part aggregates (two map-side
    combines); the cumulative-share window runs at PART grain
    (dimension-sized; #132's bucket-prefix decomposition stated
    for fact-scale catalogs); output is the 3×3."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem"
    )
    return spark.sql(_abc_xyz_sql("spark"))


# ---------------------------------------------------------------------------
# Targeted backfill plan for pre-existing keys
# ---------------------------------------------------------------------------

_BACKFILL_CHUNKS = 8


def _backfill_plan_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    body = f"""
        , firsts AS (
            SELECT key_id,
                   CAST(COUNT(*) AS BIGINT) AS n_ops,
                   MIN(CASE WHEN operation = 'INSERT' THEN seq END)
                       AS first_insert,
                   MIN(seq) AS first_seq
            FROM log GROUP BY key_id)
        , pre AS (
            SELECT key_id, n_ops FROM firsts
            WHERE first_insert IS NULL
               OR first_insert > first_seq)
        , np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pre)
        , ranked AS (
            SELECT p.key_id, p.n_ops,
                   CAST(((CAST(row_number() OVER (
                       ORDER BY p.key_id ASC) AS BIGINT) - 1)
                       * {_BACKFILL_CHUNKS}) {div} np.n AS BIGINT)
                       AS chunk_id
            FROM pre p CROSS JOIN np)
        SELECT chunk_id,
               CAST(MIN(key_id) AS BIGINT) AS lo_key,
               CAST(MAX(key_id) AS BIGINT) AS hi_key,
               CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(n_ops) AS BIGINT) AS n_ops
        FROM ranked GROUP BY chunk_id
    """
    return _with_log(body)


@query("cdc_backfill_plan", oracle=_backfill_plan_sql("duck"))
def q_cdc_backfill_plan(spark, sf_dir):
    """TARGETED BACKFILL PLAN — the remedy #374's START→UPDATE
    finding prescribes: keys whose first captured op is NOT their
    INSERT predate the capture window and need a snapshot read —
    but ONLY those keys, which is the difference between this plan
    and the full incremental snapshot (#163 chunks the whole
    keyspace): the backfill touches |pre-existing| keys, typically
    a sliver once capture has run a while. Keys are rank-chunked
    into {C} count-balanced select ranges ((rank−1)·C div n — the
    #211 equal-mass rule at key grain), each with its lo/hi key for
    a range-predicate snapshot query and its change-op mass (the
    merge cost after the read).

    Scale: one key aggregate, a rank window over the PRE-EXISTING
    subset only (≪ keyspace), chunk-grain output.""".replace(
        "{C}", str(_BACKFILL_CHUNKS)
    )
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_backfill_plan_sql("spark"))


# ---------------------------------------------------------------------------
# User activity streaks (gaps-and-islands at user-day grain)
# ---------------------------------------------------------------------------


def _streaks_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    us = "unix_micros" if dialect == "spark" else "epoch_us"
    return f"""
        WITH b AS (
            SELECT MIN({us}(ts)) AS t0, MAX({us}(ts)) AS t1
            FROM events)
        , ud AS (
            SELECT DISTINCT user_id,
                   ({us}(ts) - b.t0) {div} 86400000000 AS d
            FROM events CROSS JOIN b)
        , isl AS (
            SELECT user_id, d,
                   d - CAST(row_number() OVER (
                       PARTITION BY user_id ORDER BY d ASC)
                       AS BIGINT) AS grp
            FROM ud)
        , streaks AS (
            SELECT user_id, grp,
                   CAST(COUNT(*) AS BIGINT) AS len,
                   CAST(MAX(d) AS BIGINT) AS last_day
            FROM isl GROUP BY user_id, grp)
        , span AS (
            SELECT CAST((t1 - t0) {div} 86400000000 AS BIGINT)
                       AS last_idx
            FROM b)
        SELECT s.user_id,
               CAST(MAX(s.len) AS BIGINT) AS longest_streak,
               CAST(COUNT(*) AS BIGINT) AS n_streaks,
               CAST(MAX(CASE WHEN s.last_day = sp.last_idx
                        THEN s.len ELSE 0 END) AS BIGINT)
                   AS current_streak,
               CAST(SUM(s.len) AS BIGINT) AS n_active_days
        FROM streaks s CROSS JOIN span sp
        GROUP BY s.user_id
    """


@query("events_user_streaks", oracle=_streaks_sql("duck"))
def q_events_user_streaks(spark, sf_dir):
    """ACTIVITY STREAKS — longest and CURRENT consecutive-day runs
    per user (the engagement mechanic every habit-loop product
    tracks; also the retention-feature beside DAU/WAU stickiness
    #146): classic gaps-and-islands with the day − row_number
    constant-group trick (consecutive days share d − rank), one
    aggregate per island, and current = the streak whose last day
    is the corpus's final day. Reports longest, current, streak
    count, and total active days per user — streak/total is the
    regularity ratio.

    Scale: distinct user-day projection (map-side), ONE
    user-partitioned rank window, island-grain aggregates — the
    #9 sessionization shuffle shape at day grain."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_streaks_sql("spark"))


# ---------------------------------------------------------------------------
# 4-4-5 fiscal calendar rollup
# ---------------------------------------------------------------------------


def _fiscal_445_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    us = "unix_micros" if dialect == "spark" else "epoch_us"
    return f"""
        WITH b AS (
            SELECT MIN({us}(o_orderdate)) AS t0 FROM orders)
        , weekly AS (
            SELECT ({us}(o_orderdate) - b.t0) {div} 604800000000
                       AS wk,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100)
                        AS BIGINT)) AS BIGINT) AS rev_e2
            FROM orders CROSS JOIN b
            GROUP BY ({us}(o_orderdate) - b.t0) {div} 604800000000)
        , mapped AS (
            SELECT wk, n_orders, rev_e2,
                   wk {div} 52 AS fiscal_year,
                   (wk % 52) {div} 13 AS fiscal_quarter,
                   CASE WHEN (wk % 13) < 4 THEN 0
                        WHEN (wk % 13) < 8 THEN 1
                        ELSE 2 END AS period_in_quarter,
                   CASE WHEN (wk % 13) < 4 THEN 4
                        WHEN (wk % 13) < 8 THEN 4
                        ELSE 5 END AS period_weeks
            FROM weekly)
        SELECT CAST(fiscal_year AS BIGINT) AS fiscal_year,
               CAST(fiscal_quarter AS BIGINT) AS fiscal_quarter,
               CAST(period_in_quarter AS BIGINT) AS fiscal_period,
               CAST(MAX(period_weeks) AS BIGINT) AS period_weeks,
               CAST(COUNT(*) AS BIGINT) AS n_weeks_observed,
               CAST(SUM(n_orders) AS BIGINT) AS n_orders,
               CAST(SUM(rev_e2) AS BIGINT) AS revenue_e2,
               CAST(SUM(rev_e2) {div} MAX(period_weeks) AS BIGINT)
                   AS rev_per_week_e2
        FROM mapped
        GROUP BY fiscal_year, fiscal_quarter, period_in_quarter
    """


@query("orders_fiscal_445_rollup", oracle=_fiscal_445_sql("duck"))
def q_orders_fiscal_445_rollup(spark, sf_dir):
    """4-4-5 FISCAL CALENDAR rollup — the retail-standard calendar
    the Gregorian rollups (#18 monthly, #183 YoY) cannot express:
    quarters are exactly 13 weeks split 4-4-5, so every fiscal
    period contains a FIXED number of each weekday and periods
    compare cleanly (the whole point of 4-4-5 — a Gregorian
    'month over month' mixes 4- and 5-weekend months). Weeks index
    from the corpus's first order date (production anchors to the
    fiscal year start — one constant); the per-week normalization
    column makes the 5-week period comparable to its 4-week
    siblings in the same mart.

    Scale: one fact aggregate to week grain (map-side combined),
    pure modular arithmetic to fiscal coordinates, a period-grain
    rollup — calendar-bounded everywhere after the first pass."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_fiscal_445_sql("spark"))


# ---------------------------------------------------------------------------
# Normalization-aware exact dedup (the CCNet first pass)
# ---------------------------------------------------------------------------


def _norm_dedup_sql(dialect: str) -> str:
    g = "" if dialect == "spark" else ", 'g'"
    norm = (
        f"regexp_replace(regexp_replace(lower(text),"
        f" '[^a-z0-9 ]', ''{g}), ' +', ' '{g})"
    )
    return f"""
        WITH hashes AS (
            SELECT doc_id,
                   md5(text) AS raw_h,
                   md5({norm}) AS norm_h
            FROM documents)
        , raw_g AS (
            SELECT raw_h, CAST(COUNT(*) AS BIGINT) AS n
            FROM hashes GROUP BY raw_h)
        , norm_g AS (
            SELECT norm_h, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(COUNT(DISTINCT raw_h) AS BIGINT)
                       AS n_raw_variants
            FROM hashes GROUP BY norm_h)
        SELECT
            (SELECT CAST(COUNT(*) AS BIGINT) FROM hashes)
                AS n_docs,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM raw_g)
                AS n_raw_groups,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM norm_g)
                AS n_norm_groups,
            (SELECT CAST(SUM(n - 1) AS BIGINT) FROM raw_g)
                AS raw_dups,
            (SELECT CAST(SUM(n - 1) AS BIGINT) FROM norm_g)
                AS norm_dups,
            (SELECT CAST(SUM(CASE WHEN n_raw_variants > 1
                     THEN n_raw_variants - 1 ELSE 0 END) AS BIGINT)
             FROM norm_g) AS groups_merged_by_normalization
    """


@query("dedup_exact_normalized", oracle=_norm_dedup_sql("duck"))
def q_dedup_exact_normalized(spark, sf_dir):
    """NORMALIZATION-AWARE exact dedup census — CCNet's actual
    first pass hashes NORMALIZED text (lowercase, strip
    punctuation, collapse whitespace), not raw bytes: two docs
    differing only in case or punctuation are the same document to
    a language model, and raw-hash dedup (#25) misses them. This
    census quantifies the gap: raw vs normalized group counts,
    duplicate masses under each, and how many raw-distinct
    variants the normalization MERGED (the pairs only this pass
    catches; 0 on a corpus already normalized — itself a useful
    reading). The regexp 'g' flag split is the #347 dialect rule.

    Scale: one scan, two hash aggregates, scalar census — the
    normalization is three chained JVM regexes in codegen; the
    norm_h column is exactly what the exact-dedup keep-list would
    key on at 100 TB."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(_norm_dedup_sql("spark"))


# ---------------------------------------------------------------------------
# Embedding-norm vs text-quality correlation
# ---------------------------------------------------------------------------


def _norm_quality_corr_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    big = "DECIMAL(38,0)" if dialect == "spark" else "HUGEINT"
    quality = ORACLES["text_quality_score"]
    q_src = (
        f"({quality})" if dialect != "spark" else "nqc_quality"
    )
    # e6-floored norm via the shared helper
    return f"""
        WITH nr AS (
            SELECT vec_id,
                   CAST(FLOOR({_sim._norm('embedding', dialect)}
                        * 1000000) AS BIGINT) AS nrm_e6
            FROM embeddings)
        , q AS (SELECT doc_id, quality_bp FROM {q_src})
        , j AS (
            SELECT nr.nrm_e6 AS x, q.quality_bp AS y
            FROM nr JOIN q ON q.doc_id = nr.vec_id)
        , sums AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(x * y) AS BIGINT) AS sxy,
                   CAST(SUM(x * x) AS BIGINT) AS sxx,
                   CAST(SUM(y * y) AS BIGINT) AS syy
            FROM j)
        SELECT n, sx, sy,
               CAST(CASE WHEN CAST(n AS {big}) * sxy
                              - CAST(sx AS {big}) * sy > 0 THEN 1
                         WHEN CAST(n AS {big}) * sxy
                              - CAST(sx AS {big}) * sy < 0 THEN -1
                         ELSE 0 END AS BIGINT) AS corr_sign,
               CAST(((CAST(n AS {big}) * sxy
                      - CAST(sx AS {big}) * sy)
                     * (CAST(n AS {big}) * sxy
                        - CAST(sx AS {big}) * sy) * 1000000)
                    {div} ((CAST(n AS {big}) * sxx
                            - CAST(sx AS {big}) * sx)
                           * (CAST(n AS {big}) * syy
                              - CAST(sy AS {big}) * sy))
                   AS BIGINT) AS r_squared_ppm
        FROM sums
    """


@query("embed_norm_quality_corr", oracle=_norm_quality_corr_sql("duck"))
def q_embed_norm_quality_corr(spark, sf_dir):
    """EMBEDDING-NORM ↔ TEXT-QUALITY correlation — the cheap-signal
    audit behind 'can the vector norm stand in for a quality
    model?' (trained text encoders systematically embed confident/
    clean text at larger norms — if r² is high here, the #177
    embedding keep-list gets a free quality gate; if ≈0, norm is
    NOT a quality proxy on this corpus and the #303 classifier
    stays): exact Pearson via the #262 sqrt-free discipline —
    integer covariance numerator, SIGN, and r² in ppm as the exact
    rational (n·Σxy−ΣxΣy)² / ((n·Σxx−Σx²)(n·Σyy−Σy²)) in
    DECIMAL(38,0)/HUGEINT. On random embeddings r² ≈ 0 — the
    honest expected reading, pinned.

    Scale: one id-keyed join of two linear passes, a single
    6-sum aggregate."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView(
        "embeddings"
    )
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    QUERIES["text_quality_score"](spark, sf_dir).select(
        "doc_id", "quality_bp"
    ).createOrReplaceTempView("nqc_quality")
    return spark.sql(_norm_quality_corr_sql("spark"))


# ---------------------------------------------------------------------------
# Incremental connected-components maintenance (star + delta edges)
# ---------------------------------------------------------------------------


@query(
    "dedup_clusters_incremental",
    oracle=ORACLES["dedup_clusters"],
)
def q_dedup_clusters_incremental(spark, sf_dir):
    """INCREMENTAL connected-components maintenance — the daily
    reality of corpus dedup at 100 TB: yesterday's component map
    plus today's NEW candidate pairs, without recomputing the
    world. The old partition is re-encoded as STAR edges (every
    node → its old cluster label — depth-1 connectivity carrying
    exactly the old components), unioned with the delta pairs, and
    min-label propagation reruns over star+delta: stars collapse
    in one round, so rounds are bounded by the DELTA's merge
    depth, not the graph diameter — the incremental-maintenance
    property (the CC sibling of #117/#327's aggregate/join IVM).
    Here the near-dup pair set splits deterministically
    ((doc_a+doc_b) % 5 = 0 as the 'new' arrivals) and the ORACLE
    IS the batch #63 transitive closure — equality with the
    full recompute is the whole correctness claim, enforced by the
    driver gate itself.

    Scale: star edges are node-sized (linear), delta edges are the
    day's candidates; each round is the #63 join-aggregate over
    star+delta only."""
    from ..operators.dedup import ngram_jaccard_pairs
    from ..operators.graph import connected_components

    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs).select("doc_a", "doc_b")
    pairs = pairs.localCheckpoint()
    old = pairs.where("(doc_a + doc_b) % 5 <> 0")
    delta = pairs.where("(doc_a + doc_b) % 5 = 0")
    nodes = docs.select("doc_id")
    old_labels = connected_components(
        nodes, old, id_col="doc_id"
    ).localCheckpoint()
    star = old_labels.where("doc_id <> cluster_id").select(
        F.col("doc_id").alias("doc_a"),
        F.col("cluster_id").alias("doc_b"),
    )
    return connected_components(
        nodes, star.unionByName(delta), id_col="doc_id"
    )


# ---------------------------------------------------------------------------
# BG/NBD customer-lifetime model inputs
# ---------------------------------------------------------------------------


def _bgnbd_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    us = "unix_micros" if dialect == "spark" else "epoch_us"
    return f"""
        WITH b AS (
            SELECT MAX({us}(o_orderdate)) AS t_end FROM orders)
        , per AS (
            SELECT o_custkey AS custkey,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   MIN({us}(o_orderdate)) AS first_us,
                   MAX({us}(o_orderdate)) AS last_us,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100)
                        AS BIGINT)) AS BIGINT) AS spend_e2
            FROM orders GROUP BY o_custkey)
        SELECT p.custkey,
               CAST(p.n_orders - 1 AS BIGINT) AS x_repeat,
               CAST((p.last_us - p.first_us) {div} 86400000000
                   AS BIGINT) AS t_x_days,
               CAST((b.t_end - p.first_us) {div} 86400000000
                   AS BIGINT) AS t_age_days,
               CAST(p.spend_e2 {div} p.n_orders AS BIGINT)
                   AS mean_order_cents
        FROM per p CROSS JOIN b
    """


@query("customer_bgnbd_inputs", oracle=_bgnbd_sql("duck"))
def q_customer_bgnbd_inputs(spark, sf_dir):
    """BG/NBD + GAMMA-GAMMA INPUT MART (Fader, Hardie & Lee 2005 —
    'counting your customers' the easy way): the per-customer
    sufficient statistics every probabilistic-CLV fit consumes —
    x (REPEAT purchases), t_x (recency: first→last purchase,
    days), T (age: first purchase→observation end), and the mean
    order value for the monetary submodel. The model itself is a
    4-parameter MLE a driver runs over THIS 4-column table — the
    distributed work is exactly this mart (the same division of
    labor as #325's arm moments), and unlike the heuristic RFM
    quintiles (#170) these are the model-grade inputs. Laws:
    0 ≤ t_x ≤ T, x = 0 ⇔ t_x = 0.

    Scale: one map-side-combined aggregate to customer grain + a
    scalar observation-end broadcast."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_bgnbd_sql("spark"))


# ---------------------------------------------------------------------------
# Theil-Sen robust trend (median of pairwise slopes)
# ---------------------------------------------------------------------------


def _theil_sen_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    us = "unix_micros" if dialect == "spark" else "epoch_us"

    def fdiv(a: str, b: str) -> str:
        return f"(({a} - ((({a} % {b}) + {b}) % {b})) {div} {b})"

    return f"""
        WITH b AS (
            SELECT MIN({us}(ts)) AS t0 FROM events)
        , daily AS (
            SELECT ({us}(ts) - b.t0) {div} 86400000000 AS d,
                   CAST(COUNT(*) AS BIGINT) AS y
            FROM events CROSS JOIN b
            GROUP BY ({us}(ts) - b.t0) {div} 86400000000)
        , pairs AS (
            SELECT {fdiv('(p2.y - p1.y) * 1000000', '(p2.d - p1.d)')}
                       AS slope_e6
            FROM daily p1 JOIN daily p2 ON p2.d > p1.d)
        , ranked AS (
            SELECT slope_e6,
                   row_number() OVER (
                       ORDER BY slope_e6 ASC, slope_e6 ASC) AS rn,
                   COUNT(*) OVER () AS np
            FROM pairs)
        , med AS (
            SELECT CAST(MIN(slope_e6) AS BIGINT) AS ts_slope_e6,
                   CAST(MIN(np) AS BIGINT) AS n_pairs
            FROM ranked WHERE rn = (np + 1) {div} 2)
        , ols AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(d) AS BIGINT) AS sx,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(d * y) AS BIGINT) AS sxy,
                   CAST(SUM(d * d) AS BIGINT) AS sxx
            FROM daily)
        SELECT o.n AS n_days, m.n_pairs, m.ts_slope_e6,
               CAST({fdiv('((o.n * o.sxy - o.sx * o.sy) * 1000000)',
                          '(o.n * o.sxx - o.sx * o.sx)')}
                   AS BIGINT) AS ols_slope_e6
        FROM med m CROSS JOIN ols o
    """


@query("events_theil_sen_trend", oracle=_theil_sen_sql("duck"))
def q_events_theil_sen_trend(spark, sf_dir):
    """THEIL-SEN ROBUST TREND (Theil 1950, Sen 1968) — the median
    of all pairwise slopes, the estimator that shrugs off up to
    29% outlier contamination where the OLS slope (#375) chases
    every anomalous day (exactly the days the MAD screen #244
    flags): each pairwise slope is an e6 posrem floor integer, the
    median is the lower-median rank pick, and the full-series OLS
    slope is computed beside so the mart SHOWS the robustness gap
    (ts ≈ ols on clean data — the agreement law; they split when a
    day goes bad). Pairs are DAYS² — the series is
    calendar-bounded, so the quadratic pair join is a few thousand
    rows at any corpus size (the same bounded-quadratic license as
    the lag grid #383).

    Scale: one fact aggregate to day grain; everything after runs
    on the bounded day table."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_theil_sen_sql("spark"))


# ---------------------------------------------------------------------------
# ANN hubness: k-occurrence distribution + exact skewness moments
# ---------------------------------------------------------------------------


def _hubness_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    big = "DECIMAL(38,0)" if dialect == "spark" else "HUGEINT"
    knn = (
        "(SELECT * FROM hub_knn_mat)"
        if dialect == "spark"
        else f"MATERIALIZED ({_sim.graph_edges_sql('duck')})"
    )
    return f"""WITH knn AS {knn}
        , edges AS (
            SELECT vec_id AS src, neighbor_id AS dst FROM knn)
        , nodes AS (SELECT vec_id FROM embeddings)
        , indeg AS (
            SELECT n.vec_id,
                   CAST(COALESCE(COUNT(e.src), 0) AS BIGINT) AS d
            FROM nodes n LEFT JOIN edges e ON e.dst = n.vec_id
            GROUP BY n.vec_id)
        , hist AS (
            SELECT d, CAST(COUNT(*) AS BIGINT) AS n_nodes
            FROM indeg GROUP BY d)
        , moments AS (
            SELECT CAST(SUM(n_nodes) AS BIGINT) AS n,
                   CAST(SUM(d * n_nodes) AS BIGINT) AS s1,
                   CAST(SUM(d * d * n_nodes) AS BIGINT) AS s2,
                   CAST(SUM(d * d * d * n_nodes) AS BIGINT) AS s3
            FROM hist)
        SELECT h.d AS in_degree, h.n_nodes,
               m.n,
               CAST((m.s1 * 1000) {div} m.n AS BIGINT)
                   AS mean_deg_e3,
               CAST(CASE
                    WHEN CAST(m.n AS {big}) * m.n * m.s3
                         - 3 * CAST(m.n AS {big}) * m.s1 * m.s2
                         + 2 * CAST(m.s1 AS {big}) * m.s1 * m.s1
                         > 0 THEN 1
                    WHEN CAST(m.n AS {big}) * m.n * m.s3
                         - 3 * CAST(m.n AS {big}) * m.s1 * m.s2
                         + 2 * CAST(m.s1 AS {big}) * m.s1 * m.s1
                         < 0 THEN -1
                    ELSE 0 END AS BIGINT) AS skew_sign
        FROM hist h CROSS JOIN moments m
    """


@query("ann_hubness_profile", oracle=_hubness_sql("duck"))
def q_ann_hubness_profile(spark, sf_dir):
    """HUBNESS PROFILE of the KNN graph (Radovanović, Nanopoulos &
    Ivanović 2010) — the high-dimensional pathology every ANN
    deployment should check: as dimension grows, a few points
    become everyone's neighbor (k-occurrence distribution skews
    right) and recall intuition breaks — hubs dominate result
    lists while antihubs (in-degree 0) become unreachable, which
    is also exactly the graph-walk failure mode #350 measured. The
    k-occurrence HISTOGRAM (in-degree → node count, antihubs = the
    d=0 row) with the exact integer THIRD-moment numerator sign
    (n²Σd³ − 3nΣdΣd² + 2(Σd)³ in DECIMAL(38,0)/HUGEINT — positive
    = right-skewed = hubness present) and the e3 mean degree
    (= KNN_K when every node has full out-degree).

    Scale: in-degree is one aggregate over the KNN_K-bounded edge
    list; the histogram and moments are degree-bounded algebra."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView(
        "embeddings"
    )
    _graph_edges_map(spark, sf_dir).createOrReplaceTempView(
        "hub_knn_mat"
    )
    return spark.sql(_hubness_sql("spark"))


# ---------------------------------------------------------------------------
# Quantile treatment effects across hash arms
# ---------------------------------------------------------------------------

_QTE_GRID = (25, 50, 75)


def _qte_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    grid = ", ".join(f"({q})" for q in _QTE_GRID)
    if dialect == "spark":
        arm = (
            "CAST(conv(substring(md5(concat('ab:',"
            " CAST(user_id AS STRING))), 1, 8), 16, 10) AS BIGINT)"
            " % 2"
        )
    else:
        arm = (
            "CAST('0x' || substr(md5('ab:' ||"
            " CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) % 2"
        )
    return f"""
        WITH v AS (
            SELECT {arm} AS arm,
                   CAST(ROUND(value * 100) AS BIGINT) AS c
            FROM events)
        , mm AS (
            SELECT arm, MIN(c) AS lo, MAX(c) AS hi,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM v GROUP BY arm)
        , banded AS (
            SELECT v.arm, v.c,
                   ((v.c - m.lo) * {_GPCT_BANDS})
                       {div} (m.hi - m.lo + 1) AS band
            FROM v JOIN mm m ON m.arm = v.arm)
        , bsum AS (
            SELECT arm, band, CAST(COUNT(*) AS BIGINT) AS bn
            FROM banded GROUP BY arm, band)
        , bpre AS (
            SELECT arm, band,
                   CAST(COALESCE(SUM(bn) OVER (
                       PARTITION BY arm ORDER BY band ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS BIGINT) AS prefix,
                   CAST(SUM(bn) OVER (
                       PARTITION BY arm ORDER BY band ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS BIGINT) AS cbn
            FROM bsum)
        , grid AS (SELECT * FROM (VALUES {grid}) AS g(q_pct))
        , targets AS (
            SELECT m.arm, g.q_pct,
                   CAST((g.q_pct * m.n + 99) {div} 100 AS BIGINT)
                       AS target_rank
            FROM mm m CROSS JOIN grid g)
        , crossing AS (
            SELECT t.arm, t.q_pct, t.target_rank,
                   CAST(MIN(p.band) AS BIGINT) AS band
            FROM targets t
            JOIN bpre p ON p.arm = t.arm AND p.cbn >= t.target_rank
            GROUP BY t.arm, t.q_pct, t.target_rank)
        , ranked AS (
            SELECT arm, band, c,
                   row_number() OVER (
                       PARTITION BY arm, band ORDER BY c ASC) AS wr
            FROM banded)
        , qs AS (
            SELECT x.arm, x.q_pct,
                   CAST(MIN(r.c) AS BIGINT) AS value_cents
            FROM crossing x
            JOIN bpre p ON p.arm = x.arm AND p.band = x.band
            JOIN ranked r ON r.arm = x.arm AND r.band = x.band
                         AND r.wr = x.target_rank - p.prefix
            GROUP BY x.arm, x.q_pct)
        SELECT a.q_pct,
               a.value_cents AS q_arm0_cents,
               b.value_cents AS q_arm1_cents,
               CAST(b.value_cents - a.value_cents AS BIGINT)
                   AS qte_cents
        FROM qs a JOIN qs b ON b.q_pct = a.q_pct
        WHERE a.arm = 0 AND b.arm = 1
    """


@query("events_arm_quantile_effects", oracle=_qte_sql("duck"))
def q_events_arm_quantile_effects(spark, sf_dir):
    """QUANTILE TREATMENT EFFECTS — the distributional readout the
    mean-only A/B table (#325) and DiD (#367) hide: a treatment
    that lifts the p75 while crushing the p25 reads as 'no effect'
    on the mean; per-quantile arm differences (exact, not approx —
    the #377 grouped band-prefix machinery keyed by the md5 arm)
    localize WHERE in the distribution the effect lives. On the
    untreated corpus every QTE ≈ 0 — the distributional placebo
    beside #371's SRM and #367's mean placebo, all three of which
    a healthy experiment pipeline runs together.

    Scale: #377's plan shape with arm as the group key — nothing
    new to operate, which is the point of building percentiles as
    a reusable decomposition."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_qte_sql("spark"))


# ---------------------------------------------------------------------------
# Change-data-feed export (Delta CDF conventions)
# ---------------------------------------------------------------------------


def _change_feed_sql(dialect: str) -> str:
    body = """
        , with_prev AS (
            SELECT key_id, seq, operation, value,
                   lag(value) OVER (
                       PARTITION BY key_id ORDER BY ts ASC, seq ASC)
                       AS prev_value
            FROM log)
        , feed AS (
            SELECT key_id, seq, 'insert' AS change_type, value
            FROM with_prev WHERE operation = 'INSERT'
            UNION ALL
            SELECT key_id, seq, 'update_preimage', prev_value
            FROM with_prev
            WHERE operation = 'UPDATE' AND prev_value IS NOT NULL
            UNION ALL
            SELECT key_id, seq, 'update_postimage', value
            FROM with_prev WHERE operation = 'UPDATE'
            UNION ALL
            SELECT key_id, seq, 'delete', prev_value
            FROM with_prev WHERE operation = 'DELETE')
        SELECT key_id, seq, change_type,
               CAST(ROUND(value * 100) AS BIGINT) AS value_cents
        FROM feed
    """
    return _with_log(body)


@query("cdc_change_feed", oracle=_change_feed_sql("duck"))
def q_cdc_change_feed(spark, sf_dir):
    """CHANGE DATA FEED export — the operation log re-expressed in
    the lakehouse-standard CDF row convention (Delta's
    _change_type vocabulary: insert / update_preimage /
    update_postimage / delete): UPDATEs emit TWO rows (the
    before-image reconstructed by a per-key lag — the log is
    post-image-only, exactly the reconstruction a CDF writer does
    from a post-image CDC source), DELETEs carry the last known
    value as their image. This is the interop surface: any
    consumer written against Delta CDF (merge materializers,
    audit diffing, downstream IVM) reads THIS view unchanged —
    seq plays _commit_version.

    Scale: one key-partitioned lag window (the #3 SCD2 shuffle),
    four filter arms over the SAME windowed scan (no re-scans —
    the arms are projections of with_prev), fact-linear output."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_change_feed_sql("spark"))


# ---------------------------------------------------------------------------
# Seasonal / trend strength over the STL decomposition
# ---------------------------------------------------------------------------


def _stl_strength_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    big = "DECIMAL(38,0)" if dialect == "spark" else "HUGEINT"
    stl = ORACLES["events_stl_decomposition"]
    src = f"({stl})" if dialect != "spark" else "stl_strength_src"
    return f"""
        WITH stl AS (
            SELECT seasonal_dow AS s, residual AS r,
                   n_events - trend_ma7 AS detrended
            FROM {src}
            WHERE trend_ma7 IS NOT NULL AND residual IS NOT NULL)
        , sums AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(r) AS BIGINT) AS sr,
                   CAST(SUM(r * r) AS BIGINT) AS srr,
                   CAST(SUM(detrended) AS BIGINT) AS sd,
                   CAST(SUM(detrended * detrended) AS BIGINT) AS sdd
            FROM stl)
        SELECT n,
               CAST(CAST(n AS {big}) * srr
                    - CAST(sr AS {big}) * sr AS BIGINT)
                   AS var_resid_num,
               CAST(CAST(n AS {big}) * sdd
                    - CAST(sd AS {big}) * sd AS BIGINT)
                   AS var_detrended_num,
               CAST(GREATEST(CAST(0 AS BIGINT),
                    1000000
                    - CAST(((CAST(n AS {big}) * srr
                             - CAST(sr AS {big}) * sr) * 1000000)
                           {div} GREATEST(CAST(1 AS {big}),
                                 CAST(n AS {big}) * sdd
                                 - CAST(sd AS {big}) * sd)
                          AS BIGINT)) AS BIGINT)
                   AS seasonal_strength_ppm
        FROM sums
    """


@query("events_seasonal_strength", oracle=_stl_strength_sql("duck"))
def q_events_seasonal_strength(spark, sf_dir):
    """SEASONAL STRENGTH (Hyndman's F_s = max(0, 1 −
    Var(remainder)/Var(detrended)) — the scalar that says whether
    the weekly pattern #268 decomposes actually MATTERS): computed
    over the already-oracle-checked STL rows with exact integer
    variance numerators (n·Σx² − (Σx)², DECIMAL(38,0)/HUGEINT),
    the ratio floored to ppm and clamped at 0 — a strength near 0
    means the 'seasonal' component is noise and the #255
    seasonal-naive baseline should lose to plain EWMA; near 1e6
    means schedule-aware capacity planning pays. The forecasting
    family's model-selection scalar.

    Scale: the STL pass is #268's plan; this adds one 5-sum
    aggregate and scalar algebra."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    QUERIES["events_stl_decomposition"](
        spark, sf_dir
    ).createOrReplaceTempView("stl_strength_src")
    return spark.sql(_stl_strength_sql("spark"))


# ---------------------------------------------------------------------------
# Customer revenue Gini (warehouse-grain concentration)
# ---------------------------------------------------------------------------


def _revenue_gini_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    big = "DECIMAL(38,0)" if dialect == "spark" else "HUGEINT"
    return f"""
        WITH per AS (
            SELECT o_custkey,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100)
                        AS BIGINT)) AS BIGINT) AS rev_e2
            FROM orders GROUP BY o_custkey)
        , ranked AS (
            SELECT rev_e2,
                   CAST(row_number() OVER (
                       ORDER BY rev_e2 ASC, o_custkey ASC)
                       AS BIGINT) AS i
            FROM per)
        , sums AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(rev_e2) AS BIGINT) AS tot,
                   CAST(SUM(i * rev_e2) AS BIGINT) AS weighted
            FROM ranked)
        SELECT n, tot AS total_rev_e2,
               CAST((2 * CAST(weighted AS {big})
                     - (CAST(n AS {big}) + 1) * tot) * 1000000
                    {div} (CAST(n AS {big}) * tot) AS BIGINT)
                   AS gini_ppm
        FROM sums
    """


@query("customer_revenue_gini", oracle=_revenue_gini_sql("duck"))
def q_customer_revenue_gini(spark, sf_dir):
    """CUSTOMER REVENUE GINI — the warehouse-grain concentration
    scalar beside the behavioral event-count Gini (#233) and the
    Lorenz deciles (#272): with customers ranked ascending by
    revenue, G = (2Σi·xᵢ − (n+1)Σx) / (nΣx) exactly (the
    rank-weighted closed form — no pair enumeration), e6-floored
    in DECIMAL(38,0)/HUGEINT. One number answering 'how top-heavy
    is the book of business' — feeds the same dashboards as HHI
    (#178), which measures supplier-side concentration.

    Scale: one fact→customer aggregate, then Σi·x through the
    _gini_weighted_rank band-prefix decomposition (r7) — ZERO
    unpartitioned windows, DECIMAL-widened accumulator (the BIGINT
    Σi·rev passes range near sf~2); the oracle keeps the global
    window and the hash match proves the decomposition."""
    orders = load_table(spark, sf_dir, "orders")
    per = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("rev_e2")
    )
    stats = _gini_weighted_rank(per, "rev_e2", "o_custkey")
    return stats.select(
        "n",
        F.col("tot").alias("total_rev_e2"),
        F.expr(
            "CAST(((2 * weighted_dec"
            " - (CAST(n AS DECIMAL(38,0)) + 1) * tot) * 1000000)"
            " div (CAST(n AS DECIMAL(38,0)) * tot) AS BIGINT)"
        ).alias("gini_ppm"),
    )


# ---------------------------------------------------------------------------
# Error-budget burn (SRE SLO accounting)
# ---------------------------------------------------------------------------

_SLO_BUDGET_BP = 2100  # allowed error share (synthetic corpus ~21%)


def _error_budget_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    us = "unix_micros" if dialect == "spark" else "epoch_us"
    return f"""
        WITH b AS (
            SELECT MIN({us}(ts)) AS t0 FROM events)
        , daily AS (
            SELECT ({us}(ts) - b.t0) {div} 86400000000 AS day_idx,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(CASE WHEN event_type = 'error'
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_errors
            FROM events CROSS JOIN b
            GROUP BY ({us}(ts) - b.t0) {div} 86400000000)
        , cum AS (
            SELECT day_idx, n_events, n_errors,
                   CAST(SUM(n_events) OVER w AS BIGINT) AS cum_events,
                   CAST(SUM(n_errors) OVER w AS BIGINT) AS cum_errors
            FROM daily
            WINDOW w AS (ORDER BY day_idx ASC
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW))
        SELECT day_idx, n_events, n_errors,
               cum_events, cum_errors,
               CAST((cum_events * {_SLO_BUDGET_BP}) {div} 10000
                   AS BIGINT) AS budget_errors,
               CAST((n_errors * 10000)
                    {div} GREATEST(CAST(1 AS BIGINT), n_events)
                   AS BIGINT) AS day_error_bp,
               CAST(CASE WHEN cum_errors
                              > (cum_events * {_SLO_BUDGET_BP})
                                {div} 10000
                    THEN 1 ELSE 0 END AS BIGINT) AS budget_exhausted
        FROM cum
    """


@query("events_error_budget_burn", oracle=_error_budget_sql("duck"))
def q_events_error_budget_burn(spark, sf_dir):
    """ERROR-BUDGET BURN (the SRE workbook's SLO accounting): with
    an allowed error share of {B} bp, each day's ledger row carries
    the daily error rate, the cumulative errors vs the cumulative
    BUDGET (allowed = cum_events·budget/10000 — the budget grows
    with traffic, which is what distinguishes burn accounting from
    a fixed threshold), and the exhausted flag — the day the flag
    first sets is when feature freezes kick in under the SRE
    contract. Beside the alerting screens (#8 error monitor finds
    spikes, #206 CUSUM level shifts) this is the POLICY view:
    budgeted, cumulative, and deterministic.

    Scale: one day-grain aggregate + one calendar-bounded
    cumulative window.""".replace("{B}", str(_SLO_BUDGET_BP))
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_error_budget_sql("spark"))


# ---------------------------------------------------------------------------
# Global transitivity over the KNN graph
# ---------------------------------------------------------------------------


def _transitivity_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    tri = ORACLES["graph_triangle_knn"]
    src = f"({tri})" if dialect != "spark" else "transitivity_src"
    return f"""
        WITH t AS (
            SELECT vec_id, degree, triangles, clustering_bp
            FROM {src})
        SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(SUM(triangles) AS BIGINT) AS sum_closed_triads,
               CAST(SUM((degree * (degree - 1)) {div} 2) AS BIGINT)
                   AS sum_wedges,
               CAST((SUM(triangles) * 1000000)
                    {div} GREATEST(CAST(1 AS BIGINT),
                          SUM((degree * (degree - 1)) {div} 2))
                   AS BIGINT) AS transitivity_ppm,
               CAST(SUM(clustering_bp) {div} COUNT(*) AS BIGINT)
                   AS mean_local_clustering_bp
        FROM t
    """


@query("graph_transitivity_knn", oracle=_transitivity_sql("duck"))
def q_graph_transitivity_knn(spark, sf_dir):
    """GLOBAL TRANSITIVITY of the KNN graph — the one-number
    small-world diagnosis the per-node table (#149) rolls up to:
    transitivity = closed triads / wedges (each triangle is
    counted once PER VERTEX by #149, and a wedge is d(d−1)/2 per
    center, so the ratio is exactly 3T/W), beside Watts-Strogatz
    MEAN LOCAL clustering — the two disagree precisely when hubs
    (#393) close few of their many wedges, which is why both
    belong in one row. High transitivity + short BFS reach (#300)
    = the small-world regime where graph-walk ANN (#293/#350)
    earns its keep.

    Scale: a 5-sum aggregate over #149's already-bounded per-node
    output, read from the session gate map (r6 — the same cached
    triangle table community profiles #187 reads)."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView(
        "embeddings"
    )
    _gate_map(
        spark, sf_dir, "graph_tri_table",
        lambda: QUERIES["graph_triangle_knn"](spark, sf_dir),
    ).createOrReplaceTempView("transitivity_src")
    return spark.sql(_transitivity_sql("spark"))


# ---------------------------------------------------------------------------
# Exact stratified train/val/test split (80/10/10 per stratum)
# ---------------------------------------------------------------------------

_SPLIT_BP = (8000, 1000, 1000)  # train/val/test in bp


def _three_way_split_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    if dialect == "spark":
        h = (
            "CAST(conv(substring(md5(concat('split:',"
            " CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT)"
        )
    else:
        h = (
            "CAST('0x' || substr(md5('split:' ||"
            " CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)"
        )
    t_bp, v_bp, _ = _SPLIT_BP
    return f"""
        WITH sizes AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n
            FROM documents GROUP BY source)
        , cuts AS (
            SELECT source, n,
                   (n * {t_bp}) {div} 10000 AS n_train,
                   (n * {t_bp + v_bp}) {div} 10000 AS n_train_val
            FROM sizes)
        , ranked AS (
            SELECT d.doc_id, d.source,
                   CAST(row_number() OVER (
                       PARTITION BY d.source
                       ORDER BY {h} ASC, d.doc_id ASC) AS BIGINT)
                       AS rn
            FROM documents d)
        , assigned AS (
            SELECT r.doc_id, r.source,
                   CASE WHEN r.rn <= c.n_train THEN 'train'
                        WHEN r.rn <= c.n_train_val THEN 'val'
                        ELSE 'test' END AS split
            FROM ranked r JOIN cuts c ON c.source = r.source)
        SELECT source, split,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
               CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
        FROM assigned GROUP BY source, split
    """


@query("sample_three_way_split", oracle=_three_way_split_sql("duck"))
def q_sample_three_way_split(spark, sf_dir):
    """EXACT STRATIFIED TRAIN/VAL/TEST SPLIT — the canonical ML
    partition with the guarantee global hash-thresholding (#236)
    cannot give: WITHIN EVERY STRATUM the 80/10/10 counts are
    exact (floor cuts on the per-source hash-rank, so |train| =
    ⌊0.8n⌋ per source — no stratum drifts even when it is small,
    which is where binomial noise bites hardest), assignment is a
    pure function of doc_id (reproducible, join-free to apply
    downstream), and membership is content-stable under corpus
    growth ONLY within the rank prefix (documented: exact-count
    splits trade the #236 stability property for exactness — both
    splitters ship because both contracts are real). Census output
    (per source × split counts + id spans); the doc-grain
    assignment is the ranked CTE a consumer materializes.

    Scale: one per-stratum rank window (TakeOrdered shape), census
    aggregate."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(_three_way_split_sql("spark"))


# ---------------------------------------------------------------------------
# Interval-union coverage (global busy time) over sessions
# ---------------------------------------------------------------------------


def _coverage_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    us = "unix_micros" if dialect == "spark" else "epoch_us"
    sess = ORACLES["cdc_sessionize"]
    src = f"({sess})" if dialect != "spark" else "coverage_sessions"
    return f"""
        WITH s AS (
            SELECT {us}(session_start) AS a, {us}(session_end) AS b
            FROM {src})
        , bounds AS (
            SELECT a AS t, 1 AS delta FROM s
            UNION ALL
            SELECT b AS t, -1 FROM s)
        , swept AS (
            SELECT t, delta,
                   CAST(SUM(delta) OVER (
                       ORDER BY t ASC, delta DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS BIGINT) AS conc,
                   lead(t) OVER (ORDER BY t ASC, delta DESC)
                       AS next_t
            FROM bounds)
        , segs AS (
            SELECT CAST(SUM(CASE WHEN conc > 0
                        THEN next_t - t ELSE 0 END) AS BIGINT)
                       AS covered_us
            FROM swept WHERE next_t IS NOT NULL)
        , tot AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
                   CAST(SUM(b - a) AS BIGINT) AS sum_dur_us,
                   CAST(MAX(b) - MIN(a) AS BIGINT) AS span_us
            FROM s)
        SELECT t.n_sessions,
               CAST(t.sum_dur_us {div} 1000000 AS BIGINT)
                   AS sum_duration_s,
               CAST(g.covered_us {div} 1000000 AS BIGINT)
                   AS covered_s,
               CAST(t.span_us {div} 1000000 AS BIGINT) AS span_s,
               CAST((t.sum_dur_us * 1000)
                    {div} GREATEST(CAST(1 AS BIGINT), g.covered_us)
                   AS BIGINT) AS overlap_factor_e3,
               CAST((g.covered_us * 10000)
                    {div} GREATEST(CAST(1 AS BIGINT), t.span_us)
                   AS BIGINT) AS busy_share_bp
        FROM segs g CROSS JOIN tot t
    """


@query("events_session_coverage", oracle=_coverage_sql("duck"))
def q_events_session_coverage(spark, sf_dir):
    """INTERVAL-UNION COVERAGE — the classic sweep problem 'how
    much wall-clock was AT LEAST ONE session active' that neither
    Σ durations (double-counts overlap) nor the span (counts idle
    gaps) answers: ±1 boundary events, a running concurrency sum
    (the #295 peak-concurrency sweep), and the summed lengths of
    segments where concurrency > 0. The derived pair is the
    operational story: overlap_factor = Σdur/covered (×1000 — how
    many sessions deep the busy time runs, Little's L̄ restricted
    to busy periods) and busy_share = covered/span (utilization).

    Scale: sessions come from #9's chain; the sweep is one ordered
    window over 2·sessions boundary rows (band-prefix
    decomposable by time bucket per #287's layout sweep if
    boundaries reach fact scale — stated)."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    QUERIES["cdc_sessionize"](spark, sf_dir).createOrReplaceTempView(
        "coverage_sessions"
    )
    return spark.sql(_coverage_sql("spark"))


