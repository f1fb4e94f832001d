from __future__ import annotations

from .p01_cdc_operation_log import (  # noqa: F401
    F,
    QUERIES,
    _PACK_CTX,
    _PACK_SHARD,
    _debezium,
    _gate_map,
    _gate_value,
    _km_index,
    _mm,
    _sim,
    _text,
    _with_log,
    cdc_operation_log,
    ensure_utc,
    load_table,
    query,
)
from .p02_text_gopher_rules import (  # noqa: F401
    _graph_edges_map,
    ORACLES,
    _DEBEZIUM_SILVER_CTE,
    _sampling,
)
from .p05_corpus_keep_list_v7 import (  # noqa: F401
    _AB_ARMS,
    _KMV_K,
)
from .p06_dq_contract_checks import (  # noqa: F401
    _curriculum_sql,
)

# ---------------------------------------------------------------------------
# Allen interval-algebra census over session pairs
# ---------------------------------------------------------------------------


def _allen_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    us = "unix_micros" if dialect == "spark" else "epoch_us"
    sess = ORACLES["cdc_sessionize"]
    src = f"({sess})" if dialect != "spark" else "allen_sessions"
    return f"""
        WITH s AS (
            SELECT key_id, session_id,
                   {us}(session_start) AS a, {us}(session_end) AS b,
                   {us}(session_start) {div} 3600000000 AS hr
            FROM {src})
        , pairs AS (
            SELECT x.a AS a1, x.b AS b1, y.a AS a2, y.b AS b2
            FROM s x JOIN s y
              ON y.hr = x.hr
             AND (x.key_id < y.key_id
                  OR (x.key_id = y.key_id
                      AND x.session_id < y.session_id)))
        , classed AS (
            SELECT CASE
                WHEN b1 < a2 THEN 'before'
                WHEN b1 = a2 THEN 'meets'
                WHEN a1 = a2 AND b1 = b2 THEN 'equals'
                WHEN a1 = a2 AND b1 < b2 THEN 'starts'
                WHEN a1 = a2 THEN 'started_by'
                WHEN b1 = b2 AND a1 > a2 THEN 'finishes'
                WHEN b1 = b2 THEN 'finished_by'
                WHEN a1 > a2 AND b1 < b2 THEN 'during'
                WHEN a1 < a2 AND b1 > b2 THEN 'contains'
                WHEN a1 < a2 AND b1 > a2 AND b1 < b2 THEN 'overlaps'
                WHEN a2 < a1 AND b2 > a1 AND b2 < b1
                    THEN 'overlapped_by'
                WHEN b2 < a1 THEN 'after'
                WHEN b2 = a1 THEN 'met_by'
                ELSE 'other' END AS relation
            FROM pairs)
        , tot AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n FROM classed)
        SELECT c.relation, CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST((COUNT(*) * 10000) {div} t.n AS BIGINT)
                   AS share_bp
        FROM classed c CROSS JOIN tot t
        GROUP BY c.relation, t.n
    """


@query("events_allen_relations", oracle=_allen_sql("duck"))
def q_events_allen_relations(spark, sf_dir):
    """ALLEN INTERVAL ALGEBRA census (Allen 1983 — the 13 temporal
    relations every two intervals stand in EXACTLY ONE of): session
    pairs starting in the same hour (the stated candidate
    population — the #59 banded-join rule keeping pairs linear)
    classified into before/meets/overlaps/starts/during/finishes +
    inverses + equals, with the ordered CASE implementing the
    mutually-exclusive definitions. The temporal-LOGIC view the
    metric sweeps (#295 concurrency, #401 coverage) aggregate
    away: 'during' mass = nested usage (tab-in-tab bots), 'meets'
    = suspicious back-to-back continuation, 'equals' = duplicated
    session pipelines. Exclusivity (no 'other' row) pinned in
    pytest — the algebra's own completeness theorem as a test.

    Scale: hour-banded equi-join (never all-pairs), codegen CASE,
    13-row census."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    QUERIES["cdc_sessionize"](spark, sf_dir).createOrReplaceTempView(
        "allen_sessions"
    )
    return spark.sql(_allen_sql("spark"))


# ---------------------------------------------------------------------------
# R13: deep BPE training — driver loop over a checkpointed symbol
# table (r4 verdict item 3; operators/bpe.py)
# ---------------------------------------------------------------------------

from ..operators import bpe as _bpe  # noqa: E402


def _bpe_trained(spark, sf_dir, k=_bpe.BPE_DEEP_ROUNDS):
    """Session cache of the trained (report, symbols) pair — the
    same immutable-corpus rule as _gate_map (training is a pure
    function of the corpus; the fertility twin reuses the symbol
    table instead of re-training)."""
    return _gate_value(
        spark, sf_dir, f"bpe_train_{k}",
        lambda: _bpe.train(spark, load_table(spark, sf_dir, "documents"), k),
    )


@query(
    "bpe_train_k32",
    oracle=_text.bpe_merge_rounds_sql("duck", _bpe.BPE_DEEP_ROUNDS),
)
def q_bpe_train_k32(spark, sf_dir):
    """DEEP BPE merge training, K=32 (Sennrich et al. 2016): the
    driver-loop trainer (operators/bpe.py) — iteration count is
    control flow, per-round work is one bounded set of
    vocabulary-sized window/aggregate jobs over a localCheckpointed
    symbol table, so plan depth per round is CONSTANT where the K=3
    unrolled chain (#228) grows linearly and re-derives earlier
    rounds inside later arms. Same semantics round for round
    (winner = count DESC / pair ASC; greedy non-overlapping
    application): the first 3 rows equal #228's output exactly and
    the whole run matches the K=32 unrolled DuckDB oracle. Pinned
    laws in tests/test_round13.py: prefix equality, strict token
    decrease, per-round reduction <= winning count.

    Scale: the corpus is read ONCE (word frequencies, map-side
    combined); every round runs on the vocabulary table (distinct
    words x word length), and driver actions are the bounded Pregel
    control-flow kind (1-row top-pair collect + 1-row token count
    per round)."""
    return _bpe_trained(spark, sf_dir)[0]


@query(
    "bpe_fertility_k32",
    oracle=_text.bpe_fertility_sql("duck", _bpe.BPE_DEEP_ROUNDS),
)
def q_bpe_fertility_k32(spark, sf_dir):
    """Tokenizer fertility per language under the REAL (K=32) vocab
    — re-measures #323 (which reports the K=3 toy vocab) with the
    deep trainer's symbol table: subword tokens per whitespace word
    and chars per token, the multilingual-equity numbers behind
    vocab-allocation debates. One corpus word explode joined to the
    vocabulary-bounded word -> n_sym map (broadcast-able), one
    lang-keyed aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    return _bpe.fertility_by_lang(docs, _bpe_trained(spark, sf_dir)[1])


@query("mm_wav_roundtrip_stats", oracle=_mm.wav_roundtrip_oracle_sql())
def q_mm_wav_roundtrip_stats(spark, sf_dir):
    """REAL audio decode (r4 verdict missing #3): deterministic mono
    PCM16 WAV files (spec-conformant 44-byte RIFF headers,
    struct-packed samples) round-tripped through Python's stdlib
    `wave` codec — a REAL container parser (chunk walk, fmt
    validation, frame extraction), not the _fake_decode stub — via
    two Arrow-batched mapInPandas stages (writer, decoder) with the
    exact schema/batch plumbing a PIL/ffmpeg swap-in would use. The
    DuckDB oracle recomputes the decoded per-file statistics in
    closed form from the generator definition, so any corruption in
    EITHER the header writer or the decoder breaks the equality.

    Scale: per-partition maps only — the binary column never
    shuffles; stats are one row per file. The documented Python
    boundary is the point here (codecs are native/Python); see
    operators/multimodal.py."""
    docs = load_table(spark, sf_dir, "documents")
    return _mm.wav_roundtrip_stats(docs)


_KMV_K = 64


def _kmv_sql(dialect: str) -> str:
    """Dual-dialect KMV: distinct 32-bit user hashes per event_type,
    k-th order statistic -> estimate (k-1) * 2^32 // (h_k + 1) (the
    +1 guards the impossible-but-engine-fatal h_k = 0). Exact
    distinct kept as the verification twin column."""
    div = "div" if dialect == "spark" else "//"
    if dialect == "spark":
        hv = (
            "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8), "
            "16, 10) AS BIGINT)"
        )
    else:
        hv = (
            "CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) "
            "AS BIGINT)"
        )
    est = f"(({_KMV_K} - 1) * 4294967296) {div} (k.kth_hash + 1)"
    return f"""
        WITH h AS (
            SELECT DISTINCT event_type, {hv} AS hv FROM events)
        , ranked AS (
            SELECT event_type, hv,
                   CAST(row_number() OVER (
                       PARTITION BY event_type ORDER BY hv ASC)
                       AS BIGINT) AS rk
            FROM h)
        , kth AS (
            SELECT event_type, CAST(hv AS BIGINT) AS kth_hash
            FROM ranked WHERE rk = {_KMV_K})
        , ex AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_distinct
            FROM h GROUP BY event_type)
        SELECT e.event_type,
               COALESCE(k.kth_hash, CAST(-1 AS BIGINT)) AS kth_hash,
               CAST(COALESCE({est}, e.n_distinct) AS BIGINT)
                   AS est_distinct,
               e.n_distinct AS exact_distinct
        FROM ex e LEFT JOIN kth k ON k.event_type = e.event_type
    """


@query("events_kmv_distinct", oracle=_kmv_sql("duck"))
def q_events_kmv_distinct(spark, sf_dir):
    """KMV (k-minimum-values, Bar-Yossef et al. 2002) distinct-user
    sketch per event type — the order-statistics member of the
    sketch family beside HLL registers (#156), theta (#343), CMS
    (#114) and AMS F2 (#361): keep the K={k} smallest distinct
    32-bit hashes; the k-th one estimates cardinality as
    (K-1)*2^32/h_K (floor-integer, +1 denominator guard). Types
    with fewer than K distinct users fall back to the exact count
    (the sketch IS exact below K). Exact distinct emitted as the
    verification twin; error bound pinned in pytest.

    Scale: DISTINCT hash per (type, user) is one map-side-combined
    shuffle; the order statistic needs only the per-type BOTTOM-K
    (a real deployment keeps a K-size heap per partition then
    merges — here the window form is exact and the K rows per type
    bound the sort).""".replace("{k}", str(_KMV_K))
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_kmv_sql("spark"))


@query(
    "debezium_gold_scd6",
    oracle=_with_log(
        _DEBEZIUM_SILVER_CTE
        + """
        , seq6 AS (
            SELECT key_id, pos, operation,
                   CAST(ROUND(value * 100) AS BIGINT) AS cents,
                   lag(CAST(ROUND(value * 100) AS BIGINT)) OVER w
                       AS prev_cents,
                   lead(pos) OVER w AS valid_to_pos,
                   row_number() OVER (
                       PARTITION BY key_id ORDER BY pos DESC) AS rn
            FROM silver
            WINDOW w AS (PARTITION BY key_id ORDER BY pos ASC))
        , cur6 AS (
            SELECT key_id, cents AS cur_cents, operation AS last_op
            FROM seq6 WHERE rn = 1)
        SELECT s.key_id,
               s.pos AS valid_from_pos,
               s.valid_to_pos,
               CASE WHEN s.rn = 1 AND s.operation <> 'DELETE'
                    THEN 1 ELSE 0 END AS is_current,
               s.cents AS value_cents,
               s.prev_cents,
               CASE WHEN c.last_op = 'DELETE' THEN NULL
                    ELSE c.cur_cents END AS cur_value_cents
        FROM seq6 s JOIN cur6 c ON c.key_id = s.key_id
        WHERE s.operation <> 'DELETE'
        """
    ),
)
def q_debezium_gold_scd6(spark, sf_dir):
    """Debezium medallion GOLD, SCD TYPE 6 (hybrid 1+2+3) — the
    remaining classic slowly-changing-dimension shape beside SCD1
    (#134), SCD2 (#135) and SCD3 (#322): full version HISTORY rows
    (type 2: valid_from/valid_to by change position, is_current
    flag), each row ALSO denormalizing the key's CURRENT value
    (type 1 column — NULL once the key is deleted, matching SCD1's
    delete-drops-key) and the immediately-PRIOR version's value
    (type 3 column). DELETE events close the last version's
    validity range and kill is_current/cur_value but are not
    versions themselves. Values in exact cents.

    Scale: all three windows (prior-value lag, validity lead,
    latest-wins rank) share ONE key_id partition — a single
    shuffle; the current-value join is key-keyed against a
    one-row-per-key aggregate of the same shuffle."""
    from pyspark.sql import Window

    silver = _debezium.parse_envelopes(
        _debezium.synth_envelopes(cdc_operation_log(spark, sf_dir))
    )
    w = Window.partitionBy("key_id").orderBy(F.col("pos").asc())
    wd = Window.partitionBy("key_id").orderBy(F.col("pos").desc())
    cents = F.expr("CAST(ROUND(value * 100) AS BIGINT)")
    seq = (
        silver.select("key_id", "pos", "operation", cents.alias("cents"))
        .withColumn("prev_cents", F.lag("cents").over(w))
        .withColumn("valid_to_pos", F.lead("pos").over(w))
        .withColumn("rn", F.row_number().over(wd))
    )
    cur = seq.where("rn = 1").select(
        "key_id",
        F.col("cents").alias("cur_cents"),
        F.col("operation").alias("last_op"),
    )
    return (
        seq.where("operation <> 'DELETE'")
        .join(cur, "key_id")
        .select(
            "key_id",
            F.col("pos").alias("valid_from_pos"),
            "valid_to_pos",
            F.when(
                (F.col("rn") == 1) & (F.col("operation") != "DELETE"), 1
            )
            .otherwise(0)
            .alias("is_current"),
            F.col("cents").alias("value_cents"),
            "prev_cents",
            F.when(F.col("last_op") == "DELETE", F.lit(None))
            .otherwise(F.col("cur_cents"))
            .alias("cur_value_cents"),
        )
    )


def _cuped_sql(dialect: str) -> str:
    """Per-arm CUPED sufficient statistics + the pooled pre/post
    correlation. Pre/post split at the midpoint of the event time
    range (exact integer epoch-us midpoint); per-user pre metric X
    and post metric Y in WHOLE currency units (posrem floor of
    cents, so negative values floor identically cross-engine) keep
    n*Σxy and the covariance/variance numerators inside BIGINT, and
    their products inside the 38-digit wide type (Spark
    DECIMAL(38,0) / DuckDB HUGEINT — internal only, the output
    casts to BIGINT). rho2_bp = floor-bp of Cov²/(VarX·VarY), the
    CUPED variance-reduction factor."""
    div = "div" if dialect == "spark" else "//"
    if dialect == "spark":
        h = (
            "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8),"
            " 16, 10) AS BIGINT)"
        )
        us = "unix_micros(ts)"
        wide = "DECIMAL(38,0)"
    else:
        h = (
            "CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)"
            " AS BIGINT)"
        )
        us = "epoch_us(ts)"
        wide = "HUGEINT"
    cents = "CAST(ROUND(value * 100) AS BIGINT)"
    v0 = f"(({cents}) - (((({cents}) % 100) + 100) % 100)) {div} 100"
    return f"""
        WITH span AS (
            SELECT (MIN({us}) + MAX({us})) {div} 2 AS mid_us FROM events)
        , u AS (
            SELECT ({h}) % {_AB_ARMS} AS arm, user_id,
                   CAST(SUM(CASE WHEN {us} < s.mid_us
                            THEN {v0} ELSE 0 END) AS BIGINT) AS x,
                   CAST(SUM(CASE WHEN {us} >= s.mid_us
                            THEN {v0} ELSE 0 END) AS BIGINT) AS y
            FROM events CROSS JOIN span s
            GROUP BY 1, 2, s.mid_us)
        , pooled AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(x * y) AS BIGINT) AS sxy,
                   CAST(SUM(x * x) AS BIGINT) AS sx2,
                   CAST(SUM(y * y) AS BIGINT) AS sy2
            FROM u)
        , rho AS (
            SELECT CAST(
                (10000 * CAST(n * sxy - sx * sy AS {wide})
                       * CAST(n * sxy - sx * sy AS {wide}))
                {div} NULLIF(CAST(n * sx2 - sx * sx AS {wide})
                             * CAST(n * sy2 - sy * sy AS {wide}), 0)
                AS BIGINT) AS rho2_bp
            FROM pooled)
        SELECT a.arm,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(a.x) AS BIGINT) AS sum_x,
               CAST(SUM(a.y) AS BIGINT) AS sum_y,
               CAST(SUM(a.x * a.y) AS BIGINT) AS sum_xy,
               CAST(SUM(a.x * a.x) AS BIGINT) AS sum_x2,
               CAST(SUM(a.y * a.y) AS BIGINT) AS sum_y2,
               r.rho2_bp
        FROM u a CROSS JOIN rho r
        GROUP BY a.arm, r.rho2_bp
    """


@query("events_cuped_stats", oracle=_cuped_sql("duck"))
def q_events_cuped_stats(spark, sf_dir):
    """CUPED (Deng et al. 2013) inputs for the A/B split (#325's
    hash arms): per-user PRE-period covariate X and POST-period
    metric Y (midpoint split of the event time range, whole-unit
    posrem floors), aggregated to exact per-arm sufficient
    statistics (n, ΣX, ΣY, ΣXY, ΣX², ΣY²) from which
    theta = Cov(X,Y)/Var(X) and the adjusted effect are one
    driver-side formula — plus the pooled variance-reduction factor
    rho²_bp (floor-bp of Cov²/(VarX·VarY), the fraction of metric
    variance CUPED removes), computed in 38-digit internal
    arithmetic and emitted as BIGINT. Completes the experimentation
    battery (#325 moments, #367 DiD, #371 SRM, #394 quantile
    effects) with the industry-standard variance-reduction step.

    Scale: one user-keyed aggregate (map-side combined) over a
    1-row broadcast midpoint, then a 2-row arm aggregate; the
    pooled scalar is a 1-row cross join."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_cuped_sql("spark"))


_NEYMAN_BUDGET = 1000


def _neyman_sql(dialect: str) -> str:
    """Neyman weights are integer-exact up to one engine-identical
    step: w_h = floor(sqrt(n_h*Σv² − (Σv)²)) = floor(n_h·σ_h) (the
    population-std identity), with whole-unit posrem values keeping
    n_h*Σv² inside BIGINT and IEEE sqrt correctly rounded (same
    doubles → same floor on both engines). Allocation is the exact
    Hamilton largest-remainder apportionment of the budget over the
    weights (#344's algebra)."""
    div = "div" if dialect == "spark" else "//"
    cents = "CAST(ROUND(value * 100) AS BIGINT)"
    v0 = f"(({cents}) - (((({cents}) % 100) + 100) % 100)) {div} 100"
    b = _NEYMAN_BUDGET
    return f"""
        WITH st AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_h,
                   CAST(SUM({v0}) AS BIGINT) AS s1,
                   CAST(SUM(({v0}) * ({v0})) AS BIGINT) AS s2
            FROM events GROUP BY event_type)
        , wts AS (
            SELECT event_type, n_h,
                   CAST(FLOOR(SQRT(CAST(n_h * s2 - s1 * s1 AS DOUBLE)))
                        AS BIGINT) AS w_h
            FROM st)
        , tot AS (SELECT CAST(SUM(w_h) AS BIGINT) AS w FROM wts)
        , quota AS (
            SELECT event_type, n_h, w_h,
                   CAST(({b} * w_h) {div} t.w AS BIGINT) AS base_n,
                   CAST(({b} * w_h) % t.w AS BIGINT) AS rem
            FROM wts CROSS JOIN tot t)
        , leftover AS (
            SELECT CAST({b} - SUM(base_n) AS BIGINT) AS k FROM quota)
        , ranked AS (
            SELECT *, CAST(row_number() OVER (
                       ORDER BY rem DESC, event_type ASC) AS BIGINT)
                   AS rr
            FROM quota)
        SELECT r.event_type, r.n_h, r.w_h,
               CAST(r.base_n + CASE WHEN r.rr <= l.k THEN 1 ELSE 0 END
                    AS BIGINT) AS alloc_n
        FROM ranked r CROSS JOIN leftover l
    """


@query("sample_neyman_allocation", oracle=_neyman_sql("duck"))
def q_sample_neyman_allocation(spark, sf_dir):
    """NEYMAN (optimal) stratified-sample allocation of a fixed
    budget across event-type strata: n_h ∝ N_h·σ_h — the
    variance-minimizing refinement of proportional allocation (a
    high-variance stratum earns more samples per member), closing
    the allocation family beside proportional-Hamilton (#344) and
    the exact stratified executor (#354). The weight N_h·σ_h
    collapses to floor(sqrt(n_h·Σv²−(Σv)²)) in integers (one
    engine-identical IEEE sqrt per stratum); the budget is then
    Hamilton-apportioned over the weights exactly.

    Scale: one map-side-combined stratum aggregate (|strata| rows),
    then constant-size apportionment algebra."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_neyman_sql("spark"))


_DAY_US = 86_400_000_000


def _km_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    us = "unix_micros" if dialect == "spark" else "epoch_us"
    return f"""
        WITH obs AS (SELECT MAX({us}(ts)) AS end_us FROM events)
        , lifet AS (
            SELECT user_id,
                   CASE WHEN MIN(CASE WHEN event_type = 'error'
                                 THEN {us}(ts) END) IS NOT NULL
                        THEN (MIN(CASE WHEN event_type = 'error'
                                  THEN {us}(ts) END)
                              - MIN({us}(ts))) {div} {_DAY_US}
                        ELSE (o.end_us - MIN({us}(ts))) {div} {_DAY_US}
                   END AS t_days,
                   CASE WHEN MIN(CASE WHEN event_type = 'error'
                                 THEN {us}(ts) END) IS NOT NULL
                        THEN 1 ELSE 0 END AS failed
            FROM events CROSS JOIN obs o
            GROUP BY user_id, o.end_us)
        , lt AS (
            SELECT t_days,
                   CAST(SUM(failed) AS BIGINT) AS n_events,
                   CAST(SUM(1 - failed) AS BIGINT) AS n_censored
            FROM lifet GROUP BY t_days)
        SELECT t_days, n_events, n_censored,
               CAST(SUM(n_events + n_censored) OVER (
                   ORDER BY t_days DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS n_at_risk
        FROM lt
    """


@query("events_km_survival_inputs", oracle=_km_sql("duck"))
def q_events_km_survival_inputs(spark, sf_dir):
    """KAPLAN-MEIER life table for TIME TO FIRST FAILURE — the
    survival-analysis view beside the cohort retention matrix
    (#291), retention curves (#195) and reorder hazard (#297): per
    user, t = whole days from first event to first 'error' event
    (the FAILURE — observed, n_events) or to observation end
    (administratively CENSORED — true failure time only known to be
    >= t, n_censored), with AT RISK at t = users whose t >= t (the
    reverse-cumulative). Censoring is what distinguishes KM from a
    naive failure histogram: dropping censored users would bias the
    curve down. S(t) = Π (1 - d_i/n_i) is one driver-side product
    over these |distinct t| rows — the heavy corpus scan happens
    once, exactly (the #325/#408 sufficient-statistics discipline).

    Scale: one user-keyed aggregate against a 1-row broadcast
    horizon, one t-keyed aggregate, and a window over |distinct
    lifetime days| rows (day-span bounded however large the
    corpus)."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_km_sql("spark"))


_FENCE_EPOCH_US = 3_600_000_000  # 1-hour leader epochs


def _fencing_sql(dialect: str, src: str = "cdc_log") -> str:
    div = "div" if dialect == "spark" else "//"
    us = "unix_micros" if dialect == "spark" else "epoch_us"
    kw = "WITH" if dialect == "spark" else ","
    return f"""
        {kw} w AS (
            SELECT key_id, seq,
                   {us}(ts) {div} {_FENCE_EPOCH_US} AS epoch
            FROM {src})
        , seen AS (
            SELECT key_id, seq, epoch,
                   MAX(epoch) OVER (
                       PARTITION BY key_id ORDER BY seq ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS max_epoch_seen
            FROM w)
        , flagged AS (
            SELECT key_id, seq, epoch,
                   CASE WHEN epoch < max_epoch_seen
                        THEN 1 ELSE 0 END AS is_zombie
            FROM seen)
        SELECT key_id,
               CAST(COUNT(*) AS BIGINT) AS n_writes,
               CAST(COUNT(DISTINCT epoch) AS BIGINT) AS n_epochs,
               CAST(SUM(is_zombie) AS BIGINT) AS n_zombie_writes,
               CAST(MAX(CASE WHEN is_zombie = 0 THEN seq END)
                    AS BIGINT) AS last_accepted_seq
        FROM flagged GROUP BY key_id
    """


@query(
    "cdc_zombie_write_fencing",
    oracle=_with_log(_fencing_sql("duck", src="log")),
)
def q_cdc_zombie_write_fencing(spark, sf_dir):
    """WRITER-EPOCH FENCING audit (the transactional-producer /
    leader-election guarantee: a write carrying a stale fencing
    token must be rejected even if it arrives late): each write's
    epoch is its 1-hour leader term; in per-key DELIVERY order
    (seq), a write whose epoch is below the running max already
    seen is a ZOMBIE — a pre-failover writer's in-flight request
    landing after the new leader took over (delivery order and
    event-time order genuinely interleave in this log, so the audit
    is non-trivial). Per key: writes, distinct epochs, zombie
    count, and the last ACCEPTED (non-fenced) seq — the state a
    fencing store would expose.

    Scale: one key-partition running-max window + one key aggregate
    — a single shuffle, the #2 plan shape."""
    ensure_utc(spark)
    cdc_operation_log(spark, sf_dir).createOrReplaceTempView("cdc_log")
    return spark.sql(_fencing_sql("spark"))


_VC_LAG_US = 60_000_000  # 60 s replication lag window


def _vc_conflicts_sql(dialect: str, src: str = "cdc_log") -> str:
    div = "div" if dialect == "spark" else "//"
    us = "unix_micros" if dialect == "spark" else "epoch_us"
    kw = "WITH" if dialect == "spark" else ","
    return f"""
        {kw} w AS (
            SELECT key_id, seq, {us}(ts) AS t_us, seq % 2 AS site
            FROM {src})
        , banded AS (
            SELECT key_id, seq, t_us, site,
                   t_us {div} {_VC_LAG_US} AS band
            FROM w)
        , expanded AS (
            SELECT b.key_id, b.seq, b.t_us, b.site,
                   b.band + d.o AS probe_band
            FROM banded b
            CROSS JOIN (VALUES (-1), (0), (1)) AS d(o))
        , pairs AS (
            SELECT a.key_id,
                   a.seq AS seq_a, bb.seq AS seq_b
            FROM expanded a
            JOIN banded bb
              ON bb.key_id = a.key_id AND bb.band = a.probe_band
             AND a.site = 0 AND bb.site = 1
             AND ABS(a.t_us - bb.t_us) < {_VC_LAG_US})
        , conf AS (
            SELECT key_id, CAST(COUNT(*) AS BIGINT) AS n_conflict_pairs
            FROM pairs GROUP BY key_id)
        , lww AS (
            SELECT key_id, seq AS lww_seq
            FROM (SELECT key_id, seq,
                         row_number() OVER (
                             PARTITION BY key_id
                             ORDER BY t_us DESC, site DESC, seq DESC)
                             AS rn
                  FROM w) r WHERE rn = 1)
        SELECT l.key_id,
               CAST(COALESCE(c.n_conflict_pairs, 0) AS BIGINT)
                   AS n_conflict_pairs,
               CAST(l.lww_seq AS BIGINT) AS lww_seq
        FROM lww l LEFT JOIN conf c ON c.key_id = l.key_id
    """


@query(
    "cdc_vector_clock_conflicts",
    oracle=_with_log(_vc_conflicts_sql("duck", src="log")),
)
def q_cdc_vector_clock_conflicts(spark, sf_dir):
    """MULTI-MASTER CONFLICT DETECTION under bounded replication
    lag: two replicas (site = seq parity) write the same keys; a
    cross-site pair of writes closer than the {l}s lag window is
    CONCURRENT in the vector-clock sense — neither replica had seen
    the other's write, so no happens-before edge exists and a
    resolver must decide. Per key: the concurrent-pair count (the
    conflict pressure an active-active deployment must absorb) and
    the last-writer-wins resolution (ts, then site, then seq — the
    deterministic LWW register, complementing the CRDT state
    machine #313 and the compensation stream #316).

    Scale: candidate pairs come from a LAG-BANDED equi-join (key +
    time band, one band of slack — the #59 range-join rule), never
    an all-pairs product; LWW is one key-partition window.
    """.replace("{l}", str(_VC_LAG_US // 1_000_000))
    ensure_utc(spark)
    cdc_operation_log(spark, sf_dir).createOrReplaceTempView("cdc_log")
    return spark.sql(_vc_conflicts_sql("spark"))


def _little_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    us = "unix_micros" if dialect == "spark" else "epoch_us"
    return f"""
        WITH per_order AS (
            SELECT o.o_orderkey,
                   {us}(o.o_orderdate) AS start_us,
                   MAX({us}(l.l_shipdate)) AS end_us
            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            GROUP BY o.o_orderkey, o.o_orderdate)
        , agg AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
                   (MAX(end_us) - MIN(start_us)) {div} {_DAY_US}
                       AS t_days,
                   CAST(SUM((end_us - start_us) {div} {_DAY_US})
                        AS BIGINT) AS sum_resid_days
            FROM per_order)
        SELECT n_orders, t_days, sum_resid_days,
               CAST((10000 * n_orders) {div} t_days AS BIGINT)
                   AS lambda_e4,
               CAST((10000 * sum_resid_days) {div} n_orders AS BIGINT)
                   AS w_e4,
               CAST((10000 * sum_resid_days) {div} t_days AS BIGINT)
                   AS l_e4,
               CAST((10000 * sum_resid_days) {div} t_days
                    - ((10000 * n_orders) {div} t_days)
                      * ((10000 * sum_resid_days) {div} n_orders)
                      {div} 10000 AS BIGINT) AS little_gap_e4
        FROM agg
    """


@query("orders_flow_metrics_little", oracle=_little_sql("duck"))
def q_orders_flow_metrics_little(spark, sf_dir):
    """FLOW METRICS + LITTLE'S LAW diagnostic over the order
    pipeline: from one scan, the queueing triple — arrival rate λ
    (orders/day), mean residence W (orderdate → last shipment,
    days) and mean work-in-progress L (time-integral of open
    orders / span, computed exactly as Σ residence / span) — all in
    e4 fixed point, plus the Little's-law gap L − λ·W (zero up to
    floor rounding when the window is stationary; a LARGE gap
    flags boundary truncation — orders open across the observation
    edges — exactly what the law is used to detect in flow
    dashboards).

    Scale: one order-keyed aggregate (co-partitioned join on the
    orderkey), one global 1-row aggregate."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem"
    )
    return spark.sql(_little_sql("spark"))


_OUTAGE_GAP_US = 1_800_000_000  # 30-min gap closes an outage
_HOUR_US = 3_600_000_000


def _mttr_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    us = "unix_micros" if dialect == "spark" else "epoch_us"
    return f"""
        WITH err AS (
            SELECT {us}(ts) AS t_us, {us}(ts) {div} {_HOUR_US} AS hr
            FROM events WHERE event_type = 'error')
        , marked AS (
            SELECT t_us, hr,
                   CASE WHEN lag(t_us) OVER w IS NULL
                             OR t_us - lag(t_us) OVER w
                                >= {_OUTAGE_GAP_US}
                        THEN 1 ELSE 0 END AS brk
            FROM err
            WINDOW w AS (PARTITION BY hr ORDER BY t_us ASC))
        , runs AS (
            SELECT hr, sub, MIN(t_us) AS start_us, MAX(t_us) AS end_us,
                   CAST(COUNT(*) AS BIGINT) AS n_errors
            FROM (SELECT t_us, hr,
                         SUM(brk) OVER (
                             PARTITION BY hr ORDER BY t_us ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS sub
                  FROM marked) s
            GROUP BY hr, sub)
        , merged AS (
            SELECT start_us, end_us, n_errors,
                   CASE WHEN lag(end_us) OVER g IS NULL
                             OR start_us - lag(end_us) OVER g
                                >= {_OUTAGE_GAP_US}
                        THEN 1 ELSE 0 END AS new_outage
            FROM runs
            WINDOW g AS (ORDER BY start_us ASC))
        , outages AS (
            SELECT oid, MIN(start_us) AS o_start, MAX(end_us) AS o_end,
                   CAST(SUM(n_errors) AS BIGINT) AS n_errors
            FROM (SELECT *,
                         SUM(new_outage) OVER (
                             ORDER BY start_us ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS oid
                  FROM merged) m
            GROUP BY oid)
        , tbf AS (
            SELECT o_start - lag(o_end) OVER (ORDER BY o_start ASC)
                       AS gap_us
            FROM outages)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_outages,
               CAST(SUM(n_errors) AS BIGINT) AS total_errors,
               CAST(SUM(o_end - o_start) {div} 1000000
                    {div} COUNT(*) AS BIGINT) AS mttr_sec,
               CAST((SELECT SUM(gap_us) {div} 1000000
                            {div} NULLIF(COUNT(gap_us), 0)
                     FROM tbf) AS BIGINT) AS mtbf_sec,
               CAST(MAX(o_end - o_start) {div} 1000000 AS BIGINT)
                   AS max_outage_sec
        FROM outages
    """


@query("events_error_outages_mttr", oracle=_mttr_sql("duck"))
def q_events_error_outages_mttr(spark, sf_dir):
    """SRE reliability rollup from the error stream: OUTAGES are
    maximal error runs closed by a 30-minute quiet gap, summarized
    to MTTR (mean outage duration), MTBF (mean quiet gap between
    consecutive outages), the worst outage and total error mass —
    the incident numbers an error-budget policy (#398) consumes.

    Scale — GLOBAL gap-sessionization without a corpus-wide window:
    the two-level islands pattern (embed_diversity's discipline).
    Level 1 partitions by HOUR — each hour's errors compress to at
    most a handful of sub-runs (a 30-min gap fits twice in an
    hour). Level 2's global window then runs over the SUB-RUN table
    (hour-span bounded: O(hours), never O(errors)) and merges runs
    across hour boundaries exactly. Both levels are plain windows +
    aggregates; the final report is one row."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_mttr_sql("spark"))


@query("mm_png_roundtrip_stats", oracle=_mm.png_roundtrip_oracle_sql())
def q_mm_png_roundtrip_stats(spark, sf_dir):
    """REAL image decode: deterministic 8-bit grayscale images
    encoded as spec-conformant PNG (signature, IHDR/IDAT/IEND
    chunks, per-chunk CRC32, scanlines DEFLATE-compressed) and
    decoded back through the stdlib zlib codec — signature check,
    chunk walk with CRC verification, inflate, unfilter — via two
    Arrow-batched mapInPandas stages. With mm_wav_roundtrip_stats
    (#405) this puts a REAL codec behind the Arrow boundary for
    both audio and image lanes; the closed-form oracle recomputes
    the decoded pixel statistics from the generator, so corruption
    anywhere in the container round trip breaks the equality
    (crc_checked = 3 proves all three chunk CRCs were verified).

    Scale: per-partition maps; the binary column never shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    return _mm.png_roundtrip_stats(docs)


_SGNS_WINDOW = 2
_SGNS_T_INV = 1000  # word2vec t = 1e-3 (thr = total_tokens / 1000)


def _sgns_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    if dialect == "spark":
        tok = (
            "SELECT doc_id, pos, w FROM (SELECT doc_id,"
            " posexplode(split(text, ' ')) AS (pos, w) FROM documents)"
        )
        h = (
            "CAST(conv(substring(md5(CAST(doc_id AS STRING) || ':' ||"
            " CAST(pos AS STRING)), 1, 8), 16, 10) AS BIGINT)"
        )
    else:
        tok = (
            "SELECT doc_id, CAST(pos - 1 AS BIGINT) AS pos,"
            " L[CAST(pos AS INTEGER)] AS w"
            " FROM (SELECT doc_id, string_split(text, ' ') AS L"
            "       FROM documents) s,"
            " unnest(range(1, len(L) + 1)) AS t(pos)"
        )
        h = (
            "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||"
            " CAST(pos AS VARCHAR)), 1, 8) AS BIGINT)"
        )
    return f"""
        WITH tk AS ({tok})
        , cnt AS (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tk GROUP BY w)
        , tot AS (
            SELECT CAST(COUNT(*) AS BIGINT) {div} {_SGNS_T_INV} AS thr
            FROM tk)
        , pbp AS (
            SELECT c.w,
                   LEAST(10000,
                         CAST(FLOOR(SQRT(CAST((100000000 * t.thr) {div} c.c
                                          AS DOUBLE))) AS BIGINT)
                         + (10000 * t.thr) {div} c.c) AS p_bp
            FROM cnt c CROSS JOIN tot t)
        , kept AS (
            SELECT tk.doc_id, tk.pos, tk.w
            FROM tk JOIN pbp ON pbp.w = tk.w
            WHERE ({h}) % 10000 < pbp.p_bp)
        , seq AS (
            SELECT doc_id, w,
                   CAST(row_number() OVER (
                       PARTITION BY doc_id ORDER BY pos ASC)
                       AS BIGINT) AS rp
            FROM kept)
        , fwd AS (
            SELECT a.w AS center, b.w AS context
            FROM seq a
            JOIN (VALUES (1), (2)) AS o(d) ON 1 = 1
            JOIN seq b
              ON b.doc_id = a.doc_id AND b.rp = a.rp + o.d)
        , both_dir AS (
            SELECT center, context FROM fwd
            UNION ALL
            SELECT context AS center, center AS context FROM fwd)
        SELECT center, context, CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM both_dir GROUP BY center, context
    """


@query("text_sgns_pairs", oracle=_sgns_sql("duck"))
def q_text_sgns_pairs(spark, sf_dir):
    """WORD2VEC SGNS TRAINING-PAIR GENERATION (Mikolov et al. 2013
    §2.3): frequent-word SUBSAMPLING — keep probability
    min(1, sqrt(t/f) + t/f) with t = 1e-3, realized as a
    deterministic per-position md5 threshold in floor-bp (one
    engine-identical IEEE sqrt per word TYPE, vocabulary-bounded) —
    then symmetric skip-gram windows of ±{w} over the COMPACTED
    surviving sequence (word2vec's effective-window-widening
    behavior, reproduced exactly), aggregated to (center, context,
    n_pairs). The embedding-training data-prep step of the pipeline:
    what an SGNS/GloVe trainer consumes as its co-occurrence stream.

    Scale: subsampling is a vocabulary-dim broadcast join; the
    window pairing is a per-doc equi-join on compacted positions
    (offset explode by a 2-row VALUES — linear, never all-pairs);
    output is bounded by observed co-occurring pairs.""".replace(
        "{w}", str(_SGNS_WINDOW)
    )
    ensure_utc(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(_sgns_sql("spark"))


_DW_STEPS = 6


def _dw_pick(node: str, step: int, dialect: str) -> str:
    if dialect == "spark":
        return (
            f"CAST(conv(substring(md5(CAST({node} AS STRING) ||"
            f" ':{step}'), 1, 8), 16, 10) AS BIGINT)"
        )
    return (
        f"CAST('0x' || substr(md5(CAST({node} AS VARCHAR) ||"
        f" ':{step}'), 1, 8) AS BIGINT)"
    )


def _deepwalk_oracle_sql() -> str:
    knn = _sim.graph_edges_sql("duck")
    sql = f"""
        WITH knn AS MATERIALIZED ({knn})
        , deg AS MATERIALIZED (
            SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS d
            FROM knn GROUP BY vec_id)
        , w0 AS (SELECT vec_id AS start_id, vec_id AS node
                 FROM embeddings)"""
    for s in range(1, _DW_STEPS + 1):
        sql += f"""
        , w{s} AS MATERIALIZED (
            SELECT w.start_id, k.neighbor_id AS node
            FROM w{s - 1} w
            JOIN deg d ON d.vec_id = w.node
            JOIN knn k ON k.vec_id = w.node
             AND k.nn_rank = 1 + ({_dw_pick('w.node', s, 'duck')}) % d.d)"""
    arms = " UNION ALL ".join(
        f"SELECT start_id, CAST({s} AS BIGINT) AS step,"
        f" CAST(node AS BIGINT) AS node_id FROM w{s}"
        for s in range(_DW_STEPS + 1)
    )
    return sql + "\n        " + arms


@query("graph_deepwalk_corpus", oracle=_deepwalk_oracle_sql())
def q_graph_deepwalk_corpus(spark, sf_dir):
    """DEEPWALK corpus generation (Perozzi et al. 2014): one
    deterministic {L}-step walk from EVERY vector over the KNN
    graph — the graph-side half of the embedding-training data
    pipeline whose text-side half is text_sgns_pairs (#416): walks
    are the 'sentences' an SGNS trainer consumes. Step s from node
    u moves to u's neighbor of rank 1 + md5(u, s) mod deg(u)
    (hash-seeded in place of RNG — reproducible across engines and
    restarts); walks at zero-degree nodes (singleton cells) simply
    end, so the corpus rows are (start_id, step, node_id) ragged by
    construction.

    Scale: the Pregel discipline (operators/graph.py) — the KNN
    edge list and degree map materialize ONCE (gate-map cache),
    each of the {L} rounds is one bounded equi-join against them
    with the frontier localCheckpointed (constant plan depth), and
    the corpus is the union of the checkpointed frontiers. The
    DuckDB oracle is the unrolled MATERIALIZED-round twin.
    """.replace("{L}", str(_DW_STEPS))
    ensure_utc(spark)
    edges = _graph_edges_map(spark, sf_dir).select(
        "vec_id", "neighbor_id", "nn_rank"
    )
    deg = _gate_map(
        spark,
        sf_dir,
        "dw_knn_deg",
        lambda: edges.groupBy("vec_id").agg(
            F.count(F.lit(1)).cast("long").alias("d")
        ),
    ).select(F.col("vec_id").alias("deg_vid"), "d")
    e = edges.select(
        F.col("vec_id").alias("edge_vid"), "neighbor_id", "nn_rank"
    )
    nodes = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("start_id"), F.col("vec_id").alias("node")
    )
    frontiers = [nodes.localCheckpoint()]
    cur = frontiers[0]
    for s in range(1, _DW_STEPS + 1):
        pick = F.expr(
            f"1 + ({_dw_pick('node', s, 'spark')}) % d"
        )
        cur = (
            cur.join(deg, F.col("deg_vid") == F.col("node"))
            .withColumn("pick", pick)
            .join(
                e,
                (F.col("edge_vid") == F.col("node"))
                & (F.col("nn_rank") == F.col("pick")),
            )
            .select("start_id", F.col("neighbor_id").alias("node"))
            .localCheckpoint()
        )
        frontiers.append(cur)
    from functools import reduce as _reduce

    return _reduce(
        lambda a, b: a.unionByName(b),
        [
            f.select(
                "start_id",
                F.lit(s).cast("long").alias("step"),
                F.col("node").cast("long").alias("node_id"),
            )
            for s, f in enumerate(frontiers)
        ],
    )


def _elasticity_sql(dialect: str) -> str:
    """Per-brand correlation of discount vs quantity as exact
    sufficient statistics + floor-bp signed rho² (the CUPED/#408
    wide-type pattern: BIGINT moments, 38-digit internal products,
    BIGINT out). Discount in exact bp (value*10000), quantity in
    whole units."""
    div = "div" if dialect == "spark" else "//"
    wide = "DECIMAL(38,0)" if dialect == "spark" else "HUGEINT"
    d = "CAST(ROUND(l_discount * 10000) AS BIGINT)"
    q = "CAST(ROUND(l_quantity) AS BIGINT)"
    sgn = (
        "CASE WHEN n * sdq - sd * sq < 0 THEN -1 ELSE 1 END"
    )
    return f"""
        WITH m AS (
            SELECT p.p_brand,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM({d}) AS BIGINT) AS sd,
                   CAST(SUM({q}) AS BIGINT) AS sq,
                   CAST(SUM({d} * {q}) AS BIGINT) AS sdq,
                   CAST(SUM({d} * {d}) AS BIGINT) AS sd2,
                   CAST(SUM({q} * {q}) AS BIGINT) AS sq2
            FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
            GROUP BY p.p_brand)
        SELECT p_brand, n, sd, sq, sdq, sd2, sq2,
               CAST({sgn} *
                    ((10000 * CAST(n * sdq - sd * sq AS {wide})
                            * CAST(n * sdq - sd * sq AS {wide}))
                     {div} NULLIF(CAST(n * sd2 - sd * sd AS {wide})
                                  * CAST(n * sq2 - sq * sq AS {wide}),
                                  0))
                    AS BIGINT) AS rho2_signed_bp
        FROM m
    """


@query("lineitem_discount_elasticity", oracle=_elasticity_sql("duck"))
def q_lineitem_discount_elasticity(spark, sf_dir):
    """DISCOUNT ELASTICITY proxy per brand: exact per-brand
    sufficient statistics for (discount bp, quantity) plus the
    SIGNED squared correlation in floor-bp — does discounting move
    volume, and for which brands (positive = deeper discounts ship
    more units; the merchandising question behind promo planning,
    beside the what-if grid #201 and promo share #19). The slope
    (elasticity itself) and its t-statistic are one driver-side
    formula over the emitted integers — the #325/#408 discipline.

    Scale: one broadcast part-dim join + one brand-keyed aggregate
    with map-side combine; the correlation algebra runs on |brands|
    rows in 38-digit internal arithmetic."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem"
    )
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(_elasticity_sql("spark"))


_CROP_MIN_TOKENS = 16


def _crops_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    if dialect == "spark":
        toks = "split(text, ' ')"
        n = f"size({toks})"

        def h(tag):
            return (
                "CAST(conv(substring(md5(CAST(doc_id AS STRING) ||"
                f" ':{tag}'), 1, 8), 16, 10) AS BIGINT)"
            )

        def crop(off):
            return (
                f"md5(concat_ws(' ', slice({toks}, {off} + 1, lc)))"
            )

    else:
        toks = "string_split(text, ' ')"
        n = f"len({toks})"

        def h(tag):
            return (
                "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) ||"
                f" ':{tag}'), 1, 8) AS BIGINT)"
            )

        def crop(off):
            return (
                f"md5(array_to_string({toks}[CAST({off} + 1 AS INTEGER):"
                f"CAST({off} + lc AS INTEGER)], ' '))"
            )

    return f"""
        WITH base AS (
            SELECT doc_id, text,
                   CAST({n} AS BIGINT) AS n_tokens,
                   CAST(GREATEST(8, {n} {div} 2) AS BIGINT) AS lc
            FROM documents WHERE {n} >= {_CROP_MIN_TOKENS})
        , offs AS (
            SELECT doc_id, text, n_tokens, lc,
                   ({h('a')}) % (n_tokens - lc + 1) AS off_a,
                   ({h('b')}) % (n_tokens - lc + 1) AS off_b
            FROM base)
        SELECT doc_id, n_tokens, lc AS crop_len, off_a, off_b,
               CAST(GREATEST(0, LEAST(off_a, off_b) + lc
                                - GREATEST(off_a, off_b)) AS BIGINT)
                   AS overlap_tokens,
               {crop('off_a')} AS crop_a_md5,
               {crop('off_b')} AS crop_b_md5
        FROM offs
    """


@query("text_contrastive_crops", oracle=_crops_sql("duck"))
def q_text_contrastive_crops(spark, sf_dir):
    """CONTRASTIVE-PRETRAINING pair generation (Contriever /
    SimCSE-style independent cropping): per doc with >= {m} tokens,
    two hash-seeded half-length token crops (reproducible in place
    of an RNG), with the pair's token OVERLAP (the knob controlling
    how hard the positive pair is) and the md5 of each materialized
    crop — the md5 forces the slice+join to actually run on both
    engines, so the oracle pins real extraction, not just offset
    arithmetic. The third member of the training-data trio: SGNS
    pairs (#416, token-level), DeepWalk walks (#417, graph-level),
    crops (view-level).

    Scale: pure per-row projection — no shuffle, no UDF; the slice
    stays inside codegen.""".replace("{m}", str(_CROP_MIN_TOKENS))
    ensure_utc(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(_crops_sql("spark"))


_MIX_EPOCH_CAP_E4 = 40000  # at most 4 epochs over any source


def _epoch_schedule_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    n = (
        "size(split(text, ' '))"
        if dialect == "spark"
        else "len(string_split(text, ' '))"
    )
    return f"""
        WITH src AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM({n}) AS BIGINT) AS n_tokens
            FROM documents GROUP BY source)
        , tot AS (
            SELECT CAST(SUM(n_tokens) AS BIGINT) AS t,
                   CAST(COUNT(*) AS BIGINT) AS k
            FROM src)
        , sched AS (
            SELECT s.source, s.n_docs, s.n_tokens,
                   10000 {div} t.k AS target_share_bp,
                   (10000 * (t.t {div} t.k)) {div} s.n_tokens
                       AS epochs_e4
            FROM src s CROSS JOIN tot t)
        SELECT source, n_docs, n_tokens,
               CAST(target_share_bp AS BIGINT) AS target_share_bp,
               CAST(epochs_e4 AS BIGINT) AS epochs_e4,
               CAST(LEAST(epochs_e4, {_MIX_EPOCH_CAP_E4}) AS BIGINT)
                   AS epochs_capped_e4,
               CAST((LEAST(epochs_e4, {_MIX_EPOCH_CAP_E4}) * n_tokens)
                    {div} 10000 AS BIGINT) AS effective_tokens
        FROM sched
    """


@query("corpus_mixture_epoch_schedule", oracle=_epoch_schedule_sql("duck"))
def q_corpus_mixture_epoch_schedule(spark, sf_dir):
    """DATA-RECIPE EPOCH SCHEDULE: how many epochs (repeats, e4
    fixed point) each source needs for the training stream to hit a
    UNIFORM source mixture at a one-corpus-pass token budget — the
    published-recipe table (LLaMA/GPT-style 'epochs over dataset'
    column) derived from measured token counts, with the standard
    don't-repeat-more-than-4x cap and the post-cap effective token
    contribution (a capped small source undershoots its target
    share — the visible gap is the signal to go collect more of
    it). Composes with the temperature mixer (#174) and UniMax
    (#151), which allocate by language; this allocates by SOURCE
    against an explicit epoch budget.

    Scale: one source-keyed aggregate; the schedule algebra runs on
    |sources| rows."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(_epoch_schedule_sql("spark"))


# SFT-corpus format lint: the four rule families. Patterns are
# written ESCAPE-FREE (character classes like [{] for literal
# braces, [|] for pipes) so the same string survives Spark's
# SQL-literal backslash processing AND DuckDB's RE2 untouched; the
# control-char class is assembled from chr() at SQL level for the
# same reason.
_LINT_ROLE_PAT = (
    "(###[ ]?(Instruction|Response|Input)|<[|]im_start[|]>"
    "|</s>|<s>|(?i)(system|assistant|user):)"
)
# '[INST]' is a plain-substring check (Java nests [ inside classes,
# so no escape-free regex form exists for a literal bracket)
_LINT_PLACEHOLDER_PAT = "[{][a-z_]+[}]|[{][{][^}]*[}][}]"
_LINT_CONTROL_PAT_EXPR = (
    "'[' || chr(1) || '-' || chr(8) || chr(11) || chr(12)"
    " || chr(14) || '-' || chr(31) || ']'"
)


def _sft_lint_sql(dialect: str) -> str:
    if dialect == "spark":

        def cnt(pat):
            return f"size(regexp_extract_all(text, '{pat}', 0))"

        ctl = (
            "size(regexp_extract_all(text,"
            f" {_LINT_CONTROL_PAT_EXPR}, 0))"
        )
        brace_o = "size(regexp_extract_all(text, '[{]', 0))"
        brace_c = "size(regexp_extract_all(text, '[}]', 0))"
        inst = "instr(text, '[INST]')"
    else:

        def cnt(pat):
            return f"len(regexp_extract_all(text, '{pat}'))"

        ctl = f"len(regexp_extract_all(text, {_LINT_CONTROL_PAT_EXPR}))"
        brace_o = "len(regexp_extract_all(text, '[{]'))"
        brace_c = "len(regexp_extract_all(text, '[}]'))"
        inst = "strpos(text, '[INST]')"
    return f"""
        WITH lint AS (
            SELECT source,
                   CASE WHEN {cnt(_LINT_ROLE_PAT)} > 0
                             OR {inst} > 0
                        THEN 1 ELSE 0 END AS role_marker,
                   CASE WHEN {cnt(_LINT_PLACEHOLDER_PAT)} > 0
                        THEN 1 ELSE 0 END AS placeholder,
                   CASE WHEN {ctl} > 0
                        THEN 1 ELSE 0 END AS control_chars,
                   CASE WHEN {brace_o} <> {brace_c}
                        THEN 1 ELSE 0 END AS unbalanced_braces
            FROM documents)
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(role_marker) AS BIGINT) AS n_role_marker,
               CAST(SUM(placeholder) AS BIGINT) AS n_placeholder,
               CAST(SUM(control_chars) AS BIGINT) AS n_control_chars,
               CAST(SUM(unbalanced_braces) AS BIGINT)
                   AS n_unbalanced_braces,
               CAST(SUM(CASE WHEN role_marker + placeholder
                                  + control_chars
                                  + unbalanced_braces = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
        FROM lint GROUP BY source
    """


@query("text_sft_format_lint", oracle=_sft_lint_sql("duck"))
def q_text_sft_format_lint(spark, sf_dir):
    """SFT-CORPUS FORMAT LINT — the DQ gate an instruction-tuning
    pipeline runs before templating: per source, docs containing
    leaked ROLE MARKERS ('### Instruction', '<|im_start|>',
    '[INST]', 'assistant:' — chat-template tokens that must never
    appear inside raw training text), unresolved TEMPLATE
    PLACEHOLDERS ('{instruction}', '{{...}}'), CONTROL CHARACTERS,
    and UNBALANCED BRACES, plus the clean count. All-clean on this
    synthetic corpus (correct answer, like the referential-
    integrity audit's zero orphans); each rule's detection is
    proven by a hand-crafted-doc pytest. JVM regex end to end.

    Scale: one scan, one source-keyed aggregate; regex count stays
    in codegen."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(_sft_lint_sql("spark"))


_SHARD_TARGET_VECS = 256


def _shard_plan_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    km = _sim.kmeans_sql(dialect)
    return f"""
        WITH km AS ({km})
        , cells AS (
            SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vecs
            FROM km GROUP BY cell)
        , packed AS (
            SELECT cell, n_vecs,
                   CAST(SUM(n_vecs) OVER (
                       ORDER BY cell ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS BIGINT) AS cum
            FROM cells)
        SELECT (cum - 1) {div} {_SHARD_TARGET_VECS} AS shard_id,
               CAST(COUNT(*) AS BIGINT) AS n_cells,
               CAST(SUM(n_vecs) AS BIGINT) AS n_vectors,
               CAST(MIN(cell) AS BIGINT) AS first_cell,
               CAST(MAX(cell) AS BIGINT) AS last_cell
        FROM packed GROUP BY 1
    """


@query("ann_index_shard_plan", oracle=_shard_plan_sql("duck"))
def q_ann_index_shard_plan(spark, sf_dir):
    """VECTOR-INDEX SHARD PLAN: the trained k-means cells (the IVF
    partitions, #128) greedily packed by running vector total into
    ~{t}-vector shards — the physical layout step between training
    the coarse quantizer and serving it (a query fans out to the
    shards owning its probed cells; whole cells per shard keep that
    fan-out 1 shard per probe). Same first-fit prefix-sum algebra
    as the landing compaction planner (#204), run on the CELL
    table.

    Scale: planning cost is |cells|, never vectors; the prefix sum
    windows over the cell table only.""".replace(
        "{t}", str(_SHARD_TARGET_VECS)
    )
    ensure_utc(spark)
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView(
        "embeddings"
    )
    return spark.sql(_shard_plan_sql("spark"))


@query(
    "text_tokenizer_benchmark",
    oracle=_text._bpe_chain("duck", 32)
    + """
        , wmap AS (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS n_sym
            FROM s32 GROUP BY w)
        , dw AS (
            SELECT source, unnest(string_split(text, ' ')) AS w
            FROM documents)
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(LENGTH(dw.w)) AS BIGINT) AS n_chars,
               CAST(SUM(CASE WHEN LENGTH(dw.w) < 2 THEN 1
                        ELSE m.n_sym END) AS BIGINT) AS n_tokens_bpe,
               CAST((100 * SUM(LENGTH(dw.w))) // COUNT(*) AS BIGINT)
                   AS chars_per_word_centi,
               CAST((100 * SUM(LENGTH(dw.w)))
                    // SUM(CASE WHEN LENGTH(dw.w) < 2 THEN 1
                           ELSE m.n_sym END) AS BIGINT)
                   AS chars_per_bpe_token_centi
        FROM dw LEFT JOIN wmap m ON m.w = dw.w
        GROUP BY source
    """,
)
def q_text_tokenizer_benchmark(spark, sf_dir):
    """TOKENIZER CHOICE benchmark per source: compression
    (chars/token, centi) of the three schemes a data pipeline
    budgets against — characters (1.0 by definition, omitted),
    whitespace words, and the REAL K=32 BPE vocab from the deep
    trainer (#403) — the sequence-length-per-byte table that
    decides context-window economics source by source. The BPE arm
    reuses the cached trained symbol table; one corpus word explode
    joined to the vocabulary-bounded word→n_sym map.

    Scale: vocabulary-dim broadcast join + source-keyed aggregate."""
    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents")
    _, syms = _bpe_trained(spark, sf_dir)
    wmap = syms.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("n_sym")
    )
    dw = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    tok = F.when(F.length("w") < 2, F.lit(1)).otherwise(F.col("n_sym"))
    return (
        dw.join(wmap, "w", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum(F.length("w")).cast("long").alias("n_chars"),
            F.sum(tok).cast("long").alias("n_tokens_bpe"),
            F.expr(
                "CAST((100 * SUM(LENGTH(w))) div COUNT(*) AS BIGINT)"
            ).alias("chars_per_word_centi"),
            F.expr(
                "CAST((100 * SUM(LENGTH(w))) div "
                "SUM(CASE WHEN LENGTH(w) < 2 THEN 1 ELSE n_sym END) "
                "AS BIGINT)"
            ).alias("chars_per_bpe_token_centi"),
        )
    )


_TCLOSE_BAND_W = 2000  # acctbal band width (cents-free dollars)
_TCLOSE_MAX_BAND = 5
_TCLOSE_T_E6 = 250_000  # flag classes farther than t = 0.25


def _t_closeness_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    band = (
        f"LEAST(GREATEST(CAST(FLOOR(c_acctbal / {_TCLOSE_BAND_W})"
        f" AS BIGINT), 0), {_TCLOSE_MAX_BAND})"
    )
    m1 = _TCLOSE_MAX_BAND  # m - 1 for the ordered-EMD normalizer
    return f"""
        WITH rows_b AS (
            SELECT n_nationkey AS nation, c_mktsegment AS segment,
                   {band} AS band
            FROM customer JOIN nation ON n_nationkey = c_nationkey)
        , cls AS (
            SELECT nation, segment, band,
                   CAST(COUNT(*) AS BIGINT) AS nb
            FROM rows_b GROUP BY nation, segment, band)
        , grid AS (
            SELECT c.nation, c.segment, b.band,
                   CAST(COALESCE(x.nb, 0) AS BIGINT) AS nb
            FROM (SELECT DISTINCT nation, segment FROM cls) c
            CROSS JOIN (VALUES (0), (1), (2), (3), (4), (5)) AS b(band)
            LEFT JOIN cls x ON x.nation = c.nation
                 AND x.segment = c.segment AND x.band = b.band)
        , gdist AS (
            SELECT band, CAST(SUM(nb) AS BIGINT) AS gb FROM grid
            GROUP BY band)
        , cum AS (
            SELECT g.nation, g.segment, g.band,
                   CAST(SUM(g.nb) OVER (
                       PARTITION BY g.nation, g.segment
                       ORDER BY g.band ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS BIGINT) AS cq,
                   CAST(SUM(o.gb) OVER (
                       PARTITION BY g.nation, g.segment
                       ORDER BY g.band ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS BIGINT) AS cp
            FROM grid g JOIN gdist o ON o.band = g.band)
        , tot AS (
            SELECT CAST(SUM(gb) AS BIGINT) AS n FROM gdist)
        , ncs AS (
            SELECT nation, segment, CAST(MAX(cq) AS BIGINT) AS nc
            FROM cum GROUP BY nation, segment)
        , per_class AS (
            SELECT c.nation, c.segment, n.nc,
                   CAST(SUM(CASE WHEN c.band < 5
                            THEN ABS(c.cq * t.n - c.cp * n.nc)
                            ELSE 0 END) AS BIGINT) AS emd_num
            FROM cum c
            JOIN ncs n ON n.nation = c.nation AND n.segment = c.segment
            CROSS JOIN tot t
            GROUP BY c.nation, c.segment, n.nc, t.n)
        SELECT p.nation, p.segment, p.nc AS n_rows,
               CAST((1000000 * p.emd_num)
                    {div} (p.nc * t.n * 5) AS BIGINT) AS t_e6,
               CASE WHEN (1000000 * p.emd_num)
                         {div} (p.nc * t.n * 5) > 250000
                    THEN 1 ELSE 0 END AS violates_t
        FROM per_class p CROSS JOIN tot t
    """


@query("dq_t_closeness", oracle=_t_closeness_sql("duck"))
def q_dq_t_closeness(spark, sf_dir):
    """T-CLOSENESS audit (Li et al. 2007) — the third rung of the
    privacy ladder after k-anonymity (#302) and l-diversity (#340):
    for each quasi-identifier class (nation × market segment), the
    ORDERED Earth-Mover's Distance between the class's sensitive-
    attribute distribution (account-balance band 0..5) and the
    global one — a class whose balances skew far from the
    population leaks the attribute even when k and l pass. Ordered
    EMD = mean |cumulative difference| over bands, computed as
    exact integer cross-products (|cq·N − cp·nc|; stated bound:
    N·nc must stay under 2^63 — partition the audit by shard above
    ~10^9 rows) and emitted in e6 with the t=0.25 violation flag.

    Scale: one QI×band aggregate (grid bounded by |classes|×6),
    windows over the 6-band order per class; never row-scale
    windows."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "customer"
    )
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    return spark.sql(_t_closeness_sql("spark"))


_TIER_HOT_HOURS = 12
_TIER_WARM_HOURS = 48


def _tiering_sql(dialect: str, src: str = "cdc_log") -> str:
    div = "div" if dialect == "spark" else "//"
    us = "unix_micros" if dialect == "spark" else "epoch_us"
    kw = "WITH" if dialect == "spark" else ","
    hot = _TIER_HOT_HOURS * _HOUR_US
    warm = _TIER_WARM_HOURS * _HOUR_US
    return f"""
        {kw} keys AS (
            SELECT key_id,
                   MAX({us}(ts)) AS last_us,
                   CAST(COUNT(*) AS BIGINT) AS n_ops
            FROM {src} GROUP BY key_id)
        , horizon AS (SELECT MAX(last_us) AS end_us FROM keys)
        , tiered AS (
            SELECT k.key_id, k.n_ops,
                   CASE WHEN h.end_us - k.last_us <= {hot} THEN 'hot'
                        WHEN h.end_us - k.last_us <= {warm} THEN 'warm'
                        ELSE 'cold' END AS tier
            FROM keys k CROSS JOIN horizon h)
        , tots AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS nk,
                   CAST(SUM(n_ops) AS BIGINT) AS no FROM tiered)
        SELECT t.tier,
               CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(t.n_ops) AS BIGINT) AS n_ops,
               CAST((10000 * COUNT(*)) {div} s.nk AS BIGINT)
                   AS key_share_bp,
               CAST((10000 * SUM(t.n_ops)) {div} s.no AS BIGINT)
                   AS op_share_bp
        FROM tiered t CROSS JOIN tots s
        GROUP BY t.tier, s.nk, s.no
    """


@query(
    "cdc_storage_tiering_plan",
    oracle=_with_log(_tiering_sql("duck", src="log")),
)
def q_cdc_storage_tiering_plan(spark, sf_dir):
    """STORAGE TIERING plan over the CDC keyspace: keys bucketed
    hot (touched within {h} hours of the log head) / warm ({w} h) /
    cold, with key and operation shares per tier — the
    access-recency table a lakehouse uses to place partitions on
    NVMe / object store / archive, and the direct input to
    tombstone GC (#150) and compaction (#204/#133) scheduling.

    Scale: one key-keyed aggregate, a 1-row horizon broadcast, a
    3-row rollup.""".replace("{h}", str(_TIER_HOT_HOURS)).replace(
        "{w}", str(_TIER_WARM_HOURS)
    )
    ensure_utc(spark)
    cdc_operation_log(spark, sf_dir).createOrReplaceTempView("cdc_log")
    return spark.sql(_tiering_sql("spark"))


_RATE_WINDOW_SEC = 60
_RATE_LIMIT = 5  # max events allowed per sliding minute


def _rate_limit_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    us = "unix_micros" if dialect == "spark" else "epoch_us"
    w = _RATE_WINDOW_SEC * 1_000_000
    return f"""
        WITH e AS (
            SELECT user_id, {us}(ts) AS t_us FROM events)
        , winct AS (
            SELECT user_id, t_us,
                   CAST(COUNT(*) OVER (
                       PARTITION BY user_id ORDER BY t_us ASC
                       RANGE BETWEEN {w - 1} PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS in_window
            FROM e)
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(MAX(in_window) AS BIGINT) AS max_per_minute,
               CAST(SUM(CASE WHEN in_window > {_RATE_LIMIT}
                        THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_throttled_events,
               CASE WHEN MAX(in_window) > {_RATE_LIMIT}
                    THEN 1 ELSE 0 END AS would_throttle
        FROM winct GROUP BY user_id
    """


@query("events_rate_limit_audit", oracle=_rate_limit_sql("duck"))
def q_events_rate_limit_audit(spark, sf_dir):
    """SLIDING-WINDOW RATE-LIMIT audit: per user, the maximum
    events inside ANY trailing {w}-second window (exact — a RANGE
    frame over event-time micros, not a tumbling approximation: a
    burst straddling a minute boundary is counted correctly) and
    the events a limit of {l}/window would have throttled — the
    dry-run an API gateway or ingestion quota runs before turning
    enforcement on. Complements the bot keep-list (#282), which
    classifies users; this quantifies the enforcement impact.

    Scale: ONE user-partitioned RANGE window (engine-native sliding
    frame, no self-join, no explode) + one user aggregate — a
    single shuffle.""".replace("{w}", str(_RATE_WINDOW_SEC)).replace(
        "{l}", str(_RATE_LIMIT)
    )
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_rate_limit_sql("spark"))


def _bottleneck_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    return f"""
        WITH ranked_l AS (
            SELECT l_orderkey, l_suppkey, l_shipdate,
                   row_number() OVER (
                       PARTITION BY l_orderkey
                       ORDER BY l_shipdate DESC, l_suppkey ASC) AS rn,
                   CAST(COUNT(*) OVER (PARTITION BY l_orderkey)
                        AS BIGINT) AS n_lines
            FROM lineitem)
        , crit AS (
            SELECT l_orderkey, l_suppkey, n_lines FROM ranked_l
            WHERE rn = 1 AND n_lines >= 2)
        , tot AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n FROM crit)
        SELECT s.s_suppkey, s.s_name,
               CAST(COUNT(*) AS BIGINT) AS n_orders_bottlenecked,
               CAST((10000 * COUNT(*)) {div} t.n AS BIGINT)
                   AS share_bp
        FROM crit c
        JOIN supplier s ON s.s_suppkey = c.l_suppkey
        CROSS JOIN tot t
        GROUP BY s.s_suppkey, s.s_name, t.n
        HAVING COUNT(*) >= 2
    """


@query("orders_bottleneck_suppliers", oracle=_bottleneck_sql("duck"))
def q_orders_bottleneck_suppliers(spark, sf_dir):
    """CRITICAL-PATH supplier attribution: for every multi-line
    order, the LAST line to ship defines the order's completion
    (the #413 flow metrics' residence time) — this charges each
    completion to the supplier who shipped it and ranks suppliers
    by how often they sit on the critical path (share in bp, >= 2
    orders to suppress singletons). The procurement escalation
    list: a supplier can have fine average lead times and still
    gate a disproportionate share of orders.

    Scale: one order-partition window (rank + count share the
    partition — single shuffle), a broadcast supplier dim, a 1-row
    total."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem"
    )
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView(
        "supplier"
    )
    return spark.sql(_bottleneck_sql("spark"))


def _pack_frag_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    n_toks = (
        "size(split(text, ' '))"
        if dialect == "spark"
        else "len(string_split(text, ' '))"
    )
    return f"""
        WITH t AS (
            SELECT source, doc_id,
                   CAST(doc_id {div} {_PACK_SHARD} AS BIGINT) AS shard,
                   CAST({n_toks} AS BIGINT) AS n
            FROM documents)
        , c AS (
            SELECT source, shard, doc_id, n,
                   CAST(SUM(n) OVER (
                       PARTITION BY source, shard ORDER BY doc_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) - n AS BIGINT) AS start
            FROM t)
        , flags AS (
            SELECT source, doc_id, n, start,
                   start {div} {_PACK_CTX} AS first_bin,
                   (start + n - 1) {div} {_PACK_CTX} AS last_bin
            FROM c)
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN last_bin > first_bin
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs,
               CAST((10000 * SUM(CASE WHEN last_bin > first_bin
                                 THEN 1 ELSE 0 END)) {div} COUNT(*)
                    AS BIGINT) AS split_docs_bp,
               CAST(SUM(CASE WHEN last_bin > first_bin
                        THEN (first_bin + 1) * {_PACK_CTX} - start
                        ELSE 0 END) AS BIGINT)
                   AS tokens_before_first_split
        FROM flags GROUP BY source
    """


@query("pack_fragmentation_audit", oracle=_pack_frag_sql("duck"))
def q_pack_fragmentation_audit(spark, sf_dir):
    """PACKING FRAGMENTATION audit for the concat-and-chunk packer
    (#97): per source, the docs whose token span CROSSES a
    {c}-token context boundary — a split doc trains with its tail
    severed from its head (the coherence cost of naive packing that
    motivates best-fit and document-masking variants) — with the
    share in bp and the head-fragment token mass. Read next to the
    packing-efficiency mart (#199): efficiency measures wasted
    slots, this measures severed context.

    Scale: the same (source, shard)-bounded prefix-sum window as
    the packer itself, then a source rollup.""".replace(
        "{c}", str(_PACK_CTX)
    )
    ensure_utc(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(_pack_frag_sql("spark"))


def _shuffle_quality_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    cur = _curriculum_sql(dialect)
    return f"""
        WITH ord AS ({cur})
        , pos AS (
            SELECT o.global_order AS p, d.source
            FROM ord o JOIN documents d ON d.doc_id = o.doc_id)
        , adj AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_adjacent,
                   CAST(SUM(CASE WHEN a.source = b.source
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_same
            FROM pos a JOIN pos b ON b.p = a.p + 1)
        , src AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS ns
            FROM documents GROUP BY source)
        , exp_t AS (
            SELECT CAST(SUM(ns * (ns - 1)) AS BIGINT) AS num,
                   CAST(SUM(ns) AS BIGINT) AS n
            FROM src)
        SELECT a.n_adjacent, a.n_same,
               CAST((10000 * e.num) {div} (e.n * (e.n - 1)) AS BIGINT)
                   AS expected_same_bp,
               CAST((10000 * a.n_same) {div} a.n_adjacent AS BIGINT)
                   AS observed_same_bp,
               CASE WHEN (10000 * a.n_same) {div} a.n_adjacent
                         > 2 * ((10000 * e.num)
                                {div} (e.n * (e.n - 1)))
                    THEN 1 ELSE 0 END AS clumped
        FROM adj a CROSS JOIN exp_t e
    """


@query("corpus_order_shuffle_quality", oracle=_shuffle_quality_sql("duck"))
def q_corpus_order_shuffle_quality(spark, sf_dir):
    """SHUFFLE-QUALITY audit of the curriculum training order
    (#370): the runs-test statistic — observed same-SOURCE adjacent
    pairs in the global order vs the expectation under a perfect
    shuffle (Σ n_s(n_s−1) / n(n−1), exact bp) — with a 2x-excess
    clumped flag. Source clumping in the training stream is the
    classic silent degradation a bucketed curriculum can introduce
    (quality buckets correlate with sources); this measures it
    before any GPU hour is spent.

    Scale: adjacency WITHOUT a global window — consecutive
    positions pair by an equi-join on p+1 = p' (shuffle on the
    position key, linear); everything else is |sources|-bounded."""
    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents")
    pos = (
        QUERIES["corpus_curriculum_order"](spark, sf_dir)
        .select(F.col("global_order").alias("p"), "doc_id")
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("p", "source")
        .localCheckpoint()
    )
    a = pos.select(F.col("p").alias("pa"), F.col("source").alias("sa"))
    b = pos.select(
        (F.col("p") - 1).alias("pa"), F.col("source").alias("sb")
    )
    adj = a.join(b, "pa").agg(
        F.count(F.lit(1)).cast("long").alias("n_adjacent"),
        F.sum(
            F.when(F.col("sa") == F.col("sb"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_same"),
    )
    srcs = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("ns")
    )
    exp_t = srcs.agg(
        F.sum(F.expr("ns * (ns - 1)")).cast("long").alias("num"),
        F.sum("ns").cast("long").alias("n"),
    )
    return (
        adj.crossJoin(exp_t)
        .select(
            "n_adjacent",
            "n_same",
            F.expr(
                "CAST((10000 * num) div (n * (n - 1)) AS BIGINT)"
            ).alias("expected_same_bp"),
            F.expr(
                "CAST((10000 * n_same) div n_adjacent AS BIGINT)"
            ).alias("observed_same_bp"),
            F.expr(
                "CASE WHEN (10000 * n_same) div n_adjacent"
                " > 2 * ((10000 * num) div (n * (n - 1)))"
                " THEN 1 ELSE 0 END"
            ).alias("clumped"),
        )
    )


_EDIT_JOIN_MAXD = 2
# PassJoin segment blocking (Li/Deng/Feng 2011, r5 verdict item 3):
# partition each name into d+1 segments; by pigeonhole, d edits can
# touch at most d segments, so a pair within edit distance d shares
# at least one segment VERBATIM — the untouched segment of A occurs
# in B as a substring whose start shifts by at most d (each indel
# shifts later positions by one). Blocking therefore joins A's
# segments against B's length-and-position-windowed substrings:
# EXACT recall (proven vs the blocking-free brute-force twin in
# tests/test_round15.py), and — unlike q-gram canopies, whose block
# sizes grow linearly with the corpus on a fixed word vocabulary
# (sum df² is quadratic; measured 311 s at sf0.1) — segment keys are
# ~len/(d+1) chars long and near-unique, so candidates stay
# near-linear at scale. Substring windows are generated for each
# hypothetical partner length L in [len-d, len+d] with the PARTNER's
# deterministic split boundaries (the multi-match-aware windows of
# the paper), so the equi-join key (L, segment_idx, segment) carries
# the boundary agreement and no post-join position math is needed.
# The join runs over DISTINCT NAMES, not part rows: edit distance
# is a function of the name alone, and low-cardinality string
# dimensions clone heavily (sf0.1: 20,000 parts share 64 distinct
# names, so 3.1M of the 5.5M result pairs are identical-name pairs)
# — blocking over rows re-verifies every clone pair (measured 99 s
# at sf0.1); blocking over names verifies each name pair ONCE and
# expands clusters afterward through two broadcast joins against
# the key map (~8 s — output-bound, as a 5.5M-row answer should be).
# Within the name join: the lemma holds with EITHER side
# partitioned, so only the lexicographically-smaller name partitions
# (halves candidates; the larger steps in only when the smaller is
# too short for d+1 nonempty segments), and the short-name fallback
# arm is provably disjoint (both <= d vs partitioned side > d), so
# UNION ALL needs no re-dedup.
_EDIT_SEGS = _EDIT_JOIN_MAXD + 1  # 3 segments


def _edit_join_sql(dialect: str, grain: str = "keys") -> str:
    d = _EDIT_JOIN_MAXD
    n = _EDIT_SEGS
    div = "div" if dialect == "spark" else "//"
    ivals = ", ".join(f"({i})" for i in range(n))
    # segment i of a length-len string: l_i = len div n (+1 for the
    # first len%n segments), st_i = i*(len div n) + min(i, len%n) + 1
    seg_l = f"(len {div} {n}) + CASE WHEN i < (len % {n}) THEN 1 ELSE 0 END"
    seg_st = f"i * (len {div} {n}) + LEAST(i, len % {n}) + 1"
    if dialect == "spark":
        lat_L = (
            f"LATERAL VIEW explode(sequence(len - {d}, len + {d})) "
            "Lv AS plen"
        )
        lat_pos = (
            "LATERAL VIEW explode(sequence(plo, GREATEST(plo, phi))) "
            "pv AS pos"
        )
    else:
        lat_L = f", unnest(range(len - {d}, len + {d} + 1)) AS Lv(plen)"
        lat_pos = ", unnest(range(plo, phi + 1)) AS pv(pos)"
    return f"""
        WITH pk AS (SELECT p_partkey, p_name FROM part)
        , p AS (
            SELECT p_name, CAST(LENGTH(p_name) AS BIGINT) AS len
            FROM (SELECT DISTINCT p_name FROM part) dn)
        , segv AS (
            SELECT p_name, len, i,
                   substr(p_name, CAST({seg_st} AS INTEGER),
                          CAST({seg_l} AS INTEGER)) AS g
            FROM p CROSS JOIN (VALUES {ivals}) AS t(i)
            WHERE {seg_l} > 0)
        , grid AS (
            SELECT p_name, len, plen, i, slen,
                   GREATEST(CAST(1 AS BIGINT), sst - {d}) AS plo,
                   LEAST(len - slen + 1, sst + {d}) AS phi
            FROM (
                SELECT p.p_name, p.len, Lv.plen, t.i,
                       (plen {div} {n}) + CASE WHEN i < (plen % {n})
                           THEN 1 ELSE 0 END AS slen,
                       i * (plen {div} {n}) + LEAST(i, plen % {n}) + 1 AS sst
                FROM p
                CROSS JOIN (VALUES {ivals}) AS t(i)
                {lat_L}) gg
            WHERE slen > 0)
        , subs AS (
            SELECT p_name, len, plen, i, slen,
                   substr(p_name, CAST(pos AS INTEGER),
                          CAST(slen AS INTEGER)) AS g
            FROM grid
            {lat_pos}
            WHERE pos <= phi)
        , cand AS (
            SELECT DISTINCT
                LEAST(s.p_name, t.p_name) AS name_a,
                GREATEST(s.p_name, t.p_name) AS name_b
            FROM segv s
            JOIN subs t
              ON t.plen = s.len AND t.i = s.i AND t.g = s.g
             AND t.p_name <> s.p_name
             AND (s.p_name < t.p_name OR t.len <= {d})
            WHERE s.len > {d})
        , shortn AS (
            SELECT a.p_name AS name_a, b.p_name AS name_b
            FROM p a JOIN p b ON a.p_name < b.p_name
            WHERE a.len <= {d} AND b.len <= {d})
        , verified AS (
            SELECT name_a, name_b,
                   CAST(levenshtein(name_a, name_b) AS BIGINT) AS ed
            FROM (SELECT * FROM cand
                  UNION ALL SELECT * FROM shortn) u
            WHERE levenshtein(name_a, name_b) <= {d})
        {{tail}}
    """.replace(
        "{tail}",
        """, np2 AS (
            SELECT name_a, name_b, ed FROM verified
            UNION ALL
            SELECT name_b AS name_a, name_a AS name_b, ed
            FROM verified
            UNION ALL
            SELECT p_name AS name_a, p_name AS name_b,
                   CAST(0 AS BIGINT) AS ed
            FROM p)
        SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
               nn.name_a, nn.name_b, nn.ed AS edit_dist
        FROM np2 nn
        JOIN pk a ON a.p_name = nn.name_a
        JOIN pk b ON b.p_name = nn.name_b
        WHERE a.p_partkey < b.p_partkey"""
        if grain == "keys"
        else """
        SELECT name_a, name_b, ed AS edit_dist,
               CAST(na.clones AS BIGINT) AS clones_a,
               CAST(nb.clones AS BIGINT) AS clones_b,
               CAST(na.clones * nb.clones AS BIGINT)
                   AS expanded_pairs
        FROM verified
        JOIN (SELECT p_name, COUNT(*) AS clones FROM pk
              GROUP BY p_name) na ON na.p_name = name_a
        JOIN (SELECT p_name, COUNT(*) AS clones FROM pk
              GROUP BY p_name) nb ON nb.p_name = name_b""",
    )


@query("part_edit_distance_join", oracle=_edit_join_sql("duck"))
def q_part_edit_distance_join(spark, sf_dir):
    """CHARACTER-level similarity join on the part dimension —
    PassJoin SEGMENT blocking (Li/Deng/Feng 2011, r5 verdict
    item 3): each name splits into d+1 = {n} segments; pigeonhole
    guarantees a pair within edit distance {d} shares one segment
    verbatim (position-shifted by at most {d}), so the equi-join of
    segments against length/position-windowed substrings has EXACT
    recall — proven against the blocking-free brute-force twin in
    tests/test_round15.py — with ~len/{n}-char near-unique join
    keys. Exact levenshtein verification on candidates only — the
    classic filter-verify similarity join at the CHARACTER grain
    beside the word-Jaccard resolver (#245) and SymSpell edit-1
    (#336; this catches distance-2 typos SymSpell's deletion index
    misses).

    Scale: the join runs over DISTINCT NAMES (edit distance is a
    function of the name; sf0.1's 20k parts share 64 names, and the
    5.5M-pair answer is mostly clone expansion) with clusters
    expanded afterward through broadcast key-map joins — 311 s
    (q-gram canopy over rows) → 8 s, identical output; segment keys
    are near-unique where q-gram canopies grow Σ block²
    quadratically on a fixed word vocabulary; levenshtein runs once
    per candidate NAME pair, JVM-side on both engines.

    Measured scaling (r7→r8). The r7 exp 1.38 was the trailing-tag
    construction artifact: suffix-tagged replicas share every
    prefix segment verbatim. r8's INFIX tags (position =
    hash(name, replica)) discharge it — exp 0.51 at sf0.1→sf1 on
    the cleaned corpus. The remaining sf1→sf10 exp 1.80 decomposes,
    measured, into (a) candidate pairs quadratic in
    VARIANTS-PER-STEM (640→6400 tagged variants of 64 stems gives
    19.7k→1.68M candidates — catalog-style stacking where variants
    still share their pre-tag prefix; the verify cost is still <2%
    of wall, 1.68M levenshteins), and (b) the dominant term: the
    ANSWER is clone-expansion OUTPUT-BOUND — 31M rows at sf1 →
    312M at sf10 (exactly linear), and materializing 312M string
    pairs through one 64 GB JVM enters the GC-bound regime (probe:
    raising shuffle partitions 32→256 does NOT help — 337 s vs
    276 s — so it is not a partition-sizing artifact; per-OUTPUT-row
    cost is what degrades, 7.0M→1.1M rows/s). On a cluster the
    output production parallelizes across executor memories; on any
    engine, a contract that returns Σ clones² expanded pairs is the
    scale ceiling — the name-grain verdict (the `verified` CTE) is
    the linear artifact a 100 TB run would materialize.""".replace(
        "{n}", str(_EDIT_SEGS)
    ).replace("{d}", str(_EDIT_JOIN_MAXD))
    ensure_utc(spark)
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(_edit_join_sql("spark"))


@query(
    "part_edit_distance_names",
    oracle=_edit_join_sql("duck", grain="names"),
)
def q_part_edit_distance_names(spark, sf_dir):
    """NAME-GRAIN deployment twin of part_edit_distance_join (r9,
    the r8 verdict's #4): the `verified` CTE as its own contract —
    one row per DISTINCT-NAME pair within edit distance {d}, with
    each side's clone count and the expanded-pair product the
    key-grain twin would materialize. The key-grain answer is
    clone-expansion OUTPUT-BOUND (312M rows at sf10, measured
    GC-bound through one JVM — see #397's docstring); this verdict
    table is the linear artifact a 100 TB run stores, with clone
    expansion left to the consumer as a broadcast key-map join at
    read time. Same PassJoin segment blocking, same exact-recall
    guarantee (pigeonhole + levenshtein verify); output is
    Θ(distinct-name near-pairs), independent of clone
    multiplicity.""".replace("{d}", str(_EDIT_JOIN_MAXD))
    ensure_utc(spark)
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(_edit_join_sql("spark", grain="names"))


_CEP_WINDOW_US = 24 * 3600 * 1_000_000  # A->B deadline


def _cep_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    us = "unix_micros" if dialect == "spark" else "epoch_us"
    return f"""
        WITH a AS (
            SELECT user_id, event_id AS a_id, {us}(ts) AS a_us
            FROM events WHERE event_type = 'signup')
        , b AS (
            SELECT user_id, event_id AS b_id, {us}(ts) AS b_us
            FROM events WHERE event_type = 'purchase')
        , c AS (
            SELECT user_id, {us}(ts) AS c_us
            FROM events WHERE event_type = 'error')
        , ab AS (
            SELECT a.user_id, a.a_id, a.a_us,
                   MIN(b.b_us) AS b_us
            FROM a JOIN b ON b.user_id = a.user_id
                 AND b.b_us > a.a_us
                 AND b.b_us <= a.a_us + {_CEP_WINDOW_US}
            GROUP BY a.user_id, a.a_id, a.a_us)
        , blocked AS (
            SELECT DISTINCT ab.user_id, ab.a_id
            FROM ab JOIN c ON c.user_id = ab.user_id
                 AND c.c_us > ab.a_us AND c.c_us < ab.b_us)
        , matches AS (
            SELECT ab.user_id, ab.a_id, ab.a_us, ab.b_us
            FROM ab LEFT JOIN blocked k
              ON k.user_id = ab.user_id AND k.a_id = ab.a_id
            WHERE k.a_id IS NULL)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_matches,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(SUM((b_us - a_us) {div} 1000000) AS BIGINT)
                   AS total_lag_sec,
               CAST(SUM((b_us - a_us) {div} 1000000)
                    {div} NULLIF(COUNT(*), 0) AS BIGINT)
                   AS mean_lag_sec
        FROM matches
    """


@query("events_cep_pattern_match", oracle=_cep_sql("duck"))
def q_events_cep_pattern_match(spark, sf_dir):
    """COMPLEX-EVENT-PROCESSING pattern match — the
    MATCH_RECOGNIZE-class paradigm (signup FOLLOWED BY purchase
    within 24 h WITH NO error BETWEEN) the funnel family
    (#58/#137/#173) cannot express: funnels count ordered
    milestones, CEP adds the NEGATION clause (an intervening error
    voids the match — the 'clean conversion' definition fraud and
    reliability teams actually use). Emitted as the match census +
    exact lag moments.

    Scale: all three legs are user-keyed equi-joins with time
    predicates (per-user bounded, never cross-user); the negation
    is an anti-join on the (user, match) key. One shuffle family
    on user_id."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_cep_sql("spark"))


_ANN_RESPLIT_X_BP = 20000  # re-split a cell grown past 2x the mean
_ANN_NEW_CUTOFF_DIV = 5  # last 1/5 of the id space is "new"


def _ann_maintenance_sql(dialect: str, km_rel: str | None = None) -> str:
    div = "div" if dialect == "spark" else "//"
    # km_rel: read the _gate_map-materialized trained assignment
    # instead of re-deriving the Lloyd chain inline (r6 verdict
    # item 4); the oracle composes the chain inline (small-scale
    # truth) and the hash match proves the served view identical.
    km = (
        f"SELECT vec_id, cell FROM {km_rel}"
        if km_rel
        else _sim.kmeans_sql(dialect)
    )
    return f"""
        WITH km AS ({km})
        , cut AS (
            SELECT MAX(vec_id) - (MAX(vec_id) + 1)
                       {div} {_ANN_NEW_CUTOFF_DIV} AS cutoff
            FROM km)
        , cells AS (
            SELECT km.cell,
                   CAST(SUM(CASE WHEN km.vec_id <= t.cutoff
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
                   CAST(SUM(CASE WHEN km.vec_id > t.cutoff
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_new
            FROM km CROSS JOIN cut t
            GROUP BY km.cell)
        , tot AS (
            SELECT CAST(SUM(n_old + n_new) AS BIGINT) AS n,
                   CAST(COUNT(*) AS BIGINT) AS k
            FROM cells)
        SELECT c.cell, c.n_old, c.n_new,
               CAST((10000 * c.n_new)
                    {div} NULLIF(c.n_old, 0) AS BIGINT) AS growth_bp,
               CASE WHEN (c.n_old + c.n_new) * t.k * 10000
                         > {_ANN_RESPLIT_X_BP} * t.n
                    THEN 'resplit'
                    WHEN c.n_new * 4 > c.n_old THEN 'retrain_soon'
                    ELSE 'ok' END AS action
        FROM cells c CROSS JOIN tot t
    """


@query("ann_index_maintenance_plan", oracle=_ann_maintenance_sql("duck"))
def q_ann_index_maintenance_plan(spark, sf_dir):
    """IVF INDEX MAINTENANCE plan: treating the last fifth of the
    id space as the post-snapshot ingest, per trained cell — old
    vs newly-arrived vector counts, growth in bp, and the action a
    vector-store maintainer takes: 'resplit' for cells past
    {x}x the mean occupancy (hot cells serve slow scans),
    'retrain_soon' where new arrivals exceed a quarter of the
    trained mass (centroid drift), else 'ok'. The operational
    complement of the quality index (#246) and the shard plan
    (#422).

    Scale: one cell aggregate over the trained assignment — served
    from the _gate_map-materialized km_cellmap_mat view (r6 verdict
    item 4: no per-report Lloyd re-derivation) — plus 1-row
    cutoff/total broadcasts.""".replace(
        "{x}", str(_ANN_RESPLIT_X_BP // 10000)
    )
    _km_index(spark, sf_dir)
    return spark.sql(_ann_maintenance_sql("spark", km_rel="km_cellmap_mat"))


# (7/8)^j in e9 fixed point, j = 0..63 — data-independent constants
# computed once in Python (the JL-sign-matrix rule): EWMA decay
# weights for alpha = 1/8, floor-chained so both engines read the
# same integers.
_EWMA_POW_E9 = []
_x = 10**9
for _j in range(64):
    _EWMA_POW_E9.append(_x)
    _x = _x * 7 // 8
del _x, _j


def _ewma_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    us = "unix_micros" if dialect == "spark" else "epoch_us"
    pow_rows = ", ".join(f"({j}, {p})" for j, p in enumerate(_EWMA_POW_E9))
    return f"""
        WITH daily AS (
            SELECT {us}(ts) {div} {_DAY_US} AS day_us,
                   CAST(COUNT(*) AS BIGINT) AS x
            FROM events GROUP BY 1)
        , idx AS (
            SELECT day_us, x,
                   CAST(row_number() OVER (ORDER BY day_us ASC)
                        AS BIGINT) - 1 AS t
            FROM daily)
        , decay AS (SELECT * FROM (VALUES {pow_rows}) AS p(j, w_e9))
        , sm AS (
            SELECT cur.t, cur.day_us, cur.x,
                   CAST(SUM(CASE WHEN prev.t = 0
                            THEN prev.x * d.w_e9
                            ELSE (prev.x * d.w_e9) {div} 8
                            END) AS BIGINT) AS s_num_e9
            FROM idx cur
            JOIN idx prev ON prev.t <= cur.t
            JOIN decay d ON d.j = cur.t - prev.t
            GROUP BY cur.t, cur.day_us, cur.x)
        , chart AS (
            SELECT c.t, c.day_us, c.x,
                   CAST(c.s_num_e9 {div} 1000000000 AS BIGINT)
                       AS ewma_x,
                   p.s_num_e9 {div} 1000000000 AS prior_ewma
            FROM sm c LEFT JOIN sm p ON p.t = c.t - 1)
        SELECT t AS day_idx, x AS n_events,
               ewma_x,
               CAST(COALESCE(prior_ewma, x) AS BIGINT)
                   AS forecast,
               CASE WHEN prior_ewma IS NOT NULL
                         AND (x > 2 * prior_ewma
                              OR 2 * x < prior_ewma)
                    THEN 1 ELSE 0 END AS anomaly
        FROM chart
    """


@query("events_ewma_control_chart", oracle=_ewma_sql("duck"))
def q_events_ewma_control_chart(spark, sf_dir):
    """EWMA CONTROL CHART over daily event volume (alpha = 1/8, the
    SPC classic beside the MAD screen #244, CUSUM #206 and the
    seasonal-naive backtest #255 — EWMA reacts to small sustained
    shifts those miss): the smoothed level is the exact closed form
    Σ α(1−α)^(t−i)·x_i with the decay weights as e9 integer
    LITERALS (floor-chained in Python once — both engines read
    identical tables, no float pow in-engine), the forecast is the
    prior day's level, and a 2x multiplicative band flags anomalies.

    Scale: daily counts are one map-side-combined aggregate; the
    closed-form join is lower-triangular over DAYS (span-bounded,
    64-lag window by the table) — never row-scale."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_ewma_sql("spark"))


_CACHE_GRID = (1, 2, 5, 10, 20, 50)


def _cache_curve_sql(dialect: str, src: str = "cdc_log") -> str:
    div = "div" if dialect == "spark" else "//"
    kw = "WITH" if dialect == "spark" else ","
    grid = ", ".join(f"({k})" for k in _CACHE_GRID)
    return f"""
        {kw} ops AS (
            SELECT key_id, CAST(COUNT(*) AS BIGINT) AS n_ops
            FROM {src} GROUP BY key_id)
        , ranked AS (
            SELECT key_id, n_ops,
                   CAST(row_number() OVER (
                       ORDER BY n_ops DESC, key_id ASC) AS BIGINT)
                       AS rk
            FROM ops)
        , tot AS (
            SELECT CAST(SUM(n_ops) AS BIGINT) AS n,
                   CAST(COUNT(*) AS BIGINT) AS nk
            FROM ops)
        SELECT g.k AS cache_keys,
               CAST(SUM(CASE WHEN r.rk <= g.k THEN r.n_ops
                        ELSE 0 END) AS BIGINT) AS ops_covered,
               CAST((10000 * SUM(CASE WHEN r.rk <= g.k THEN r.n_ops
                                 ELSE 0 END)) {div} t.n AS BIGINT)
                   AS hit_rate_bp,
               t.nk AS n_keys_total
        FROM (VALUES {grid}) AS g(k)
        CROSS JOIN ranked r CROSS JOIN tot t
        GROUP BY g.k, t.n, t.nk
    """


@query(
    "cdc_cache_sizing_curve",
    oracle=_with_log(_cache_curve_sql("duck", src="log")),
)
def q_cdc_cache_sizing_curve(spark, sf_dir):
    """CACHE SIZING curve for the CDC keyspace: the hit rate (bp) a
    perfect LFU cache of k keys would achieve, for k on a standard
    grid — the working-set curve that turns the hot-key report
    (#266) into a provisioning decision (the knee of this curve IS
    the cache size to buy). Skew makes small caches dispropor-
    tionately effective; a flat curve says don't bother.

    Scale: one key aggregate; the rank window runs over |keys|
    rows (key-space bounded) and the grid is a constant VALUES."""
    ensure_utc(spark)
    cdc_operation_log(spark, sf_dir).createOrReplaceTempView("cdc_log")
    return spark.sql(_cache_curve_sql("spark"))


def _promo_uplift_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    cents = "CAST(ROUND(l_extendedprice * 100) AS BIGINT)"
    qty = "CAST(ROUND(l_quantity) AS BIGINT)"
    return f"""
        WITH arms AS (
            SELECT l_partkey,
                   CASE WHEN l_discount > 0 THEN 1 ELSE 0 END AS promo,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM({qty}) AS BIGINT) AS units,
                   CAST(SUM({cents}) AS BIGINT) AS rev_c
            FROM lineitem GROUP BY l_partkey,
                 CASE WHEN l_discount > 0 THEN 1 ELSE 0 END)
        , matched AS (
            SELECT p.l_partkey,
                   p.n AS n_promo, c.n AS n_control,
                   p.units AS units_promo, c.units AS units_control,
                   p.rev_c AS rev_promo_c, c.rev_c AS rev_control_c
            FROM arms p JOIN arms c
              ON c.l_partkey = p.l_partkey
             AND p.promo = 1 AND c.promo = 0)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_matched_parts,
               CAST(SUM(n_promo) AS BIGINT) AS n_promo_lines,
               CAST(SUM(n_control) AS BIGINT) AS n_control_lines,
               CAST((100 * SUM(units_promo)) {div} SUM(n_promo)
                    AS BIGINT) AS units_per_promo_line_centi,
               CAST((100 * SUM(units_control)) {div} SUM(n_control)
                    AS BIGINT) AS units_per_control_line_centi,
               CAST((10000 * ((100 * SUM(units_promo))
                              {div} SUM(n_promo)))
                    {div} NULLIF((100 * SUM(units_control))
                                 {div} SUM(n_control), 0)
                    - 10000 AS BIGINT) AS unit_uplift_bp
        FROM matched
    """


@query("lineitem_promo_uplift_matched", oracle=_promo_uplift_sql("duck"))
def q_lineitem_promo_uplift_matched(spark, sf_dir):
    """MATCHED-comparison promo uplift: within every part sold BOTH
    with and without a discount (exact matching on the part key —
    the simplest credible causal design, holding the product fixed
    so the cross-part assortment bias that plagues the naive
    discounted-vs-not comparison drops out), units per line in the
    promo vs control arm and the pooled uplift in bp. Reads beside
    the elasticity moments (#418): #418 fits a slope within brand,
    this estimates the arm difference within part.

    Scale: one (part, arm) aggregate, a part-keyed self-join of
    the two tiny arm tables, a 1-row rollup."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem"
    )
    return spark.sql(_promo_uplift_sql("spark"))


_PREFIX_K = 8  # tokens hashed for the family key


def _prefix_family_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    if dialect == "spark":
        key = (
            f"md5(concat_ws(' ', slice(split(text, ' '), 1, {_PREFIX_K})))"
        )
        n = "size(split(text, ' '))"
    else:
        key = (
            "md5(array_to_string(string_split(text, ' ')"
            f"[1:{_PREFIX_K}], ' '))"
        )
        n = "len(string_split(text, ' '))"
    return f"""
        WITH keyed AS (
            SELECT doc_id, source, {key} AS pfx,
                   CAST({n} AS BIGINT) AS n_tokens
            FROM documents WHERE {n} >= {_PREFIX_K})
        , fam AS (
            SELECT pfx,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(MIN(doc_id) AS BIGINT) AS canonical_doc,
                   CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
                   CAST(SUM(n_tokens) AS BIGINT) AS family_tokens
            FROM keyed GROUP BY pfx)
        SELECT pfx, n_docs, canonical_doc, n_sources, family_tokens
        FROM fam WHERE n_docs >= 2
    """


@query("dedup_prefix_families", oracle=_prefix_family_sql("duck"))
def q_dedup_prefix_families(spark, sf_dir):
    """PREFIX-FAMILY dedup screen: docs sharing their first
    {k}-token prefix grouped into families (min-id canonical,
    source spread, token mass) — the crawl-dup signature the
    content-hash families miss: mirrored pages, templated
    boilerplate heads and truncated re-crawls agree on their HEAD
    long before their rolling fingerprint or shingle set agrees.
    Families spanning multiple sources are the syndicated-content
    signal. Emits only multi-doc families.

    Scale: one hash-keyed aggregate (the prefix never leaves the
    row before hashing); family table is output-bounded.""".replace(
        "{k}", str(_PREFIX_K)
    )
    ensure_utc(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(_prefix_family_sql("spark"))


def _probe_cost_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    grid = ", ".join(f"({p})" for p in range(1, _sim.N_PROBES + 1))
    return f"""
        WITH v AS (
            SELECT vec_id, embedding,
                   {_sim._norm('embedding', dialect)} AS nrm
            FROM embeddings)
        , seeds AS (
            SELECT vec_id AS seed_id, embedding AS se, nrm AS snrm
            FROM v WHERE vec_id < {_sim.N_SEEDS})
        , assign AS (
            SELECT v.vec_id, s.seed_id,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY ({_sim._dot('v.embedding', 's.se',
                                            dialect)})
                                / (v.nrm * s.snrm) DESC,
                                s.seed_id ASC) AS rn
            FROM v CROSS JOIN seeds s)
        , sizes AS (
            SELECT seed_id AS cell, CAST(COUNT(*) AS BIGINT) AS sz
            FROM assign WHERE rn = 1 GROUP BY seed_id)
        , probes AS (
            SELECT vec_id AS query_id, seed_id AS cell,
                   CAST(rn AS BIGINT) AS rn
            FROM assign
            WHERE vec_id < {_sim.N_QUERIES} AND rn <= {_sim.N_PROBES})
        , tot AS (SELECT CAST(SUM(sz) AS BIGINT) AS n FROM sizes)
        , per_q AS (
            SELECT g.p, pr.query_id,
                   CAST(SUM(s.sz) AS BIGINT) AS scanned
            FROM (VALUES {grid}) AS g(p)
            JOIN probes pr ON pr.rn <= g.p
            JOIN sizes s ON s.cell = pr.cell
            GROUP BY g.p, pr.query_id)
        SELECT p AS nprobe,
               CAST((100 * SUM(scanned)) {div} COUNT(*) AS BIGINT)
                   AS mean_scanned_centi,
               CAST((10000 * SUM(scanned))
                    {div} (COUNT(*) * t.n) AS BIGINT)
                   AS scanned_share_bp
        FROM per_q CROSS JOIN tot t
        GROUP BY p, t.n
    """


@query("ann_probe_cost_curve", oracle=_probe_cost_sql("duck"))
def q_ann_probe_cost_curve(spark, sf_dir):
    """The COST half of the IVF recall/latency trade — mean vectors
    scanned per query (centi) and the corpus share (bp) at each
    nprobe — to be read against the recall curve (#180): together
    they are the Pareto frontier a vector-store operator tunes on
    (the knee where recall gains stop paying for scan growth).
    Cell sizes make the cost model exact for this index, not a
    uniform-cell approximation.

    Scale: the seed assignment is the same bounded cross join every
    IVF query uses (N_SEEDS rows broadcast); the curve aggregates
    |queries| x |grid| rows."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView(
        "embeddings"
    )
    return spark.sql(_probe_cost_sql("spark"))


_UPLIFT_DECILES = 5  # quintiles of the pre-period score


def _uplift_deciles_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    us = "unix_micros" if dialect == "spark" else "epoch_us"
    if dialect == "spark":
        h = (
            "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8),"
            " 16, 10) AS BIGINT)"
        )
    else:
        h = (
            "CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)"
            " AS BIGINT)"
        )
    return f"""
        WITH span AS (
            SELECT (MIN({us}(ts)) + MAX({us}(ts))) {div} 2 AS mid_us
            FROM events)
        , u AS (
            SELECT user_id, ({h}) % 2 AS arm,
                   CAST(SUM(CASE WHEN {us}(ts) < s.mid_us
                            THEN 1 ELSE 0 END) AS BIGINT) AS pre_n,
                   CAST(MAX(CASE WHEN {us}(ts) >= s.mid_us
                                 AND event_type = 'purchase'
                            THEN 1 ELSE 0 END) AS BIGINT) AS converted
            FROM events CROSS JOIN span s
            GROUP BY user_id, s.mid_us)
        , scored AS (
            SELECT *,
                   CAST(({_UPLIFT_DECILES} * (row_number() OVER (
                            ORDER BY pre_n DESC, user_id ASC) - 1))
                        {div} (COUNT(*) OVER ()) AS BIGINT) AS decile
            FROM u)
        SELECT decile,
               CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_treat,
               CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_control,
               CAST(SUM(CASE WHEN arm = 1 THEN converted ELSE 0 END)
                    AS BIGINT) AS conv_treat,
               CAST(SUM(CASE WHEN arm = 0 THEN converted ELSE 0 END)
                    AS BIGINT) AS conv_control,
               CAST((10000 * SUM(CASE WHEN arm = 1 THEN converted
                                 ELSE 0 END))
                    {div} NULLIF(SUM(CASE WHEN arm = 1 THEN 1
                                     ELSE 0 END), 0)
                    - (10000 * SUM(CASE WHEN arm = 0 THEN converted
                                   ELSE 0 END))
                      {div} NULLIF(SUM(CASE WHEN arm = 0 THEN 1
                                       ELSE 0 END), 0)
                    AS BIGINT) AS uplift_bp
        FROM scored GROUP BY decile
    """


@query("events_uplift_deciles", oracle=_uplift_deciles_sql("duck"))
def q_events_uplift_deciles(spark, sf_dir):
    """UPLIFT-BY-DECILE table (the Qini-curve input — the standard
    uplift-model evaluation artifact): users scored by pre-period
    activity, cut into {d} score quintiles, and per quintile the
    treated vs control POST-period purchase conversion with the
    uplift gap in bp — 'does the treatment move high-scored users
    more', the targeting question the flat A/B mean (#325) cannot
    answer. Completes the experimentation battery's heterogeneity
    axis beside the quantile effects (#394).

    Scale: one user aggregate; the quintile cut uses the
    #254 rank-window discipline over the user table (user-bounded).
    """.replace("{d}", str(_UPLIFT_DECILES))
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_uplift_deciles_sql("spark"))


# ---------------------------------------------------------------------------
# R14: partition-layout advisor, rebalance churn, KN counts, PPS sampling
# (SURVEY §2 #439-442)
# ---------------------------------------------------------------------------

_ADVISOR_BPR = 64  # assumed encoded bytes/row (documented planning constant)
_ADVISOR_TARGET_BYTES = 100 * 1024**4  # plan for a 100 TB corpus
_ADVISOR_FILE = 128 * 1024 * 1024  # target parquet file size
_ADVISOR_SMALL = 16 * 1024 * 1024  # "small file" threshold


def _partition_advisor_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    return f"""
        WITH keyed AS (
            SELECT event_type,
                   date_trunc('day', ts) AS d,
                   date_trunc('hour', ts) AS h,
                   user_id % 64 AS bkt
            FROM events)
        , parts AS (
            SELECT grouping(event_type) AS g_t, grouping(d) AS g_d,
                   grouping(h) AS g_h, grouping(bkt) AS g_b,
                   CAST(COUNT(*) AS BIGINT) AS nrows
            FROM keyed
            GROUP BY GROUPING SETS ((event_type), (d), (event_type, d),
                                    (h), (bkt)))
        , labeled AS (
            SELECT CASE WHEN g_t = 0 AND g_d = 0 THEN 'by_type_day'
                        WHEN g_t = 0 THEN 'by_type'
                        WHEN g_d = 0 THEN 'by_day'
                        WHEN g_h = 0 THEN 'by_hour'
                        ELSE 'by_user_bucket64' END AS scheme,
                   nrows
            FROM parts)
        , sized AS (
            SELECT scheme, nrows,
                   CAST(SUM(nrows) OVER (PARTITION BY scheme)
                        AS BIGINT) AS total
            FROM labeled)
        , projected AS (
            SELECT scheme, nrows, total,
                   nrows * ({_ADVISOR_TARGET_BYTES}
                            {div} (total * {_ADVISOR_BPR}))
                       * {_ADVISOR_BPR} AS proj_bytes
            FROM sized)
        , agg AS (
            SELECT scheme,
                   CAST(COUNT(*) AS BIGINT) AS n_partitions,
                   CAST((10000 * MAX(nrows)) {div} MAX(total)
                        AS BIGINT) AS max_share_bp,
                   CAST((100 * MAX(nrows) * COUNT(*)) {div} MAX(total)
                        AS BIGINT) AS skew_centi,
                   CAST(MAX(proj_bytes) {div} 1073741824
                        AS BIGINT) AS max_part_gib_proj,
                   CAST(SUM((proj_bytes + {_ADVISOR_FILE - 1})
                            {div} {_ADVISOR_FILE}) AS BIGINT)
                       AS est_files_proj,
                   CAST(SUM(CASE WHEN proj_bytes < {_ADVISOR_SMALL}
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS small_parts_proj
            FROM projected GROUP BY scheme)
        SELECT scheme, n_partitions, max_share_bp, skew_centi,
               max_part_gib_proj, est_files_proj, small_parts_proj,
               CASE WHEN n_partitions < 8 THEN 'too_few_partitions'
                    WHEN max_share_bp > 2500 THEN 'skewed'
                    WHEN 100 * small_parts_proj > 50 * n_partitions
                        THEN 'small_files'
                    ELSE 'ok' END AS verdict
        FROM agg
    """


@query("layout_partition_advisor", oracle=_partition_advisor_sql("duck"))
def q_layout_partition_advisor(spark, sf_dir):
    """PARTITION-LAYOUT ADVISOR: five candidate partition schemes for
    the events table (type / day / type x day / hour / 64 user-hash
    buckets) scored in ONE scan via GROUPING SETS — partition count,
    max-partition share (bp), skew ratio vs the uniform mean (centi),
    then each scheme PROJECTED to a 100 TB corpus (observed row
    distribution scaled to the planning target at 64 B/row): max
    partition GiB, parquet file count at 128 MiB targets, small-file
    partitions, and a verdict (too_few_partitions / skewed /
    small_files / ok). The layout decision every 100 TB deployment
    makes BEFORE the first write — complements the after-the-fact
    zone-map compares (#287/#305) and the compaction planner (#204).

    Scale: GROUPING SETS expands once map-side (one Expand + one
    hash aggregate, no re-scan per scheme); everything downstream is
    |partitions|-bounded (< 1k rows). Shares/skew are scale-free;
    projection is exact integer arithmetic."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_partition_advisor_sql("spark"))


_REBAL_PARTS = 256  # topic partitions (user-hash buckets)
_REBAL_N1 = 8  # consumers before scale-out
_REBAL_N2 = 9  # consumers after adding one


def _rebalance_churn_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    if dialect == "spark":

        def h(expr):
            return (
                f"CAST(conv(substring(md5({expr}), 1, 8), 16, 10) AS BIGINT)"
            )

        s = "STRING"
    else:

        def h(expr):
            return f"CAST('0x' || substr(md5({expr}), 1, 8) AS BIGINT)"

        s = "VARCHAR"
    grid = ", ".join(f"({c})" for c in range(_REBAL_N2))
    score = h(f"CAST(p.part AS {s}) || '#' || CAST(g.cid AS {s})")
    # pr is referenced by scores (x2 via rdv1/rdv2) and joined — the
    # Spark side materializes the 256-row table (localCheckpoint view,
    # observed 6 parquet scans inlined); DuckDB computes it inline.
    pr_body = (
        "SELECT part, nrows FROM rebal_pr"
        if dialect == "spark"
        else f"""SELECT {h(f'CAST(user_id AS {s})')} % {_REBAL_PARTS}
                     AS part,
                   CAST(COUNT(*) AS BIGINT) AS nrows
            FROM events GROUP BY 1"""
    )
    return f"""
        WITH pr AS ({pr_body})
        , scores AS (
            SELECT p.part, p.nrows, g.cid, {score} AS sc
            FROM pr p CROSS JOIN (VALUES {grid}) AS g(cid))
        , rdv1 AS (
            SELECT part, cid AS c1 FROM (
                SELECT part, cid, row_number() OVER (
                    PARTITION BY part ORDER BY sc DESC, cid ASC) AS rn
                FROM scores WHERE cid < {_REBAL_N1})
            WHERE rn = 1)
        , rdv2 AS (
            SELECT part, cid AS c2 FROM (
                SELECT part, cid, row_number() OVER (
                    PARTITION BY part ORDER BY sc DESC, cid ASC) AS rn
                FROM scores)
            WHERE rn = 1)
        , joined AS (
            SELECT p.part, p.nrows,
                   CASE WHEN p.part % {_REBAL_N1} <> p.part % {_REBAL_N2}
                        THEN 1 ELSE 0 END AS mod_moved,
                   CASE WHEN r1.c1 <> r2.c2 THEN 1 ELSE 0 END AS rdv_moved
            FROM pr p
            JOIN rdv1 r1 ON r1.part = p.part
            JOIN rdv2 r2 ON r2.part = p.part)
        SELECT strategy, n_partitions, moved_partitions,
               CAST((10000 * moved_partitions) {div} n_partitions
                    AS BIGINT) AS churn_bp,
               moved_rows,
               CAST((10000 * moved_rows) {div} total_rows
                    AS BIGINT) AS moved_rows_bp
        FROM (
            SELECT 'modulo' AS strategy,
                   CAST(COUNT(*) AS BIGINT) AS n_partitions,
                   CAST(SUM(mod_moved) AS BIGINT) AS moved_partitions,
                   CAST(SUM(mod_moved * nrows) AS BIGINT) AS moved_rows,
                   CAST(SUM(nrows) AS BIGINT) AS total_rows
            FROM joined
            UNION ALL
            SELECT 'rendezvous' AS strategy,
                   CAST(COUNT(*) AS BIGINT) AS n_partitions,
                   CAST(SUM(rdv_moved) AS BIGINT) AS moved_partitions,
                   CAST(SUM(rdv_moved * nrows) AS BIGINT) AS moved_rows,
                   CAST(SUM(nrows) AS BIGINT) AS total_rows
            FROM joined) u
    """


@query("cdc_rebalance_churn", oracle=_rebalance_churn_sql("duck"))
def q_cdc_rebalance_churn(spark, sf_dir):
    """CONSUMER-REBALANCE CHURN audit: {p} user-hash topic partitions
    assigned to {n1} consumers, then {n2} (one added) — under (a)
    MODULO assignment (part % N: nearly every partition moves when N
    changes) vs (b) RENDEZVOUS / highest-random-weight hashing
    (argmax md5(part#consumer): only ~1/(N+1) move, the consistent-
    hashing guarantee). Emits per strategy the partitions and ROWS
    that would migrate (state re-shuffle cost during a CDC consumer
    scale-out) — the quantified case for HRW assignment in the
    consumer-group planner (#353).

    Scale: one user aggregate -> {p}-row partition table; the score
    grid is {p} x {n2} rows (broadcast VALUES). Everything after the
    first aggregate is constant-bounded.""".format(
        p=_REBAL_PARTS, n1=_REBAL_N1, n2=_REBAL_N2
    )
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    h = (
        "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8),"
        " 16, 10) AS BIGINT)"
    )
    spark.sql(
        f"SELECT ({h}) % {_REBAL_PARTS} AS part, "
        "CAST(COUNT(*) AS BIGINT) AS nrows FROM events GROUP BY 1"
    ).localCheckpoint().createOrReplaceTempView("rebal_pr")
    return spark.sql(_rebalance_churn_sql("spark"))


_KN_MIN_COUNT = 5  # emit words with >= 5 unigram occurrences


def _kn_counts_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    if dialect == "spark":
        toks = "split(text, ' ')"
        bg = (
            "explode(transform(sequence(1, size(t) - 1), "
            "i -> concat(element_at(t, i), ' ', element_at(t, i + 1))))"
        )
        uni = "explode(t)"
        sz = "size(t)"
    else:
        toks = "string_split(text, ' ')"
        bg = (
            "unnest(list_transform(range(1, len(t)), "
            "i -> array_to_string(t[i:i+1], ' ')))"
        )
        uni = "unnest(t)"
        sz = "len(t)"
    return f"""
        WITH toks AS (SELECT doc_id, {toks} AS t FROM documents)
        , bg AS (
            SELECT split_part(bigram, ' ', 1) AS w1,
                   split_part(bigram, ' ', 2) AS w2
            FROM (SELECT {bg} AS bigram FROM toks WHERE {sz} >= 2))
        , bgc AS (
            SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c
            FROM bg GROUP BY w1, w2)
        , cont_left AS (
            SELECT w2 AS w, CAST(COUNT(*) AS BIGINT) AS n1p_left
            FROM bgc GROUP BY w2)
        , cont_right AS (
            SELECT w1 AS w, CAST(COUNT(*) AS BIGINT) AS n1p_right
            FROM bgc GROUP BY w1)
        , tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_types FROM bgc)
        , disc AS (
            SELECT CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n1,
                   CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n2
            FROM bgc)
        , uni AS (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS c_w
            FROM (SELECT {uni} AS w FROM toks) u GROUP BY w)
        SELECT u.w AS word, u.c_w AS unigram_count,
               COALESCE(l.n1p_left, 0) AS n1p_left,
               COALESCE(r.n1p_right, 0) AS n1p_right,
               CAST((10000 * COALESCE(l.n1p_left, 0)) {div} t.n_types
                    AS BIGINT) AS pkn_bp,
               CAST(COALESCE((1000000 * d.n1)
                             {div} NULLIF(d.n1 + 2 * d.n2, 0), 0)
                    AS BIGINT) AS discount_e6
        FROM uni u
        LEFT JOIN cont_left l ON l.w = u.w
        LEFT JOIN cont_right r ON r.w = u.w
        CROSS JOIN tot t CROSS JOIN disc d
        WHERE u.c_w >= {_KN_MIN_COUNT}
    """


@query("text_kn_continuation_counts", oracle=_kn_counts_sql("duck"))
def q_text_kn_continuation_counts(spark, sf_dir):
    """KNESER-NEY language-model COUNT TABLES over the corpus: per
    word (unigram count >= {m}) the left-continuation count N1+(.w)
    (distinct left contexts — the KN insight: 'Francisco' is
    frequent but follows only 'San', so its continuation probability
    must be LOW), the right diversity N1+(w.), the KN unigram
    probability P_cont(w) = N1+(.w)/|bigram types| in bp, and the
    global absolute discount D = n1/(n1+2 n2) (Ney-Essen-Kneser
    estimate from singleton/doubleton bigram-type counts) in e6 —
    the exact sufficient statistics an interpolated-KN n-gram LM
    trainer consumes. Beside the familiarity scorers (#112/#167)
    and Good-Turing (#314), this is the smoothing-side count battery.

    Scale: one bigram explode -> hash aggregate (map-side combine);
    continuation tables are vocabulary-bounded; tot/disc are scalar
    broadcasts.""".replace("{m}", str(_KN_MIN_COUNT))
    ensure_utc(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(_kn_counts_sql("spark"))


_PPS_TARGET = 16  # systematic sample ticks per source


def _pps_systematic_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    s = "STRING" if dialect == "spark" else "VARCHAR"
    return f"""
        WITH d AS (
            SELECT source, doc_id, n_chars,
                   md5(CAST(doc_id AS {s})) AS ord_key
            FROM documents)
        , c AS (
            SELECT source, doc_id, n_chars, ord_key,
                   CAST(SUM(n_chars) OVER (
                        PARTITION BY source ORDER BY ord_key ASC
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
            FROM d)
        , iv AS (
            SELECT source, CAST(SUM(n_chars) AS BIGINT) AS total,
                   GREATEST(CAST(SUM(n_chars) AS BIGINT)
                            {div} {_PPS_TARGET}, 1) AS ival
            FROM d GROUP BY source)
        SELECT c.source, c.doc_id,
               CAST(c.n_chars AS BIGINT) AS n_chars,
               c.cum AS cum_chars,
               CAST(c.cum {div} i.ival AS BIGINT) AS tick
        FROM c JOIN iv i ON i.source = c.source
        WHERE (c.cum {div} i.ival)
              > ((c.cum - c.n_chars) {div} i.ival)
    """


@query("sample_pps_systematic", oracle=_pps_systematic_sql("duck"))
def q_sample_pps_systematic(spark, sf_dir):
    """SYSTEMATIC PPS (probability-proportional-to-size) sampling per
    source: docs laid on a per-source line in deterministic md5(id)
    order, cumulative character mass, and a doc is selected iff its
    mass interval crosses a multiple of the skip interval
    I = total_chars/{k} — each source yields <= {k} docs chosen with
    probability proportional to SIZE (big docs near-certain, small
    ones I-proportional), the classic survey-sampling design (Madow
    1949) the token-budget samplers (#119 DSIR, #151 UniMax, #344/
    #409 allocations) sit beside: this one needs NO per-doc weights,
    only the order and the running total. Emits the selected docs
    with their cumulative position and tick index.

    Scale: one per-source window (partition-bounded cumulative sum,
    no global sort) + a |sources|-row broadcast join.""".replace(
        "{k}", str(_PPS_TARGET)
    )
    ensure_utc(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(_pps_systematic_sql("spark"))


# ---------------------------------------------------------------------------
# R14: PITR/RTO curve, kNN confusion matrix, props co-occurrence,
# winsorized means (SURVEY §2 #443-446)
# ---------------------------------------------------------------------------

_PITR_INTERVALS = (256, 1024, 4096, 16384)  # checkpoint every C seq
_PITR_OCTILES = 8  # restore-point grid over the log span


def _pitr_rto_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    cgrid = ", ".join(f"({c})" for c in _PITR_INTERVALS)
    rgrid = ", ".join(f"({r})" for r in range(1, _PITR_OCTILES + 1))
    # Spark re-inlines every CTE reference: the maxseq scalar feeds
    # pts -> evalpts -> f and would re-scan the log per reference
    # (observed: 7 parquet scans). The Spark side materializes it as
    # the pitr_m view (localCheckpoint, the composition rule); DuckDB
    # computes it inline (cheap there).
    m_body = (
        "SELECT maxseq FROM pitr_m"
        if dialect == "spark"
        else "SELECT CAST(MAX(seq) AS BIGINT) AS maxseq FROM log"
    )
    return _with_log(
        f"""
        , m AS ({m_body})
        , pts AS (
            SELECT g.c, r.r,
                   (r.r * m.maxseq) {div} {_PITR_OCTILES} AS t,
                   (((r.r * m.maxseq) {div} {_PITR_OCTILES})
                    {div} g.c) * g.c AS cp,
                   m.maxseq
            FROM (VALUES {cgrid}) AS g(c)
            CROSS JOIN (VALUES {rgrid}) AS r(r)
            CROSS JOIN m)
        , evalpts AS (
            SELECT DISTINCT p FROM (
                SELECT t AS p FROM pts
                UNION ALL SELECT cp AS p FROM pts) u)
        , f AS (
            SELECT e.p, CAST(COUNT(*) AS BIGINT) AS n_le
            FROM log l CROSS JOIN evalpts e
            WHERE l.seq <= e.p GROUP BY e.p)
        , roles AS (
            SELECT c, r, t, cp, maxseq, t AS p, 1 AS is_t FROM pts
            UNION ALL
            SELECT c, r, t, cp, maxseq, cp AS p, 0 AS is_t FROM pts)
        SELECT ro.c AS ckpt_interval, CAST(ro.r AS BIGINT) AS octile,
               ro.t AS restore_seq, ro.cp AS checkpoint_seq,
               CAST(MAX(CASE WHEN ro.is_t = 1
                             THEN COALESCE(f.n_le, 0) END)
                    - MAX(CASE WHEN ro.is_t = 0
                               THEN COALESCE(f.n_le, 0) END)
                    AS BIGINT) AS replay_ops,
               CAST(ro.maxseq {div} ro.c + 1 AS BIGINT)
                   AS n_checkpoints
        FROM roles ro LEFT JOIN f ON f.p = ro.p
        GROUP BY ro.c, ro.r, ro.t, ro.cp, ro.maxseq
        """
    )


@query("cdc_pitr_rto_curve", oracle=_pitr_rto_sql("duck"))
def q_cdc_pitr_rto_curve(spark, sf_dir):
    """POINT-IN-TIME-RESTORE provisioning curve: for each checkpoint
    interval C in {ivals} (state snapshots at seq multiples of C)
    and each of {o} restore points spanning the log, the ops that
    must replay from the nearest checkpoint at-or-below the target —
    the RTO side — against the checkpoint count the interval costs —
    the storage side. The knee of this curve is how a CDC platform
    picks its snapshot cadence; complements the incremental
    snapshots (#163/#229), backfill planner (#385) and state
    checksums (#188).

    Scale: ONE log scan (plus the checkpointed 1-row maxseq scalar)
    against a broadcast <=40-point grid with a map-side-combined
    count per point (the cumulative F(p) trick: replay =
    F(t) - F(checkpoint), so no per-(C,t) rescan); output is
    |C| x |octiles| = {n} rows; plan pinned in
    tests/test_round15.py.""".format(
        ivals=list(_PITR_INTERVALS),
        o=_PITR_OCTILES,
        n=len(_PITR_INTERVALS) * _PITR_OCTILES,
    )
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    spark.sql(
        _with_log("SELECT CAST(MAX(seq) AS BIGINT) AS maxseq FROM log")
    ).localCheckpoint().createOrReplaceTempView("pitr_m")
    return spark.sql(_pitr_rto_sql("spark"))


def _knn_confusion_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    mat = "MATERIALIZED " if dialect != "spark" else ""
    return f"""
        WITH knn AS {mat}({_sim.graph_edges_sql(dialect)})
        , g AS (
            SELECT vec_id AS query_id, neighbor_id FROM knn)
        , votes AS (
            SELECT g.query_id, e.label AS vote
            FROM g JOIN embeddings e ON e.vec_id = g.neighbor_id)
        , tally AS (
            SELECT query_id, vote, CAST(COUNT(*) AS BIGINT) AS c
            FROM votes GROUP BY query_id, vote)
        , win AS (
            SELECT query_id, vote FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY c DESC, vote ASC) AS rn
                FROM tally) r WHERE rn = 1)
        , cm AS (
            SELECT e.label AS true_label, w.vote AS voted_label,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM win w JOIN embeddings e ON e.vec_id = w.query_id
            GROUP BY e.label, w.vote)
        SELECT true_label, voted_label, n,
               CAST((10000 * n) {div} CAST(SUM(n) OVER (
                    PARTITION BY true_label) AS BIGINT)
                    AS BIGINT) AS row_share_bp
        FROM cm
    """


@query("ann_knn_confusion", oracle=_knn_confusion_sql("duck"))
def q_ann_knn_confusion(spark, sf_dir):
    """KNN-vote CONFUSION MATRIX over the embedding space: true
    label x majority-voted label with counts and row shares (bp of
    each true class) — WHERE the classifier errs, the axis the
    per-class accuracy rollup (#238) collapses: two classes that
    only confuse EACH OTHER (adjacent clusters) read very
    differently from one class bleeding into all. The pairwise
    complement of label compactness (#259) and clustering ARI
    (#382).

    Scale: votes come from the cell-bounded KNN graph (#109, never
    corpus^2); tally/argmax are query x label bounded; the matrix is
    |labels|^2 rows and its share window runs on that bounded
    table."""
    from pyspark.sql import Window

    g = _graph_edges_map(spark, sf_dir).select(
        F.col("vec_id").alias("query_id"), "neighbor_id"
    )
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    votes = g.join(
        emb.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id"
    ).select("query_id", F.col("label").alias("vote"))
    tally = votes.groupBy("query_id", "vote").agg(
        F.count(F.lit(1)).alias("c")
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("c").desc(), F.col("vote").asc()
    )
    win = (
        tally.withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") == 1)
        .select("query_id", "vote")
    )
    cm = (
        win.join(emb.withColumnRenamed("vec_id", "query_id"), "query_id")
        .groupBy(
            F.col("label").alias("true_label"),
            F.col("vote").alias("voted_label"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wt = Window.partitionBy("true_label")
    return cm.select(
        "true_label",
        "voted_label",
        "n",
        ((10000 * F.col("n")) / F.sum("n").over(wt))
        .cast("long")
        .alias("row_share_bp"),
    )


_WINSOR_PCT = 95  # clamp above the exact p95


def _winsorized_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    # posrem floor form: sums of cents can be negative
    def fdiv(a: str, b: str) -> str:
        return f"(({a} - ((({a}) % ({b}) + ({b})) % ({b}))) {div} ({b}))"

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
                   ((v.c - m.lo) * 32) {div} (m.hi - m.lo + 1) AS band
            FROM v JOIN mm m ON m.event_type = v.event_type)
        , bsum AS (
            SELECT event_type, band, CAST(COUNT(*) AS BIGINT) AS bn
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
        , targets AS (
            SELECT event_type,
                   CAST(({_WINSOR_PCT} * n + 99) {div} 100 AS BIGINT)
                       AS target_rank
            FROM mm)
        , crossing AS (
            SELECT t.event_type, t.target_rank,
                   CAST(MIN(p.band) AS BIGINT) AS band
            FROM targets t
            JOIN bpre p ON p.event_type = t.event_type
                       AND p.cbn >= t.target_rank
            GROUP BY t.event_type, t.target_rank)
        , ranked AS (
            SELECT event_type, band, c,
                   row_number() OVER (
                       PARTITION BY event_type, band
                       ORDER BY c ASC) AS wr
            FROM banded)
        , cuts AS (
            SELECT x.event_type, CAST(MIN(r.c) AS BIGINT) AS cut
            FROM crossing x
            JOIN bpre p ON p.event_type = x.event_type
                       AND p.band = x.band
            JOIN ranked r ON r.event_type = x.event_type
                         AND r.band = x.band
                         AND r.wr = x.target_rank - p.prefix
            GROUP BY x.event_type)
        , agg AS (
            SELECT v.event_type, k.cut,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(v.c) AS BIGINT) AS s_raw,
                   CAST(SUM(LEAST(v.c, k.cut)) AS BIGINT) AS s_win,
                   CAST(SUM(CASE WHEN v.c <= k.cut THEN v.c
                            ELSE 0 END) AS BIGINT) AS s_trim,
                   CAST(SUM(CASE WHEN v.c <= k.cut THEN 1
                            ELSE 0 END) AS BIGINT) AS n_trim,
                   CAST(SUM(CASE WHEN v.c > k.cut THEN 1
                            ELSE 0 END) AS BIGINT) AS n_clamped
            FROM v JOIN cuts k ON k.event_type = v.event_type
            GROUP BY v.event_type, k.cut)
        SELECT event_type, n, cut AS p{_WINSOR_PCT}_cents, n_clamped,
               CAST({fdiv('s_raw', 'n')} AS BIGINT) AS mean_cents,
               CAST({fdiv('s_win', 'n')} AS BIGINT)
                   AS winsorized_mean_cents,
               CAST({fdiv('s_trim', 'n_trim')} AS BIGINT)
                   AS trimmed_mean_cents
        FROM agg
    """


@query("events_winsorized_means", oracle=_winsorized_sql("duck"))
def q_events_winsorized_means(spark, sf_dir):
    """ROBUST metric estimators per event type: the exact p{p} cut
    (band-prefix machinery of #377 — no per-group sort, no single
    hot reducer), then the raw, WINSORIZED (values clamped at the
    cut) and TRIMMED (values above the cut dropped) means in integer
    cents with posrem floor division (cent sums can be negative).
    Winsorization is the standard heavy-tail guard for value metrics
    in experimentation pipelines — one whale user no longer owns the
    mean; read beside the arm moments (#325) and quantile effects
    (#394), which tell you WHERE the tail is but not what the robust
    point estimate becomes.

    Scale: two grouped scans (cut derivation + clamped sums) and
    group x band-bounded windows; everything else is
    |types|-bounded.""".replace("{p}", str(_WINSOR_PCT))
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_winsorized_sql("spark"))


def _rf_prio_assoc_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    wide = "DECIMAL(38,0)" if dialect == "spark" else "HUGEINT"
    return f"""
        WITH cells AS (
            SELECT l.l_returnflag AS returnflag,
                   o.o_orderpriority AS priority,
                   CAST(COUNT(*) AS BIGINT) AS observed
            FROM lineitem l JOIN orders o
              ON o.o_orderkey = l.l_orderkey
            GROUP BY l.l_returnflag, o.o_orderpriority)
        , rt AS (
            SELECT returnflag, CAST(SUM(observed) AS BIGINT) AS r
            FROM cells GROUP BY returnflag)
        , ct AS (
            SELECT priority, CAST(SUM(observed) AS BIGINT) AS c
            FROM cells GROUP BY priority)
        , tot AS (SELECT CAST(SUM(observed) AS BIGINT) AS n FROM cells)
        SELECT x.returnflag, x.priority, x.observed,
               CAST((10000 * r.r * c.c) {div} t.n AS BIGINT)
                   AS expected_e4,
               CAST(CASE WHEN x.observed * t.n > r.r * c.c THEN 1
                         WHEN x.observed * t.n < r.r * c.c THEN -1
                         ELSE 0 END AS BIGINT) AS resid_sign,
               CAST((1000000
                     * CAST(x.observed * t.n - r.r * c.c AS {wide})
                     * CAST(x.observed * t.n - r.r * c.c AS {wide}))
                    {div} (CAST(t.n AS {wide}) * CAST(t.n AS {wide})
                           * CAST(r.r AS {wide}) * CAST(c.c AS {wide}))
                    AS BIGINT) AS chi2_contrib_e6
        FROM cells x
        JOIN rt r ON r.returnflag = x.returnflag
        JOIN ct c ON c.priority = x.priority
        CROSS JOIN tot t
    """


@query(
    "lineitem_returnflag_priority_assoc",
    oracle=_rf_prio_assoc_sql("duck"),
)
def q_lineitem_returnflag_priority_assoc(spark, sf_dir):
    """CATEGORICAL-ASSOCIATION audit (contingency-table chi-square,
    cell grain): does return behavior (l_returnflag) associate with
    order priority? Per cell: observed count, expected-under-
    independence (e4), the residual SIGN, and the exact per-cell
    chi-square contribution (O/n - E/n)^2/(E/n) x 1e6, floor-exact
    in 38-digit internal arithmetic (numerators up to (O*n - R*C)^2
    — rescale counts before squaring if n ever exceeds ~1e9 rows at
    full deployment scale). The chi-square statistic is the sum of
    the emitted contributions (a floor-sum, deterministic on both
    engines); Cramer's V^2 = chi2/(n*(min(r,c)-1)) is one
    driver-side formula. The categorical sibling of the numeric
    drift tests (#281 chi2-vs-history, #380 KS) — this one measures
    association between two LIVE dimensions, not drift over time.

    Scale: one join-aggregate to a |flags| x |priorities| cell
    table (15 cells); marginals and totals are cell-bounded."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem"
    )
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_rf_prio_assoc_sql("spark"))


# ---------------------------------------------------------------------------
# R14: SLA compliance, stream capacity plan, Mann-Whitney U
# (SURVEY §2 #447-449)
# ---------------------------------------------------------------------------

_SLA_TABLE = (
    ("1-URGENT", 30),
    ("2-HIGH", 45),
    ("3-MEDIUM", 60),
    ("4-NOT SPECIFIED", 75),
    ("5-LOW", 90),
)


def _sla_compliance_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    us = "unix_micros" if dialect == "spark" else "epoch_us"
    grid = ", ".join(f"('{p}', {d})" for p, d in _SLA_TABLE)
    return f"""
        WITH lagd AS (
            SELECT o.o_orderkey, o.o_orderpriority AS priority,
                   ({us}(MAX(l.l_shipdate)) - {us}(MIN(o.o_orderdate)))
                       {div} 86400000000 AS lag_days
            FROM orders o JOIN lineitem l
              ON l.l_orderkey = o.o_orderkey
            GROUP BY o.o_orderkey, o.o_orderpriority)
        SELECT g.priority, CAST(g.sla_days AS BIGINT) AS sla_days,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CASE WHEN d.lag_days <= g.sla_days
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_met,
               CAST((10000 * SUM(CASE WHEN d.lag_days <= g.sla_days
                                 THEN 1 ELSE 0 END)) {div} COUNT(*)
                    AS BIGINT) AS met_bp,
               CAST((100 * SUM(d.lag_days)) {div} COUNT(*)
                    AS BIGINT) AS mean_lag_days_centi,
               CAST(MAX(d.lag_days) AS BIGINT) AS worst_lag_days
        FROM lagd d
        JOIN (VALUES {grid}) AS g(priority, sla_days)
          ON g.priority = d.priority
        GROUP BY g.priority, g.sla_days
    """


@query("orders_sla_compliance", oracle=_sla_compliance_sql("duck"))
def q_orders_sla_compliance(spark, sf_dir):
    """FULFILLMENT-SLA compliance by order priority: each order's
    completion lag (orderdate -> LAST line shipped, the same
    critical-path gate as #427) scored against a priority-graded SLA
    ladder (urgent 30d ... low 90d, a broadcast VALUES policy
    table); per priority the met share (bp), mean lag (centi-days)
    and worst case. The operational-compliance view beside the
    backlog aging (#175) and bottleneck attribution (#427) — 'is
    URGENT actually faster', answered exactly.

    Scale: one order-keyed join-aggregate (the per-order max-ship
    reduction), then a |priorities|-bounded rollup against the
    broadcast policy grid."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem"
    )
    return spark.sql(_sla_compliance_sql("spark"))


_CAP_TARGET_EPS = 100000  # projected aggregate events/s at deployment
_CAP_PER_CONSUMER = 5000  # events/s one consumer sustains
_CAP_HEADROOM_BP = 7000  # plan consumers at <= 70% utilization
_CAP_OUTAGE_S = 3600  # provisioning scenario: 1 h consumer outage


def _capacity_plan_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    cap7 = _CAP_PER_CONSUMER * _CAP_HEADROOM_BP  # rate*1e4 per consumer
    return f"""
        WITH counts AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY event_type)
        , tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM counts)
        , proj AS (
            SELECT c.event_type, c.n,
                   CAST((10000 * c.n) {div} t.t AS BIGINT) AS share_bp,
                   CAST(({_CAP_TARGET_EPS} * c.n) {div} t.t
                        AS BIGINT) AS proj_eps
            FROM counts c CROSS JOIN tot t)
        , planned AS (
            SELECT event_type, n, share_bp, proj_eps,
                   GREATEST((10000 * proj_eps + {cap7 - 1})
                            {div} {cap7}, 1) AS n_consumers
            FROM proj)
        SELECT event_type, n AS observed_events, share_bp, proj_eps,
               CAST(n_consumers AS BIGINT) AS n_consumers,
               CAST((10000 * proj_eps)
                    {div} (n_consumers * {_CAP_PER_CONSUMER})
                    AS BIGINT) AS util_bp,
               CAST(COALESCE(
                    (proj_eps * {_CAP_OUTAGE_S})
                    {div} NULLIF(60 * (n_consumers * {_CAP_PER_CONSUMER}
                                       - proj_eps), 0),
                    -1) AS BIGINT) AS drain_minutes
        FROM planned
    """


@query("ops_stream_capacity_plan", oracle=_capacity_plan_sql("duck"))
def q_ops_stream_capacity_plan(spark, sf_dir):
    """CONSUMER-CAPACITY plan per event stream: observed stream
    shares projected to a {t} ev/s deployment, consumers required at
    {c} ev/s each under a {h} bp utilization ceiling (ceil division,
    floor 1), the resulting utilization, and the DRAIN TIME after a
    {o} s outage (backlog / spare capacity — Little's-law recovery
    math, the queueing lens of #413 turned into provisioning). The
    consumer-side sibling of the storage sizing plan (#321), feeding
    the assignment (#353) and rebalance-churn (#440) operators.

    Scale: one type-keyed aggregate; the plan is |types|-bounded
    exact integer arithmetic (share x target, never floats).
    """.format(
        t=_CAP_TARGET_EPS,
        c=_CAP_PER_CONSUMER,
        h=_CAP_HEADROOM_BP,
        o=_CAP_OUTAGE_S,
    )
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_capacity_plan_sql("spark"))


def _mann_whitney_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    if dialect == "spark":
        h = (
            "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8),"
            " 16, 10) AS BIGINT)"
        )
    else:
        h = (
            "CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)"
            " AS BIGINT)"
        )
    return f"""
        WITH u AS (
            SELECT user_id, ({h}) % 2 AS arm,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT))
                        AS BIGINT) AS v
            FROM events GROUP BY user_id)
        , dv AS (
            SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt,
                   CAST(SUM(arm) AS BIGINT) AS c1
            FROM u GROUP BY v)
        , pre AS (
            SELECT v, cnt, c1,
                   CAST(COALESCE(SUM(cnt) OVER (
                        ORDER BY v ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS BIGINT) AS prefix
            FROM dv)
        , sums AS (
            SELECT CAST(SUM(c1) AS BIGINT) AS n1,
                   CAST(SUM(cnt - c1) AS BIGINT) AS n2,
                   CAST(SUM(c1 * (2 * prefix + cnt + 1)) AS BIGINT)
                       AS r1_x2,
                   CAST(SUM((cnt - c1) * (2 * prefix + cnt + 1))
                        AS BIGINT) AS r2_x2
            FROM pre)
        SELECT n1, n2, r1_x2,
               CAST(r1_x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
               CAST(r2_x2 - n2 * (n2 + 1) AS BIGINT) AS u2_x2,
               CAST((10000 * (r1_x2 - n1 * (n1 + 1)))
                    {div} (2 * n1 * n2) AS BIGINT) AS cles_bp
        FROM sums
    """


@query("events_mann_whitney_u", oracle=_mann_whitney_sql("duck"))
def q_events_mann_whitney_u(spark, sf_dir):
    """MANN-WHITNEY U (Wilcoxon rank-sum) between the two hash
    arms on per-user value totals — the NONPARAMETRIC arm
    comparison that survives the heavy tails the moments (#325)
    and even winsorization (#445) struggle with. Tie-corrected
    midranks kept EXACT by 2x integer scaling (avg rank x2 =
    2*prefix + cnt + 1 over the distinct-value table — no
    row-level rank window, the #233 Gini discipline), U from the
    rank-sum identity, and the common-language effect size
    U1/(n1*n2) in bp — which IS the ROC-AUC of 'arm predicts
    higher value'. The z-score is one driver-side formula from
    the emitted integers.

    Scale: user aggregate -> distinct-value aggregate; the only
    window runs over |distinct totals| (user-bounded, same as
    #233); everything else is scalar."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_mann_whitney_sql("spark"))


# ---------------------------------------------------------------------------
# R14: zlib compression-ratio gate, hash uniformity audit, dedup state
# sizing (SURVEY §2 #450-452)
# ---------------------------------------------------------------------------


@query("text_compression_ratio")
def q_text_compression_ratio(spark, sf_dir):
    """REAL zlib COMPRESSION-RATIO quality signal per doc — the
    classic redundancy gate (highly compressible text is
    boilerplate/templating/repetition; nearly incompressible text is
    often encoded garbage): raw bytes, DEFLATE-compressed bytes
    (stdlib zlib level 6, the same real codec the PNG round trip
    #415 drives) and the ratio in bp, through ONE Arrow-batched
    mapInPandas stage with an explicit schema (the multimodal.py
    boundary discipline). Rows-only at the driver gate by design —
    no SQL engine exposes DEFLATE — with a pytest law pinning every
    row EXACTLY equal to an independent Python zlib pass, so the
    check is no weaker than an oracle, just differently hosted.
    Reads beside the repetition battery (#84/#223): those count
    structures, this one prices them in bytes.

    Scale: embarrassingly parallel per partition; Arrow batches
    stream, nothing collects; output is doc-bounded."""
    import pandas as pd  # noqa: F401

    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )

    def _compress(batches):
        import zlib

        import pandas as pd

        for pdf in batches:
            raw = pdf["text"].str.encode("utf-8")
            comp = raw.map(lambda b: len(zlib.compress(b, 6)))
            rl = raw.map(len)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "source": pdf["source"],
                    "raw_bytes": rl.astype("int64"),
                    "compressed_bytes": comp.astype("int64"),
                    "ratio_bp": (10000 * comp // rl).astype("int64"),
                }
            )

    return docs.mapInPandas(
        _compress,
        schema=(
            "doc_id long, source string, raw_bytes long, "
            "compressed_bytes long, ratio_bp long"
        ),
    )


_HASH_BUCKET_GRID = (64, 256, 1024)


def _hash_uniformity_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    wide = "DECIMAL(38,0)" if dialect == "spark" else "HUGEINT"
    if dialect == "spark":
        h = (
            "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8),"
            " 16, 10) AS BIGINT)"
        )
    else:
        h = (
            "CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)"
            " AS BIGINT)"
        )
    grid = ", ".join(f"({b})" for b in _HASH_BUCKET_GRID)
    return f"""
        WITH ids AS (SELECT DISTINCT user_id FROM events)
        , bucketed AS (
            SELECT g.b, ({h}) % g.b AS bkt
            FROM ids CROSS JOIN (VALUES {grid}) AS g(b))
        , counts AS (
            SELECT b, bkt, CAST(COUNT(*) AS BIGINT) AS c
            FROM bucketed GROUP BY b, bkt)
        SELECT b AS n_buckets,
               CAST(SUM(c) AS BIGINT) AS n_keys,
               CAST(COUNT(*) AS BIGINT) AS buckets_hit,
               CAST(MAX(c) AS BIGINT) AS max_count,
               CAST(MIN(c) AS BIGINT) AS min_count,
               CAST((10000 * (b * MAX(c) - SUM(c)))
                    {div} SUM(c) AS BIGINT) AS max_dev_bp,
               CAST((1000000 * (CAST(b AS {wide})
                                * CAST(SUM(c * c) AS {wide})
                                - CAST(SUM(c) AS {wide})
                                  * CAST(SUM(c) AS {wide})))
                    {div} CAST(SUM(c) AS {wide}) AS BIGINT)
                   AS chi2_e6
        FROM counts GROUP BY b
    """


@query("dq_hash_uniformity", oracle=_hash_uniformity_sql("duck"))
def q_dq_hash_uniformity(spark, sf_dir):
    """HASH-UNIFORMITY audit of the repo's own bucketing primitive
    (md5 -> first-8-hex -> int, the hash behind arm assignment
    #325, salting #38/#136, rebalance partitions #440, split
    assignment #236): distinct keys bucketed at {g} buckets; per
    grid size the max/min occupancy, max deviation from the uniform
    mean (bp) and the exact chi-square statistic vs uniform
    (identity chi2 = (B*Sum(c^2) - n^2)/n, e6, 38-digit internal) —
    df = B-1 driver-side. If this table ever goes red the entire
    hash-partitioned surface is suspect — it is the data-layer
    sibling of the SRM check (#371), which tests ONE split;
    this audits the primitive at three granularities.

    Scale: one distinct + one |grid|x explode aggregate; everything
    downstream is bucket-bounded."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_hash_uniformity_sql("spark"))


_DEDUP_TTL_GRID_S = (300, 900, 3600, 14400)


def _dedup_state_sizing_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    us = "unix_micros" if dialect == "spark" else "epoch_us"
    grid = ", ".join(
        f"({w}, {w * 1000000})" for w in _DEDUP_TTL_GRID_S
    )
    return f"""
        WITH span AS (
            SELECT CAST(MAX({us}(ts)) - MIN({us}(ts)) AS BIGINT)
                       AS span_us,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events)
        , b AS (
            SELECT g.w, {us}(ts) AS t_us, 1 AS delta, 1 AS ord
            FROM events CROSS JOIN (VALUES {grid}) AS g(w, w_us)
            UNION ALL
            SELECT g.w, {us}(ts) + g.w_us AS t_us,
                   -1 AS delta, 0 AS ord
            FROM events CROSS JOIN (VALUES {grid}) AS g(w, w_us))
        , hourly AS (
            SELECT w, t_us {div} 3600000000 AS hr, t_us, ord, delta
            FROM b)
        , run AS (
            SELECT w, hr, delta,
                   CAST(SUM(delta) OVER (
                        PARTITION BY w, hr
                        ORDER BY t_us ASC, ord ASC
                        ROWS UNBOUNDED PRECEDING) AS BIGINT)
                       AS running
            FROM hourly)
        , hr_agg AS (
            SELECT w, hr,
                   CAST(SUM(delta) AS BIGINT) AS net,
                   CAST(MAX(running) AS BIGINT) AS peak_in_hr
            FROM run GROUP BY w, hr)
        , carried AS (
            SELECT w, hr, peak_in_hr,
                   CAST(SUM(net) OVER (
                        PARTITION BY w ORDER BY hr ASC
                        ROWS UNBOUNDED PRECEDING) - net AS BIGINT)
                       AS carry_in
            FROM hr_agg)
        SELECT c.w AS ttl_seconds,
               s.n AS n_entries,
               CAST(MAX(c.carry_in + c.peak_in_hr) AS BIGINT)
                   AS peak_state_entries,
               CAST((s.n * CAST(c.w AS BIGINT) * 1000000)
                    {div} s.span_us AS BIGINT)
                   AS mean_state_entries
        FROM carried c CROSS JOIN span s
        GROUP BY c.w, s.n, s.span_us
    """


@query("cdc_dedup_state_sizing", oracle=_dedup_state_sizing_sql("duck"))
def q_cdc_dedup_state_sizing(spark, sf_dir):
    """STREAMING-STATE sizing for the exactly-once dedup operator:
    each event holds a (key, seq) state entry for the dedup TTL; for
    TTL in {g} s, the EXACT peak concurrent state (the memory the
    state store must hold at the worst instant — a boundary sweep
    with expiries ordered before same-instant arrivals) and the
    steady mean (n x TTL / span, Little's law). The peak/mean gap is
    the burstiness surcharge (#241) provisioning must absorb.
    Computed with the two-level sweep discipline (#414's islands):
    hour-partitioned running sums + an hour-grain carry — no global
    row-level window at any scale. Feeds the watermark policy sim
    (#182) and the streaming dedup gate's TTL choice directly.

    Scale: 2n x |grid| boundary rows, windows partitioned (w, hour);
    the carry window runs over |hours| rows.""".format(
        g=list(_DEDUP_TTL_GRID_S)
    )
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_dedup_state_sizing_sql("spark"))


# ---------------------------------------------------------------------------
# R14: PQ code balance, vector storage plan, KNN reciprocity
# (SURVEY §2 #453-455)
# ---------------------------------------------------------------------------


def _pq_balance_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    wide = "DECIMAL(38,0)" if dialect == "spark" else "HUGEINT"
    arms = " UNION ALL ".join(
        f"SELECT {s} AS subspace, c{s} AS cw FROM codes"
        for s in range(_sim.PQ_M)
    )
    return f"""{_sim._pq_base_ctes(dialect)}
        , unpivoted AS ({arms})
        , usage AS (
            SELECT CAST(subspace AS BIGINT) AS subspace, cw,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM unpivoted GROUP BY subspace, cw)
        SELECT subspace,
               CAST(SUM(c) AS BIGINT) AS n_vectors,
               CAST(COUNT(*) AS BIGINT) AS codewords_used,
               CAST(MAX(c) AS BIGINT) AS max_count,
               CAST((10000 * MAX(c)) {div} SUM(c) AS BIGINT)
                   AS max_share_bp,
               CAST((1000000 * ({_sim.PQ_K} * CAST(SUM(c * c) AS {wide})
                                - CAST(SUM(c) AS {wide})
                                  * CAST(SUM(c) AS {wide})))
                    {div} CAST(SUM(c) AS {wide}) AS BIGINT)
                   AS chi2_e6
        FROM usage GROUP BY subspace
    """


@query("embed_pq_code_balance", oracle=_pq_balance_sql("duck"))
def q_embed_pq_code_balance(spark, sf_dir):
    """PQ CODEBOOK-HEALTH audit: per subspace, how evenly the {k}
    codewords are used — codewords hit, max occupancy share (bp) and
    the exact chi-square vs uniform (the #451 identity over the
    {k}-codeword grid). A subspace whose assignments pile onto a few
    codewords quantizes poorly (high distortion, weak ADC
    discrimination) and is the retrain signal for that subquantizer;
    the codebook-side complement of the IVF cell-balance stats
    (#103) and the distortion audit (#276).

    Scale: reuses the PQ assignment CTEs (LUT-broadcast, corpus
    never shuffled); the unpivot is {m} projection arms over the
    codes table; everything downstream is codeword-bounded.""".format(
        k=_sim.PQ_K, m=_sim.PQ_M
    )
    ensure_utc(spark)
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView(
        "embeddings"
    )
    return spark.sql(_pq_balance_sql("spark"))


_STORAGE_SCALES = (1000000, 100000000, 1000000000, 10000000000)
_STORAGE_NODE_GIB = 64  # usable memory per serving node


def _embed_storage_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    ln = "size" if dialect == "spark" else "len"
    sgrid = ", ".join(f"({s})" for s in _STORAGE_SCALES)
    egrid = ", ".join(
        f"('{name}')" for name in ("fp32", "fp16", "int8", "sign_bit", "pq")
    )
    node_bytes = _STORAGE_NODE_GIB * 1024**3
    return f"""
        WITH d AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_observed,
                   CAST(MAX({ln}(embedding)) AS BIGINT) AS dim
            FROM embeddings)
        , grid AS (
            SELECT e.encoding, s.target_vectors, d.dim, d.n_observed
            FROM (VALUES {egrid}) AS e(encoding)
            CROSS JOIN (VALUES {sgrid}) AS s(target_vectors)
            CROSS JOIN d)
        , sized AS (
            SELECT encoding, target_vectors, dim, n_observed,
                   CASE encoding
                        WHEN 'fp32' THEN 4 * dim
                        WHEN 'fp16' THEN 2 * dim
                        WHEN 'int8' THEN dim + 8
                        WHEN 'sign_bit' THEN (dim + 7) {div} 8
                        ELSE {_sim.PQ_M} END AS bytes_per_vec
            FROM grid)
        SELECT encoding, target_vectors, dim, bytes_per_vec,
               CAST((bytes_per_vec * target_vectors) {div} 1048576
                    AS BIGINT) AS total_mib,
               CAST((bytes_per_vec * target_vectors
                     + {node_bytes - 1}) {div} {node_bytes}
                    AS BIGINT) AS nodes_{_STORAGE_NODE_GIB}gib
        FROM sized
    """


@query("embed_storage_sizing_plan", oracle=_embed_storage_sql("duck"))
def q_embed_storage_sizing_plan(spark, sf_dir):
    """VECTOR-STORE storage calculator: the observed embedding dim
    drives a bytes-per-vector ladder (fp32 / fp16 / int8+scale /
    sign-bit / {m}-byte PQ — the exact encodings the repo's
    quantization operators #96/#147/#138 produce) across deployment
    scales {s}, with total MiB and {g} GiB serving nodes required
    (ceil). This is the memory-budget row a 100 TB ANN deployment
    reads FIRST — it decides which encoding the recall ladders
    (#172/#312/#348) must be consulted about; the embedding-side
    sibling of the table sizing plan (#321).

    Scale: one embeddings aggregate (count + max len) feeding a
    constant 5x{ns} grid; the calculator is free at any corpus
    size.""".format(
        m=_sim.PQ_M,
        s=list(_STORAGE_SCALES),
        g=_STORAGE_NODE_GIB,
        ns=len(_STORAGE_SCALES),
    )
    ensure_utc(spark)
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView(
        "embeddings"
    )
    return spark.sql(_embed_storage_sql("spark"))


def _knn_reciprocity_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    knn = (
        "(SELECT * FROM recip_knn_mat)"
        if dialect == "spark"
        else f"MATERIALIZED ({_sim.graph_edges_sql('duck')})"
    )
    return f"""
        WITH knn AS {knn}
        , g AS (
            SELECT vec_id AS src, neighbor_id AS dst FROM knn)
        , marked AS (
            SELECT a.src, a.dst,
                   CASE WHEN b.src IS NOT NULL THEN 1 ELSE 0 END
                       AS is_recip
            FROM g a LEFT JOIN g b
              ON b.src = a.dst AND b.dst = a.src)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
               CAST(SUM(is_recip) AS BIGINT) AS n_reciprocal,
               CAST((10000 * SUM(is_recip)) {div} COUNT(*)
                    AS BIGINT) AS reciprocity_bp,
               CAST(COUNT(DISTINCT src) AS BIGINT) AS n_nodes
        FROM marked
    """


@query("graph_knn_reciprocity", oracle=_knn_reciprocity_sql("duck"))
def q_graph_knn_reciprocity(spark, sf_dir):
    """EDGE RECIPROCITY of the directed KNN graph: the share of
    i->j edges where j also lists i among ITS k nearest (bp) — the
    classic directed-graph symmetry statistic. Low reciprocity is
    the hubness signature read edge-wise (hubs absorb many
    one-directional edges; #393 counts the in-degree tail, this
    prices its effect on the edge set), and it is the exact quantity
    that decides how much a mutual-KNN sparsification (the common
    pre-step for graph clustering) would thin this graph.

    Scale: the KNN edge list is node x K bounded; reciprocity is
    one self-join on the reversed key + one scalar aggregate."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView(
        "embeddings"
    )
    _graph_edges_map(spark, sf_dir).createOrReplaceTempView(
        "recip_knn_mat"
    )
    return spark.sql(_knn_reciprocity_sql("spark"))


# ---------------------------------------------------------------------------
# R14: VARIANT props stats, order/line status rule, mutual-KNN components
# (SURVEY §2 #456-458)
# ---------------------------------------------------------------------------


def _props_variant_sql(dialect: str) -> str:
    if dialect == "spark":
        k = "variant_get(parse_json(props), '$.k', 'long')"
    else:
        k = "CAST(json_extract(props, '$.k') AS BIGINT)"
    return f"""
        WITH typed AS (
            SELECT event_type, {k} AS k FROM events)
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_k_null,
               CAST(MIN(k) AS BIGINT) AS k_min,
               CAST(MAX(k) AS BIGINT) AS k_max,
               CAST(SUM(k) AS BIGINT) AS k_sum,
               CAST(COUNT(DISTINCT k) AS BIGINT) AS k_distinct
        FROM typed GROUP BY event_type
    """


@query("events_props_variant_stats", oracle=_props_variant_sql("duck"))
def q_events_props_variant_stats(spark, sf_dir):
    """Semi-structured payload stats through Spark 4's VARIANT type:
    props parsed ONCE with parse_json into the binary variant
    encoding, the typed path extracted JVM-side with
    variant_get(..., '$.k', 'long'), then per-type rollups — the
    shredded-JSON access path that replaces per-query string
    re-parsing (get_json_object re-tokenizes the JSON text on every
    call; VARIANT parses once and navigates an encoded tree, the
    100 TB answer for payload-heavy CDC streams). Same result
    contract as the schema-on-read flatten (#56) but a different
    engine mechanism — both are pinned against one DuckDB JSON
    oracle.

    Scale: one scan, codegen variant navigation, |types|-bounded
    aggregate; at deployment the variant column shreds columnar in
    parquet."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_props_variant_sql("spark"))


def _status_rule_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    return f"""
        WITH mix AS (
            SELECT o.o_orderkey, o.o_orderstatus,
                   CAST(SUM(CASE WHEN l.l_linestatus = 'F'
                            THEN 1 ELSE 0 END) AS BIGINT) AS nf,
                   CAST(COUNT(*) AS BIGINT) AS nl
            FROM orders o JOIN lineitem l
              ON l.l_orderkey = o.o_orderkey
            GROUP BY o.o_orderkey, o.o_orderstatus)
        , classed AS (
            SELECT o_orderstatus AS actual_status,
                   CASE WHEN nf = nl THEN 'F'
                        WHEN nf = 0 THEN 'O'
                        ELSE 'P' END AS expected_status
            FROM mix)
        SELECT actual_status, expected_status,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(CASE WHEN actual_status = expected_status
                         THEN 1 ELSE 0 END AS BIGINT) AS is_consistent,
               CAST((10000 * COUNT(*)) {div} CAST(SUM(COUNT(*)) OVER (
                    PARTITION BY actual_status) AS BIGINT)
                    AS BIGINT) AS share_of_actual_bp
        FROM classed GROUP BY actual_status, expected_status
    """


@query("dq_order_line_status_rule", oracle=_status_rule_sql("duck"))
def q_dq_order_line_status_rule(spark, sf_dir):
    """CROSS-TABLE business-rule audit: TPC-H's status invariant —
    an order is 'F' iff ALL its lines are 'F', 'O' iff NONE are,
    'P' otherwise — checked as a census of actual x expected status
    with consistency flags and within-actual shares. The
    header/detail contract every order system carries and ETL
    quietly breaks (partial updates landing header-first); the
    status-dimension sibling of the money-sum consistency audit
    (#217) and the FK audit (#203).

    Scale: one order-keyed join-aggregate (line mix reduction);
    the census and its share window are |statuses|^2-bounded."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem"
    )
    return spark.sql(_status_rule_sql("spark"))


def _mutual_knn_components_sql(dialect: str) -> str:
    return f"""
        WITH RECURSIVE knn AS MATERIALIZED (
            {_sim.graph_edges_sql(dialect)})
        , g AS (
            SELECT vec_id AS src, neighbor_id AS dst FROM knn)
        , mutual AS (
            SELECT a.src AS a, a.dst AS b
            FROM g a JOIN g b ON b.src = a.dst AND b.dst = a.src)
        , reach(node, r) AS (
            SELECT vec_id, vec_id FROM embeddings
            UNION
            SELECT m.b, rr.r FROM reach rr JOIN mutual m ON m.a = rr.node)
        , labels AS (
            SELECT node AS vec_id, MIN(r) AS cluster_id
            FROM reach GROUP BY node)
        , sizes AS (
            SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS sz
            FROM labels GROUP BY cluster_id)
        SELECT sz AS component_size,
               CAST(COUNT(*) AS BIGINT) AS n_components,
               CAST(sz * COUNT(*) AS BIGINT) AS n_vectors
        FROM sizes GROUP BY sz
    """


@query(
    "graph_mutual_knn_components",
    oracle=_mutual_knn_components_sql("duck"),
)
def q_graph_mutual_knn_components(spark, sf_dir):
    """CONNECTED COMPONENTS of the MUTUAL-KNN graph (edges kept only
    when both endpoints list each other — the sparsification #455
    prices, and the standard density-robust clustering pre-step:
    one-directional edges into hubs are exactly what mutual-KNN
    drops): component-size histogram. Components here are tight
    similarity clusters with hub bridges removed — compare the
    near-dup cluster sizes (#181) which keep every LSH edge. Spark
    side: the path-halving Pregel CC (operators/graph.py, the #63
    machinery) over the materialized mutual edge list; oracle: a
    recursive-CTE reachability closure.

    Scale: edges are node x K bounded BEFORE mutualization and only
    shrink; CC is the checkpointed Pregel loop (log-diameter
    rounds), never an all-pairs step."""
    from ..operators.graph import connected_components

    g = _graph_edges_map(spark, sf_dir).select(
        F.col("vec_id").alias("src"), F.col("neighbor_id").alias("dst")
    )
    rev = g.select(
        F.col("src").alias("dst2"), F.col("dst").alias("src2")
    )
    mutual = g.join(
        rev,
        (F.col("src") == F.col("src2")) & (F.col("dst") == F.col("dst2")),
    ).select(F.col("src").alias("vec_a"), F.col("dst").alias("vec_b"))
    nodes = load_table(spark, sf_dir, "embeddings").select("vec_id")
    labels = connected_components(
        nodes, mutual, id_col="vec_id", src="vec_a", dst="vec_b"
    )
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    return sizes.groupBy("sz").agg(
        F.count(F.lit(1)).cast("long").alias("n_components")
    ).select(
        F.col("sz").alias("component_size"),
        "n_components",
        (F.col("sz") * F.col("n_components"))
        .cast("long")
        .alias("n_vectors"),
    )


# ---------------------------------------------------------------------------
# R14: power calculator, bot-flag census, grouped k-fold
# (SURVEY §2 #459-461)
# ---------------------------------------------------------------------------

_POWER_MDE_BP = (10, 25, 50, 100, 200)  # absolute MDE grid, basis points


def _power_sample_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    us = "unix_micros" if dialect == "spark" else "epoch_us"
    grid = ", ".join(f"({m})" for m in _POWER_MDE_BP)
    return f"""
        WITH f AS (
            SELECT user_id, MIN({us}(ts)) AS t0,
                   MIN(CASE WHEN event_type = 'purchase'
                            THEN {us}(ts) END) AS tp
            FROM events GROUP BY user_id)
        , u AS (
            SELECT user_id,
                   CASE WHEN tp IS NOT NULL
                             AND tp < t0 + 3600000000
                        THEN 1 ELSE 0 END AS converted
            FROM f)
        , base AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
                   CAST((10000 * SUM(converted)) {div} COUNT(*)
                        AS BIGINT) AS p_bp
            FROM u)
        , span AS (
            SELECT GREATEST(
                       (MAX({us}(ts)) - MIN({us}(ts)))
                           {div} 86400000000, 1) AS span_days
            FROM events)
        SELECT g.mde_bp,
               b.p_bp AS baseline_bp,
               CAST((16 * b.p_bp * (10000 - b.p_bp)
                     + g.mde_bp * g.mde_bp - 1)
                    {div} (g.mde_bp * g.mde_bp) AS BIGINT)
                   AS n_per_arm,
               CAST(2 * ((16 * b.p_bp * (10000 - b.p_bp)
                          + g.mde_bp * g.mde_bp - 1)
                         {div} (g.mde_bp * g.mde_bp)) AS BIGINT)
                   AS n_total,
               CAST((2 * ((16 * b.p_bp * (10000 - b.p_bp)
                           + g.mde_bp * g.mde_bp - 1)
                          {div} (g.mde_bp * g.mde_bp))
                     + GREATEST(b.n_users {div} s.span_days, 1) - 1)
                    {div} GREATEST(b.n_users {div} s.span_days, 1)
                    AS BIGINT)
                   AS days_required
        FROM (VALUES {grid}) AS g(mde_bp)
        CROSS JOIN base b CROSS JOIN span s
    """


@query("events_power_sample_size", oracle=_power_sample_sql("duck"))
def q_events_power_sample_size(spark, sf_dir):
    """A/B POWER calculator from live data: observed FAST-purchase
    conversion (a purchase within 1 h of the user's first activity —
    a guardrail-style metric with real headroom; lifetime conversion
    saturates near 1.0 on this corpus) as the baseline p (bp), and
    for each minimum detectable
    effect in {g} bp the required users per arm under the standard
    n = 16 p(1-p)/delta^2 rule (80% power, alpha 5%, two-sided —
    the rule every experimentation platform quotes), EXACT in
    integer bp arithmetic (ceil division), plus the days the
    experiment must run at the observed user-arrival rate. The
    BEFORE-the-experiment member of the battery: #371 checks the
    split, #325/#449 analyze the result, this one says whether the
    experiment is worth starting.

    Scale: one user aggregate + one scan for the time span; the
    calculator is a constant-grid projection."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_power_sample_sql("spark"))


_BOT_RAPID_GAP_US = 60 * 1000000  # mean gap < 60 s
_BOT_RAPID_MIN_N = 20
_BOT_METRO_JITTER_US = 5 * 1000000  # max-min gap < 5 s
_BOT_METRO_MIN_N = 10
_BOT_MONO_MIN_N = 20  # single event type with >= 20 events


def _bot_flags_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    us = "unix_micros" if dialect == "spark" else "epoch_us"
    return f"""
        WITH gaps AS (
            SELECT user_id,
                   {us}(ts) - lag({us}(ts)) OVER (
                       PARTITION BY user_id
                       ORDER BY ts ASC, event_id ASC) AS gap_us,
                   event_type
            FROM events)
        , per_user AS (
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
                   CAST(SUM(gap_us) AS BIGINT) AS sum_gap,
                   CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
                   CAST(MIN(gap_us) AS BIGINT) AS min_gap,
                   CAST(MAX(gap_us) AS BIGINT) AS max_gap
            FROM gaps GROUP BY user_id)
        , flagged AS (
            SELECT user_id,
                   CASE WHEN n_events >= {_BOT_RAPID_MIN_N}
                             AND sum_gap < {_BOT_RAPID_GAP_US} * n_gaps
                        THEN 1 ELSE 0 END AS is_rapid,
                   CASE WHEN n_events >= {_BOT_METRO_MIN_N}
                             AND max_gap - min_gap
                                 < {_BOT_METRO_JITTER_US}
                        THEN 1 ELSE 0 END AS is_metronomic,
                   CASE WHEN n_events >= {_BOT_MONO_MIN_N}
                             AND n_types = 1
                        THEN 1 ELSE 0 END AS is_single_type
            FROM per_user)
        , tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM flagged)
        SELECT CAST(is_rapid AS BIGINT) AS is_rapid,
               CAST(is_metronomic AS BIGINT) AS is_metronomic,
               CAST(is_single_type AS BIGINT) AS is_single_type,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST((10000 * COUNT(*)) {div} t.n AS BIGINT) AS share_bp
        FROM flagged CROSS JOIN tot t
        GROUP BY is_rapid, is_metronomic, is_single_type, t.n
    """


@query("events_bot_flags", oracle=_bot_flags_sql("duck"))
def q_events_bot_flags(spark, sf_dir):
    """BOT-HEURISTIC census — the traffic-quality gate an analytics
    pipeline runs before every metric above it: per user three
    classic automation signatures — RAPID (mean inter-event gap
    under 60 s across >= 20 events; integer cross-multiplication,
    no float mean), METRONOMIC (gap jitter max-min under 5 s — human
    traffic is bursty #241, schedulers are flat), SINGLE-TYPE
    (>= 20 events, one event type) — rolled into a flag-combination
    census with shares. Flags are fixed documented thresholds, so
    the census is exactly reproducible; the behavioral sibling of
    the burstiness (#241) and user-audit (#282) views.

    Scale: one user-partitioned lag window + one user aggregate;
    the census is 2^3-bounded."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_bot_flags_sql("spark"))


_KFOLD_K = 5


def _group_kfold_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    if dialect == "spark":
        h = "CAST(conv(substring(md5(source), 1, 8), 16, 10) AS BIGINT)"
    else:
        h = "CAST('0x' || substr(md5(source), 1, 8) AS BIGINT)"
    return f"""
        WITH assigned AS (
            SELECT source, doc_id, n_chars,
                   ({h}) % {_KFOLD_K} AS fold
            FROM documents)
        , tot AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs_total,
                   CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
            FROM documents)
        SELECT fold,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars,
               CAST((10000 * COUNT(*)) {div} t.n_docs_total
                    AS BIGINT) AS doc_share_bp,
               CAST((10000 * SUM(n_chars)) {div} t.n_chars_total
                    AS BIGINT) AS char_share_bp
        FROM assigned CROSS JOIN tot t
        GROUP BY fold, t.n_docs_total, t.n_chars_total
    """


@query("sample_group_kfold", oracle=_group_kfold_sql("duck"))
def q_sample_group_kfold(spark, sf_dir):
    """GROUPED {k}-fold assignment: folds cut on md5(source), never
    on the doc — every source lands WHOLLY inside one fold, the
    leakage guard plain random folds do not give (near-duplicate and
    same-template docs cluster within sources; doc-level folds put
    siblings on both sides of the validation boundary and inflate
    eval scores — the group-kfold rationale). Reports per fold the
    source/doc/char masses and shares: grouped folds trade balance
    for leakage-safety, and this table is exactly that trade made
    visible. The held-out-eval sibling of the split assigners
    (#236/#354/#400), which stratify at doc grain.

    Scale: one hash projection + one fold aggregate; no shuffle
    wider than the |folds| census.""".replace("{k}", str(_KFOLD_K))
    ensure_utc(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(_group_kfold_sql("spark"))


# ---------------------------------------------------------------------------
# R14: lifecycle conformance, daily open backlog, error-volume correlation
# (SURVEY §2 #462-464)
# ---------------------------------------------------------------------------


def _lifecycle_conformance_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    us = "unix_micros" if dialect == "spark" else "epoch_us"
    return f"""
        WITH per_user AS (
            SELECT user_id,
                   CAST(SUM(CASE WHEN event_type = 'signup'
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_signups,
                   MIN(CASE WHEN event_type = 'signup'
                            THEN {us}(ts) END) AS t_signup,
                   MIN(CASE WHEN event_type = 'purchase'
                            THEN {us}(ts) END) AS t_purchase,
                   MIN({us}(ts)) AS t_first
            FROM events GROUP BY user_id)
        , flagged AS (
            SELECT user_id,
                   CASE WHEN n_signups = 0 THEN 1 ELSE 0 END
                       AS no_signup,
                   CASE WHEN n_signups >= 2 THEN 1 ELSE 0 END
                       AS multiple_signups,
                   CASE WHEN t_signup IS NOT NULL
                             AND t_first < t_signup
                        THEN 1 ELSE 0 END AS activity_before_signup,
                   CASE WHEN t_purchase IS NOT NULL
                             AND t_signup IS NOT NULL
                             AND t_purchase < t_signup
                        THEN 1 ELSE 0 END AS purchase_before_signup
            FROM per_user)
        , tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM flagged)
        SELECT CAST(no_signup AS BIGINT) AS no_signup,
               CAST(multiple_signups AS BIGINT) AS multiple_signups,
               CAST(activity_before_signup AS BIGINT)
                   AS activity_before_signup,
               CAST(purchase_before_signup AS BIGINT)
                   AS purchase_before_signup,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST((10000 * COUNT(*)) {div} t.n AS BIGINT) AS share_bp
        FROM flagged CROSS JOIN tot t
        GROUP BY no_signup, multiple_signups, activity_before_signup,
                 purchase_before_signup, t.n
    """


@query(
    "events_lifecycle_conformance",
    oracle=_lifecycle_conformance_sql("duck"),
)
def q_events_lifecycle_conformance(spark, sf_dir):
    """USER-LIFECYCLE conformance census: does the event stream obey
    the implicit state machine (signup first, then activity, then
    purchase)? Per user four violation flags — never signed up,
    signed up twice (replay/duplicate identity), activity before
    signup (lost early events / backfilled identity merge), purchase
    before signup (the impossible ordering that breaks attribution
    #292/#341) — rolled into a flag-combination census. The
    user-journey sibling of the CDC op-transition audit (#374),
    which checks the same grammar at the operation layer.

    Scale: one user aggregate (conditional min/count reduction),
    2^4-bounded census."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_lifecycle_conformance_sql("spark"))


def _open_backlog_sql(dialect: str) -> str:
    return """
        WITH spans AS (
            SELECT o.o_orderkey,
                   date_trunc('day', MIN(o.o_orderdate)) AS d_open,
                   date_trunc('day', MAX(l.l_shipdate))
                       + INTERVAL 1 DAY AS d_close
            FROM orders o JOIN lineitem l
              ON l.l_orderkey = o.o_orderkey
            GROUP BY o.o_orderkey)
        , b AS (
            SELECT d_open AS day, 1 AS opened, 0 AS closed FROM spans
            UNION ALL
            SELECT d_close AS day, 0 AS opened, 1 AS closed FROM spans)
        , daily AS (
            SELECT day,
                   CAST(SUM(opened) AS BIGINT) AS n_opened,
                   CAST(SUM(closed) AS BIGINT) AS n_closed
            FROM b GROUP BY day)
        SELECT day, n_opened, n_closed,
               CAST(SUM(n_opened - n_closed) OVER (
                    ORDER BY day ASC
                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS open_backlog
        FROM daily
    """


@query("orders_open_backlog_daily", oracle=_open_backlog_sql("duck"))
def q_orders_open_backlog_daily(spark, sf_dir):
    """DAILY OPEN-BACKLOG time series: each order is open from its
    order date until its LAST line ships (the #427 critical-path
    gate); the boundary sweep (+1 at open, -1 the day after close)
    cumulated over the day grain gives the exact number of orders
    in flight on every active day — the work-in-progress trajectory
    whose time-average is #413's L and whose age structure is #175's
    snapshot; this is the curve an operations dashboard actually
    plots. Emits opened/closed/backlog per day.

    Scale: one order-keyed join-aggregate to spans, a day-grain
    aggregate, and ONE cumulative window over |days| rows (the
    bounded-dimension window class every daily rollup here uses)."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem"
    )
    return spark.sql(_open_backlog_sql("spark"))


def _error_volume_corr_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    wide = "DECIMAL(38,0)" if dialect == "spark" else "HUGEINT"
    return f"""
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS hr,
                   CAST(COUNT(*) AS BIGINT) AS x,
                   CAST(SUM(CASE WHEN event_type = 'error'
                            THEN 1 ELSE 0 END) AS BIGINT) AS y
            FROM events GROUP BY date_trunc('hour', ts))
        , s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(x * y) AS BIGINT) AS sxy,
                   CAST(SUM(x * x) AS BIGINT) AS sx2,
                   CAST(SUM(y * y) AS BIGINT) AS sy2
            FROM hourly)
        SELECT n AS n_hours, sx AS total_events, sy AS total_errors,
               CAST(CASE WHEN n * sxy - sx * sy > 0 THEN 1
                         WHEN n * sxy - sx * sy < 0 THEN -1
                         ELSE 0 END AS BIGINT) AS corr_sign,
               CAST(COALESCE(
                    (10000 * CAST(n * sxy - sx * sy AS {wide})
                           * CAST(n * sxy - sx * sy AS {wide}))
                    {div} NULLIF(CAST(n * sx2 - sx * sx AS {wide})
                                 * CAST(n * sy2 - sy * sy AS {wide}),
                                 0), 0) AS BIGINT) AS rho2_bp
        FROM s
    """


@query("events_error_volume_corr", oracle=_error_volume_corr_sql("duck"))
def q_events_error_volume_corr(spark, sf_dir):
    """LOAD-FAILURE coupling: exact Pearson rho^2 (sign emitted
    separately, #408's 38-digit discipline) between hourly event
    volume and hourly error count — 'do errors scale with load'
    (positive: capacity saturation, the #448 planner's problem) 'or
    against it' (negative: quiet-hour batch jobs failing). The
    correlation layer on top of the outage view (#414) and the
    error-budget burn (#398), which count failures but not their
    load coupling.

    Scale: one hour-keyed aggregate (bounded dimension), then
    scalar sufficient statistics; the wide-type products never
    leave one row."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_error_volume_corr_sql("spark"))


# ---------------------------------------------------------------------------
# R14: Kruskal-Wallis inputs, keyspace growth trajectory
# (SURVEY §2 #465-466)
# ---------------------------------------------------------------------------


def _kruskal_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    # dv (the distinct-value table) feeds mm, banded and ties — each
    # Spark reference re-derives it from a fresh events scan (observed
    # 7 scans). The Spark side materializes it (localCheckpoint view);
    # DuckDB computes it inline.
    dv_body = (
        "SELECT c, cnt FROM kruskal_dv"
        if dialect == "spark"
        else """SELECT c, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM v GROUP BY c"""
    )
    return f"""
        WITH v AS (
            SELECT event_type,
                   CAST(ROUND(value * 100) AS BIGINT) AS c
            FROM events)
        , dv AS ({dv_body})
        , mm AS (
            SELECT MIN(c) AS lo, MAX(c) AS hi,
                   CAST(SUM(cnt) AS BIGINT) AS n
            FROM dv)
        , banded AS (
            SELECT d.c, d.cnt,
                   ((d.c - m.lo) * 32) {div} (m.hi - m.lo + 1) AS band
            FROM dv d CROSS JOIN mm m)
        , bcnt AS (
            SELECT band, CAST(SUM(cnt) AS BIGINT) AS bn
            FROM banded GROUP BY band)
        , bpre AS (
            SELECT band,
                   CAST(COALESCE(SUM(bn) OVER (
                        ORDER BY band ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS BIGINT) AS band_prefix
            FROM bcnt)
        , pre AS (
            SELECT b.c, b.cnt,
                   p.band_prefix
                   + CAST(COALESCE(SUM(b.cnt) OVER (
                         PARTITION BY b.band ORDER BY b.c ASC
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), 0) AS BIGINT) AS prefix
            FROM banded b JOIN bpre p ON p.band = b.band)
        , cvt AS (
            SELECT event_type, c, CAST(COUNT(*) AS BIGINT) AS k
            FROM v GROUP BY event_type, c)
        , ties AS (
            SELECT CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT)
                       AS tie_cubed_sum
            FROM dv)
        SELECT g.event_type,
               CAST(SUM(g.k) AS BIGINT) AS n,
               CAST(SUM(g.k * (2 * p.prefix + p.cnt + 1)) AS BIGINT)
                   AS rank_sum_x2,
               m.n AS n_total,
               t.tie_cubed_sum
        FROM cvt g
        JOIN pre p ON p.c = g.c
        CROSS JOIN mm m CROSS JOIN ties t
        GROUP BY g.event_type, m.n, t.tie_cubed_sum
    """


@query("events_kruskal_wallis_inputs", oracle=_kruskal_sql("duck"))
def q_events_kruskal_wallis_inputs(spark, sf_dir):
    """KRUSKAL-WALLIS sufficient statistics: does event VALUE differ
    across event TYPES, rank-wise? Per type the exact tie-corrected
    midrank sum (2x-scaled integers — #449's Mann-Whitney midrank
    algebra generalized to k groups) plus the global tie term
    Sum(t^3 - t) — everything the H statistic
    H = [12 Sum(R_j^2/n_j)/(N(N+1)) - 3(N+1)] / (1 - ties/(N^3-N))
    needs, emitted exactly; the float division happens on k rows
    driver-side (the #325 sufficient-statistics philosophy). The
    global midrank prefix is built with the #377 BAND-PREFIX
    decomposition over distinct values — no unpartitioned row-level
    rank window even when the value domain approaches fact
    cardinality.

    Scale: distinct-value aggregate -> 32-band two-level prefix
    (each band's window sees ~1/32 of distinct values) -> per
    (type, value) join; Sum(rank_sum_x2) = N(N+1) is pinned as the
    triangle law."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    spark.sql(
        "SELECT CAST(ROUND(value * 100) AS BIGINT) AS c, "
        "CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY 1"
    ).localCheckpoint().createOrReplaceTempView("kruskal_dv")
    return spark.sql(_kruskal_sql("spark"))


def _keyspace_growth_sql(dialect: str) -> str:
    return _with_log(
        """
        , ordered AS (
            SELECT key_id, ts, operation,
                   lag(operation) OVER (
                       PARTITION BY key_id
                       ORDER BY ts ASC, seq ASC) AS prev_op
            FROM log)
        , transitions AS (
            SELECT date_trunc('day', ts) AS day,
                   CASE WHEN operation <> 'DELETE'
                             AND (prev_op IS NULL
                                  OR prev_op = 'DELETE')
                        THEN 1 ELSE 0 END AS created,
                   CASE WHEN operation = 'DELETE'
                             AND prev_op IS NOT NULL
                             AND prev_op <> 'DELETE'
                        THEN 1 ELSE 0 END AS removed
            FROM ordered)
        , daily AS (
            SELECT day,
                   CAST(SUM(created) AS BIGINT) AS n_created,
                   CAST(SUM(removed) AS BIGINT) AS n_removed
            FROM transitions GROUP BY day)
        SELECT day, n_created, n_removed,
               CAST(SUM(n_created - n_removed) OVER (
                    ORDER BY day ASC
                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS active_keys_eod
        FROM daily
        """
    )


@query("cdc_keyspace_growth_daily", oracle=_keyspace_growth_sql("duck"))
def q_cdc_keyspace_growth_daily(spark, sf_dir):
    """TABLE-CARDINALITY TRAJECTORY: the exact number of live keys
    at the end of every day, from aliveness transitions (a key is
    born at a non-DELETE op on a dead-or-never-seen key, dies at the
    first DELETE of a live key — the lag state machine per key) fed
    through the day-grain cumulative sweep. #7's table stats give
    today's snapshot; this is its whole history — the curve capacity
    planning extrapolates and the compaction planner (#204) reads
    growth rates from. Final-day value equals the live-key count of
    the latest-state view (#2) by construction — pinned as a law.

    Scale: one key-partitioned lag window + day-grain aggregate +
    one cumulative window over |days| rows."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_keyspace_growth_sql("spark"))


# ---------------------------------------------------------------------------
# R14: Python UDTF + scalar Arrow pandas_udf mechanism exhibits
# (SURVEY §2 #467-468)
# ---------------------------------------------------------------------------


@query("text_chunk_windows_udtf", oracle=_sampling.CHUNK_WINDOWS_SQL)
def q_text_chunk_windows_udtf(spark, sf_dir):
    """PYTHON UDTF twin of the chunker (#54): the same fixed-size
    token windows emitted by a user-defined TABLE function (Spark 4
    `@udtf`, Arrow-fed, consumed via SQL LATERAL) — the extension
    boundary for row-to-many-rows logic SQL generators CANNOT
    express (a real tokenizer, a sentence splitter, a format-aware
    chunker would live exactly here). The JVM generator (#54,
    sequence+slice inside codegen) remains the scale path; this twin
    pins that the boundary is SEMANTICALLY FREE: identical rows,
    identical md5s (hashlib == JVM md5), same DuckDB oracle, plus an
    equality law against #54 in pytest.

    Scale: the UDTF streams Arrow batches per partition, no shuffle;
    cost is the Python-worker hop the docstring of #54's JVM form
    exists to avoid on the hot path."""
    import hashlib

    from pyspark.sql.functions import udtf

    ensure_utc(spark)

    c = _sampling.CHUNK_TOKENS

    @udtf(returnType=(
        "doc_id long, chunk_idx long, n_tokens long, chunk_md5 string"
    ))
    class ChunkWindows:
        def eval(self, doc_id, text):
            toks = text.split(" ")
            n_chunks = (len(toks) + c - 1) // c
            for i in range(n_chunks):
                w = toks[i * c : i * c + c]
                yield (
                    doc_id,
                    i,
                    len(w),
                    hashlib.md5(" ".join(w).encode("utf-8")).hexdigest(),
                )

    spark.udtf.register("chunk_windows_udtf", ChunkWindows)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(
        "SELECT f.doc_id, f.chunk_idx, f.n_tokens, f.chunk_md5 "
        "FROM documents d, LATERAL chunk_windows_udtf(d.doc_id, d.text) f"
    )


@query(
    "text_fingerprint_vectorized",
    oracle="""
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars,
               md5(text) AS md5_hex
        FROM documents
    """,
)
def q_text_fingerprint_vectorized(spark, sf_dir):
    """SCALAR ARROW pandas_udf exhibit: per-doc md5 computed by a
    vectorized Python UDF (hashlib over an Arrow-delivered pandas
    Series — the 10-100x-over-row-Python boundary the brief
    prescribes when Python is unavoidable), pinned BIT-IDENTICAL to
    the JVM md5 (pytest law) and to the DuckDB oracle — md5 is the
    rare function all three engines agree on exactly, which is what
    makes it the right probe: any Arrow encoding drift (encoding,
    nulls, batch splits) breaks the equality. The JVM F.md5 remains
    the production path; this exhibit certifies the scalar
    pandas_udf boundary for the cases with no JVM equivalent (a
    model scorer, a tokenizer).

    Scale: embarrassingly parallel, Arrow-batched, no shuffle."""
    from ..operators.vectorized import md5_vectorized

    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        md5_vectorized(F.col("text")).alias("md5_hex"),
    )


