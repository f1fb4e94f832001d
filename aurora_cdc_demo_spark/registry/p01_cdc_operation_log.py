"""Query registry: every implemented operator exposed as
(spark, sf_dir) -> DataFrame, paired with an ANSI-SQL oracle that
DuckDB runs over the same parquet tables (the driver's correctness
gate). Column names/types are aligned on both sides.
"""

from __future__ import annotations

import os
import re
import shutil
import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators import cdc_apply
from ..operators.asof import asof_join
from ..queries import monitoring, tpch
from ..queries.tpch_oracles import TPCH_ORACLES
from ..session import ensure_utc
from ..sources.cdc_log import CDC_LOG_SQL, cdc_operation_log
from ..tables import load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_utc(spark)
            return fn(spark, sf_dir)

        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return wrapped

    return deco


def _with_log(body: str) -> str:
    return f"WITH log AS ({CDC_LOG_SQL})\n{body}"


# ---------------------------------------------------------------------------
# Gate-map cache (r5): per-(Spark app, sf_dir) materializations shared
# across queries — keep-list gate verdicts, shingle/signature tables,
# index builds and the few driver-side values (corpus counts, trained
# BPE tables) that queries would otherwise recompute per call.
# ---------------------------------------------------------------------------

_GATE_CACHE: dict = {}

# Per-key build locks (r9): gate maps are built from driver THREADS
# (the fused keep-list fans its ten v4 gates out; embed_keep_list
# overlaps its three chains) and several gates share upstream maps
# (shingles, minhash signatures, kmeans cells). Without a lock two
# threads that miss the cache on the same key both run the chain —
# duplicated jobs, not wrong answers. One lock per key serializes
# only same-key builds; distinct gates still overlap.
_GATE_LOCKS: dict = {}
_GATE_LOCKS_GUARD = threading.Lock()

# immutable corpora: the read-only testdata trees (TESTDATA.md) and
# the repo's write-once scaling corpus (tools/make_scale_data.py)
_IMMUTABLE_CORPUS_ROOTS = (
    "/root/testdata",
    os.path.abspath(
        os.path.join(os.path.dirname(__file__), "..", "..", "scale_data")
    ),
)


def _gate_lock(key):
    with _GATE_LOCKS_GUARD:
        return _GATE_LOCKS.setdefault(key, threading.Lock())


def _gate_cacheable(sf_dir) -> bool:
    """Only immutable corpora are cached; ad-hoc sf_dirs (unit-test
    tmpdirs with synthetic corpora) recompute on every call so a
    rewritten tmpdir can never serve stale results."""
    return str(sf_dir).startswith(_IMMUTABLE_CORPUS_ROOTS)


def _gate_value(spark, sf_dir, name, compute):
    """compute() ONCE per (Spark app, sf_dir, name) for cacheable
    corpora, under the key's build lock; on every call elsewhere."""
    if not _gate_cacheable(sf_dir):
        return compute()
    key = (spark.sparkContext.applicationId, str(sf_dir), name)
    if key in _GATE_CACHE:
        return _GATE_CACHE[key]
    with _gate_lock(key):
        if key not in _GATE_CACHE:
            _GATE_CACHE[key] = compute()
        return _GATE_CACHE[key]


def _gate_map(spark, sf_dir, name, builder):
    """Materialize (localCheckpoint) a per-doc verdict map ONCE per
    (Spark app, sf_dir) and reuse it across keep-list versions and
    graph variants — the production shape, where gate verdicts are
    materialized tables a curation run maintains, not expressions
    re-derived inside every artifact's plan. On a cluster the same
    maps would be df.checkpoint(eager=True) against a replicated dir
    (the local-vs-reliable split operators/graph.py documents)."""
    return _gate_value(
        spark, sf_dir, name, lambda: builder().localCheckpoint()
    )


# ---------------------------------------------------------------------------
# CDC core (SURVEY §2 #1-10)
# ---------------------------------------------------------------------------

_LATEST_STATE_SQL = _with_log(
    """
    , ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY key_id ORDER BY ts DESC, seq DESC) AS rn
        FROM log)
    SELECT key_id, seq, operation, event_type, ts, value
    FROM ranked WHERE rn = 1 AND operation <> 'DELETE'
    """
)


@query("cdc_operation_log", oracle=CDC_LOG_SQL)
def q_cdc_operation_log(spark, sf_dir):
    return cdc_operation_log(spark, sf_dir)


@query("cdc_latest_state", oracle=_LATEST_STATE_SQL)
def q_cdc_latest_state(spark, sf_dir):
    return cdc_apply.latest_state(cdc_operation_log(spark, sf_dir))


@query(
    "cdc_scd2_history",
    oracle=_with_log(
        """
        SELECT key_id, seq, operation, event_type, value,
               ts AS valid_from,
               lead(ts) OVER w AS valid_to,
               (lead(ts) OVER w IS NULL AND operation <> 'DELETE') AS is_current
        FROM log WINDOW w AS (PARTITION BY key_id ORDER BY ts ASC, seq ASC)
        """
    ),
)
def q_cdc_scd2(spark, sf_dir):
    return cdc_apply.scd2_history(cdc_operation_log(spark, sf_dir))


@query(
    "cdc_upsert_merge",
    oracle=_with_log(
        f"""
        , snap_ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY key_id ORDER BY ts DESC, seq DESC) AS rn
            FROM log WHERE ts < TIMESTAMP '{cdc_apply.MERGE_SPLIT}')
        , snapshot AS (
            SELECT key_id, seq, operation, event_type, ts, value
            FROM snap_ranked WHERE rn = 1 AND operation <> 'DELETE')
        , chg_ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY key_id ORDER BY ts DESC, seq DESC) AS rn
            FROM log WHERE ts >= TIMESTAMP '{cdc_apply.MERGE_SPLIT}')
        , net AS (
            SELECT key_id, seq, operation, event_type, ts, value
            FROM chg_ranked WHERE rn = 1)
        SELECT
            CASE WHEN c.key_id IS NOT NULL THEN c.key_id ELSE s.key_id END AS key_id,
            CASE WHEN c.key_id IS NOT NULL THEN c.seq ELSE s.seq END AS seq,
            CASE WHEN c.key_id IS NOT NULL THEN c.operation ELSE s.operation END AS operation,
            CASE WHEN c.key_id IS NOT NULL THEN c.event_type ELSE s.event_type END AS event_type,
            CASE WHEN c.key_id IS NOT NULL THEN c.ts ELSE s.ts END AS ts,
            CASE WHEN c.key_id IS NOT NULL THEN c.value ELSE s.value END AS value
        FROM snapshot s FULL OUTER JOIN net c ON s.key_id = c.key_id
        WHERE NOT (c.key_id IS NOT NULL AND c.operation = 'DELETE')
        """
    ),
)
def q_cdc_upsert_merge(spark, sf_dir):
    log = cdc_operation_log(spark, sf_dir)
    split = F.to_timestamp(F.lit(cdc_apply.MERGE_SPLIT))
    snapshot = cdc_apply.latest_state(log.where(F.col("ts") < split))
    net = cdc_apply.net_changes(log.where(F.col("ts") >= split))
    return cdc_apply.upsert_merge(snapshot, net)


@query(
    "cdc_dedup_exactly_once",
    oracle=_with_log(
        """
        , dup AS (
            SELECT * FROM log
            UNION ALL
            SELECT * FROM log WHERE seq % 7 = 0)
        SELECT DISTINCT key_id, seq, operation, event_type, ts, value FROM dup
        """
    ),
)
def q_cdc_dedup_exactly_once(spark, sf_dir):
    log = cdc_operation_log(spark, sf_dir)
    duplicated = log.unionByName(log.where(F.col("seq") % 7 == 0))
    return cdc_apply.dedup_exactly_once(duplicated)


@query(
    "cdc_event_counts_windowed",
    oracle=_with_log(
        """
        SELECT date_trunc('hour', ts) AS window_start,
               operation,
               COUNT(*) AS event_count,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
                   AS error_count,
               MAX(ts) AS last_event_time,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 4) AS sum_value
        FROM log GROUP BY 1, 2
        """
    ),
)
def q_cdc_event_counts_windowed(spark, sf_dir):
    return monitoring.event_counts_windowed(cdc_operation_log(spark, sf_dir))


@query(
    "cdc_table_stats",
    oracle=_with_log(
        """
        SELECT operation,
               COUNT(*) AS total_events,
               COUNT(DISTINCT key_id) AS unique_keys,
               MIN(ts) AS first_event,
               MAX(ts) AS last_event,
               (10 * CAST(SUM(CAST(value AS DECIMAL(12,2))) * 100 AS BIGINT))
                   // COUNT(*) AS avg_value_milli
        FROM log GROUP BY operation
        """
    ),
)
def q_cdc_table_stats(spark, sf_dir):
    return monitoring.table_stats(cdc_operation_log(spark, sf_dir))


@query(
    "cdc_error_monitor",
    oracle=_with_log(
        """
        SELECT date_trunc('day', ts) AS error_day,
               COUNT(*) AS n_errors,
               COUNT(DISTINCT key_id) AS n_keys,
               MAX(ts) AS last_error_ts
        FROM log WHERE event_type = 'error' GROUP BY 1
        """
    ),
)
def q_cdc_error_monitor(spark, sf_dir):
    return monitoring.error_monitor(cdc_operation_log(spark, sf_dir))


@query(
    "cdc_sessionize",
    oracle=_with_log(
        """
        , flagged AS (
            SELECT *,
                CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1
                     WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1
                     ELSE 0 END AS new_sess
            FROM log WINDOW w AS (PARTITION BY key_id ORDER BY ts ASC, seq ASC))
        , sess AS (
            SELECT *, SUM(new_sess) OVER (
                PARTITION BY key_id ORDER BY ts ASC, seq ASC
                ROWS UNBOUNDED PRECEDING) AS session_id
            FROM flagged)
        SELECT key_id,
               CAST(session_id AS BIGINT) AS session_id,
               COUNT(*) AS n_events,
               MIN(ts) AS session_start,
               MAX(ts) AS session_end,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 4) AS sum_value
        FROM sess GROUP BY key_id, session_id
        """
    ),
)
def q_cdc_sessionize(spark, sf_dir):
    return cdc_apply.sessionize(cdc_operation_log(spark, sf_dir))


@query(
    "cdc_priority_schedule",
    oracle=_with_log(
        f"""
        , stats AS (
            SELECT key_id, COUNT(*) AS n_changes, MAX(ts) AS last_ts
            FROM log GROUP BY key_id)
        , scored AS (
            SELECT key_id, n_changes, last_ts,
                CAST(LEAST(n_changes, 100) +
                     CASE WHEN hrs < 1 THEN 50 WHEN hrs < 24 THEN 20 ELSE 0 END
                     AS BIGINT) AS priority
            FROM (SELECT *,
                    CAST(floor((epoch_us(TIMESTAMP '{cdc_apply.PRIORITY_ANCHOR}')
                                - epoch_us(last_ts)) / 3600000000.0) AS BIGINT) AS hrs
                  FROM stats))
        SELECT key_id, n_changes, last_ts, priority,
               row_number() OVER (ORDER BY priority DESC, key_id ASC) AS batch_rank,
               row_number() OVER (ORDER BY priority DESC, key_id ASC) <= 50
                   AS in_next_batch
        FROM scored
        """
    ),
)
def q_cdc_priority_schedule(spark, sf_dir):
    return cdc_apply.priority_schedule(cdc_operation_log(spark, sf_dir))


# ---------------------------------------------------------------------------
# Analytics engine: TPC-H-shaped queries (SURVEY §2 #11-19)
# ---------------------------------------------------------------------------

for _name, _fn in [
    ("q1_pricing_summary", tpch.q1_pricing_summary),
    ("q3_shipping_priority", tpch.q3_shipping_priority),
    ("q4_order_priority", tpch.q4_order_priority),
    ("q5_local_supplier", tpch.q5_local_supplier),
    ("q6_revenue_forecast", tpch.q6_revenue_forecast),
    ("q10_returned_items", tpch.q10_returned_items),
    ("top_customers_per_segment", tpch.top_customers_per_segment),
    ("monthly_revenue_rollup", tpch.monthly_revenue_rollup),
    ("promo_part_share", tpch.promo_part_share),
    # extended coverage (SURVEY §2 #42-51)
    ("q7_nation_volume", tpch.q7_nation_volume),
    ("q8_market_share", tpch.q8_market_share),
    ("q12_late_lines", tpch.q12_late_lines),
    ("q13_customer_distribution", tpch.q13_customer_distribution),
    ("q15_top_supplier", tpch.q15_top_supplier),
    ("q16_part_supplier_variety", tpch.q16_part_supplier_variety),
    ("q17_small_qty_revenue", tpch.q17_small_qty_revenue),
    ("q18_large_volume_customers", tpch.q18_large_volume_customers),
    ("q19_bracket_revenue", tpch.q19_bracket_revenue),
    ("q22_dormant_customers", tpch.q22_dormant_customers),
    ("q9_product_profit", tpch.q9_product_profit),
    ("q11_inventory_value", tpch.q11_inventory_value),
    ("q2_min_cost_supplier", tpch.q2_min_cost_supplier),
    ("q20_excess_stock_suppliers", tpch.q20_excess_stock_suppliers),
]:
    query(_name, oracle=TPCH_ORACLES[_name])(_fn)


# ---------------------------------------------------------------------------
# AS-OF join (SURVEY §2 #20): operator Spark lacks, union+window impl
# ---------------------------------------------------------------------------


@query("asof_order_event", oracle=TPCH_ORACLES["asof_order_event"])
def q_asof_order_event(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("key_id"),
        F.col("event_id").alias("purchase_seq"),
        F.col("ts").alias("purchase_ts"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("key_id"),
        F.col("event_id").alias("seq"),
        "ts",
        "value",
    )
    return asof_join(
        purchases,
        clicks,
        key="key_id",
        probe_ts="purchase_ts",
        build_ts="ts",
        build_seq="seq",
        build_payload=["seq", "value"],
    )


_ASOF_TOL_US = 24 * 3600 * 1_000_000  # 24h


@query(
    "asof_order_event_tolerance",
    oracle=f"""
        WITH ev AS (
            SELECT user_id AS key_id, event_id AS seq, ts, value, event_type
            FROM events)
        , purchases AS (
            SELECT key_id, seq AS purchase_seq, ts AS purchase_ts
            FROM ev WHERE event_type = 'purchase')
        , clicks AS (
            SELECT key_id, seq, ts, value FROM ev WHERE event_type = 'click')
        , m AS (
            SELECT p.key_id, p.purchase_seq, p.purchase_ts,
                   c.ts AS m_ts, c.seq AS m_seq, c.value AS m_value
            FROM purchases p
            ASOF LEFT JOIN clicks c
              ON p.key_id = c.key_id AND c.ts <= p.purchase_ts)
        SELECT key_id, purchase_seq, purchase_ts,
               CASE WHEN epoch_us(purchase_ts) - epoch_us(m_ts)
                         <= {_ASOF_TOL_US} THEN m_ts END AS asof_ts,
               CASE WHEN epoch_us(purchase_ts) - epoch_us(m_ts)
                         <= {_ASOF_TOL_US} THEN m_seq END AS asof_seq,
               CASE WHEN epoch_us(purchase_ts) - epoch_us(m_ts)
                         <= {_ASOF_TOL_US} THEN m_value END AS asof_value
        FROM m
    """,
)
def q_asof_order_event_tolerance(spark, sf_dir):
    """As-of join with a match tolerance (pandas merge_asof
    ``tolerance``): the latest click within 24h before each purchase;
    staler matches are nulled, purchases kept (left semantics). Same
    single-shuffle union+window plan as asof_order_event — tolerance
    is a post-projection, never a range join."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("key_id"),
        F.col("event_id").alias("purchase_seq"),
        F.col("ts").alias("purchase_ts"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("key_id"),
        F.col("event_id").alias("seq"),
        "ts",
        "value",
    )
    return asof_join(
        purchases,
        clicks,
        key="key_id",
        probe_ts="purchase_ts",
        build_ts="ts",
        build_seq="seq",
        build_payload=["seq", "value"],
        tolerance_us=_ASOF_TOL_US,
    )


# ---------------------------------------------------------------------------
# Text analysis + dedup (SURVEY §2 #21-28)
# ---------------------------------------------------------------------------

from ..operators import dedup as _dedup  # noqa: E402
from ..operators import text as _text  # noqa: E402


@query("text_token_stats", oracle=_text.TEXT_ORACLES["text_token_stats"])
def q_text_token_stats(spark, sf_dir):
    return _text.token_stats(load_table(spark, sf_dir, "documents"))


@query("text_quality_score", oracle=_text.TEXT_ORACLES["text_quality_score"])
def q_text_quality_score(spark, sf_dir):
    return _text.quality_score(load_table(spark, sf_dir, "documents"))


@query("text_lang_id", oracle=_text.TEXT_ORACLES["text_lang_id"])
def q_text_lang_id(spark, sf_dir):
    return _text.lang_id(load_table(spark, sf_dir, "documents"))


@query("text_fingerprint", oracle=_text.TEXT_ORACLES["text_fingerprint"])
def q_text_fingerprint(spark, sf_dir):
    return _text.fingerprint(load_table(spark, sf_dir, "documents"))


def _text_minhash_mats(spark, sf_dir):
    """Session gate maps for the text-dedup family's shared pure
    tables (r6): the distinct word-3-gram shingle postings and the
    12-wide MinHash signature table are functions of the corpus
    alone, shared verbatim by the Jaccard verifier, the LSH pair
    join, sketch calibration (full-width and b-bit), the S-curve
    tuning sweep, containment, and the cluster labeler — each
    previously re-derived both from parquet inside its own plan."""
    docs = load_table(spark, sf_dir, "documents")
    from ..tables import fanout_scan

    # r9 (guide §2.4): the shingle explode (n zip_with array copies
    # per doc + per-occurrence md5 downstream) is a compute-dense map
    # over a one-row-group scan — fan it out (no-op at real scale)
    sh = _gate_map(
        spark, sf_dir, "text_shingles",
        lambda: _dedup.shingles(fanout_scan(spark, docs)),
    )
    sig = _gate_map(
        spark, sf_dir, "text_mh_sigs",
        lambda: _dedup.minhash_signatures(sh),
    )
    return docs, sh, sig


@query("dedup_exact", oracle=_dedup.DEDUP_EXACT_SQL)
def q_dedup_exact(spark, sf_dir):
    return _dedup.dedup_exact(load_table(spark, sf_dir, "documents"))


@query("dedup_ngram_jaccard", oracle=_dedup.NGRAM_JACCARD_SQL)
def q_dedup_ngram_jaccard(spark, sf_dir):
    docs, sh, _ = _text_minhash_mats(spark, sf_dir)
    return _dedup.ngram_jaccard_pairs(docs, sh=sh)


@query("dedup_minhash_estimate", oracle=_dedup.MINHASH_ESTIMATE_SQL)
def q_dedup_minhash_estimate(spark, sf_dir):
    """Sketch calibration: per LSH candidate pair, MinHash-estimated
    vs exact Jaccard (both floor bp, bit-exact cross-engine) — tells
    a dedup deployment whether k=12 sketches suffice at its
    threshold; see operators/dedup.py:minhash_estimate."""
    _, sh, sig = _text_minhash_mats(spark, sf_dir)
    return _dedup.minhash_estimate(
        sig, _shingle_arrays_map(spark, sf_dir, sh)
    )


def _shingle_arrays_map(spark, sf_dir, sh):
    """Shared per-doc DISTINCT shingle-array view (doc_id, arr, c) —
    the row-local verify base dedup_ppjoin_exact introduced in r9
    and dedup_minhash_lsh joined in r10. One gate-mapped build
    serves both."""
    return _gate_map(
        spark, sf_dir, "text_shingle_arrays",
        lambda: sh.groupBy("doc_id").agg(
            F.collect_list("s").alias("arr"),
            F.count(F.lit(1)).cast("long").alias("c"),
        ),
    )


@query("dedup_minhash_lsh", oracle=_dedup.MINHASH_LSH_SQL)
def q_dedup_minhash_lsh(spark, sf_dir):
    docs, sh, sig = _text_minhash_mats(spark, sf_dir)
    # r10 (guide §3.4): exact verify via row-local array_intersect
    # over the shared shingle-array gate instead of the postings-
    # expansion join (won an interleaved A/B).
    cand = _dedup.lsh_candidates(sig)
    return _dedup.lsh_verified_pairs_arrays(
        cand, _shingle_arrays_map(spark, sf_dir, sh)
    )


@query("dedup_simhash", oracle=_dedup.SIMHASH_SQL)
def q_dedup_simhash(spark, sf_dir):
    # r9 measured (guide §1): fanout_scan LOSES here (1.94 s →
    # 2.21 s interleaved A/B at sf0.1) — the vote chain's cost sits
    # after the (doc_id, t) aggregate exchange, not in the scan-side
    # explode. Plain scan kept.
    return _dedup.simhash_pairs(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Embedding similarity + multimodal (SURVEY §2 #29-33)
# ---------------------------------------------------------------------------

from ..operators import multimodal as _mm  # noqa: E402
from ..operators import similarity as _sim  # noqa: E402


@query("embed_cosine_topk", oracle=_sim.topk_sql("duck"))
def q_embed_cosine_topk(spark, sf_dir):
    return _sim.cosine_topk(spark, sf_dir)


@query("embed_near_dup", oracle=_sim.near_dup_sql("duck"))
def q_embed_near_dup(spark, sf_dir):
    return _sim.near_dup(spark, sf_dir)


@query("embed_near_dup_lsh", oracle=_sim.near_dup_lsh_sql("duck"))
def q_embed_near_dup_lsh(spark, sf_dir):
    """Blocked near-dup: random-hyperplane LSH bands prune candidates
    to bucket collisions (key-partitioned equi self-join, never a
    cross product), exact cosine verifies — the 100 TB deployment
    path; embed_near_dup is its all-pairs oracle twin. Recall vs the
    exact twin is pinned in tests/test_similarity.py.

    The verified-pairs table is materialized through _gate_map (r5):
    the banding+verify chain is the costliest embed-side subtree and
    at least three downstream artifacts consume it (LSH clusters,
    embed keep-list, dedup-bias report) — one computation per
    (session, sf_dir), the same materialized-verdict-map discipline
    as the text keep-list gates."""
    return _gate_map(
        spark,
        sf_dir,
        "embed_ndl_pairs",
        lambda: _sim.near_dup_lsh(spark, sf_dir),
    )


@query("embed_centroids", oracle=_sim.centroids_sql("duck"))
def q_embed_centroids(spark, sf_dir):
    return _sim.centroids(spark, sf_dir)


@query("ann_ivf_topk", oracle=_sim.ivf_topk_sql("duck"))
def q_ann_ivf_topk(spark, sf_dir):
    return _sim.ivf_topk(spark, sf_dir)


@query("ann_ivf_multiprobe", oracle=_sim.ivf_multiprobe_sql("duck"))
def q_ann_ivf_multiprobe(spark, sf_dir):
    return _sim.ivf_multiprobe(spark, sf_dir)


def _sem_mats(spark, sf_dir):
    """The semdedup family's two shared materializations (r10, guide
    §2.1/§2.2): the seed-nearest cell table (min-struct argmin build
    with map-side partials — no corpus×N_SEEDS exchange + window
    sort) and the per-vector max
    within-cell lower-id-mate cosine. semdedup_cells' verdict and
    the WHOLE tau sweep are bounded reductions over these two."""
    from ..tables import load_table as _lt

    def build_cells():
        _lt(spark, sf_dir, "embeddings").createOrReplaceTempView(
            "embeddings"
        )
        return spark.sql(_sim.sem_cells_build_sql())

    cells = _gate_map(spark, sf_dir, "embed_sem_cells", build_cells)
    cells.createOrReplaceTempView("sem_cells_mat")

    def build_bmax():
        return spark.sql(_sim.sem_bmax_build_sql("sem_cells_mat"))

    bmax = _gate_map(spark, sf_dir, "embed_sem_bmax", build_bmax)
    bmax.createOrReplaceTempView("sem_bmax_mat")
    return cells, bmax


@query("semdedup_cells", oracle=_sim.semdedup_sql("duck"))
def q_semdedup_cells(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): coarse-cell clustering + within-
    cell cosine dedup, keep-min-id per duplicate group — the
    embedding-space complement of the text LSH dedup. Cell-bounded
    pairwise compare (equi-join on the cell key), never all-pairs;
    see operators/similarity.py:semdedup_sql. Materialized through
    _gate_map (r5) — the embed keep-list and the tau-sweep both
    consume this verdict. r10: built from the shared cell/bmax
    materializations (argmin assign as a map-side-partial min-struct
    aggregate, verdict = maxcos >= tau — see _sem_mats)."""

    def build():
        _sem_mats(spark, sf_dir)
        return spark.sql(
            _sim.semdedup_from_mats_sql("sem_cells_mat", "sem_bmax_mat")
        )

    return _gate_map(spark, sf_dir, "embed_semdedup", build)


@query("embed_quantize_int8", oracle=_sim.quantize_sql("duck"))
def q_embed_quantize_int8(spark, sf_dir):
    """Int8 scalar quantization of the embedding column with
    integer-exact reconstruction-error evidence (code sums +
    floor-scaled error sums) — the storage/ANN-memory compression
    step of an embedding pipeline; see
    operators/similarity.py:quantize_sql for the scale shape."""
    return _sim.quantize_int8(spark, sf_dir)


@query("ann_knn_graph", oracle=_sim.knn_graph_sql("duck"))
def q_ann_knn_graph(spark, sf_dir):
    """Batch KNN graph: every vector's top-3 nearest cell-mates —
    the all-vectors self-join primitive behind graph dedup /
    diversity sampling; cell-bounded candidates, never corpus²;
    see operators/similarity.py:knn_graph_sql."""
    return _sim.knn_graph(spark, sf_dir)


@query("ann_ivf_cell_stats", oracle=_sim.ivf_cell_stats_sql("duck"))
def q_ann_ivf_cell_stats(spark, sf_dir):
    """IVF index-build observability: per-cell population share and
    seed-affinity range — the balance monitor that tells an ANN
    deployment when to re-train its coarse quantizer (skewed cells =
    degraded recall + hot probe partitions). n_cells-bounded output;
    see operators/similarity.py:ivf_cell_stats_sql."""
    return _sim.ivf_cell_stats(spark, sf_dir)


@query("mm_binary_meta", oracle=_mm.MM_BINARY_META_SQL)
def q_mm_binary_meta(spark, sf_dir):
    return _mm.binary_meta(load_table(spark, sf_dir, "documents"))


@query("mm_frame_sample", oracle=_mm.MM_FRAME_SAMPLE_SQL)
def q_mm_frame_sample(spark, sf_dir):
    """Video-style frame sampling over binary payloads: N evenly
    strided byte-window 'frames' per doc, one row each, with stub
    decode features — the sampling plan is pure built-ins (explode +
    binary substring + md5), fully codegen'd; a real ffmpeg decode
    would slot in as mapInPandas without changing the row shape
    (operators/multimodal.py)."""
    return _mm.frame_sample(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Time travel + extended text ops (SURVEY §2 #34-36)
# ---------------------------------------------------------------------------

TIME_TRAVEL_AS_OF = "2024-01-16 00:00:00"


@query(
    "cdc_state_at_timestamp",
    oracle=_with_log(
        f"""
        , scd2 AS (
            SELECT key_id, seq, operation, event_type, value,
                   ts AS valid_from,
                   lead(ts) OVER w AS valid_to
            FROM log WINDOW w AS (PARTITION BY key_id ORDER BY ts ASC, seq ASC))
        SELECT key_id, seq, operation, event_type, value, valid_from
        FROM scd2
        WHERE valid_from <= TIMESTAMP '{TIME_TRAVEL_AS_OF}'
          AND (valid_to IS NULL OR valid_to > TIMESTAMP '{TIME_TRAVEL_AS_OF}')
          AND operation <> 'DELETE'
        """
    ),
)
def q_cdc_state_at_timestamp(spark, sf_dir):
    """Time-travel: table state as of a timestamp via SCD2 interval
    lookup — the query surface the reference gets from Delta time
    travel (reference: unity_catalog_cdc_demo.py:573-603)."""
    as_of = F.to_timestamp(F.lit(TIME_TRAVEL_AS_OF))
    scd2 = cdc_apply.scd2_history(cdc_operation_log(spark, sf_dir))
    return scd2.where(
        (F.col("valid_from") <= as_of)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > as_of))
        & (F.col("operation") != "DELETE")
    ).select("key_id", "seq", "operation", "event_type", "value", "valid_from")


@query("text_regex_tokens", oracle=_text.TEXT_ORACLES["text_regex_tokens"])
def q_text_regex_tokens(spark, sf_dir):
    return _text.regex_tokens(load_table(spark, sf_dir, "documents"))


@query("text_rolling_hash", oracle=_text.TEXT_ORACLES["text_rolling_hash"])
def q_text_rolling_hash(spark, sf_dir):
    return _text.rolling_hash(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# DataSource round-trip with schema-on-read flattening (SURVEY §2 #37)
# ---------------------------------------------------------------------------


# The binlog's operation/table/transaction derivations are pure
# functions of events columns, so the DuckDB oracle can re-derive the
# identical log straight from the parquet (generator contract:
# sources/cdc_datasource.write_binlog_from_events).
_BINLOG_OP_SQL = """CASE WHEN event_id % 251 = 250 THEN 'TRUNCATE'
                    WHEN event_type = 'signup' THEN 'INSERT'
                    WHEN event_type = 'error' THEN 'DELETE'
                    ELSE 'UPDATE' END"""
_BINLOG_LOG_CTE = f"""
    binlog AS (
        SELECT 'users_' || CAST(user_id % 4 AS VARCHAR) AS tbl,
               CASE WHEN event_id % 251 = 250 THEN NULL
                    ELSE user_id END AS key_id,
               event_id AS seq,
               {_BINLOG_OP_SQL} AS operation,
               CASE WHEN event_id % 251 = 250 OR event_type = 'error' THEN NULL
                    ELSE event_type END AS event_type,
               ts,
               CASE WHEN event_id % 251 = 250 OR event_type = 'error' THEN NULL
                    ELSE value END AS value,
               'txn' || CAST(event_id // 8 AS VARCHAR) AS transaction_id
        FROM events)
"""


# where binlog_path stages its logs (the package's .cache/)
BINLOG_CACHE_ROOT = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".cache")
# the binlog generator's version: v3 is gzip JSON lines (a plain v2
# cache is never reused)
BINLOG_VERSION = 3
_BINLOG_CACHE_DIR = re.compile(r"cdc_binlog(?:_ddl)?_v(\d+)_")


def _drop_stale_binlogs() -> None:
    """Delete the caches of earlier generator versions,
    ``cdc_binlog[_ddl]_v<N>_*`` with N below BINLOG_VERSION, and only
    those: a current-version cache of another sf_dir is in use."""
    if not os.path.isdir(BINLOG_CACHE_ROOT):
        return
    for name in os.listdir(BINLOG_CACHE_ROOT):
        m = _BINLOG_CACHE_DIR.match(name)
        if m and int(m.group(1)) < BINLOG_VERSION:
            shutil.rmtree(os.path.join(BINLOG_CACHE_ROOT, name), ignore_errors=True)


def binlog_path(sf_dir: str, include_ddl: bool = False) -> str:
    """Materialize (once per sf_dir) the deterministic CDC binlog for
    the DataSource-backed queries; cached under .cache/ keyed by a
    generator version so format changes invalidate stale logs. The
    ``include_ddl`` variant (a separate cache dir) carries the
    mid-log DDL event + schema_version 2 payloads. Every call drops
    the caches of earlier generator versions, not only one that
    writes a cache."""
    import hashlib

    from ..sources.cdc_datasource import write_binlog_from_events

    # key on the source file's identity (mtime/size), not just the
    # path: the driver regenerates testdata between rounds and a
    # stale binlog would silently diverge from the oracle's view
    src = f"{sf_dir}/events.parquet"
    st = os.stat(src)
    ident = f"{sf_dir}|{st.st_mtime_ns}|{st.st_size}"
    tag = hashlib.md5(ident.encode()).hexdigest()[:10]
    variant = "cdc_binlog_ddl" if include_ddl else "cdc_binlog"
    out = os.path.join(BINLOG_CACHE_ROOT, f"{variant}_v{BINLOG_VERSION}_{tag}")
    marker = os.path.join(out, "_BINLOG_DONE")
    _drop_stale_binlogs()
    if not os.path.exists(marker):
        write_binlog_from_events(
            f"{sf_dir}/events.parquet", out, include_ddl=include_ddl
        )
        open(marker, "w").close()
    return out


def read_binlog(spark, sf_dir: str, *columns: str):
    """The sf_dir's binlog through the ``cdc_replay`` Python data
    source: every CDC_EVENT_SCHEMA column, or only ``columns`` in that
    order, which are then the only ones the read tasks build and send
    to the JVM."""
    from ..sources.cdc_datasource import CDC_EVENT_SCHEMA, CDCReplayDataSource

    # Spark checks a new Python data source name against the ACTIVE
    # session's sources but resolves a read against the reading
    # session's own. Registering with ``spark`` active puts the name
    # where its reads look, in any session (a newSession() included).
    jsession = spark._jvm.org.apache.spark.sql.classic.SparkSession
    active = jsession.getActiveSession()
    jsession.setActiveSession(spark._jsparkSession)
    try:
        spark.dataSource.register(CDCReplayDataSource)
    finally:
        if active.isDefined():
            jsession.setActiveSession(active.get())
        else:
            jsession.clearActiveSession()
    reader = spark.read.format("cdc_replay")
    if columns:
        reader = reader.schema(StructType([CDC_EVENT_SCHEMA[c] for c in columns]))
    return reader.option("path", binlog_path(sf_dir)).load()


@query(
    "cdc_replay_typed",
    oracle=f"""
        WITH {_BINLOG_LOG_CTE}
        SELECT key_id, seq, operation, event_type, ts, value FROM binlog
    """,
)
def q_cdc_replay_typed(spark, sf_dir):
    """End-to-end DataSource V2 round trip, oracle-checked: events →
    binlog files → cdc_replay batch read → schema-on-read flatten of
    the `after` map back to typed columns (the reference's
    flatten_json_df, reference: cdc_500_tables_streaming.py:297-314).
    DELETE events carry no after-image and TRUNCATE events carry no
    row identity at all (table-wide op), so their payload/key columns
    are NULL — exactly what the oracle derives from the raw table.
    The read asks for the 5 columns the flatten uses, so only they
    cross the Python→JVM boundary."""
    raw = read_binlog(spark, sf_dir, "primary_keys", "seq", "operation", "after", "ts")
    return raw.select(
        F.col("primary_keys")["key_id"].cast("long").alias("key_id"),
        "seq",
        "operation",
        F.col("after")["event_type"].alias("event_type"),
        "ts",
        F.col("after")["value"].cast("double").alias("value"),
    )


def read_binlog_jvm(spark, sf_dir: str):
    from ..sources.cdc_datasource import read_binlog_native

    return read_binlog_native(spark, binlog_path(sf_dir))


@query(
    "cdc_replay_typed_native",
    oracle=f"""
        WITH {_BINLOG_LOG_CTE}
        SELECT key_id, seq, operation, event_type, ts, value FROM binlog
    """,
)
def q_cdc_replay_typed_native(spark, sf_dir):
    """Twin of cdc_replay_typed through the JVM-native JSON scan
    (sources/cdc_datasource.py:read_binlog_native) instead of the
    Python DataSource: identical oracle, same flatten — proving the
    at-rest replay path produces the same typed rows at native scan
    speed (no Python workers in the plan; asserted in
    tests/test_plans.py)."""
    raw = read_binlog_jvm(spark, sf_dir)
    return raw.select(
        F.col("primary_keys")["key_id"].cast("long").alias("key_id"),
        "seq",
        "operation",
        F.col("after")["event_type"].alias("event_type"),
        "ts",
        F.col("after")["value"].cast("double").alias("value"),
    )


@query(
    "cdc_schema_version_history",
    oracle=f"""
        WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM events)
        , b AS (
            SELECT 'users_' || CAST(user_id % 4 AS VARCHAR) AS tbl,
                   CAST(event_id AS BIGINT) AS seq,
                   {_BINLOG_OP_SQL} AS operation,
                   CASE WHEN user_id % 4 = 1
                             AND event_id > (SELECT c FROM n) // 2
                             AND event_id % 251 <> 250
                        THEN '2' ELSE '1' END AS schema_version,
                   CAST(NULL AS VARCHAR) AS ddl_statement
            FROM events
            UNION ALL
            SELECT 'users_1',
                   1000000000 + (SELECT c FROM n) // 2,
                   'DDL', '2',
                   'ALTER TABLE users_1 ADD COLUMN loyalty_tier VARCHAR'
            FROM n)
        SELECT tbl, schema_version,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(MIN(seq) AS BIGINT) AS first_seq,
               CAST(MAX(seq) AS BIGINT) AS last_seq,
               CAST(SUM(CASE WHEN operation = 'DDL' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_ddl,
               MAX(ddl_statement) AS last_ddl
        FROM b GROUP BY tbl, schema_version
    """,
)
def q_cdc_schema_version_history(spark, sf_dir):
    """Schema-evolution audit over the DDL-bearing binlog: per
    (table, schema_version) — event volume, seq span, DDL event
    count, and the DDL text (reference reserves schema_version +
    ddl_statement exactly for this audit surface,
    aurora_cdc_datasource_v2.py:76-78). Closes the batch-side DDL
    loop: R2 proved DDL drives the schema-evolving merge in
    STREAMING; this exposes the same events to the at-rest query
    path via the native scan. One hash aggregate on a
    schema-object-bounded key."""
    from ..sources.cdc_datasource import read_binlog_native

    raw = read_binlog_native(spark, binlog_path(sf_dir, include_ddl=True))
    return raw.groupBy(
        F.col("table").alias("tbl"), "schema_version"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("seq").alias("first_seq"),
        F.max("seq").alias("last_seq"),
        F.sum(
            F.when(F.col("operation") == "DDL", 1).otherwise(0)
        ).cast("long").alias("n_ddl"),
        F.max("ddl_statement").alias("last_ddl"),
    )


@query(
    "cdc_distinct_transactions",
    oracle=f"""
        WITH {_BINLOG_LOG_CTE}
        SELECT tbl,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(DISTINCT transaction_id) AS BIGINT) AS n_txns,
               CAST(MIN(seq) AS BIGINT) AS first_seq,
               CAST(MAX(seq) AS BIGINT) AS last_seq
        FROM binlog GROUP BY tbl
    """,
)
def q_cdc_distinct_transactions(spark, sf_dir):
    """Reference monitoring query #2 — per-table event volume and
    DISTINCT TRANSACTIONS counted on the real transaction_id column
    (reference: aurora_cdc_datasource_v2.py:68 carries transaction_id
    exactly so monitoring can do this; round 1 approximated it on
    keys because the column didn't exist). One hash aggregate with
    map-side partials; count(distinct) expands to a two-stage
    aggregate on (tbl, transaction_id) — both shuffles are on
    low-cardinality keys."""
    raw = read_binlog_jvm(spark, sf_dir)
    return raw.groupBy(F.col("table").alias("tbl")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("transaction_id").alias("n_txns"),
        F.min("seq").alias("first_seq"),
        F.max("seq").alias("last_seq"),
    )


@query(
    "cdc_latest_state_with_truncate",
    oracle=f"""
        WITH {_BINLOG_LOG_CTE}
        , trunc AS (
            SELECT tbl, MAX(seq) AS tseq FROM binlog
            WHERE operation = 'TRUNCATE' GROUP BY tbl)
        , live AS (
            SELECT b.* FROM binlog b LEFT JOIN trunc t ON b.tbl = t.tbl
            WHERE b.operation <> 'TRUNCATE'
              AND b.seq > COALESCE(t.tseq, -1))
        , ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY tbl, key_id ORDER BY ts DESC, seq DESC) AS rn
            FROM live)
        SELECT tbl, key_id, seq, operation, event_type, ts, value
        FROM ranked WHERE rn = 1 AND operation <> 'DELETE'
    """,
)
def q_cdc_latest_state_with_truncate(spark, sf_dir):
    """Latest-state materialization honoring table-wide TRUNCATE in
    binlog-position order (reference op vocabulary:
    aurora_cdc_datasource_v2.py:61): a TRUNCATE wipes all earlier
    changes of its table; later changes rebuild state. DataSource →
    flatten → latest_state_with_truncate (operators/cdc_apply.py)."""
    raw = read_binlog_jvm(spark, sf_dir)
    log = raw.select(
        F.col("table").alias("tbl"),
        F.col("primary_keys")["key_id"].cast("long").alias("key_id"),
        "seq",
        "operation",
        F.col("after")["event_type"].alias("event_type"),
        "ts",
        F.col("after")["value"].cast("double").alias("value"),
    )
    return cdc_apply.latest_state_with_truncate(log)


# ---------------------------------------------------------------------------
# Scale patterns: salted skew agg + per-key trend (SURVEY §2 #38-39)
# ---------------------------------------------------------------------------

from ..operators import skew as _skew  # noqa: E402
from ..operators import trend as _trend  # noqa: E402


@query("skew_salted_agg", oracle=_skew.SALTED_AGG_SQL)
def q_skew_salted_agg(spark, sf_dir):
    return _skew.salted_agg(cdc_operation_log(spark, sf_dir))


@query("user_value_trend", oracle=_trend.TREND_SQL_ORACLE)
def q_user_value_trend(spark, sf_dir):
    return _trend.trend_sql(cdc_operation_log(spark, sf_dir))


# ---------------------------------------------------------------------------
# Corpus statistics (SURVEY §2 #40-41)
# ---------------------------------------------------------------------------


@query(
    "text_top_bigrams",
    oracle="""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        , bg AS (
            SELECT unnest(list_transform(range(1, len(t)),
                          i -> array_to_string(t[i:i+1], ' '))) AS bigram
            FROM toks WHERE len(t) >= 2)
        , counted AS (
            SELECT bigram, COUNT(*) AS n FROM bg GROUP BY bigram)
        SELECT bigram, n FROM counted
        ORDER BY n DESC, bigram ASC LIMIT 20
    """,
)
def q_text_top_bigrams(spark, sf_dir):
    """Corpus-level n-gram frequency analysis (vocabulary stats for
    a training-data pipeline): top-20 word bigrams. One explode +
    hash aggregate with map-side combine; top-N via global sort of
    the (tiny) aggregated result."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    m = F.size(toks) - 1
    bigrams = F.zip_with(
        F.slice(toks, 1, m),
        F.slice(toks, 2, m),
        lambda x, y: F.concat(x, F.lit(" "), y),
    )
    return (
        docs.where(F.size(toks) >= 2)
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(20)
    )


@query(
    "text_quality_buckets",
    oracle="""
        WITH t AS (
            SELECT doc_id, length(text) AS n_chars,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
                   CAST(len(list_filter(string_split(text, ' '),
                        x -> x IN ('the', 'a', 'of', 'and'))) AS BIGINT) AS stop,
                   CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS uniq
            FROM documents)
        , scored AS (
            SELECT doc_id, n_chars,
                   (300000 * uniq + 300000 * (n - stop)
                    + 4000 * n * LEAST(n, 100)) // (100 * n) AS quality_bp
            FROM t)
        SELECT quality_bp // 1000 AS quality_bucket,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               MIN(quality_bp) AS min_bp,
               MAX(quality_bp) AS max_bp
        FROM scored GROUP BY 1
    """,
)
def q_text_quality_buckets(spark, sf_dir):
    """Corpus filtering view: document counts/volume per quality
    decile — the keep/drop decision surface of a data-quality
    pipeline, integer-exact end to end."""
    scored = _text.quality_score(load_table(spark, sf_dir, "documents"))
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").cast("long").alias("n_chars")
    )
    return (
        scored.join(docs, "doc_id")
        .select(F.expr("quality_bp div 1000").alias("quality_bucket"), "n_chars",
                "quality_bp")
        .groupBy("quality_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("quality_bp").alias("min_bp"),
            F.max("quality_bp").alias("max_bp"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus sampling + sequence packing + cohort retention (SURVEY §2 #53-55)
# ---------------------------------------------------------------------------

from ..operators import sampling as _sampling  # noqa: E402


@query("sample_stratified", oracle=_sampling.SAMPLE_STRATIFIED_SQL)
def q_sample_stratified(spark, sf_dir):
    """Deterministic hash-stratified corpus sampling (per-language
    keep rates); reproducible and shuffle-free at any scale."""
    return _sampling.sample_stratified(load_table(spark, sf_dir, "documents"))


@query("text_chunk_windows", oracle=_sampling.CHUNK_WINDOWS_SQL)
def q_text_chunk_windows(spark, sf_dir):
    """Fixed-size token windows per document (sequence packing for
    LLM pre-training); one generator explode, no shuffle."""
    return _sampling.chunk_windows(load_table(spark, sf_dir, "documents"))


@query(
    "events_user_retention",
    oracle="""
        WITH first AS (
            SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
            FROM events GROUP BY user_id)
        , active AS (
            SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week
            FROM events)
        SELECT cohort_week,
               CAST(date_diff('day', cohort_week, active_week) // 7 AS BIGINT)
                   AS week_offset,
               CAST(COUNT(*) AS BIGINT) AS n_users
        FROM active JOIN first USING (user_id)
        GROUP BY 1, 2
    """,
)
def q_events_user_retention(spark, sf_dir):
    """Weekly cohort retention over the event stream: users grouped
    by first-seen week, counted per active-week offset. Two shuffles
    (per-user min, then per-cohort count) — both key-partitioned and
    map-side combined."""
    ev = load_table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    active = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("active_week")
    ).distinct()
    return (
        active.join(first, "user_id")
        .groupBy(
            "cohort_week",
            F.expr("datediff(active_week, cohort_week) div 7")
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "events_props_flatten",
    oracle="""
        SELECT event_id, event_type,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS props_k
        FROM events
    """,
)
def q_events_props_flatten(spark, sf_dir):
    """Schema-on-read flatten of the JSON props payload into typed
    columns — the reference's flatten_json_df over the CDC after-map
    (cdc_500_tables_streaming.py:313-344) applied to real JSON.
    get_json_object runs JVM-side in whole-stage codegen; no Python."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "event_type",
        F.get_json_object(F.col("props"), "$.k").cast("long").alias("props_k"),
    )


@query(
    "events_rolling_7d",
    oracle="""
        SELECT user_id, event_id AS seq, ts,
               COUNT(*) OVER w AS rolling_n,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w * 100 AS BIGINT)
                   AS rolling_value_centi
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                     RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
    """,
)
def q_events_rolling_7d(spark, sf_dir):
    """Per-user 7-day rolling count/sum over the event stream — a
    RANGE-frame time window (microsecond-exact bounds on both
    engines; centi-scaled integer sum for cross-engine exactness).
    One shuffle on user_id; the frame scan is sorted within
    partition."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-7 * 24 * 3600 * 1_000_000, 0)
    )
    return ev.select(
        "user_id",
        F.col("event_id").alias("seq"),
        "ts",
        F.count(F.lit(1)).over(w).alias("rolling_n"),
        (F.sum(F.col("value").cast("decimal(12,2)")).over(w) * 100)
        .cast("long")
        .alias("rolling_value_centi"),
    )


@query(
    "events_funnel",
    oracle="""
        WITH first_signup AS (
            SELECT user_id, MIN(ts) AS t_signup
            FROM events WHERE event_type = 'signup' GROUP BY user_id)
        , first_click AS (
            SELECT e.user_id, MIN(e.ts) AS t_click
            FROM events e JOIN first_signup s ON e.user_id = s.user_id
            WHERE e.event_type = 'click' AND e.ts >= s.t_signup
            GROUP BY e.user_id)
        , first_purchase AS (
            SELECT e.user_id, MIN(e.ts) AS t_purchase
            FROM events e JOIN first_click c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
            GROUP BY e.user_id)
        SELECT
            (SELECT COUNT(*) FROM first_signup) AS n_signup,
            (SELECT COUNT(*) FROM first_click) AS n_click_after_signup,
            (SELECT COUNT(*) FROM first_purchase) AS n_purchase_after_click
    """,
)
def q_events_funnel(spark, sf_dir):
    """Ordered conversion funnel signup -> click -> purchase: each
    step's first event must not precede the previous step's. Three
    key-partitioned aggregations, each shrinking the key set — the
    standard product-analytics funnel at stream scale."""
    ev = load_table(spark, sf_dir, "events")
    signup = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    click = (
        ev.where(F.col("event_type") == "click")
        .join(signup, "user_id")
        .where(F.col("ts") >= F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    purchase = (
        ev.where(F.col("event_type") == "purchase")
        .join(click, "user_id")
        .where(F.col("ts") >= F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        signup.agg(F.count(F.lit(1)).alias("n_signup"))
        .crossJoin(click.agg(F.count(F.lit(1)).alias("n_click_after_signup")))
        .crossJoin(
            purchase.agg(F.count(F.lit(1)).alias("n_purchase_after_click"))
        )
    )


from ..operators import rangejoin as _rangejoin  # noqa: E402


@query(
    "range_join_error_windows",
    oracle=_with_log(_rangejoin.RANGE_JOIN_SQL_BODY),
)
def q_range_join_error_windows(spark, sf_dir):
    """Interval-containment (range) join with no equi-key: events
    within ±5 min of any error event, via hour-bucket explode +
    equi-join (operators/rangejoin.py) — the oracle is the naive
    BETWEEN theta-join."""
    return _rangejoin.range_join_buckets(cdc_operation_log(spark, sf_dir))


@query(
    "sales_cube",
    oracle="""
        WITH j AS (
            SELECT r_name, o_orderstatus,
                   CAST(o_totalprice AS DECIMAL(12,2)) AS tp
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey)
        SELECT COALESCE(r_name, 'ALL') AS region_name,
               COALESCE(o_orderstatus, 'ALL') AS order_status,
               CAST(SUM(tp) AS DOUBLE) AS revenue,
               COUNT(*) AS n_orders
        FROM j GROUP BY CUBE(r_name, o_orderstatus)
    """,
)
def q_sales_cube(spark, sf_dir):
    """CUBE over (region, order status): all four grouping sets in
    one pass — map-side partial aggregation expands the grouping-set
    id, one shuffle total (vs four separate aggregations)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    j = (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        j.cube("r_name", "o_orderstatus")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            F.coalesce(F.col("r_name"), F.lit("ALL")).alias("region_name"),
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("order_status"),
            "revenue",
            "n_orders",
        )
    )


@query(
    "text_distinctive_tokens",
    oracle="""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
        , tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY 1, 2)
        , df AS (SELECT t, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1)
        , n AS (SELECT COUNT(*) AS n_docs FROM documents)
        , ranked AS (
            SELECT doc_id, t AS token, tf, df,
                   row_number() OVER (
                       PARTITION BY doc_id
                       ORDER BY CAST(tf AS DOUBLE) * n_docs / df DESC, t ASC)
                       AS rnk
            FROM tf JOIN df USING (t) CROSS JOIN n)
        SELECT doc_id, token, CAST(tf AS BIGINT) AS tf,
               CAST(df AS BIGINT) AS df, CAST(rnk AS BIGINT) AS rnk
        FROM ranked WHERE rnk <= 3
    """,
)
def q_text_distinctive_tokens(spark, sf_dir):
    """Top-3 distinctive tokens per doc, TF-IDF-shaped but log-free:
    scored by tf * N / df (two exact integer products and ONE double
    division — identical IEEE ops both engines; ln() is libm-
    dependent and is the one transcendental we refuse to gate on).
    df comes from one extra aggregation. The df-table join is left
    UNHINTED: the per-token document-frequency table is
    vocabulary-sized (unbounded at 100 TB), so a forced broadcast
    would OOM — sort-merge/shuffle-hash on `t` (or AQE's runtime
    choice) is the scale-safe plan. The 1-row n_docs broadcast stays."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("t")
    )
    tf = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("t").agg(F.count_distinct("doc_id").alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        (F.col("tf").cast("double") * F.col("n_docs") / F.col("df")).desc(),
        F.col("t").asc(),
    )
    return (
        tf.join(df, "t")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 3)
        .select(
            "doc_id",
            F.col("t").alias("token"),
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            "rnk",
        )
    )


@query("events_distinct_users_hll")
def q_events_distinct_users_hll(spark, sf_dir):
    """HLL sketch cardinality per event type — the sketch path for
    100 TB distinct counting (constant memory per group vs the exact
    count's shuffle of every key). No SQL oracle: HLL implementations
    differ by engine; the driver records a rows-only check and
    tests/test_sampling.py bounds the error vs the exact count."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query("dedup_clusters", oracle=_dedup.DEDUP_CLUSTERS_SQL)
def q_dedup_clusters(spark, sf_dir):
    """Connected components over near-dup pairs (iterative min-label
    propagation vs a recursive-CTE oracle)."""
    docs, sh, _ = _text_minhash_mats(spark, sf_dir)
    return _dedup.dedup_clusters(docs, sh=sh)


@query(
    "cdc_freshness",
    oracle=_with_log(
        """
        , hi AS (SELECT MAX(ts) AS max_ts FROM log)
        SELECT operation,
               MAX(ts) AS last_event,
               (epoch_us(max_ts) - epoch_us(MAX(ts))) // 1000000
                   AS lag_seconds,
               COUNT(*) AS n_events
        FROM log CROSS JOIN hi
        GROUP BY operation, max_ts
        """
    ),
)
def q_cdc_freshness(spark, sf_dir):
    """Per-operation replication freshness: lag of each operation's
    latest event behind the head of the stream (the reference's
    processing-lag monitor, made deterministic by measuring against
    the stream head instead of wall clock)."""
    log = cdc_operation_log(spark, sf_dir)
    hi = log.agg(F.max("ts").alias("max_ts"))
    return (
        log.crossJoin(F.broadcast(hi))
        .groupBy("operation", "max_ts")
        .agg(
            F.max("ts").alias("last_event"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "operation",
            "last_event",
            (
                (F.unix_micros(F.col("max_ts")) - F.unix_micros(F.col("last_event")))
                / 1_000_000
            )
            .cast("long")
            .alias("lag_seconds"),
            "n_events",
        )
    )


@query(
    "events_value_median",
    oracle="""
        WITH ranked AS (
            SELECT event_type, CAST(value AS DECIMAL(12,2)) AS v,
                   row_number() OVER (
                       PARTITION BY event_type
                       ORDER BY value ASC, event_id ASC) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM events)
        SELECT event_type,
               CAST(SUM(CASE WHEN rn = (n + 1) // 2 OR rn = (n + 2) // 2
                             THEN v ELSE CAST(0.00 AS DECIMAL(12,2)) END)
                    * 100 AS BIGINT) AS median2_centi,
               MAX(n) AS n
        FROM ranked GROUP BY event_type
    """,
)
def q_events_value_median(spark, sf_dir):
    """Exact median value per event type via rank positions.
    Output is the SUM of the two middle 2-decimal values in
    centi-units (median*2*100 — callers halve): halving would create
    x.5 decimals whose int cast ROUNDS in DuckDB but TRUNCATES in
    Spark. Engine percentile builtins interpolate differently, so
    the rank formulation is the cross-engine-safe exact quantile."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    wn = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        F.col("value").cast("decimal(12,2)").alias("v"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    mid = (
        (F.col("rn") == F.expr("(n + 1) div 2"))
        | (F.col("rn") == F.expr("(n + 2) div 2"))
    )
    return ranked.groupBy("event_type").agg(
        (
            F.sum(F.when(mid, F.col("v")).otherwise(F.lit(0.00).cast("decimal(12,2)")))
            * 100
        )
        .cast("long")
        .alias("median2_centi"),
        F.max("n").cast("long").alias("n"),
    )


@query(
    "events_pivot_optype",
    oracle=_with_log(
        """
        SELECT key_id,
               CAST(SUM(CASE WHEN operation = 'INSERT' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_insert,
               CAST(SUM(CASE WHEN operation = 'UPDATE' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_update,
               CAST(SUM(CASE WHEN operation = 'DELETE' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_delete
        FROM log GROUP BY key_id
        """
    ),
)
def q_events_pivot_optype(spark, sf_dir):
    """Operation-count matrix per key via pivot — Spark's pivot
    compiles to the same single-pass conditional aggregation the
    oracle spells out (values enumerated, so no extra distinct
    pass)."""
    log = cdc_operation_log(spark, sf_dir)
    return (
        log.groupBy("key_id")
        .pivot("operation", ["INSERT", "UPDATE", "DELETE"])
        .agg(F.count(F.lit(1)))
        .select(
            "key_id",
            F.coalesce(F.col("INSERT"), F.lit(0)).cast("long").alias("n_insert"),
            F.coalesce(F.col("UPDATE"), F.lit(0)).cast("long").alias("n_update"),
            F.coalesce(F.col("DELETE"), F.lit(0)).cast("long").alias("n_delete"),
        )
    )


@query(
    "dq_audit",
    oracle="""
        SELECT 'orphan_lineitems' AS check_name,
               CAST(COUNT(*) AS BIGINT) AS n_bad
        FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
        UNION ALL
        SELECT 'orphan_orders',
               CAST(COUNT(*) AS BIGINT)
        FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
        UNION ALL
        SELECT 'negative_price',
               CAST(COUNT(*) AS BIGINT)
        FROM lineitem WHERE l_extendedprice < 0
        UNION ALL
        SELECT 'dup_order_line',
               CAST(COUNT(*) AS BIGINT) FROM (
            SELECT l_orderkey, l_linenumber FROM lineitem
            GROUP BY 1, 2 HAVING COUNT(*) > 1)
        UNION ALL
        SELECT 'ship_before_order',
               CAST(COUNT(*) AS BIGINT)
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate < o_orderdate
    """,
)
def q_dq_audit(spark, sf_dir):
    """Referential-integrity / sanity audit over the landed warehouse
    — the data-quality gate an ETL pipeline runs after each load:
    orphan FKs (anti-joins), value bounds, duplicate natural keys,
    causality (ship >= order date). Each check is one distributed
    aggregate; the union is a tiny driver-side concat of 1-row
    results."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")

    def one(name, df):
        return df.agg(F.count(F.lit(1)).alias("n_bad")).select(
            F.lit(name).alias("check_name"), "n_bad"
        )

    orphan_li = li.join(
        orders.select("o_orderkey"),
        li["l_orderkey"] == orders["o_orderkey"],
        "left_anti",
    )
    orphan_orders = orders.join(
        cust.select("c_custkey"),
        orders["o_custkey"] == cust["c_custkey"],
        "left_anti",
    )
    neg_price = li.where(F.col("l_extendedprice") < 0)
    dup_lines = (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > 1)
    )
    ship_early = li.join(
        orders, F.col("l_orderkey") == F.col("o_orderkey")
    ).where(F.col("l_shipdate") < F.col("o_orderdate"))
    return (
        one("orphan_lineitems", orphan_li)
        .unionByName(one("orphan_orders", orphan_orders))
        .unionByName(one("negative_price", neg_price))
        .unionByName(one("dup_order_line", dup_lines))
        .unionByName(one("ship_before_order", ship_early))
    )


@query(
    "asof_order_event_forward",
    oracle="""
        WITH ev AS (
            SELECT user_id AS key_id, event_id AS seq, ts, value, event_type
            FROM events)
        , purchases AS (
            SELECT key_id, seq AS purchase_seq, ts AS purchase_ts
            FROM ev WHERE event_type = 'purchase')
        , clicks AS (
            SELECT key_id, seq, ts, value FROM ev WHERE event_type = 'click')
        SELECT p.key_id, p.purchase_seq, p.purchase_ts,
               n.ts AS asof_ts, n.seq AS asof_seq, n.value AS asof_value
        FROM purchases p
        LEFT JOIN LATERAL (
            SELECT c.ts, c.seq, c.value FROM clicks c
            WHERE c.key_id = p.key_id AND c.ts >= p.purchase_ts
            ORDER BY c.ts ASC, c.seq ASC LIMIT 1) n ON TRUE
    """,
)
def q_asof_order_event_forward(spark, sf_dir):
    """Forward as-of: first click at-or-after each purchase per user
    (next-touch attribution). Same union+running-window plan as the
    backward as-of, scanned in reverse time order; oracle is a
    LATERAL top-1 subquery."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("key_id"),
        F.col("event_id").alias("purchase_seq"),
        F.col("ts").alias("purchase_ts"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("key_id"),
        F.col("event_id").alias("seq"),
        "ts",
        "value",
    )
    return asof_join(
        purchases,
        clicks,
        key="key_id",
        probe_ts="purchase_ts",
        build_seq="seq",
        direction="forward",
    )


from ..sources import debezium as _debezium  # noqa: E402


@query(
    "debezium_silver_parse",
    oracle=_with_log(_debezium.DEBEZIUM_SILVER_SQL_BODY),
)
def q_debezium_silver_parse(spark, sf_dir):
    """Debezium-envelope roundtrip (reference debezium-approach
    medallion): CDC log -> JSON envelopes (bronze) -> from_json parse
    + op mapping + expectation filter (silver). The oracle derives
    the expected silver rows from plain SQL — losslessness check."""
    log = cdc_operation_log(spark, sf_dir)
    return _debezium.parse_envelopes(_debezium.synth_envelopes(log))


@query(
    "cdc_throughput_1min",
    oracle=_with_log(
        """
        SELECT date_trunc('minute', ts) AS minute_start,
               operation,
               COUNT(*) AS events_per_minute,
               COUNT(*) / 60.0 AS events_per_second,
               COUNT(*) < 10 AS low_volume_flag
        FROM log GROUP BY 1, 2
        """
    ),
)
def q_cdc_throughput_1min(spark, sf_dir):
    """Per-minute throughput view with low-volume quality flag
    (reference: debezium-approach v_cdc_throughput +
    cdc_quality_metrics flags; wall-clock latency flags omitted —
    non-deterministic). count/60.0 is one IEEE double division,
    identical on both engines."""
    log = cdc_operation_log(spark, sf_dir)
    return (
        log.groupBy(
            F.date_trunc("minute", F.col("ts")).alias("minute_start"),
            "operation",
        )
        .agg(F.count(F.lit(1)).alias("events_per_minute"))
        .select(
            "minute_start",
            "operation",
            "events_per_minute",
            (F.col("events_per_minute") / 60.0).alias("events_per_second"),
            (F.col("events_per_minute") < 10).alias("low_volume_flag"),
        )
    )


@query(
    "cdc_latest_state_agg",
    oracle=_with_log(
        """
        , keyed AS (
            SELECT *,
                   lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                   || lpad(CAST(seq AS VARCHAR), 10, '0') AS okey
            FROM log)
        , mx AS (SELECT key_id, MAX(okey) AS mo FROM keyed GROUP BY key_id)
        SELECT k.key_id, k.seq, k.operation, k.event_type, k.ts, k.value
        FROM keyed k JOIN mx ON k.key_id = mx.key_id AND k.okey = mx.mo
        WHERE k.operation <> 'DELETE'
        """
    ),
)
def q_cdc_latest_state_agg(spark, sf_dir):
    """Aggregate (max_by) twin of cdc_latest_state — the
    shuffle-minimal variant for bounded key cardinality at 100 TB
    (map-side partial max vs full-row window shuffle)."""
    return cdc_apply.latest_state_agg(cdc_operation_log(spark, sf_dir))


_KEEP_QUALITY_BP = 5000


@query(
    "corpus_keep_list",
    oracle=f"""
        WITH RECURSIVE {_dedup._SHINGLES_SQL}
        , inter AS (
            SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS inter
            FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
            GROUP BY 1, 2)
        , pairs AS (
            SELECT doc_a, doc_b FROM inter p
            JOIN sc cx ON p.doc_a = cx.doc_id
            JOIN sc cy ON p.doc_b = cy.doc_id
            WHERE 10000 * inter >= {_dedup.JACCARD_THRESHOLD_BP}
                  * (cx.c + cy.c - inter))
        , edges AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION ALL SELECT doc_b, doc_a FROM pairs)
        , reach(node, r) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.b, rr.r FROM reach rr JOIN edges e ON e.a = rr.node)
        , clusters AS (
            SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node)
        , exact AS (
            SELECT doc_id,
                   doc_id = MIN(doc_id) OVER (
                       PARTITION BY md5(regexp_replace(lower(trim(text)),
                                                       '\\s+', ' ', 'g'))
                   ) AS is_canonical
            FROM documents)
        , q AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
                   CAST(len(list_filter(string_split(text, ' '),
                        x -> x IN ('the', 'a', 'of', 'and'))) AS BIGINT) AS stop,
                   CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
                       AS uniq
            FROM documents)
        , quality AS (
            SELECT doc_id,
                   (300000 * uniq + 300000 * (n - stop)
                    + 4000 * n * LEAST(n, 100)) // (100 * n) AS quality_bp
            FROM q)
        , samp AS (
            SELECT doc_id,
                   CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                        AS BIGINT) % 10000
                       < CAST({_sampling._rate_case_sql()} AS BIGINT)
                       AS in_sample
            FROM documents)
        SELECT d.doc_id,
               e.is_canonical AS exact_canonical,
               c.cluster_id = d.doc_id AS cluster_canonical,
               qu.quality_bp >= {_KEEP_QUALITY_BP} AS quality_ok,
               s.in_sample,
               e.is_canonical AND c.cluster_id = d.doc_id
                   AND qu.quality_bp >= {_KEEP_QUALITY_BP} AND s.in_sample
                   AS keep,
               CASE WHEN NOT e.is_canonical THEN 'exact_dup'
                    WHEN c.cluster_id <> d.doc_id THEN 'near_dup'
                    WHEN qu.quality_bp < {_KEEP_QUALITY_BP} THEN 'low_quality'
                    WHEN NOT s.in_sample THEN 'sampled_out'
                    ELSE 'keep' END AS decision
        FROM documents d
        JOIN exact e USING (doc_id)
        JOIN clusters c USING (doc_id)
        JOIN quality qu USING (doc_id)
        JOIN samp s USING (doc_id)
    """,
)
def q_corpus_keep_list(spark, sf_dir):
    """THE training-data pipeline artifact: per-document keep/drop
    decision composing exact dedup (canonical per normalized-text
    hash), near-dup clustering (component representative), quality
    threshold, and stratified sampling — with a reason code per drop.
    One pass over each component, joined on doc_id; at 100 TB every
    component is the already-verified distributed operator. The
    near-dup graph source is parameterized (exact | minhash-LSH);
    this entry is the exact-graph oracle twin, corpus_keep_list_lsh
    and the *_lsh v2-v4 chain the 100 TB path."""
    return _keep_list_base(spark, sf_dir, "exact")


def _near_dup_clusters(spark, sf_dir, graph):
    """The keep-list chain's near-dup component map, by graph
    source: 'exact' = all-pairs shingle Jaccard (oracle twin),
    'lsh' = MinHash-banded candidates (the scale path)."""
    docs = load_table(spark, sf_dir, "documents")
    if graph == "exact":
        return _dedup.dedup_clusters(docs)
    from ..operators.graph import connected_components

    _, sh, sig = _text_minhash_mats(spark, sf_dir)
    pairs = _dedup.minhash_lsh_pairs(
        docs, sh=sh, signatures=sig
    ).select("doc_a", "doc_b")
    return connected_components(docs.select("doc_id"), pairs)


def _keep_list_base(spark, sf_dir, graph):
    docs = load_table(spark, sf_dir, "documents")
    exact = _dedup.dedup_exact(docs).select(
        "doc_id", F.col("is_canonical").alias("exact_canonical")
    )
    clusters = _near_dup_clusters(spark, sf_dir, graph)
    quality = _text.quality_score(docs).select("doc_id", "quality_bp")
    rate_map = F.create_map(
        *[F.lit(x) for kv in _sampling.SAMPLE_RATES_BP.items() for x in kv]
    )
    samp = docs.select(
        "doc_id",
        (
            _sampling._hash_bp(F.col("doc_id"))
            < F.coalesce(rate_map[F.col("lang")],
                         F.lit(_sampling.DEFAULT_RATE_BP)).cast("long")
        ).alias("in_sample"),
    )
    j = (
        docs.select("doc_id")
        .join(exact, "doc_id")
        .join(clusters, "doc_id")
        .join(quality, "doc_id")
        .join(samp, "doc_id")
    )
    cluster_canonical = F.col("cluster_id") == F.col("doc_id")
    quality_ok = F.col("quality_bp") >= _KEEP_QUALITY_BP
    keep = (
        F.col("exact_canonical")
        & cluster_canonical
        & quality_ok
        & F.col("in_sample")
    )
    decision = (
        F.when(~F.col("exact_canonical"), "exact_dup")
        .when(~cluster_canonical, "near_dup")
        .when(~quality_ok, "low_quality")
        .when(~F.col("in_sample"), "sampled_out")
        .otherwise("keep")
    )
    return j.select(
        "doc_id",
        "exact_canonical",
        cluster_canonical.alias("cluster_canonical"),
        quality_ok.alias("quality_ok"),
        "in_sample",
        keep.alias("keep"),
        decision.alias("decision"),
    )


_REP_DUP_BP = 4000  # >40% repeated tokens -> repetitive
_REP_TOP_BIGRAM_BP = 1500  # >15% occupancy by one bigram -> repetitive
_DECON_NGRAM = 8
_DECON_BENCH_MAX_ID = 20  # doc_id < 20 is the held-out benchmark set

# R3 gate constants (used by the standalone gates below AND the
# composed corpus_keep_list_v3):
# duplicate-ngram coverage (Lee et al. 2021 exact-substring signal)
_NGC_N = 5
_NGC_FLAG_BP = 3000
# C4-style heuristic gates (Raffel et al. 2020 §2.2)
_C4_MIN_TOKENS = 25
_C4_MAX_TOKENS = 5000
_C4_WLEN_LO_CENTI = 250  # mean token length in [2.5, 9.0] chars
_C4_WLEN_HI_CENTI = 900
_C4_MAX_TOKEN_CHARS = 20
_C4_DIGIT_BP_MAX = 2000  # <=20% pure-digit tokens


# Near-dup pair CTEs for the composed keep-lists, by graph source.
# Both produce a `pairs(doc_a, doc_b)` CTE from the shared shingle
# CTE `sh`; the EXACT source is the O(n²)-worst-case all-pairs
# shingle self-join (the small-SF oracle twin), the LSH source is
# the MinHash-banded candidate join (the 100 TB path: only
# band-bucket collisions are verified, O(docs + candidates)).
_EXACT_PAIRS_CTES = f"""
        , inter AS (
            SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS inter
            FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
            GROUP BY 1, 2)
        , pairs AS (
            SELECT doc_a, doc_b FROM inter p
            JOIN sc cx ON p.doc_a = cx.doc_id
            JOIN sc cy ON p.doc_b = cy.doc_id
            WHERE 10000 * inter >= {_dedup.JACCARD_THRESHOLD_BP}
                  * (cx.c + cy.c - inter))
"""

_LSH_PAIRS_CTES = f"""
        , hashed AS (
            SELECT doc_id,
                   CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) AS a,
                   CAST('0x' || substr(md5(s), 9, 8) AS BIGINT) AS b
            FROM sh)
        , sig AS (SELECT doc_id, {_dedup._minhash_sql_cols()}
                  FROM hashed GROUP BY doc_id)
        , bands AS (SELECT doc_id, {_dedup._band_sql_cols()} FROM sig)
        , cand AS (
            SELECT DISTINCT doc_a, doc_b FROM (
                {" UNION ALL ".join(
                    f"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b "
                    f"FROM bands a JOIN bands b "
                    f"ON a.band{b} = b.band{b} AND a.doc_id < b.doc_id"
                    for b in range(_dedup.NUM_MINHASH // _dedup.BAND_ROWS)
                )}))
        , inter AS (
            SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
            FROM cand c
            JOIN sh x ON x.doc_id = c.doc_a
            JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
            GROUP BY 1, 2)
        , pairs AS (
            SELECT i.doc_a, i.doc_b
            FROM inter i
            JOIN sc cx ON i.doc_a = cx.doc_id
            JOIN sc cy ON i.doc_b = cy.doc_id
            WHERE 10000 * inter >= {_dedup.JACCARD_THRESHOLD_BP}
                  * (cx.c + cy.c - inter))
"""


def _keep_gates_ctes(graph: str) -> str:
    """Shared CTE block for the composed keep-lists (v2/v3/v4): the
    near-dup cluster graph (from the chosen pair source), exact-dup
    canonicals, quality, sampling, repetition and decontamination
    gates, all per doc_id."""
    pair_ctes = _EXACT_PAIRS_CTES if graph == "exact" else _LSH_PAIRS_CTES
    return f"""
        WITH RECURSIVE {_dedup._SHINGLES_SQL}
        {pair_ctes}
        , edges AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION ALL SELECT doc_b, doc_a FROM pairs)
        , reach(node, r) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.b, rr.r FROM reach rr JOIN edges e ON e.a = rr.node)
        , clusters AS (
            SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node)
        , exact AS (
            SELECT doc_id,
                   doc_id = MIN(doc_id) OVER (
                       PARTITION BY md5(regexp_replace(lower(trim(text)),
                                                       '\\s+', ' ', 'g'))
                   ) AS is_canonical
            FROM documents)
        , q AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
                   CAST(len(list_filter(string_split(text, ' '),
                        x -> x IN ('the', 'a', 'of', 'and'))) AS BIGINT) AS stop,
                   CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
                       AS uniq
            FROM documents)
        , quality AS (
            SELECT doc_id,
                   (300000 * uniq + 300000 * (n - stop)
                    + 4000 * n * LEAST(n, 100)) // (100 * n) AS quality_bp
            FROM q)
        , samp AS (
            SELECT doc_id,
                   CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                        AS BIGINT) % 10000
                       < CAST({_sampling._rate_case_sql()} AS BIGINT)
                       AS in_sample
            FROM documents)
        , toks2 AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        , bgc2 AS (
            SELECT doc_id, bigram, COUNT(*) AS c FROM (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(t)),
                              i -> array_to_string(t[i:i+1], ' '))) AS bigram
                FROM toks2 WHERE len(t) >= 2)
            GROUP BY 1, 2)
        , rep AS (
            SELECT b.doc_id,
                   (10000 * (b.n - b.uniq)) // b.n > {_REP_DUP_BP}
                   OR COALESCE((10000 * m.max_bg) // m.n_bg, 0)
                      > {_REP_TOP_BIGRAM_BP} AS is_repetitive
            FROM q b LEFT JOIN (
                SELECT doc_id, MAX(c) AS max_bg,
                       CAST(SUM(c) AS BIGINT) AS n_bg
                FROM bgc2 GROUP BY doc_id) m ON b.doc_id = m.doc_id)
        , grams2 AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(t) - {_DECON_NGRAM - 2}),
                          i -> array_to_string(t[i:i+{_DECON_NGRAM - 1}], ' ')))
                       AS g
            FROM toks2 WHERE len(t) >= {_DECON_NGRAM})
        , contaminated AS (
            SELECT DISTINCT c.doc_id
            FROM grams2 c
            JOIN (SELECT DISTINCT g FROM grams2
                  WHERE doc_id < {_DECON_BENCH_MAX_ID}) b ON c.g = b.g
            WHERE c.doc_id >= {_DECON_BENCH_MAX_ID})
"""


_KEEP_GATES_CTES = _keep_gates_ctes("exact")
_KEEP_GATES_CTES_LSH = _keep_gates_ctes("lsh")

# Final SELECT of the six-gate v2 keep-list — shared verbatim by the
# exact-graph and LSH-graph variants (only the `pairs` CTE differs).
_V2_SELECT = f"""
        SELECT d.doc_id,
               e.is_canonical AND c.cluster_id = d.doc_id
                   AND co.doc_id IS NULL AND NOT r.is_repetitive
                   AND qu.quality_bp >= {_KEEP_QUALITY_BP} AND s.in_sample
                   AS keep,
               CASE WHEN NOT e.is_canonical THEN 'exact_dup'
                    WHEN c.cluster_id <> d.doc_id THEN 'near_dup'
                    WHEN co.doc_id IS NOT NULL THEN 'contaminated'
                    WHEN r.is_repetitive THEN 'repetitive'
                    WHEN qu.quality_bp < {_KEEP_QUALITY_BP} THEN 'low_quality'
                    WHEN NOT s.in_sample THEN 'sampled_out'
                    ELSE 'keep' END AS decision
        FROM documents d
        JOIN exact e USING (doc_id)
        JOIN clusters c USING (doc_id)
        JOIN quality qu USING (doc_id)
        JOIN samp s USING (doc_id)
        JOIN rep r USING (doc_id)
        LEFT JOIN contaminated co USING (doc_id)
"""


@query(
    "corpus_keep_list_v2",
    oracle=_KEEP_GATES_CTES + _V2_SELECT,
)
def q_corpus_keep_list_v2(spark, sf_dir):
    """The full six-gate keep-list: v1's exact-dup / near-dup /
    quality / sampling gates PLUS the R2 repetition filter and
    benchmark decontamination, priority-ordered into one reason code
    per drop (exact_dup > near_dup > contaminated > repetitive >
    low_quality > sampled_out). Every gate is the already-verified
    distributed operator, joined on doc_id — the complete
    pre-training data path in one artifact. The near-dup graph
    source is parameterized (exact | LSH); this entry is the
    exact-graph oracle twin, corpus_keep_list_v2_lsh the 100 TB
    path."""
    return _keep_list_v2(spark, sf_dir, "exact")


def _keep_list_v2(spark, sf_dir, graph):
    docs = load_table(spark, sf_dir, "documents")
    base = _keep_list_base(spark, sf_dir, graph).select(
        "doc_id", "exact_canonical", "cluster_canonical", "quality_ok",
        "in_sample",
    )
    rep = QUERIES["text_repetition_stats"](spark, sf_dir).select(
        "doc_id", (F.col("is_repetitive") == 1).alias("is_repetitive")
    )
    con = QUERIES["corpus_decontaminate"](spark, sf_dir).select(
        "doc_id", F.lit(True).alias("is_contaminated")
    )
    j = (
        docs.select("doc_id")
        .join(base, "doc_id")
        .join(rep, "doc_id")
        .join(con, "doc_id", "left")
        .withColumn("is_contaminated",
                    F.coalesce(F.col("is_contaminated"), F.lit(False)))
    )
    keep = (
        F.col("exact_canonical")
        & F.col("cluster_canonical")
        & ~F.col("is_contaminated")
        & ~F.col("is_repetitive")
        & F.col("quality_ok")
        & F.col("in_sample")
    )
    decision = (
        F.when(~F.col("exact_canonical"), "exact_dup")
        .when(~F.col("cluster_canonical"), "near_dup")
        .when(F.col("is_contaminated"), "contaminated")
        .when(F.col("is_repetitive"), "repetitive")
        .when(~F.col("quality_ok"), "low_quality")
        .when(~F.col("in_sample"), "sampled_out")
        .otherwise("keep")
    )
    return j.select("doc_id", keep.alias("keep"), decision.alias("decision"))


_V3_EXTRA_CTES = f""", ngc_tot AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
            FROM (SELECT doc_id,
                         unnest(list_transform(range(1, len(t) - {_NGC_N - 2}),
                                i -> array_to_string(t[i:i+{_NGC_N - 1}], ' ')))
                             AS g
                  FROM toks2 WHERE len(t) >= {_NGC_N}) GROUP BY doc_id)
        , ngc_freq AS (
            SELECT g, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd
            FROM (SELECT doc_id,
                         unnest(list_transform(range(1, len(t) - {_NGC_N - 2}),
                                i -> array_to_string(t[i:i+{_NGC_N - 1}], ' ')))
                             AS g
                  FROM toks2 WHERE len(t) >= {_NGC_N}) GROUP BY g)
        , ngc AS (
            SELECT gg.doc_id,
                   (10000 * COUNT(*)) // MAX(tt.n_grams) > {_NGC_FLAG_BP}
                       AS is_dup_heavy
            FROM (SELECT doc_id,
                         unnest(list_transform(range(1, len(t) - {_NGC_N - 2}),
                                i -> array_to_string(t[i:i+{_NGC_N - 1}], ' ')))
                             AS g
                  FROM toks2 WHERE len(t) >= {_NGC_N}) gg
            JOIN ngc_freq f ON gg.g = f.g
            JOIN ngc_tot tt ON gg.doc_id = tt.doc_id
            WHERE f.nd >= 2
            GROUP BY gg.doc_id)
        , c4 AS (
            SELECT doc_id,
                   NOT (n >= {_C4_MIN_TOKENS} AND n <= {_C4_MAX_TOKENS}
                        AND wlen_centi >= {_C4_WLEN_LO_CENTI}
                        AND wlen_centi <= {_C4_WLEN_HI_CENTI}
                        AND max_tok <= {_C4_MAX_TOKEN_CHARS}
                        AND (10000 * n_digit) // n <= {_C4_DIGIT_BP_MAX})
                       AS c4_filtered
            FROM (SELECT doc_id,
                         CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
                         (100 * (length(text)
                                 - (len(string_split(text, ' ')) - 1)))
                             // len(string_split(text, ' ')) AS wlen_centi,
                         CAST(COALESCE(list_max(list_transform(
                              string_split(text, ' '), x -> length(x))), 0)
                              AS BIGINT) AS max_tok,
                         CAST(len(list_filter(string_split(text, ' '),
                              x -> regexp_full_match(x, '[0-9]+'))) AS BIGINT)
                             AS n_digit
                  FROM documents))"""


_V3_SELECT = f"""
        SELECT d.doc_id,
               e.is_canonical AND c.cluster_id = d.doc_id
                   AND co.doc_id IS NULL
                   AND NOT COALESCE(n.is_dup_heavy, FALSE)
                   AND NOT r.is_repetitive
                   AND NOT c4.c4_filtered
                   AND qu.quality_bp >= {_KEEP_QUALITY_BP} AND s.in_sample
                   AS keep,
               CASE WHEN NOT e.is_canonical THEN 'exact_dup'
                    WHEN c.cluster_id <> d.doc_id THEN 'near_dup'
                    WHEN co.doc_id IS NOT NULL THEN 'contaminated'
                    WHEN COALESCE(n.is_dup_heavy, FALSE) THEN 'dup_heavy'
                    WHEN r.is_repetitive THEN 'repetitive'
                    WHEN c4.c4_filtered THEN 'c4_filtered'
                    WHEN qu.quality_bp < {_KEEP_QUALITY_BP} THEN 'low_quality'
                    WHEN NOT s.in_sample THEN 'sampled_out'
                    ELSE 'keep' END AS decision
        FROM documents d
        JOIN exact e USING (doc_id)
        JOIN clusters c USING (doc_id)
        JOIN quality qu USING (doc_id)
        JOIN samp s USING (doc_id)
        JOIN rep r USING (doc_id)
        JOIN c4 USING (doc_id)
        LEFT JOIN contaminated co USING (doc_id)
        LEFT JOIN ngc n USING (doc_id)
"""


@query(
    "corpus_keep_list_v3",
    oracle=_KEEP_GATES_CTES + _V3_EXTRA_CTES + _V3_SELECT,
)
def q_corpus_keep_list_v3(spark, sf_dir):
    """The EIGHT-gate keep-list: v2's six gates plus the R3
    duplicated-ngram-coverage gate (Lee et al. substring-dup signal)
    and the C4 heuristic gate, priority-ordered into one reason code
    per drop (exact_dup > near_dup > contaminated > dup_heavy >
    repetitive > c4_filtered > low_quality > sampled_out). Every gate
    is the already-oracle-verified distributed operator, composed by
    doc_id equi-joins — the complete R3 pre-training data path in one
    artifact; the v3-refines-v2 law is pinned in pytest. Graph
    source parameterized; corpus_keep_list_v3_lsh is the 100 TB
    variant."""
    return _keep_list_v3(spark, sf_dir, "exact")


def _keep_list_v3(spark, sf_dir, graph):
    base = _keep_list_v2(spark, sf_dir, graph).select(
        "doc_id", F.col("keep").alias("keep_v2"),
        F.col("decision").alias("decision_v2"),
    )
    ngc = QUERIES["dedup_ngram_coverage"](spark, sf_dir).select(
        "doc_id", (F.col("is_dup_heavy") == 1).alias("is_dup_heavy")
    )
    c4 = QUERIES["text_c4_filters"](spark, sf_dir).select(
        "doc_id", (F.col("keep") == 0).alias("c4_filtered")
    )
    j = (
        base.join(ngc, "doc_id", "left")
        .join(c4, "doc_id")
        .withColumn(
            "is_dup_heavy",
            F.coalesce(F.col("is_dup_heavy"), F.lit(False)),
        )
    )
    keep = (
        F.col("keep_v2") & ~F.col("is_dup_heavy") & ~F.col("c4_filtered")
    )
    # splice the two new gates into v2's priority chain at their
    # rank: dup_heavy after contaminated, c4_filtered after
    # repetitive (v2's own codes keep their relative order)
    decision = (
        F.when(F.col("decision_v2").isin("exact_dup", "near_dup",
                                         "contaminated"),
               F.col("decision_v2"))
        .when(F.col("is_dup_heavy"), "dup_heavy")
        .when(F.col("decision_v2") == "repetitive", "repetitive")
        .when(F.col("c4_filtered"), "c4_filtered")
        .otherwise(F.col("decision_v2"))
    )
    return j.select("doc_id", keep.alias("keep"), decision.alias("decision"))


@query(
    "embed_dedup_clusters",
    oracle=f"""
        WITH RECURSIVE v AS (
            SELECT vec_id, embedding,
                   {_sim._norm('embedding', 'duck')} AS nrm
            FROM embeddings)
        , pairs AS (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM v a JOIN v b ON a.vec_id < b.vec_id
            WHERE ({_sim._dot('a.embedding', 'b.embedding', 'duck')})
                  / (a.nrm * b.nrm) >= {_sim.NEAR_DUP_THRESHOLD})
        , edges AS (
            SELECT vec_a AS a, vec_b AS b FROM pairs
            UNION ALL SELECT vec_b, vec_a FROM pairs)
        , reach(node, r) AS (
            SELECT vec_id, vec_id FROM embeddings
            UNION
            SELECT e.b, rr.r FROM reach rr JOIN edges e ON e.a = rr.node)
        SELECT node AS vec_id, MIN(r) AS cluster_id FROM reach GROUP BY node
    """,
)
def q_embed_dedup_clusters(spark, sf_dir):
    """Embedding near-dup clusters: connected components over
    cosine >= τ pairs (same min-label propagation as the text-side
    dedup_clusters, via operators/graph.py; recursive-CTE oracle).
    The canonical representative per cluster is what an
    embedding-dedup pipeline keeps."""
    from ..operators.graph import connected_components

    pairs = _sim.near_dup(spark, sf_dir).select("vec_a", "vec_b")
    nodes = load_table(spark, sf_dir, "embeddings").select("vec_id")
    return connected_components(
        nodes, pairs, id_col="vec_id", src="vec_a", dst="vec_b"
    )


@query(
    "embed_dedup_clusters_lsh",
    oracle=f"""
        WITH RECURSIVE {_sim._lsh_band_ctes('duck')}
        , scored AS (
            SELECT cand.vec_a, cand.vec_b
            FROM cand
            JOIN lshv va ON va.vec_id = cand.vec_a
            JOIN lshv vb ON vb.vec_id = cand.vec_b
            WHERE ({_sim._dot('va.embedding', 'vb.embedding', 'duck')})
                  / (va.nrm * vb.nrm) >= {_sim.NEAR_DUP_THRESHOLD})
        , edges AS (
            SELECT vec_a AS a, vec_b AS b FROM scored
            UNION ALL SELECT vec_b, vec_a FROM scored)
        , reach(node, r) AS (
            SELECT vec_id, vec_id FROM embeddings
            UNION
            SELECT e.b, rr.r FROM reach rr JOIN edges e ON e.a = rr.node)
        SELECT node AS vec_id, MIN(r) AS cluster_id FROM reach GROUP BY node
    """,
)
def q_embed_dedup_clusters_lsh(spark, sf_dir):
    """Embedding dedup clusters over the BLOCKED near-dup graph —
    the 100 TB twin of embed_dedup_clusters (which consumes the
    O(n^2) all-pairs graph): LSH bucket-join candidates, exact-cosine
    verify, then the same min-label connected components. Mirrors
    corpus_keep_list_lsh on the text side.

    r5: consumes the MATERIALIZED verified-pairs table
    (embed_near_dup_lsh's gate map) instead of re-deriving the
    banding+verify chain, and the cluster map itself is materialized
    for the artifacts stacked on top (keep-list, size histogram,
    bias report)."""

    def build():
        from ..operators.graph import connected_components

        pairs = QUERIES["embed_near_dup_lsh"](spark, sf_dir).select(
            "vec_a", "vec_b"
        )
        nodes = load_table(spark, sf_dir, "embeddings").select("vec_id")
        return connected_components(
            nodes, pairs, id_col="vec_id", src="vec_a", dst="vec_b"
        )

    return _gate_map(spark, sf_dir, "embed_clusters_lsh", build)


@query(
    "corpus_keep_list_lsh",
    oracle=f"""
        WITH RECURSIVE {_dedup._SHINGLES_SQL}
        , hashed AS (
            SELECT doc_id,
                   CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) AS a,
                   CAST('0x' || substr(md5(s), 9, 8) AS BIGINT) AS b
            FROM sh)
        , sig AS (SELECT doc_id, {_dedup._minhash_sql_cols()}
                  FROM hashed GROUP BY doc_id)
        , bands AS (SELECT doc_id, {_dedup._band_sql_cols()} FROM sig)
        , cand AS (
            SELECT DISTINCT doc_a, doc_b FROM (
                {" UNION ALL ".join(
                    f"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b "
                    f"FROM bands a JOIN bands b "
                    f"ON a.band{b} = b.band{b} AND a.doc_id < b.doc_id"
                    for b in range(_dedup.NUM_MINHASH // _dedup.BAND_ROWS)
                )}))
        , inter AS (
            SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
            FROM cand c
            JOIN sh x ON x.doc_id = c.doc_a
            JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
            GROUP BY 1, 2)
        , pairs AS (
            SELECT i.doc_a, i.doc_b
            FROM inter i
            JOIN sc cx ON i.doc_a = cx.doc_id
            JOIN sc cy ON i.doc_b = cy.doc_id
            WHERE 10000 * inter >= {_dedup.JACCARD_THRESHOLD_BP}
                  * (cx.c + cy.c - inter))
        , edges AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION ALL SELECT doc_b, doc_a FROM pairs)
        , reach(node, r) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.b, rr.r FROM reach rr JOIN edges e ON e.a = rr.node)
        , clusters AS (
            SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node)
        , exact AS (
            SELECT doc_id,
                   doc_id = MIN(doc_id) OVER (
                       PARTITION BY md5(regexp_replace(lower(trim(text)),
                                                       '\\s+', ' ', 'g'))
                   ) AS is_canonical
            FROM documents)
        , q AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
                   CAST(len(list_filter(string_split(text, ' '),
                        x -> x IN ('the', 'a', 'of', 'and'))) AS BIGINT) AS stop,
                   CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
                       AS uniq
            FROM documents)
        , quality AS (
            SELECT doc_id,
                   (300000 * uniq + 300000 * (n - stop)
                    + 4000 * n * LEAST(n, 100)) // (100 * n) AS quality_bp
            FROM q)
        , samp AS (
            SELECT doc_id,
                   CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                        AS BIGINT) % 10000
                       < CAST({_sampling._rate_case_sql()} AS BIGINT)
                       AS in_sample
            FROM documents)
        SELECT d.doc_id,
               e.is_canonical AND c.cluster_id = d.doc_id
                   AND qu.quality_bp >= {_KEEP_QUALITY_BP} AND s.in_sample
                   AS keep,
               CASE WHEN NOT e.is_canonical THEN 'exact_dup'
                    WHEN c.cluster_id <> d.doc_id THEN 'near_dup'
                    WHEN qu.quality_bp < {_KEEP_QUALITY_BP} THEN 'low_quality'
                    WHEN NOT s.in_sample THEN 'sampled_out'
                    ELSE 'keep' END AS decision
        FROM documents d
        JOIN exact e USING (doc_id)
        JOIN clusters c USING (doc_id)
        JOIN quality qu USING (doc_id)
        JOIN samp s USING (doc_id)
    """,
)
def q_corpus_keep_list_lsh(spark, sf_dir):
    """The 100 TB variant of corpus_keep_list: the near-dup graph
    comes from MinHash-LSH candidate pairs (O(docs+candidates))
    instead of the exact all-pairs shingle join (O(n^2) worst case).
    The oracle mirrors the SAME banding algorithm, so parity holds
    even where LSH misses a pair the exact graph would find."""
    return _keep_list_base(spark, sf_dir, "lsh").select(
        "doc_id", "keep", "decision"
    )


# ---------------------------------------------------------------------------
# R2 training-data pipeline additions: repetition filtering,
# benchmark decontamination, domain mixing
# ---------------------------------------------------------------------------



@query(
    "text_repetition_stats",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        , base AS (
            SELECT doc_id,
                   CAST(len(t) AS BIGINT) AS n,
                   CAST(len(list_distinct(t)) AS BIGINT) AS uniq
            FROM toks)
        , bg AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(t)),
                          i -> array_to_string(t[i:i+1], ' '))) AS bigram
            FROM toks WHERE len(t) >= 2)
        , bgc AS (
            SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY 1, 2)
        , bgm AS (
            SELECT doc_id, MAX(c) AS max_bg, CAST(SUM(c) AS BIGINT) AS n_bg
            FROM bgc GROUP BY doc_id)
        SELECT b.doc_id,
               b.n AS n_tokens,
               (10000 * (b.n - b.uniq)) // b.n AS dup_token_bp,
               COALESCE((10000 * m.max_bg) // m.n_bg, 0) AS top_bigram_bp,
               CAST(CASE WHEN (10000 * (b.n - b.uniq)) // b.n > {_REP_DUP_BP}
                          OR COALESCE((10000 * m.max_bg) // m.n_bg, 0)
                             > {_REP_TOP_BIGRAM_BP}
                    THEN 1 ELSE 0 END AS BIGINT) AS is_repetitive
        FROM base b LEFT JOIN bgm m ON b.doc_id = m.doc_id
    """,
)
def q_text_repetition_stats(spark, sf_dir):
    """Gopher-style repetition filter: per-doc repeated-token
    fraction and top-bigram occupancy (both floor-scaled basis
    points), flagged against fixed thresholds — the 'remove
    boilerplate/spam' gate of a pre-training pipeline.

    Shape: one bigram explode → (doc, bigram) count → per-doc max —
    two key-partitioned hash aggregates with map-side partials, then
    an equi-join back on doc_id (both sides already hash-partitioned
    by doc_id after their aggs — co-located, no extra shuffle)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    base = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n"),
        F.size(F.array_distinct(toks)).cast("long").alias("uniq"),
    )
    m = F.size(toks) - 1
    bigrams = F.zip_with(
        F.slice(toks, 1, m),
        F.slice(toks, 2, m),
        lambda x, y: F.concat(x, F.lit(" "), y),
    )
    bgm = (
        docs.where(F.size(toks) >= 2)
        .select("doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("max_bg"), F.sum("c").alias("n_bg"))
    )
    dup_bp = F.expr("(10000 * (n - uniq)) div n")
    top_bp = F.coalesce(F.expr("(10000 * max_bg) div n_bg"), F.lit(0))
    return (
        base.join(bgm, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n").alias("n_tokens"),
            dup_bp.alias("dup_token_bp"),
            top_bp.alias("top_bigram_bp"),
            (
                (dup_bp > _REP_DUP_BP) | (top_bp > _REP_TOP_BIGRAM_BP)
            ).cast("long").alias("is_repetitive"),
        )
    )




@query(
    "corpus_decontaminate",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        , grams AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(t) - {_DECON_NGRAM - 2}),
                          i -> array_to_string(t[i:i+{_DECON_NGRAM - 1}], ' ')))
                       AS g
            FROM toks WHERE len(t) >= {_DECON_NGRAM})
        , bench AS (
            SELECT DISTINCT g FROM grams WHERE doc_id < {_DECON_BENCH_MAX_ID})
        , hits AS (
            SELECT DISTINCT c.doc_id, c.g
            FROM grams c JOIN bench b ON c.g = b.g
            WHERE c.doc_id >= {_DECON_BENCH_MAX_ID})
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_ngrams
        FROM hits GROUP BY doc_id
    """,
)
def q_corpus_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag training docs sharing any
    8-token n-gram with the held-out benchmark set (docs 0-19 stand
    in for an eval suite) — the standard 'don't train on the test
    set' sweep.

    Scale: the benchmark n-gram set is bounded by the EVAL SUITE
    size, not the corpus (fixed as data grows), so broadcasting it is
    safe at any SF; the corpus side streams through a broadcast-hash
    semi-join with no shuffle of the exploded grams."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    grams = F.expr(
        f"transform(sequence(1, size(split(text, ' ')) - {_DECON_NGRAM - 1}), "
        f"i -> concat_ws(' ', slice(split(text, ' '), i, {_DECON_NGRAM})))"
    )
    g = docs.where(F.size(toks) >= _DECON_NGRAM).select(
        "doc_id", F.explode(grams).alias("g")
    )
    bench = (
        g.where(F.col("doc_id") < _DECON_BENCH_MAX_ID).select("g").distinct()
    )
    return (
        g.where(F.col("doc_id") >= _DECON_BENCH_MAX_ID)
        .join(F.broadcast(bench), "g")
        .select("doc_id", "g")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
    )


@query(
    "sample_domain_mix",
    oracle="""
        WITH counts AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_src
            FROM documents GROUP BY source)
        , quota AS (SELECT MIN(n_src) AS q FROM counts)
        , keyed AS (
            SELECT d.doc_id, d.source,
                   CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)
                        AS BIGINT) % 10000 AS u,
                   (10000 * q.q) // c.n_src AS keep_bp
            FROM documents d
            JOIN counts c ON d.source = c.source
            CROSS JOIN quota q)
        SELECT doc_id, source FROM keyed WHERE u < keep_bp
    """,
)
def q_sample_domain_mix(spark, sf_dir):
    """Domain (source) mixture rebalancing: hash-downsample every
    source toward the smallest source's share, the 'data mixing'
    step that turns raw domain proportions into a target training
    mixture. Selection is a pure per-row md5 threshold (reproducible,
    engine-identical, no RNG state); per-source counts and the quota
    are a tiny aggregate broadcast back onto the scan — the only
    shuffle is the bounded per-source count. Compare
    sample_stratified (fixed per-language rates): here the rates are
    DERIVED from the observed domain counts."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_src"))
    quota = counts.agg(F.min("n_src").alias("q"))
    keyed = (
        docs.join(F.broadcast(counts), "source")
        .crossJoin(F.broadcast(quota))
        .select(
            "doc_id",
            "source",
            _sampling._hash_bp(F.col("doc_id")).alias("u"),
            F.expr("(10000 * q) div n_src").alias("keep_bp"),
        )
    )
    return keyed.where(F.col("u") < F.col("keep_bp")).select("doc_id", "source")


@query(
    "cdc_progress",
    oracle=f"""
        WITH {_BINLOG_LOG_CTE}
        SELECT tbl, operation,
               CAST(COUNT(*) AS BIGINT) AS event_count,
               MIN(ts) AS first_event,
               MAX(ts) AS last_event
        FROM binlog GROUP BY tbl, operation
    """,
)
def q_cdc_progress(spark, sf_dir):
    """The reference's cdc_progress monitoring view (reference:
    unity_catalog_cdc_demo.py:519-534) — per (table, operation)
    event counts and first/last event times, over the replayed
    binlog instead of the landed Delta tables (same shape; the
    notebook UNION-ALLs the landed tables because Delta loses the
    source `table` column — our unified schema keeps it, so this is
    ONE aggregate, not a per-table union)."""
    raw = read_binlog_jvm(spark, sf_dir)
    return raw.groupBy(
        F.col("table").alias("tbl"), "operation"
    ).agg(
        F.count(F.lit(1)).alias("event_count"),
        F.min("ts").alias("first_event"),
        F.max("ts").alias("last_event"),
    )


@query(
    "cdc_batch_metrics",
    oracle="""
        SELECT 'batch-' || lpad(CAST(event_id // 2500 AS VARCHAR), 6, '0')
                   AS batch_id,
               CAST(COUNT(*) AS BIGINT) AS event_count,
               CAST(COUNT(DISTINCT user_id % 4) AS BIGINT) AS n_tables,
               CAST(MIN(event_id) AS BIGINT) AS first_seq,
               CAST(MAX(event_id) AS BIGINT) AS last_seq,
               CAST(AVG(250000) AS DOUBLE) AS avg_lag_us
        FROM events GROUP BY 1
    """,
)
def q_cdc_batch_metrics(spark, sf_dir):
    """The reference's cdc_metrics rollup (reference:
    unity_catalog_cdc_demo.py:471-513,653-661: per-batch event counts
    + processing time): per batch_id — volume, tables touched, seq
    span, and average ingest→process lag measured from the REAL
    processing_time/ts columns of the 21-column schema. One hash
    aggregate on the (bounded) batch id."""
    raw = read_binlog_jvm(spark, sf_dir)
    return raw.groupBy("batch_id").agg(
        F.count(F.lit(1)).alias("event_count"),
        F.countDistinct("table").alias("n_tables"),
        F.min("seq").alias("first_seq"),
        F.max("seq").alias("last_seq"),
        F.avg(
            F.unix_micros("processing_time") - F.unix_micros("ts")
        ).alias("avg_lag_us"),
    )


# ---------------------------------------------------------------------------
# R3: corpus gates — duplicated-ngram coverage, C4-style heuristics,
# PII scrubbing (SURVEY §2 #92-94)
# ---------------------------------------------------------------------------

# Duplicate-ngram coverage (the exact-substring dedup SIGNAL of
# Lee et al. 2021 "Deduplicating Training Data Makes Language Models
# Better": fraction of a doc's token n-grams that also occur in some
# OTHER document). 5-gram granularity; flag above 30%. Constants
# (_NGC_N, _NGC_FLAG_BP) are defined above the keep-list section,
# which composes this gate into corpus_keep_list_v3.


@query(
    "dedup_ngram_coverage",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        , g AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(t) - {_NGC_N - 2}),
                          i -> array_to_string(t[i:i+{_NGC_N - 1}], ' '))) AS g
            FROM toks WHERE len(t) >= {_NGC_N})
        , freq AS (
            SELECT g, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd
            FROM g GROUP BY g)
        , tot AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
            FROM g GROUP BY doc_id)
        , hits AS (
            SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_grams
            FROM g JOIN freq ON g.g = freq.g
            WHERE freq.nd >= 2 GROUP BY g.doc_id)
        SELECT t.doc_id, t.n_grams,
               COALESCE(h.n_dup_grams, 0) AS n_dup_grams,
               (10000 * COALESCE(h.n_dup_grams, 0)) // t.n_grams AS dup_bp,
               CAST(CASE WHEN (10000 * COALESCE(h.n_dup_grams, 0)) // t.n_grams
                         > {_NGC_FLAG_BP} THEN 1 ELSE 0 END AS BIGINT)
                   AS is_dup_heavy
        FROM tot t LEFT JOIN hits h ON t.doc_id = h.doc_id
    """,
)
def q_dedup_ngram_coverage(spark, sf_dir):
    """Duplicated-ngram coverage: per doc, the fraction (floor bp) of
    its 5-gram POSITIONS whose gram appears in >=2 distinct docs —
    the exact-substring duplication signal of Lee et al. 2021 without
    a suffix array: a corpus-wide gram document-frequency instead.

    Scale: gram doc-frequency = distinct(gram, doc) then count per
    gram — two shuffles keyed on the gram (uniformly hash-distributed
    by construction, map-side partials); the hit join is gram-keyed
    on both sides (co-partitioned after the agg), then one doc_id
    agg. Everything is linear in corpus gram count; nothing is
    all-pairs and no side is collected or broadcast (gram vocabulary
    grows with the corpus).

    r9 (guide §1.2/§2.4): the gram table is MATERIALIZED once over a
    fanned-out scan — the plan referenced the explode subtree three
    times (df, totals, hits), re-tokenizing the corpus per reference
    from a one-row-group scan that planned a single task. One
    explode, localCheckpointed, feeds all three consumers."""
    from ..tables import fanout_scan

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    grams = F.expr(
        f"transform(sequence(1, size(split(text, ' ')) - {_NGC_N - 1}), "
        f"i -> concat_ws(' ', slice(split(text, ' '), i, {_NGC_N})))"
    )
    g = (
        fanout_scan(spark, docs)
        .where(F.size(toks) >= _NGC_N)
        .select("doc_id", F.explode(grams).alias("g"))
        .localCheckpoint()
    )
    dup_grams = (
        g.distinct()
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("nd"))
        .where(F.col("nd") >= 2)
        .select("g")
    )
    tot = g.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (
        g.join(dup_grams, "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dup_grams"))
    )
    nd = F.coalesce(F.col("n_dup_grams"), F.lit(0))
    dup_bp = F.expr(
        "(10000 * COALESCE(n_dup_grams, 0)) div n_grams"
    )
    return tot.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        nd.alias("n_dup_grams"),
        dup_bp.alias("dup_bp"),
        (dup_bp > _NGC_FLAG_BP).cast("long").alias("is_dup_heavy"),
    )


# C4-style heuristic gates (Raffel et al. 2020 §2.2, adapted to this
# corpus's whitespace-token shape): length bounds, mean-token-length
# band, over-long tokens, numeric-token share. Integer-exact.
# Constants (_C4_*) are defined above the keep-list section.


@query(
    "text_c4_filters",
    oracle=f"""
        WITH t AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
                   (100 * (length(text) - (len(string_split(text, ' ')) - 1)))
                       // len(string_split(text, ' ')) AS wlen_centi,
                   CAST(COALESCE(list_max(list_transform(
                        string_split(text, ' '), x -> length(x))), 0)
                        AS BIGINT) AS max_tok,
                   CAST(len(list_filter(string_split(text, ' '),
                        x -> regexp_full_match(x, '[0-9]+'))) AS BIGINT)
                       AS n_digit
            FROM documents)
        SELECT doc_id, n AS n_tokens, wlen_centi,
               max_tok AS max_token_chars,
               (10000 * n_digit) // n AS digit_token_bp,
               CAST(CASE WHEN n < {_C4_MIN_TOKENS} OR n > {_C4_MAX_TOKENS}
                    THEN 1 ELSE 0 END AS BIGINT) AS flag_length,
               CAST(CASE WHEN wlen_centi < {_C4_WLEN_LO_CENTI}
                          OR wlen_centi > {_C4_WLEN_HI_CENTI}
                    THEN 1 ELSE 0 END AS BIGINT) AS flag_word_len,
               CAST(CASE WHEN max_tok > {_C4_MAX_TOKEN_CHARS}
                    THEN 1 ELSE 0 END AS BIGINT) AS flag_long_token,
               CAST(CASE WHEN (10000 * n_digit) // n > {_C4_DIGIT_BP_MAX}
                    THEN 1 ELSE 0 END AS BIGINT) AS flag_digits,
               CAST(CASE WHEN n >= {_C4_MIN_TOKENS} AND n <= {_C4_MAX_TOKENS}
                          AND wlen_centi >= {_C4_WLEN_LO_CENTI}
                          AND wlen_centi <= {_C4_WLEN_HI_CENTI}
                          AND max_tok <= {_C4_MAX_TOKEN_CHARS}
                          AND (10000 * n_digit) // n <= {_C4_DIGIT_BP_MAX}
                    THEN 1 ELSE 0 END AS BIGINT) AS keep
        FROM t
    """,
)
def q_text_c4_filters(spark, sf_dir):
    """C4-style heuristic quality gates (Raffel et al. 2020 §2.2,
    the rules that apply to this corpus's token shape): token-count
    bounds, mean-token-length band, an over-long-token tripwire, and
    a numeric-token share cap, plus the combined keep decision.

    Scale: one narrow projection per row — no shuffle, no UDF, whole
    row stays in codegen; all thresholds are integer-exact (floor
    centi/bp scaling, see text.py determinism note)."""
    docs = load_table(spark, sf_dir, "documents")
    n = "CAST(size(split(text, ' ')) AS BIGINT)"
    wlen = (
        f"(100 * (length(text) - ({n} - 1))) div {n}"
    )
    max_tok = (
        "CAST(COALESCE(array_max(transform(split(text, ' '), "
        "x -> length(x))), 0) AS BIGINT)"
    )
    n_digit = (
        "CAST(size(filter(split(text, ' '), "
        "x -> x RLIKE '^[0-9]+$')) AS BIGINT)"
    )
    digit_bp = f"(10000 * {n_digit}) div {n}"
    flag_length = f"{n} < {_C4_MIN_TOKENS} OR {n} > {_C4_MAX_TOKENS}"
    flag_wlen = (
        f"{wlen} < {_C4_WLEN_LO_CENTI} OR {wlen} > {_C4_WLEN_HI_CENTI}"
    )
    flag_long = f"{max_tok} > {_C4_MAX_TOKEN_CHARS}"
    flag_digits = f"{digit_bp} > {_C4_DIGIT_BP_MAX}"
    return docs.select(
        "doc_id",
        F.expr(n).alias("n_tokens"),
        F.expr(wlen).alias("wlen_centi"),
        F.expr(max_tok).alias("max_token_chars"),
        F.expr(digit_bp).alias("digit_token_bp"),
        F.expr(f"CAST(CASE WHEN {flag_length} THEN 1 ELSE 0 END AS BIGINT)").alias(
            "flag_length"
        ),
        F.expr(f"CAST(CASE WHEN {flag_wlen} THEN 1 ELSE 0 END AS BIGINT)").alias(
            "flag_word_len"
        ),
        F.expr(f"CAST(CASE WHEN {flag_long} THEN 1 ELSE 0 END AS BIGINT)").alias(
            "flag_long_token"
        ),
        F.expr(f"CAST(CASE WHEN {flag_digits} THEN 1 ELSE 0 END AS BIGINT)").alias(
            "flag_digits"
        ),
        F.expr(
            f"CAST(CASE WHEN NOT ({flag_length}) AND NOT ({flag_wlen}) "
            f"AND NOT ({flag_long}) AND NOT ({flag_digits}) "
            "THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("keep"),
    )


# PII scrubbing: redaction regexes expressible identically in Java
# (Spark) and RE2 (DuckDB) — no backreferences, no lookaround.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
_PII_LONGNUM = r"[0-9]{9,}"


@query(
    "text_pii_scrub",
    oracle=f"""
        WITH s AS (
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '{_PII_EMAIL}'))
                        AS BIGINT) AS n_emails,
                   CAST(len(regexp_extract_all(text, '{_PII_IPV4}'))
                        AS BIGINT) AS n_ipv4,
                   regexp_replace(
                       regexp_replace(
                           regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                           '{_PII_IPV4}', '<IP>', 'g'),
                       '{_PII_LONGNUM}', '<NUM>', 'g') AS scrubbed
            FROM documents)
        SELECT doc_id, n_emails, n_ipv4,
               CAST(len(regexp_extract_all(scrubbed, '<EMAIL>|<IP>|<NUM>'))
                    AS BIGINT) AS n_redactions,
               md5(scrubbed) AS scrubbed_md5,
               length(scrubbed) AS n_chars_scrubbed
        FROM s
    """,
)
def q_text_pii_scrub(spark, sf_dir):
    """PII scrubbing pass: count and redact e-mail addresses, IPv4
    addresses, and long digit runs (account/phone-shaped numbers) —
    the pre-training privacy gate. Emits redaction counts plus the
    md5 of the scrubbed text so the oracle verifies the REDACTED
    CONTENT, not just the counts. (This corpus is synthetic and
    PII-free, so production behavior — real hits — is pinned by
    tests/test_text.py on constructed rows; patterns are
    Java/RE2-portable: no backreferences or lookaround.)

    Scale: narrow per-row projection, no shuffle; regexes run
    JVM-side inside codegen — no Python in the path."""
    docs = load_table(spark, sf_dir, "documents")
    scrub = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _PII_EMAIL, "<EMAIL>"),
            _PII_IPV4,
            "<IP>",
        ),
        _PII_LONGNUM,
        "<NUM>",
    )
    return docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(_PII_EMAIL)).cast("long").alias(
            "n_emails"
        ),
        F.regexp_count(F.col("text"), F.lit(_PII_IPV4)).cast("long").alias(
            "n_ipv4"
        ),
        F.regexp_count(scrub, F.lit("<EMAIL>|<IP>|<NUM>")).cast("long").alias(
            "n_redactions"
        ),
        F.md5(scrub).alias("scrubbed_md5"),
        F.length(scrub).cast("long").alias("n_chars_scrubbed"),
    )


# ---------------------------------------------------------------------------
# R3: sequence packing, GTID gap monitoring, hourly anomaly detection
# (SURVEY §2 #97-99)
# ---------------------------------------------------------------------------

# Sequence packing: concat-and-chunk docs into fixed CTX-token bins,
# the pre-training batch-assembly step. Packing runs WITHIN
# (source, shard) units — shard = doc_id bucket — so the prefix-sum
# window is bounded by shard size at any corpus scale (a global
# cumulative sum would funnel each source through one reducer); the
# cost is at most one partial bin per shard boundary, exactly like
# packing per input file in a real pipeline.
_PACK_CTX = 512
_PACK_SHARD = 1000  # docs per packing shard


@query(
    "pack_sequences",
    oracle=f"""
        WITH t AS (
            SELECT source, doc_id, doc_id // {_PACK_SHARD} AS shard,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n
            FROM documents)
        , c AS (
            SELECT source, shard, doc_id, n,
                   CAST(SUM(n) OVER (PARTITION BY source, shard
                                     ORDER BY doc_id) - n AS BIGINT) AS start
            FROM t)
        SELECT source, shard, CAST(start // {_PACK_CTX} AS BIGINT) AS bin_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n) AS BIGINT) AS n_tokens,
               CAST(MIN(doc_id) AS BIGINT) AS first_doc,
               CAST(MAX(doc_id) AS BIGINT) AS last_doc
        FROM c GROUP BY source, shard, start // {_PACK_CTX}
    """,
)
def q_pack_sequences(spark, sf_dir):
    """Sequence packing (concat-and-chunk): assign each doc to the
    {_PACK_CTX}-token context bin where its first token lands, via a
    running token prefix-sum in (source, shard) order — the packing
    manifest a pre-training loader consumes. One shuffle to the
    (source, shard) window partitions, one hash agg on the bin key;
    window partitions are shard-bounded (never a whole source on one
    reducer)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "source",
        "doc_id",
        (F.col("doc_id") / _PACK_SHARD).cast("long").alias("shard"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n"),
    )
    w = (
        Window.partitionBy("source", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("start", F.sum("n").over(w) - F.col("n"))
    return (
        c.withColumn("bin_id", F.expr(f"start div {_PACK_CTX}"))
        .groupBy("source", "shard", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@query(
    "cdc_gtid_gap_monitor",
    oracle="""
        WITH g AS (
            SELECT CAST(1 + user_id % 4 AS BIGINT) AS server_id,
                   CAST(event_id AS BIGINT) AS gtid_seq
            FROM events)
        , l AS (
            SELECT server_id, gtid_seq,
                   lag(gtid_seq) OVER (
                       PARTITION BY server_id ORDER BY gtid_seq) AS prev
            FROM g)
        SELECT server_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(MIN(gtid_seq) AS BIGINT) AS first_seq,
               CAST(MAX(gtid_seq) AS BIGINT) AS last_seq,
               CAST(MAX(gtid_seq) - MIN(gtid_seq) + 1 - COUNT(*) AS BIGINT)
                   AS n_missing,
               CAST(SUM(CASE WHEN gtid_seq - prev > 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_gaps,
               CAST(COALESCE(MAX(gtid_seq - prev - 1), 0) AS BIGINT)
                   AS max_gap
        FROM l GROUP BY server_id
    """,
)
def q_cdc_gtid_gap_monitor(spark, sf_dir):
    """GTID continuity monitor: parse the per-server transaction
    sequence out of the gtid column ("srv{id}:{seq}", reference
    carries gtid at aurora_cdc_datasource_v2.py:66 exactly so
    replication monitoring can do this) and report per-server gap
    structure — missing-event totals, gap counts, widest gap. The
    standard "did we lose binlog events" check of a MySQL CDC
    deployment.

    Scale: the lag window partitions per server — a MySQL binlog is
    per-server totally ordered, so per-server sequential structure is
    inherent to the check; the aggregate itself is map-side-combined.
    The gtid_seq is parsed from the gtid STRING (proving the
    DataSource round-trip), not taken from seq."""
    from pyspark.sql import Window

    raw = read_binlog_jvm(spark, sf_dir)
    g = raw.select(
        "server_id",
        F.split(F.col("gtid"), ":").getItem(1).cast("long").alias("gtid_seq"),
    )
    prev = F.lag("gtid_seq").over(
        Window.partitionBy("server_id").orderBy("gtid_seq")
    )
    l = g.withColumn("prev", prev)
    return l.groupBy("server_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("gtid_seq").alias("first_seq"),
        F.max("gtid_seq").alias("last_seq"),
        (
            F.max("gtid_seq") - F.min("gtid_seq") + 1 - F.count(F.lit(1))
        ).alias("n_missing"),
        F.sum(
            F.when(F.col("gtid_seq") - F.col("prev") > 1, 1).otherwise(0)
        ).cast("long").alias("n_gaps"),
        F.coalesce(
            F.max(F.col("gtid_seq") - F.col("prev") - 1), F.lit(0)
        ).cast("long").alias("max_gap"),
    )


@query(
    "events_anomaly_hours",
    oracle="""
        WITH hc AS (
            SELECT event_type, date_trunc('hour', ts) AS hr,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events GROUP BY 1, 2)
        , ranked AS (
            SELECT event_type, n_events,
                   row_number() OVER (
                       PARTITION BY event_type
                       ORDER BY n_events, hr) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS cnt
            FROM hc)
        , med AS (
            SELECT event_type, n_events AS median_hourly
            FROM ranked WHERE rn = (cnt + 1) // 2)
        SELECT h.event_type, h.hr, h.n_events, m.median_hourly,
               CAST(CASE WHEN h.n_events > 2 * m.median_hourly
                    THEN 1 ELSE 0 END AS BIGINT) AS is_spike,
               CAST(CASE WHEN 2 * h.n_events < m.median_hourly
                    THEN 1 ELSE 0 END AS BIGINT) AS is_drop
        FROM hc h JOIN med m ON h.event_type = m.event_type
    """,
)
def q_events_anomaly_hours(spark, sf_dir):
    """Volume-anomaly detection over the event stream: hourly counts
    per event type flagged against that type's (exact, lower) median
    hourly volume — spike if >2x the median, drop if <half. All
    integer comparisons (cross-multiplied), so the flags are exact in
    both engines — the alerting twin of cdc_throughput_1min's
    low-volume flag, but self-calibrating per type.

    Scale: hourly pre-aggregation first (map-side combine collapses
    to |types|x|hours| rows), then the median rank walk runs on that
    BOUNDED aggregate, not raw events — the exact-median sort is fine
    precisely because its input is already aggregate-sized."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hc = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.partitionBy("event_type").orderBy("n_events", "hr")
    ranked = hc.select(
        "event_type",
        "n_events",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("cnt"),
    )
    med = ranked.where(
        F.col("rn") == F.expr("(cnt + 1) div 2")
    ).select("event_type", F.col("n_events").alias("median_hourly"))
    return hc.join(med, "event_type").select(
        "event_type",
        "hr",
        "n_events",
        "median_hourly",
        (F.col("n_events") > 2 * F.col("median_hourly")).cast("long").alias(
            "is_spike"
        ),
        (2 * F.col("n_events") < F.col("median_hourly")).cast("long").alias(
            "is_drop"
        ),
    )


# Z-order (Morton) interleave of (user_id, hour) — the multi-dim
# clustering key behind OPTIMIZE ZORDER BY: sorting the landing zone
# by zkey co-locates rows close in BOTH dimensions, so parquet
# row-group min/max prune for either predicate. 16 bits per dim.
_Z_BITS = 16


def _morton_sql(x: str, y: str, dialect: str) -> str:
    if dialect == "spark":
        terms = [
            f"shiftleft(shiftright({x}, {i}) & 1, {2 * i})" for i in range(_Z_BITS)
        ] + [
            f"shiftleft(shiftright({y}, {i}) & 1, {2 * i + 1})"
            for i in range(_Z_BITS)
        ]
    else:
        terms = [
            f"((({x} >> {i}) & 1) << {2 * i})" for i in range(_Z_BITS)
        ] + [f"((({y} >> {i}) & 1) << {2 * i + 1})" for i in range(_Z_BITS)]
    return " + ".join(terms)


@query(
    "events_zorder_key",
    oracle=f"""
        WITH t AS (
            SELECT event_id,
                   CAST(user_id % 65536 AS BIGINT) AS x16,
                   CAST((epoch_us(ts) // 3600000000) % 65536 AS BIGINT)
                       AS y16
            FROM events)
        SELECT event_id, x16, y16,
               CAST({_morton_sql('x16', 'y16', 'duck')} AS BIGINT) AS zkey,
               CAST(({_morton_sql('x16', 'y16', 'duck')}) // 16777216
                    AS BIGINT) AS zbucket
        FROM t
    """,
)
def q_events_zorder_key(spark, sf_dir):
    """Z-order (Morton) clustering key over (user_id, event hour) —
    the executable core of the reference's OPTIMIZE ZORDER BY step
    (unity_catalog_cdc_demo.py OPTIMIZE/ZORDER; our compaction sink
    clusters by one key, this is the multi-dimensional upgrade):
    writing the landing zone sorted by zkey gives row-group min/max
    locality in BOTH user and time, so scans prune on either
    predicate without a second copy of the data.

    Scale: a pure per-row bit-interleave projection (32 shift/mask
    terms, fully codegen'd, no shuffle — the sort that CONSUMES this
    key is the compaction job's existing exchange, not a new one).
    Bijectivity of the interleave is pinned in pytest."""
    ev = load_table(spark, sf_dir, "events")
    t = ev.select(
        "event_id",
        F.expr("CAST(user_id % 65536 AS BIGINT)").alias("x16"),
        F.expr(
            "CAST((unix_micros(ts) div 3600000000) % 65536 AS BIGINT)"
        ).alias("y16"),
    )
    z = _morton_sql("x16", "y16", "spark")
    return t.select(
        "event_id",
        "x16",
        "y16",
        F.expr(f"CAST({z} AS BIGINT)").alias("zkey"),
        F.expr(f"CAST(({z}) div 16777216 AS BIGINT)").alias("zbucket"),
    )


@query("cdc_latest_state_incremental", oracle=_LATEST_STATE_SQL)
def q_cdc_latest_state_incremental(spark, sf_dir):
    """Incremental view maintenance of the latest-state table: split
    the log at its time midpoint, materialize the OLD half
    (latest_state), net the NEW half (net_changes, tombstones kept),
    and MERGE — the oracle is the plain from-scratch latest-state
    SQL, so the gate proves state(old) ⊕ changes(new) ≡
    recompute(all). This is the operational 100 TB pattern: you never
    re-scan the epoch, you merge yesterday's materialization with
    today's partition (reference's daily MERGE INTO loop,
    unity_catalog_cdc_demo.py:415-446, generalized by the hypothesis
    incrementality law in tests/test_properties.py).

    Scale: the split threshold is a 1-row broadcast; each half pays
    one key shuffle (its own latest/net reduction) and the merge is a
    left anti join of the state on the net's keys plus the net's
    upserts — no extra passes over the raw log beyond the two halves."""
    log = cdc_operation_log(spark, sf_dir)
    bounds = log.agg(
        F.expr(
            "(min(unix_micros(ts)) + max(unix_micros(ts))) div 2"
        ).alias("t_mid")
    )
    split = log.crossJoin(F.broadcast(bounds))
    t_us = F.unix_micros(F.col("ts"))
    log1 = split.where(t_us <= F.col("t_mid")).drop("t_mid")
    log2 = split.where(t_us > F.col("t_mid")).drop("t_mid")
    state1 = cdc_apply.latest_state(log1)
    net2 = cdc_apply.net_changes(log2)
    return cdc_apply.upsert_merge(state1, net2)


# ---------------------------------------------------------------------------
# R3: corpus/dedup/embedding observability views (SURVEY §2 #105-107)
# ---------------------------------------------------------------------------


@query(
    "text_heavy_hitters_per_source",
    oracle="""
        WITH tok AS (
            SELECT source, unnest(string_split(text, ' ')) AS tok
            FROM documents)
        , counted AS (
            SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS n
            FROM tok GROUP BY source, tok)
        , ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY source ORDER BY n DESC, tok ASC) AS rnk
            FROM counted)
        SELECT source, tok, n, CAST(rnk AS BIGINT) AS rnk
        FROM ranked WHERE rnk <= 5
    """,
)
def q_text_heavy_hitters_per_source(spark, sf_dir):
    """Per-domain vocabulary heavy hitters: top-5 tokens per source —
    the domain-drift view a corpus curator watches (a source whose
    head tokens shift is changing distribution). Grouped top-k done
    right at scale: the token explode collapses through a map-side-
    combined (source, token) count FIRST, and the rank window runs on
    that bounded aggregate, partitioned by source — never a sort of
    raw tokens."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    counted = (
        docs.select(
            "source", F.explode(F.split(F.col("text"), " ")).alias("tok")
        )
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("source").orderBy(
        F.col("n").desc(), F.col("tok").asc()
    )
    return (
        counted.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 5)
    )


@query(
    "dedup_family_sizes",
    oracle=r"""
        WITH fam AS (
            SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
                       AS h,
                   CAST(COUNT(*) AS BIGINT) AS family_size
            FROM documents GROUP BY 1)
        SELECT family_size,
               CAST(COUNT(*) AS BIGINT) AS n_families,
               CAST(SUM(family_size) AS BIGINT) AS n_docs
        FROM fam GROUP BY family_size
    """,
)
def q_dedup_family_sizes(spark, sf_dir):
    """Exact-duplicate family-size histogram: how many normalized-
    text families exist at each multiplicity — the dedup
    observability view (a fat tail here means the exact gate is
    doing real work; family_size 1 rows are the unique mass). Two
    hash aggregates, the second over the (tiny) distinct-hash set;
    map-side partials on both."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    fam = docs.groupBy(F.md5(norm).alias("h")).agg(
        F.count(F.lit(1)).alias("family_size")
    )
    return fam.groupBy("family_size").agg(
        F.count(F.lit(1)).alias("n_families"),
        F.sum("family_size").alias("n_docs"),
    )


@query(
    "embed_norm_stats",
    oracle=f"""
        WITH v AS (
            SELECT label, vec_id,
                   {_sim._norm('embedding', 'duck')} AS nrm
            FROM embeddings)
        SELECT CAST(label AS BIGINT) AS label,
               CAST(COUNT(*) AS BIGINT) AS n_vecs,
               CAST(FLOOR(MIN(nrm) * 1000000) AS BIGINT) AS min_norm_e6,
               CAST(FLOOR(MAX(nrm) * 1000000) AS BIGINT) AS max_norm_e6,
               CAST(SUM(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_zero_vecs
        FROM v GROUP BY label
    """,
)
def q_embed_norm_stats(spark, sf_dir):
    """Embedding health check per label: vector counts, norm range
    (floor-scaled e6 — min/max only, order-independent), zero-vector
    count (a zero vector poisons cosine math downstream). The data-QA
    gate an embedding pipeline runs before indexing. One map-side-
    combined aggregate on the label key."""
    from ..tables import load_table as _lt

    _lt(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings")
    return spark.sql(
        f"""
        WITH v AS (
            SELECT label, vec_id,
                   {_sim._norm('embedding', 'spark')} AS nrm
            FROM embeddings)
        SELECT CAST(label AS BIGINT) AS label,
               CAST(COUNT(*) AS BIGINT) AS n_vecs,
               CAST(FLOOR(MIN(nrm) * 1000000) AS BIGINT) AS min_norm_e6,
               CAST(FLOOR(MAX(nrm) * 1000000) AS BIGINT) AS max_norm_e6,
               CAST(SUM(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_zero_vecs
        FROM v GROUP BY label
        """
    )


@query("events_value_quantiles_approx")
def q_events_value_quantiles_approx(spark, sf_dir):
    """Approximate p50/p95/p99 of event value per event type via the
    Greenwald-Khanna sketch (percentile_approx) — the 100 TB
    complement to events_value_median's exact rank walk: constant
    memory per group, one pass, mergeable partials, vs the exact
    path's full sort of every group. No SQL oracle (sketch
    implementations differ by engine); the driver records a rows-only
    check and tests/test_sampling.py bounds the rank error against
    the exact quantiles."""
    ev = load_table(spark, sf_dir, "events")
    q = F.percentile_approx("value", [0.5, 0.95, 0.99], 10_000)
    return ev.groupBy("event_type").agg(
        q[0].alias("p50_approx"),
        q[1].alias("p95_approx"),
        q[2].alias("p99_approx"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ---------------------------------------------------------------------------
# R3b: native session windows, unigram familiarity, dup-span rewrite
# (SURVEY §2 #111-113)
# ---------------------------------------------------------------------------


@query(
    "events_session_window_native",
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts, event_id, value,
                CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1
                     WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                          > 1800000000 THEN 1
                     ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
        , sess AS (
            SELECT *, SUM(new_sess) OVER (
                PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                ROWS UNBOUNDED PRECEDING) AS sid
            FROM flagged)
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 30 MINUTE AS session_end,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 4)
                   AS sum_value
        FROM sess GROUP BY user_id, sid
    """,
)
def q_events_session_window_native(spark, sf_dir):
    """Sessionization via Spark's NATIVE session_window aggregate —
    the JVM-side scale path next to the applyInPandasWithState
    sessionizer (streaming/stateful.py) and the window-function
    islands twin (cdc_sessionize): one hash aggregate with merging
    session state, no Python worker, no full per-user sort window.
    Boundary semantics pinned by probe: a gap of EXACTLY 30min
    merges (split only when gap > 30min), session_end is
    last-event + gap; the oracle's gap-islands SQL mirrors both.
    Scale: groupBy(user_id, session_window) shuffles once on
    user_id; map-side partial session merge keeps the shuffle
    bounded by sessions, not events."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(12,2)")).cast("double"), 4
            ).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


@query(
    "text_unigram_familiarity",
    oracle="""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents)
        , tf AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
            FROM tok GROUP BY tok)
        , tot AS (SELECT CAST(SUM(freq) AS BIGINT) AS total FROM tf)
        , scored AS (
            SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                   CAST(SUM(f.freq) AS BIGINT) AS sum_tf
            FROM tok t JOIN tf f ON t.tok = f.tok
            GROUP BY t.doc_id)
        SELECT s.doc_id, s.n_tokens, s.sum_tf,
               CAST((1000000 * s.sum_tf) // (s.n_tokens * tot.total)
                    AS BIGINT) AS familiarity_ppm
        FROM scored s CROSS JOIN tot
    """,
)
def q_text_unigram_familiarity(spark, sf_dir):
    """CCNet-style head/tail-vocabulary quality proxy (Wenzek et al.
    2020 use a real LM; this is the LM-free unigram analog): score
    each doc by the mean corpus-wide relative frequency of its
    tokens — documents dominated by tail vocabulary (gibberish, rare
    boilerplate) score low, head-vocabulary prose scores high.
    Integer-exact end to end (ppm floor division, no doubles, no
    order-dependent float sums).

    Scale: the token->frequency join shuffles on the token key —
    deliberately NOT broadcast (vocabulary grows with the corpus;
    same rule as text_distinctive_tokens after the round-1 fix); the
    1-row corpus total IS broadcast (bounded). Two hash aggregates
    with map-side partials."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    tf = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
    total = tf.agg(F.sum("freq").alias("total"))
    scored = (
        tok.join(tf, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("freq").alias("sum_tf"),
        )
    )
    return scored.crossJoin(F.broadcast(total)).select(
        "doc_id",
        "n_tokens",
        "sum_tf",
        F.expr("(1000000 * sum_tf) div (n_tokens * total)").alias(
            "familiarity_ppm"
        ),
    )


@query(
    "text_dup_span_rewrite",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        , occ0 AS (
            SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS i
            FROM toks WHERE len(t) >= 5)
        , occ AS (
            SELECT doc_id, CAST(i - 1 AS BIGINT) AS start,
                   md5(array_to_string(t[i:i+4], ' ')) AS h
            FROM occ0)
        , ranked AS (
            SELECT doc_id, start,
                   row_number() OVER (
                       PARTITION BY h ORDER BY doc_id, start) AS rn,
                   COUNT(*) OVER (PARTITION BY h) AS cnt
            FROM occ)
        , removed_pos AS (
            SELECT DISTINCT doc_id, start + u.off AS pos
            FROM ranked CROSS JOIN range(0, 5) AS u(off)
            WHERE cnt >= 2 AND rn > 1)
        , rem AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_removed
            FROM removed_pos GROUP BY doc_id)
        SELECT d.doc_id,
               CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
               COALESCE(r.n_removed, 0) AS n_removed,
               CAST(len(string_split(d.text, ' ')) AS BIGINT)
                   - COALESCE(r.n_removed, 0) AS n_kept,
               (10000 * COALESCE(r.n_removed, 0))
                   // len(string_split(d.text, ' ')) AS removed_bp
        FROM documents d LEFT JOIN rem r ON d.doc_id = r.doc_id
    """,
)
def q_text_dup_span_rewrite(spark, sf_dir):
    """Exact duplicated-SPAN rewrite stats (Lee et al. 2021
    'Deduplicating Training Data...' §4.1, ExactSubstr): keep the
    globally FIRST occurrence of every duplicated 5-gram (ordered by
    (doc_id, start)), mark every token position covered by a later
    occurrence as removed, and report per-doc kept/removed token
    counts. Complements dedup_ngram_coverage, which only MEASURES
    coverage — this is the rewrite policy (what a corpus pipeline
    would actually delete).

    Scale: first-occurrence = one hash aggregate min(struct(doc_id,
    start)) keyed on the gram hash — no global sort, no window over
    raw grams on the Spark side (the oracle's row_number window is
    the small-engine twin); position explode is 5x the duplicated
    occurrences only, then a distinct + per-doc count. Everything
    keys on md5(gram) — uniformly distributed, skew-safe."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    grams = F.expr(
        "transform(sequence(1, size(split(text, ' ')) - 4), "
        "i -> concat_ws(' ', slice(split(text, ' '), i, 5)))"
    )
    occ = (
        docs.where(F.size(toks) >= 5)
        .select("doc_id", F.posexplode(grams).alias("start", "g"))
        .select(
            "doc_id", F.col("start").cast("long").alias("start"),
            F.md5("g").alias("h"),
        )
    )
    first = occ.groupBy("h").agg(
        F.min(F.struct("doc_id", "start")).alias("f"),
        F.count(F.lit(1)).alias("cnt"),
    )
    dup_occ = occ.join(first.where(F.col("cnt") >= 2), "h").where(
        (F.col("doc_id") != F.col("f.doc_id"))
        | (F.col("start") != F.col("f.start"))
    )
    removed = (
        dup_occ.select(
            "doc_id",
            F.explode(
                F.sequence(F.col("start"), F.col("start") + F.lit(4))
            ).alias("pos"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_removed"))
    )
    tot = docs.select("doc_id", F.size(toks).cast("long").alias("n_tokens"))
    nrem = F.coalesce(F.col("n_removed"), F.lit(0)).cast("long")
    return tot.join(removed, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        nrem.alias("n_removed"),
        (F.col("n_tokens") - nrem).alias("n_kept"),
        F.expr(
            "(10000 * COALESCE(n_removed, 0)) div n_tokens"
        ).alias("removed_bp"),
    )


def _pq_index(spark, sf_dir):
    """Materialized PQ index (r5 verdict item 1): the normalized-
    vector table and the codes table are pure functions of the
    corpus, so they are built ONCE per (app, sf_dir) through
    _gate_map — the production index-build/serve split — and
    registered as temp views for the serving SQL. The builders run
    the SAME CTE chains the DuckDB oracle composes inline
    (operators/similarity.py:_pq_code_chain), so serving output is
    bit-equal to the composed oracle."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView(
        "embeddings"
    )
    # repartition by vec_id before the checkpoint: the tiny parquet
    # arrives as 1 split and AQE would leave every downstream index
    # build single-threaded; at cluster scale this is the hash
    # distribution the codes build wants anyway
    par = spark.sparkContext.defaultParallelism
    vnorm = _gate_map(
        spark, sf_dir, "embed_vnorm",
        lambda: spark.sql(_sim.vnorm_sql("spark")).repartition(
            par, "vec_id"
        ),
    )
    vnorm.createOrReplaceTempView("pq_vnorm_mat")
    codes = _gate_map(
        spark, sf_dir, "pq_codes",
        lambda: spark.sql(_sim.pq_codes_build_sql("pq_vnorm_mat")),
    )
    codes.createOrReplaceTempView("pq_codes_mat")
    return vnorm, codes


def _km_index(spark, sf_dir):
    """Materialized trained-IVF index (r6 verdict item 4, the same
    build/serve split as _pq_index): the trained cell assignment,
    the query→centroid distance table, and the exact-cosine side
    table are pure functions of the corpus, built ONCE per
    (app, sf_dir) through _gate_map and registered as temp views.
    The builders run the SAME Lloyd CTE chain the DuckDB oracles
    compose inline, so every serving arm is bit-equal to the
    composed oracle while the observability sweeps (nprobe curve,
    maintenance plan) stop re-deriving the training per arm."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView(
        "embeddings"
    )
    cellmap = _gate_map(
        spark, sf_dir, "km_cellmap",
        lambda: QUERIES["ann_ivf_kmeans"](spark, sf_dir).select(
            "vec_id", "cell"
        ),
    )
    cellmap.createOrReplaceTempView("km_cellmap_mat")
    qdist = _gate_map(
        spark, sf_dir, "km_qdist",
        lambda: _sim._run(spark, sf_dir, _sim.kmeans_qdist_sql()),
    )
    qdist.createOrReplaceTempView("km_qdist_mat")
    vv = _gate_map(
        spark, sf_dir, "km_vv",
        lambda: _sim._run(spark, sf_dir, _sim.kmeans_vv_sql()),
    )
    vv.createOrReplaceTempView("km_vv_mat")
    return cellmap, qdist, vv


def _ann_exact_mat(spark, sf_dir):
    """The brute-force exact top-k, gate-map-materialized — the
    shared recall denominator of every ANN observability query."""
    exact = _gate_map(
        spark, sf_dir, "ann_exact_topk",
        lambda: QUERIES["embed_cosine_topk"](spark, sf_dir),
    )
    exact.createOrReplaceTempView("ann_exact_mat")
    return exact


@query("embed_pq_codes", oracle=_sim.pq_codes_sql("duck"))
def q_embed_pq_codes(spark, sf_dir):
    """Product-quantization code assignment (Jégou et al. 2011):
    each vector compressed to PQ_M=8 codeword ids (nearest codeword
    per 8-dim subspace, L2 in normalized space) — 64 float32s
    become 8 small ints. One broadcast cross join against the
    PQ_K=32-row codebook, per-subspace argmin via rank windows; the codes
    table is the _gate_map-materialized index both ADC queries
    serve from (built once per session, r5 verdict item 1); see
    operators/similarity.py:pq_codes_sql for the scale shape."""
    return _pq_index(spark, sf_dir)[1]


@query("ann_pq_topk", oracle=_sim.pq_topk_sql("duck"))
def q_ann_pq_topk(spark, sf_dir):
    """PQ-ADC approximate top-k: per-query lookup table of
    query-subvector × codeword partial inner products (|q|×32×8,
    broadcast-sized), then 8 lookups + 7 fixed-order adds per
    database vector — the raw embedding column is never touched at
    query time and the corpus is never shuffled. Completes the ANN
    ladder: brute force (oracle) → IVF/multiprobe (pruning) →
    int8 (memory) → PQ-ADC (memory + compute). Serves from the
    _gate_map-materialized codes index (r5 verdict item 1); recall
    vs the exact top-k is pinned in tests/test_round3b.py."""
    _pq_index(spark, sf_dir)
    return spark.sql(
        _sim.pq_topk_serve_sql("pq_vnorm_mat", "pq_codes_mat")
    )


@query("ann_pq_rerank_topk", oracle=_sim.pq_rerank_topk_sql("duck"))
def q_ann_pq_rerank_topk(spark, sf_dir):
    """PQ-ADC shortlist + exact re-rank — the production two-stage
    retrieval: compressed codes prune the corpus to 50 candidates
    per query (no shuffle, no raw-embedding touch), exact cosine
    runs on candidates only against the materialized vnorm view.
    Serves from the _gate_map-materialized codes index (r5 verdict
    item 1). Recall@5 ~0.8 with the untrained seed codebook vs
    ~0.25 for pure ADC (pinned in pytest); see
    operators/similarity.py:pq_rerank_topk_sql."""
    _pq_index(spark, sf_dir)
    return spark.sql(
        _sim.pq_rerank_serve_sql("pq_vnorm_mat", "pq_codes_mat")
    )


# ---------------------------------------------------------------------------
# R4: deterministic sketches — count-min frequency, Bloom membership
# ---------------------------------------------------------------------------

from ..operators import sketches as _sk  # noqa: E402


@query(
    "events_count_min_users",
    oracle=_sk.count_min_sql("events", "user_id"),
)
def q_events_count_min_users(spark, sf_dir):
    """Count-min sketch over the event stream's user_id: a
    4x256-counter table (constant-size however large the stream)
    answers per-user frequency with the one-sided guarantee
    est >= exact, pinned for every key in tests/test_round4.py.

    Scale: the build is one map-side-combined groupBy over
    DEPTH x N exploded rows; the sketch (<=1024 rows) broadcasts to
    the probe side, so the corpus-sized side never shuffles — the
    constant-memory sibling of events_distinct_users_hll, extending
    the reference's exact monitoring counts
    (src/aurora_cdc/monitoring/cdc_monitor.py) the way a 100 TB
    deployment must."""
    events = load_table(spark, sf_dir, "events")
    return _sk.count_min_estimates(events, "user_id")


_BLOOM_GRAMS = f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        , grams AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(t) - {_DECON_NGRAM - 2}),
                          i -> array_to_string(t[i:i+{_DECON_NGRAM - 1}], ' ')))
                       AS g
            FROM toks WHERE len(t) >= {_DECON_NGRAM})
"""


@query(
    "corpus_bloom_decontaminate",
    oracle=f"""{_BLOOM_GRAMS}
        , bench AS (
            SELECT DISTINCT g FROM grams WHERE doc_id < {_DECON_BENCH_MAX_ID})
        , bits AS (
            SELECT DISTINCT
                   ({_sk._ab_sql('g')[0]} + j.j * {_sk._ab_sql('g')[1]})
                       % {_sk.BLOOM_M} AS pos
            FROM bench CROSS JOIN (
                SELECT unnest(range({_sk.BLOOM_K})) AS j) j)
        , corpus AS (
            SELECT DISTINCT doc_id, g FROM grams
            WHERE doc_id >= {_DECON_BENCH_MAX_ID})
        , ppos AS (
            SELECT DISTINCT doc_id, g,
                   ({_sk._ab_sql('g')[0]} + j.j * {_sk._ab_sql('g')[1]})
                       % {_sk.BLOOM_M} AS pos
            FROM corpus CROSS JOIN (
                SELECT unnest(range({_sk.BLOOM_K})) AS j) j)
        , verdict AS (
            SELECT p.doc_id, p.g,
                   COUNT(*) = COUNT(b.pos) AS maybe
            FROM ppos p LEFT JOIN bits b ON b.pos = p.pos
            GROUP BY p.doc_id, p.g)
        , exact AS (
            SELECT c.doc_id, c.g
            FROM corpus c JOIN bench b ON c.g = b.g)
        SELECT v.doc_id,
               CAST(SUM(CASE WHEN v.maybe THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_bloom_hits,
               CAST(COUNT(e.g) AS BIGINT) AS n_exact_hits,
               CAST(SUM(CASE WHEN v.maybe THEN 1 ELSE 0 END) - COUNT(e.g)
                    AS BIGINT) AS n_false_pos
        FROM verdict v
        LEFT JOIN exact e ON e.doc_id = v.doc_id AND e.g = v.g
        GROUP BY v.doc_id
        HAVING SUM(CASE WHEN v.maybe THEN 1 ELSE 0 END) > 0
    """,
)
def q_corpus_bloom_decontaminate(spark, sf_dir):
    """Bloom-filter decontamination: the benchmark suite's 8-gram
    set becomes a 2^16-bit filter (relationally: its distinct
    set-bit positions — bounded by the EVAL SUITE, not the corpus),
    and every training-doc gram probes it with k=3 md5-derived
    positions. No false negatives by construction (pinned against
    corpus_decontaminate's exact join in tests/test_round4.py);
    false positives are counted per doc.

    Scale: this is what replaces the exact gram equi-join when the
    benchmark set is large enough that you'd rather ship constant
    bits than a string set — the corpus side streams past a
    broadcast of <= k*|bench| positions, never shuffling the
    exploded grams."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    grams_expr = F.expr(
        f"transform(sequence(1, size(split(text, ' ')) - {_DECON_NGRAM - 1}), "
        f"i -> concat_ws(' ', slice(split(text, ' '), i, {_DECON_NGRAM})))"
    )
    g = docs.where(F.size(toks) >= _DECON_NGRAM).select(
        "doc_id", F.explode(grams_expr).alias("g")
    )
    bench = (
        g.where(F.col("doc_id") < _DECON_BENCH_MAX_ID).select("g").distinct()
    )
    corpus = (
        g.where(F.col("doc_id") >= _DECON_BENCH_MAX_ID)
        .select("doc_id", "g")
        .distinct()
    )
    bits = _sk.bloom_bits(bench, "g")
    a, b = _sk._ab(F.col("g"))
    j = F.explode(F.sequence(F.lit(0), F.lit(_sk.BLOOM_K - 1))).alias("j")
    ppos = (
        corpus.select("doc_id", "g", a.alias("a"), b.alias("b"))
        .select("doc_id", "g", "a", "b", j)
        .select(
            "doc_id",
            "g",
            ((F.col("a") + F.col("j") * F.col("b")) % F.lit(_sk.BLOOM_M))
            .alias("pos"),
        )
        .distinct()
    )
    hit = ppos.join(F.broadcast(bits), "pos", "left_semi")
    verdict = (
        ppos.groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("n_pos"))
        .join(
            hit.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("n_hit")),
            ["doc_id", "g"],
            "left",
        )
        .select(
            "doc_id",
            "g",
            (
                F.coalesce(F.col("n_hit"), F.lit(0)) == F.col("n_pos")
            ).alias("maybe"),
        )
    )
    exact = corpus.join(F.broadcast(bench), "g").select(
        F.col("doc_id").alias("e_doc_id"), F.col("g").alias("eg")
    )
    return (
        verdict.join(
            exact,
            (F.col("doc_id") == F.col("e_doc_id"))
            & (F.col("g") == F.col("eg")),
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("maybe"), 1).otherwise(0)).alias(
                "n_bloom_hits"
            ),
            F.count(F.col("eg")).alias("n_exact_hits"),
            (
                F.sum(F.when(F.col("maybe"), 1).otherwise(0))
                - F.count(F.col("eg"))
            ).alias("n_false_pos"),
        )
        .where(F.col("n_bloom_hits") > 0)
    )


# ---------------------------------------------------------------------------
# R4: snapshot diff + incremental aggregate maintenance (IVM)
# ---------------------------------------------------------------------------


@query(
    "cdc_state_diff",
    oracle=_with_log(
        f"""
        , r1 AS (
            SELECT *, row_number() OVER (
                PARTITION BY key_id ORDER BY ts DESC, seq DESC) AS rn
            FROM log WHERE ts <= TIMESTAMP '{TIME_TRAVEL_AS_OF}')
        , cur1 AS (SELECT * FROM r1 WHERE rn = 1 AND operation <> 'DELETE')
        , r2 AS (
            SELECT *, row_number() OVER (
                PARTITION BY key_id ORDER BY ts DESC, seq DESC) AS rn
            FROM log)
        , cur2 AS (SELECT * FROM r2 WHERE rn = 1 AND operation <> 'DELETE')
        SELECT COALESCE(a.key_id, b.key_id) AS key_id,
               CASE WHEN a.key_id IS NULL THEN 'ADDED'
                    WHEN b.key_id IS NULL THEN 'REMOVED'
                    ELSE 'CHANGED' END AS change_type,
               a.seq AS old_seq, b.seq AS new_seq,
               a.value AS old_value, b.value AS new_value
        FROM cur1 a FULL OUTER JOIN cur2 b ON a.key_id = b.key_id
        WHERE a.key_id IS NULL OR b.key_id IS NULL OR a.seq <> b.seq
        """
    ),
)
def q_cdc_state_diff(spark, sf_dir):
    """Snapshot diff: which keys were ADDED / REMOVED / CHANGED
    between the state as of TIME_TRAVEL_AS_OF and the end of the log
    — the 'what did this pipeline change since t' audit view the
    reference gets from Delta CDF (table_changes; reference
    unity_catalog_cdc_demo.py time-travel surface), re-expressed as
    two snapshot materializations and a key-partitioned full-outer
    join.

    Scale: both snapshots shuffle once on key_id and the diff join
    reuses that partitioning (co-partitioned full outer, no extra
    exchange); nothing driver-side."""
    log = cdc_operation_log(spark, sf_dir)
    as_of = F.to_timestamp(F.lit(TIME_TRAVEL_AS_OF))
    s1 = cdc_apply.latest_state(log.where(F.col("ts") <= as_of)).select(
        F.col("key_id").alias("old_key"),
        F.col("seq").alias("old_seq"),
        F.col("value").alias("old_value"),
    )
    s2 = cdc_apply.latest_state(log).select(
        F.col("key_id").alias("new_key"),
        F.col("seq").alias("new_seq"),
        F.col("value").alias("new_value"),
    )
    joined = s1.join(s2, s1.old_key == s2.new_key, "full_outer")
    return joined.select(
        F.coalesce(F.col("old_key"), F.col("new_key")).alias("key_id"),
        F.when(F.col("old_key").isNull(), "ADDED")
        .when(F.col("new_key").isNull(), "REMOVED")
        .otherwise("CHANGED")
        .alias("change_type"),
        "old_seq",
        "new_seq",
        "old_value",
        "new_value",
    ).where(
        F.col("old_key").isNull()
        | F.col("new_key").isNull()
        | (F.col("old_seq") != F.col("new_seq"))
    )


_AGG_CURRENT_SQL = _with_log(
    """
    , ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY key_id ORDER BY ts DESC, seq DESC) AS rn
        FROM log)
    , cur AS (SELECT * FROM ranked WHERE rn = 1 AND operation <> 'DELETE')
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 4)
               AS total_value
    FROM cur GROUP BY event_type
    """
)


def _incremental_state_agg(spark, sf_dir, as_of_str: str):
    """Incrementally maintained per-event_type aggregate over the
    CURRENT state: base aggregate from the snapshot at ``as_of`` plus
    retract/insert deltas for only the keys that changed after it.
    Decimal sums make the merge order-independent (bit-equal to the
    from-scratch aggregate, which is the oracle)."""
    log = cdc_operation_log(spark, sf_dir)
    as_of = F.to_timestamp(F.lit(as_of_str))
    dec = F.col("value").cast("decimal(12,2)")

    s1 = cdc_apply.latest_state(log.where(F.col("ts") <= as_of))
    base = s1.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum(dec).alias("tot")
    )
    changed = (
        log.where(F.col("ts") > as_of).select("key_id").distinct()
    )
    # retract the changed keys' OLD rows (only keys present at t1)
    old_delta = (
        s1.join(changed, "key_id", "left_semi")
        .groupBy("event_type")
        .agg(
            (-F.count(F.lit(1))).alias("n"),
            (-F.sum(dec)).alias("tot"),
        )
    )
    # insert their NEW rows: latest state computed over ONLY the
    # changed keys' events (unchanged keys never re-windowed — the
    # IVM point)
    s2_changed = cdc_apply.latest_state(
        log.join(changed, "key_id", "left_semi")
    )
    new_delta = s2_changed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum(dec).alias("tot")
    )
    merged = (
        base.unionByName(old_delta)
        .unionByName(new_delta)
        .groupBy("event_type")
        .agg(F.sum("n").alias("n_keys"), F.sum("tot").alias("tot"))
        .where(F.col("n_keys") > 0)
    )
    return merged.select(
        "event_type",
        F.col("n_keys").cast("long").alias("n_keys"),
        F.round(F.col("tot").cast("double"), 4).alias("total_value"),
    )


@query("cdc_agg_incremental", oracle=_AGG_CURRENT_SQL)
def q_cdc_agg_incremental(spark, sf_dir):
    """Incremental view maintenance for an aggregate over the current
    state: the maintained result (base snapshot aggregate + retract/
    insert deltas for changed keys only) must be INDISTINGUISHABLE
    from recomputing from scratch — so the oracle IS the from-scratch
    aggregate, and the hash-match certifies the maintenance algebra,
    the same contract cdc_latest_state_incremental pins for the
    un-aggregated state (reference's daily MERGE INTO loop,
    unity_catalog_cdc_demo.py:415-446, lifted to aggregates).

    Scale: the delta path touches only events of keys changed after
    the snapshot (left-semi pushdown before the window), so the
    maintenance cost tracks the CHANGE volume, not the table size —
    the property that makes nightly 100 TB re-aggregation unnecessary.
    Decimal sums make merge order irrelevant; split-point invariance
    is pinned in tests/test_round4.py."""
    return _incremental_state_agg(spark, sf_dir, TIME_TRAVEL_AS_OF)


