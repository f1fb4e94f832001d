from __future__ import annotations

from .p01_cdc_operation_log import (  # noqa: F401
    DataFrame,
    F,
    TIME_TRAVEL_AS_OF,
    _KEEP_GATES_CTES,
    _KEEP_GATES_CTES_LSH,
    _V3_EXTRA_CTES,
    _debezium,
    _gate_map,
    _pq_index,
    _sim,
    _text,
    _with_log,
    cdc_operation_log,
    ensure_utc,
    load_table,
    query,
    read_binlog_jvm,
)
from .p02_text_gopher_rules import (  # noqa: F401
    _DEBEZIUM_SILVER_CTE,
    _V4_EXTRA_CTES,
    _fused_keep_list,
    _knn_edges_view,
    _rfm_customer_agg,
    _rfm_ranked,
)
from .p03_cdc_state_checksums import (  # noqa: F401
    _V5_EXTRA_CTES,
    _V6_EXTRA_CTES,
    _V6_SELECT,
)
from .p04_embed_dim_stats import (  # noqa: F401
    _clf_score_sql,
)

# ---------------------------------------------------------------------------
# R11: thirteen-gate keep-list — model-based classifier gate
# ---------------------------------------------------------------------------

_V7_EXTRA_CTES = f"""
        , clf AS (
            SELECT doc_id, logit_e4 > 0 AS model_keep
            FROM ({_clf_score_sql('duck')}) )
"""

# v7 = v6 with the model gate spliced in after the DSIR importance
# floor (rules first, model last: a model veto on a doc the rule
# battery already explains would hide the cheaper-to-fix reason) —
# same textual-refinement discipline as _V5_SELECT/_V6_SELECT.
_V7_SELECT = (
    _V6_SELECT.replace(
        "AND NOT ds.off_target",
        "AND NOT ds.off_target\n"
        "                   AND cl.model_keep",
    )
    .replace(
        "WHEN ds.off_target THEN 'off_target'",
        "WHEN ds.off_target THEN 'off_target'\n"
        "                    WHEN NOT cl.model_keep THEN 'model_reject'",
    )
    .replace(
        "JOIN dsir ds USING (doc_id)",
        "JOIN dsir ds USING (doc_id)\n"
        "        JOIN clf cl USING (doc_id)",
    )
)
assert _V7_SELECT.count("model_keep") == 2, "v6 SELECT drifted"
assert _V7_SELECT.count("cl.") == 2, "v7 splice incomplete"

_V7_PRIOR_REASONS = [
    "exact_dup",
    "near_dup",
    "contaminated",
    "dup_heavy",
    "boilerplate",
    "repetitive",
    "c4_filtered",
    "gopher_filtered",
    "gopher_repetitive",
    "low_quality",
    "off_target",
]


def _keep_list_v7(spark, sf_dir, graph):
    return _fused_keep_list(spark, sf_dir, graph, 7)


@query(
    "corpus_keep_list_v7",
    oracle=_KEEP_GATES_CTES
    + _V3_EXTRA_CTES
    + _V4_EXTRA_CTES
    + _V5_EXTRA_CTES
    + _V6_EXTRA_CTES
    + _V7_EXTRA_CTES
    + _V7_SELECT,
)
def q_corpus_keep_list_v7(spark, sf_dir):
    """THIRTEEN-gate keep-list: v6's twelve rule gates plus the
    hashed linear classifier (#303) as the closing MODEL gate —
    the gate order every production corpus run converges on (rules
    first because their reason codes are actionable and their cost
    is linear; the model veto last so it only adjudicates docs no
    rule explains). Priority: ... > low_quality > off_target >
    model_reject > sampled_out. Exact-graph oracle twin;
    v7-refines-v6 law in pytest (v7 keeps ⊆ v6 keeps, and every
    newly-dropped doc carries decision = model_reject)."""
    return _keep_list_v7(spark, sf_dir, "exact")


@query(
    "corpus_keep_list_v7_lsh",
    oracle=_KEEP_GATES_CTES_LSH
    + _V3_EXTRA_CTES
    + _V4_EXTRA_CTES
    + _V5_EXTRA_CTES
    + _V6_EXTRA_CTES
    + _V7_EXTRA_CTES
    + _V7_SELECT,
)
def q_corpus_keep_list_v7_lsh(spark, sf_dir):
    """The deployment artifact, now with the model gate: thirteen
    gates on the LSH near-dup graph — the classifier adds one
    64-row broadcast join + a doc-keyed aggregate to a chain that
    stays O(docs + candidates) end to end."""
    return _keep_list_v7(spark, sf_dir, "lsh")


# ---------------------------------------------------------------------------
# R11: hybrid retrieval (RRF fusion) + contrastive hard-negative
# mining
# ---------------------------------------------------------------------------

_RRF_K = 60  # the standard reciprocal-rank-fusion damping constant
_RRF_DENSE_TOPN = 10


def _rrf_hybrid_sql(dialect: str) -> str:
    """Sparse arm = the #152 BM25 top-10 (fixed query terms); dense
    arm = cosine top-10 for the query embedding (vec_id 0 — doc_id
    and vec_id share the 0..N id space by the testdata contract);
    fused by reciprocal-rank fusion rrf = Σ 1/(K + rank) in e6
    floor-scaled integers. Ranks carry a 0 sentinel (not NULL) for
    'absent from this arm' so the output stays a non-nullable
    integer frame on both engines."""
    div = "div" if dialect == "spark" else "//"
    bm = _text.bm25_sql(dialect)
    return f"""
        WITH bm AS ({bm})
        , v AS (
            SELECT vec_id, embedding,
                   {_sim._norm('embedding', dialect)} AS nrm
            FROM embeddings)
        , q AS (
            SELECT embedding AS qe, nrm AS qn FROM v WHERE vec_id = 0)
        , dscored AS (
            SELECT v.vec_id AS doc_id,
                   ({_sim._dot('q.qe', 'v.embedding', dialect)})
                       / (q.qn * v.nrm) AS cos
            FROM v CROSS JOIN q WHERE v.vec_id <> 0)
        , dtop AS (
            SELECT doc_id, cos FROM dscored
            ORDER BY cos DESC, doc_id ASC LIMIT {_RRF_DENSE_TOPN})
        , dense AS (
            SELECT doc_id, CAST(row_number() OVER (
                       ORDER BY cos DESC, doc_id ASC) AS BIGINT)
                   AS dense_rank
            FROM dtop)
        , fused AS (
            SELECT COALESCE(b.doc_id, d.doc_id) AS doc_id,
                   COALESCE(b.bm25_rank, 0) AS bm25_rank,
                   COALESCE(d.dense_rank, 0) AS dense_rank,
                   (CASE WHEN b.bm25_rank IS NULL THEN 0
                         ELSE 1000000 {div} ({_RRF_K} + b.bm25_rank) END
                    + CASE WHEN d.dense_rank IS NULL THEN 0
                           ELSE 1000000 {div} ({_RRF_K} + d.dense_rank)
                      END) AS rrf_e6
            FROM bm b FULL OUTER JOIN dense d ON b.doc_id = d.doc_id)
        SELECT doc_id, bm25_rank, dense_rank,
               CAST(rrf_e6 AS BIGINT) AS rrf_e6,
               CAST(row_number() OVER (
                   ORDER BY rrf_e6 DESC, doc_id ASC) AS BIGINT)
                   AS fused_rank
        FROM fused
    """


@query("retrieval_rrf_hybrid", oracle=_rrf_hybrid_sql("duck"))
def q_retrieval_rrf_hybrid(spark, sf_dir):
    """HYBRID RETRIEVAL — the serving pattern modern RAG stacks run
    (sparse keyword recall + dense semantic recall, fused without
    score calibration): the #152 BM25 top-10 and the cosine top-10
    of the query embedding, merged by reciprocal-rank fusion
    Σ 1/(K+rank), K=60 — rank-based fusion needs NO normalization
    across the incomparable score scales, which is exactly why RRF
    is the default hybrid combiner. Floor-scaled e6 integers keep
    the fusion exact cross-engine; absent-from-arm is a 0-rank
    sentinel, so each arm's unique hits survive fusion (the recall
    union property that makes hybrid beat either arm).

    Scale: the sparse arm is #152's plan (filtered-before-shuffle
    tf + TakeOrderedAndProject); the dense arm is one broadcast of
    the single query vector against the corpus + top-N (at scale
    the IVF/PQ serving paths #139/#144 substitute for the
    brute-force arm unchanged — rank lists are the interface);
    fusion itself is a 20-row FULL OUTER JOIN."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView(
        "embeddings"
    )
    return spark.sql(_rrf_hybrid_sql("spark"))


def _hard_negatives_sql(dialect: str) -> str:
    """Top-TOPK most-similar DIFFERENT-label neighbors per query
    seed — the #29 top-k chain with the label-mismatch predicate
    pushed below the ranking window."""
    from ..operators.similarity import N_QUERIES, TOPK

    return f"""
        WITH v AS (
            SELECT vec_id, embedding, label,
                   {_sim._norm('embedding', dialect)} AS nrm
            FROM embeddings)
        , q AS (
            SELECT vec_id AS query_id, embedding AS qe, nrm AS qn,
                   label AS qlabel
            FROM v WHERE vec_id < {N_QUERIES})
        , scored AS (
            SELECT q.query_id, v.vec_id AS neighbor_id,
                   v.label AS neg_label,
                   ({_sim._dot('q.qe', 'v.embedding', dialect)})
                       / (q.qn * v.nrm) AS cos
            FROM q CROSS JOIN v
            WHERE v.vec_id <> q.query_id AND v.label <> q.qlabel)
        , ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id ASC) AS rn
            FROM scored)
        SELECT query_id, neighbor_id, neg_label,
               CAST(rn AS BIGINT) AS hn_rank,
               ROUND(cos, 6) AS cosine
        FROM ranked WHERE rn <= {TOPK}
    """


@query("embed_hard_negatives", oracle=_hard_negatives_sql("duck"))
def q_embed_hard_negatives(spark, sf_dir):
    """Contrastive HARD-NEGATIVE mining — the training-data op that
    feeds embedding-model finetuning (and the reranker stage of the
    hybrid stack): for each query seed, the TOPK most-similar
    vectors with a DIFFERENT label. High-cosine/wrong-label is the
    definition of a hard negative; random negatives are trivially
    separable and teach the model nothing. Same brute-force chain
    as #29 (the oracle baseline) with the label-mismatch predicate
    pushed below the window, so the ranked set IS the hard set.

    Scale: the mining corpus never shuffles — queries broadcast
    (seed-bounded), per-partition partial top-k via the rank
    window's partial aggregation; at deployment scale the
    IVF-bucketed paths substitute for the cross join exactly as in
    the ANN family."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView(
        "embeddings"
    )
    return spark.sql(_hard_negatives_sql("spark"))


# ---------------------------------------------------------------------------
# R11: session-definition sensitivity sweep
# ---------------------------------------------------------------------------

_GAP_SWEEP_MINS = [5, 15, 30, 60, 120]


def _gap_sweep_sql(dialect: str) -> str:
    """ONE lag/lead pass over the user-ordered stream, then every
    threshold evaluated against the SAME gap columns (a session
    starts where gap_prev exceeds g; a singleton also ends there) —
    the sweep never re-sessionizes. Threshold µs products are
    precomputed in Python (120·60000000 overflows Spark's INT32
    literal arithmetic under ANSI — the r7 rule)."""
    div = "div" if dialect == "spark" else "//"
    ep = "epoch_us" if dialect == "duck" else "unix_micros"
    th = ", ".join(f"({m}, {m * 60000000})" for m in _GAP_SWEEP_MINS)
    w = "PARTITION BY user_id ORDER BY ts ASC, event_id ASC"
    return f"""
        WITH seq AS (
            SELECT user_id,
                   {ep}(ts) - lag({ep}(ts)) OVER ({w}) AS gap_prev,
                   lead({ep}(ts)) OVER ({w}) - {ep}(ts) AS gap_next
            FROM events)
        , marked AS (
            SELECT th.mins, s.user_id,
                   CASE WHEN s.gap_prev IS NULL
                             OR s.gap_prev > th.g_us
                        THEN 1 ELSE 0 END AS is_start,
                   CASE WHEN (s.gap_prev IS NULL
                              OR s.gap_prev > th.g_us)
                         AND (s.gap_next IS NULL
                              OR s.gap_next > th.g_us)
                        THEN 1 ELSE 0 END AS is_singleton
            FROM seq s
            CROSS JOIN (VALUES {th}) AS th(mins, g_us))
        SELECT mins AS gap_minutes,
               CAST(SUM(is_start) AS BIGINT) AS n_sessions,
               CAST(SUM(is_singleton) AS BIGINT) AS n_singletons,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST((100 * COUNT(*)) AS BIGINT) {div}
                   CAST(SUM(is_start) AS BIGINT)
                   AS events_per_session_centi
        FROM marked GROUP BY mins
    """


@query("events_gap_threshold_sweep", oracle=_gap_sweep_sql("duck"))
def q_events_gap_threshold_sweep(spark, sf_dir):
    """How sensitive is 'a session' to the gap threshold? Session,
    singleton-session, and events-per-session counts for g ∈
    {5,15,30,60,120} min from ONE lag/lead pass — each threshold is
    a predicate over the same two gap columns, never a
    re-sessionization (5 thresholds cost 5 CASEs, not 5 window
    passes). The mart behind choosing the 30-min constant that #9
    and #184 hard-code: where the n_sessions curve flattens, the
    definition stops mattering; a high singleton share at small g
    says the threshold is cutting real dwells in half.

    Scale: one user-keyed shuffle (shared shape with every other
    per-user window op), a constant 5-row broadcast, integer
    algebra; output is threshold-bounded."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_gap_sweep_sql("spark"))


# ---------------------------------------------------------------------------
# R11: content-defined chunk dedup (storage-layer dedup for
# multimodal payloads)
# ---------------------------------------------------------------------------

_CHUNK_W = 8  # rolling fingerprint window (bytes)
_CHUNK_B = 257
_CHUNK_M = 1000003
_CHUNK_DIV = 64  # boundary rate 1/64 → mean chunk ≈ 64 bytes
_FIXED_SZ = 64  # the fixed-size strawman arm


def _cdc_chunk_sql(dialect: str) -> str:
    """Rabin-style content-defined chunking vs fixed-size chunking,
    both arms over the same payloads (documents bytes — the mm
    binary convention), chunk-hash dedup stats per size octave.
    The W-byte window fingerprint at each position is an 8-term
    polynomial in exact BIGINT (terms reach 255·M ≈ 2.5e8 — cast
    before multiply, the INT32 literal rule); a cut lands wherever
    fingerprint ≡ 0 (mod {div}), so boundaries are CONTENT-LOCAL:
    an insertion shifts every fixed-size grid cell after it but
    only the chunk it lands in here — the property that makes CDC
    the storage-dedup standard."""
    pw = [pow(_CHUNK_B, j, _CHUNK_M) for j in range(_CHUNK_W)]
    if dialect == "spark":
        # r5 rewrite: the original form exploded one row PER BYTE
        # carrying the FULL text column (corpus_bytes x doc_size
        # materialized — the dominant cost of the whole bench suite
        # at sf0.1). Now each position row is (doc_id, pos, byte)
        # and the W-byte window fingerprint is 7 leads over the
        # doc-partitioned position order — same exact h, ~doc_size x
        # smaller explode. Positions within W-1 of the end produce a
        # NULL h (lead past the end) and drop out exactly where the
        # old sequence() upper bound stopped.
        lead_h = " + ".join(
            (
                f"b * {pw[0]}"
                if j == 0
                else f"lead(b, {j}) OVER w * {pw[j]}"
            )
            for j in range(_CHUNK_W)
        )
        boundaries = f"""
            SELECT doc_id, pos FROM (
                SELECT doc_id, pos, ({lead_h}) % {_CHUNK_M} AS h
                FROM (SELECT doc_id, pos + 1 AS pos,
                             CAST(ascii(ch) AS BIGINT) AS b
                      FROM (SELECT doc_id, text FROM documents
                            WHERE length(text) >= {_CHUNK_W}) d
                      LATERAL VIEW posexplode(split(text, ''))
                          t AS pos, ch)
                WINDOW w AS (PARTITION BY doc_id ORDER BY pos ASC)) f
            WHERE h % {_CHUNK_DIV} = 0"""
        fixed_offs = f"""
            SELECT doc_id, text, off
            FROM documents
            LATERAL VIEW explode(
                sequence(0, length(text) - 1, {_FIXED_SZ})) o AS off"""
    else:
        h = " + ".join(
            f"CAST(ascii(substring(text, pos + {j}, 1)) AS BIGINT)"
            f" * {pw[j]}"
            for j in range(_CHUNK_W)
        )
        boundaries = f"""
            SELECT doc_id, pos FROM (
                SELECT doc_id, pos, ({h}) % {_CHUNK_M} AS h
                FROM (SELECT doc_id, text,
                             unnest(generate_series(
                                 1, length(text) - {_CHUNK_W - 1}))
                                 AS pos
                      FROM documents
                      WHERE length(text) >= {_CHUNK_W})) f
            WHERE h % {_CHUNK_DIV} = 0"""
        fixed_offs = f"""
            SELECT doc_id, text,
                   unnest(generate_series(
                       0, length(text) - 1, {_FIXED_SZ})) AS off
            FROM documents"""
    return f"""
        WITH boundaries AS ({boundaries})
        , mid AS (
            SELECT doc_id, lag(pos, 1, 0) OVER (
                       PARTITION BY doc_id ORDER BY pos ASC) AS s,
                   pos AS e
            FROM boundaries)
        , tails AS (
            SELECT d.doc_id, COALESCE(b.last_b, 0) AS s,
                   length(d.text) AS e
            FROM documents d
            LEFT JOIN (SELECT doc_id, MAX(pos) AS last_b
                       FROM boundaries GROUP BY doc_id) b
              ON b.doc_id = d.doc_id)
        , chunks AS (
            SELECT 'cdc' AS method, c.doc_id,
                   md5(substring(d.text, c.s + 1, c.e - c.s))
                       AS chunk_md5,
                   CAST(c.e - c.s AS BIGINT) AS sz
            FROM (SELECT * FROM mid UNION ALL SELECT * FROM tails) c
            JOIN documents d ON d.doc_id = c.doc_id
            UNION ALL
            SELECT 'fixed' AS method, doc_id,
                   md5(substring(text, off + 1, {_FIXED_SZ}))
                       AS chunk_md5,
                   CAST(LEAST({_FIXED_SZ},
                              length(text) - off) AS BIGINT) AS sz
            FROM ({fixed_offs}) fo)
        , counts AS (
            SELECT method, chunk_md5, sz,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM chunks GROUP BY method, chunk_md5, sz)
        SELECT method,
               CAST(LENGTH(bin(sz)) - 1 AS BIGINT) AS size_octave,
               CAST(SUM(cnt) AS BIGINT) AS n_chunks,
               CAST(COUNT(*) AS BIGINT) AS n_distinct,
               CAST(SUM(cnt * sz) AS BIGINT) AS total_bytes,
               CAST(SUM((cnt - 1) * sz) AS BIGINT) AS dup_bytes
        FROM counts
        GROUP BY method, CAST(LENGTH(bin(sz)) - 1 AS BIGINT)
    """


@query("mm_cdc_chunk_dedup", oracle=_cdc_chunk_sql("duck"))
def q_mm_cdc_chunk_dedup(spark, sf_dir):
    """STORAGE-layer dedup — the paradigm below all the content
    dedup families (doc #25, line #227, span #113, gram #92):
    content-defined chunking splits each payload where a W-byte
    rolling fingerprint ≡ 0 (mod 64), so chunk boundaries move WITH
    the content (an insertion re-chunks one chunk, not every grid
    cell after it — why backup/dedup stores chunk this way), then
    dedups by chunk hash. Both arms measured side by side on the
    same bytes: the fixed-64-byte grid strawman and CDC, per size
    octave (n_chunks, distinct, total vs duplicate bytes — the
    dedup-ratio mart a storage engine publishes). Payloads are the
    documents bytes (the mm binary convention, #33).

    Scale: the fingerprint explode is LINEAR in corpus bytes with a
    constant 8-term codegen expression per position (no Python, no
    shuffle until the chunk-hash aggregate); boundary placement is
    embarrassingly parallel because cuts are content-local (no
    min/max-size chaining in this variant). The chunk table shuffles
    once on chunk_md5 — the same shape as every hash-dedup in the
    family. (r9 measured, guide §1: fanning the scan out LOSES here
    — 1.13 s → 1.38 s interleaved A/B at sf0.1 — the per-char
    explode pipelines into the doc_id window exchange anyway, and
    the extra repartition of the full text column costs more than
    the map parallelism buys. Left on the plain scan.)"""
    ensure_utc(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(_cdc_chunk_sql("spark"))


# ---------------------------------------------------------------------------
# R11: Matryoshka prefix-dimension recall
# ---------------------------------------------------------------------------

_MRL_DIMS = [8, 16, 32, 64]


def _mrl_cos(d: int, dialect: str) -> str:
    """Prefix-d cosine between q.qe and v.embedding — left-
    associated fold over the FIRST d elements on both engines
    (Spark: aggregate over zip_with of slice; duck: explicit +
    chain), the #29 bit-identical discipline restricted to the
    prefix."""
    if dialect == "spark":
        dot = (
            f"aggregate(zip_with(slice(q.qe, 1, {d}),"
            f" slice(v.embedding, 1, {d}),"
            " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
            " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        nq = (
            f"SQRT(aggregate(slice(q.qe, 1, {d}), CAST(0 AS DOUBLE),"
            " (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
        )
        nv = (
            f"SQRT(aggregate(slice(v.embedding, 1, {d}),"
            " CAST(0 AS DOUBLE),"
            " (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
        )
    else:
        dot = " + ".join(
            f"(CAST(q.qe[{i}] AS DOUBLE)"
            f" * CAST(v.embedding[{i}] AS DOUBLE))"
            for i in range(1, d + 1)
        )
        nq = "SQRT(" + " + ".join(
            f"(CAST(q.qe[{i}] AS DOUBLE) * CAST(q.qe[{i}] AS DOUBLE))"
            for i in range(1, d + 1)
        ) + ")"
        nv = "SQRT(" + " + ".join(
            f"(CAST(v.embedding[{i}] AS DOUBLE)"
            f" * CAST(v.embedding[{i}] AS DOUBLE))"
            for i in range(1, d + 1)
        ) + ")"
    return f"({dot}) / ({nq} * {nv})"


def _mrl_sql(dialect: str, scored_src: str | None = None) -> str:
    """Recall@TOPK of each prefix width vs the full-width truth.
    ``scored_src`` overrides the scored CTE body (the Spark side
    passes a localCheckpointed temp view — the pairwise score table
    is referenced by FIVE arms, the multiplicative-CTE rule; duck
    uses AS MATERIALIZED)."""
    from ..operators.similarity import N_QUERIES, TOPK

    div = "div" if dialect == "spark" else "//"
    mat = "MATERIALIZED " if dialect != "spark" else ""
    cols = ", ".join(
        f"{_mrl_cos(d, dialect)} AS c{d}" for d in _MRL_DIMS
    )
    scored_body = scored_src or f"""
            SELECT q.query_id, v.vec_id, {cols}
            FROM (SELECT vec_id AS query_id, embedding AS qe
                  FROM embeddings WHERE vec_id < {N_QUERIES}) q
            CROSS JOIN embeddings v
            WHERE v.vec_id <> q.query_id"""
    full = _MRL_DIMS[-1]
    arms = " UNION ALL ".join(
        f"""
        SELECT {d} AS dims, query_id, vec_id FROM (
            SELECT query_id, vec_id, row_number() OVER (
                PARTITION BY query_id
                ORDER BY c{d} DESC, vec_id ASC) AS rn
            FROM scored) r{d}
        WHERE rn <= {TOPK}"""
        for d in _MRL_DIMS
    )
    return f"""
        WITH scored AS {mat}({scored_body})
        , truth AS {mat}(
            SELECT query_id, vec_id FROM (
                SELECT query_id, vec_id, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY c{full} DESC, vec_id ASC) AS rn
                FROM scored) t
            WHERE rn <= {TOPK})
        , arms AS ({arms})
        SELECT a.dims,
               CAST(COUNT(t.vec_id) AS BIGINT) AS hits,
               CAST((10000 * COUNT(t.vec_id))
                    {div} {N_QUERIES * TOPK} AS BIGINT) AS recall_bp
        FROM arms a
        LEFT JOIN truth t
          ON t.query_id = a.query_id AND t.vec_id = a.vec_id
        GROUP BY a.dims
    """


@query("embed_matryoshka_recall", oracle=_mrl_sql("duck"))
def q_embed_matryoshka_recall(spark, sf_dir):
    """Matryoshka serving curve: recall@TOPK when queries are
    answered with only the FIRST d dimensions (d ∈ {8,16,32,64}) vs
    the full-width truth — the measurement behind
    Matryoshka-representation serving (store one embedding, serve
    cheap prefixes; same shape as the PQ/sign/JL audits #138-147/
    #185, but along the DIMENSION-PREFIX axis those can't see). The
    d=64 arm is the truth itself (recall_bp = 10000 by
    construction, the self-consistency pin). Prefix cosines use the
    #29 left-associated fold restricted to the slice, so both
    engines rank bit-identically.

    Scale: one pairwise score pass computes ALL widths (4 extra
    codegen'd folds per pair, not 4 passes), localCheckpointed
    before the five ranking arms read it; at deployment scale the
    brute pass is replaced per-arm by the IVF/PQ serving chain and
    the recall law is measured on a sampled query set exactly as
    here (query-bounded)."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView(
        "embeddings"
    )
    # build the scored relation once, checkpoint, then rank
    from ..operators.similarity import N_QUERIES

    cols = ", ".join(
        f"{_mrl_cos(d, 'spark')} AS c{d}" for d in _MRL_DIMS
    )
    base = spark.sql(
        f"""
        SELECT q.query_id, v.vec_id, {cols}
        FROM (SELECT vec_id AS query_id, embedding AS qe
              FROM embeddings WHERE vec_id < {N_QUERIES}) q
        CROSS JOIN embeddings v
        WHERE v.vec_id <> q.query_id
        """
    ).localCheckpoint()
    base.createOrReplaceTempView("mrl_scored_mat")
    return spark.sql(
        _mrl_sql("spark", scored_src="SELECT * FROM mrl_scored_mat")
    )


# ---------------------------------------------------------------------------
# R11: CRDT conflict resolution, Good-Turing coverage
# ---------------------------------------------------------------------------

_CRDT_SITES = 4


def _crdt_sql(dialect: str) -> str:
    """State-based CRDT registers per key from the CDC log, with
    ops deterministically attributed to {sites} replica sites
    (site = seq mod {sites} — the simulation stand-in for the
    origin-server id a real multi-master log carries). The
    per-(key, site) slot counts ARE the G-counter/PN-counter state
    vectors; this query emits their merged view."""
    div = "div" if dialect == "spark" else "//"
    return _with_log(f"""
        , sited AS (
            SELECT key_id, seq % {_CRDT_SITES} AS site, operation,
                   ts, seq, value
            FROM log)
        , slots AS (
            SELECT key_id, site,
                   CAST(SUM(CASE WHEN operation <> 'DELETE'
                            THEN 1 ELSE 0 END) AS BIGINT) AS p_slot,
                   CAST(SUM(CASE WHEN operation = 'DELETE'
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_slot,
                   CAST(MAX(CAST(ROUND(value * 100) AS BIGINT))
                        AS BIGINT) AS max_slot
            FROM sited GROUP BY key_id, site)
        , lww AS (
            SELECT key_id, seq AS lww_seq FROM (
                SELECT key_id, seq, row_number() OVER (
                    PARTITION BY key_id
                    ORDER BY ts DESC, seq DESC) AS rn
                FROM sited) r WHERE rn = 1)
        SELECT s.key_id,
               CAST(COUNT(*) AS BIGINT) AS n_sites_active,
               CAST(SUM(s.p_slot) AS BIGINT) AS g_count,
               CAST(SUM(s.p_slot) - SUM(s.n_slot) AS BIGINT) AS pn_value,
               CAST(MAX(s.max_slot) AS BIGINT) AS max_register_cents,
               MAX(l.lww_seq) AS lww_seq
        FROM slots s JOIN lww l ON l.key_id = s.key_id
        GROUP BY s.key_id
    """)


@query("cdc_crdt_state", oracle=_crdt_sql("duck"))
def q_cdc_crdt_state(spark, sf_dir):
    """CONFLICT RESOLUTION beyond last-writer-wins — the multi-
    master merge semantics a CDC consumer needs when the same key is
    written from several sites concurrently: G-counter (grow-only:
    per-site slot vector, merge = slot-wise MAX, read = Σ slots),
    PN-counter (increments − decrements, two G-counters), MAX
    register (merge = max), and the LWW register (#2's rule) side by
    side for the same key. The per-(key,site) slot table IS the CRDT
    state: slot-wise MAX merge makes redelivery IDEMPOTENT and
    site-order COMMUTATIVE — the exactly-once-without-coordination
    property, pinned in pytest by merging duplicated site states in
    shuffled order and landing on this query's exact output.

    Scale: one key,site aggregate (the slot vector — bounded at
    sites × keys) + one key-window for LWW sharing the key shuffle;
    merged reads are per-key algebra. Site attribution is seq mod S
    here; a real Debezium log substitutes its server_id column and
    NOTHING else changes."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_crdt_sql("spark"))


def _good_turing_sql(dialect: str) -> str:
    if dialect == "spark":
        tok = (
            "SELECT source, token FROM documents"
            " LATERAL VIEW explode(split(text, ' ')) t AS token"
        )
    else:
        tok = (
            "SELECT source, unnest(string_split(text, ' ')) AS token"
            " FROM documents"
        )
    div = "div" if dialect == "spark" else "//"
    return f"""
        WITH tok AS ({tok})
        , tf AS (
            SELECT source, token, CAST(COUNT(*) AS BIGINT) AS r
            FROM tok GROUP BY source, token)
        , per AS (
            SELECT source,
                   CAST(SUM(r) AS BIGINT) AS n_tokens,
                   CAST(COUNT(*) AS BIGINT) AS n_types,
                   CAST(SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n1,
                   CAST(SUM(CASE WHEN r = 2 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n2
            FROM tf GROUP BY source)
        SELECT source, n_tokens, n_types, n1, n2,
               (10000 * n1) {div} n_tokens AS unseen_mass_bp,
               CASE WHEN n1 > 0 THEN (200 * n2) {div} n1
                    ELSE 0 END AS r1_star_centi
        FROM per
    """


@query("text_good_turing", oracle=_good_turing_sql("duck"))
def q_text_good_turing(spark, sf_dir):
    """Good-Turing COVERAGE per source: the probability mass a
    sample assigns to UNSEEN vocabulary is estimated by its hapax
    share (P(unseen) ≈ n1/N — the Good-Turing missing-mass
    estimator), with the smoothed count for once-seen words
    r1* = 2·n2/n1 beside it. The corpus-datasheet number (#171
    family) that says whether a source's token statistics have
    converged — high unseen mass means every familiarity/Zipf/
    growth statistic (#112/#168/#202) is still moving; near zero
    means the vocabulary is saturated and subsampling is safe.

    Scale: the standard explode → (source, token) count — shares
    its shuffle shape with every frequency operator; the estimator
    is per-source integer algebra on four counters."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(_good_turing_sql("spark"))


# ---------------------------------------------------------------------------
# R11: bitmap-index distinct rollup (the EXACT mergeable sketch)
# ---------------------------------------------------------------------------

_BMP_BITS = 62  # bits per word — stay strictly inside signed-64


def _bitmap_rollup_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    shl = (
        "shiftleft(CAST(1 AS BIGINT), CAST(user_id % {b} AS INT))"
        if dialect == "spark"
        else "(CAST(1 AS BIGINT) << CAST(user_id % {b} AS INT))"
    ).format(b=_BMP_BITS)
    return f"""
        WITH bits AS (
            SELECT date_trunc('day', ts) AS day,
                   CAST(user_id {div} {_BMP_BITS} AS BIGINT) AS word_idx,
                   CAST(bit_or({shl}) AS BIGINT) AS w
            FROM events
            GROUP BY date_trunc('day', ts),
                     CAST(user_id {div} {_BMP_BITS} AS BIGINT))
        , rolled AS (
            SELECT day, word_idx, w,
                   CAST(bit_or(w) OVER (
                       PARTITION BY word_idx ORDER BY day ASC
                       ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS w7
            FROM bits)
        SELECT day,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(bit_count(w)) AS BIGINT) AS dau_exact,
               CAST(SUM(bit_count(w7)) AS BIGINT) AS rolling_7d_upper
        FROM rolled
        GROUP BY day
    """


@query("events_user_bitmap_rollup", oracle=_bitmap_rollup_sql("duck"))
def q_events_user_bitmap_rollup(spark, sf_dir):
    """The EXACT mergeable distinct-counter — the bitmap-index
    paradigm beside the approximate sketches (#62 engine HLL, #156
    registers, #114 count-min): pack each day's user set into
    62-bit words (word = user div 62, bit = user mod 62), merge by
    bitwise OR, read by popcount. OR-merge is idempotent,
    commutative, and EXACT — the roaring-bitmap trick every OLAP
    engine uses when the id space is dense enough to afford it
    (state = idspace/62 words per group vs HLL's fixed 256 — the
    documented tradeoff). Emits per-day exact DAU (popcount == the
    COUNT DISTINCT law in pytest) and the 7-day rolling OR-union
    (a word-partitioned window — each word rolls independently, no
    day's full set is ever rebuilt).

    NB the 7-day column counts days PRESENT in the window's ROWS
    frame (sparse calendar ⇒ an upper window, named accordingly);
    the per-day popcount law is exact regardless.

    Scale: state is (days × active words); the OR window shuffles
    on word_idx — the same key the bitmap is stored under, so
    rollups are co-partitioned; popcount reads are projections. At
    a 10^9 id space the words-per-day bound is ~16M rows — heavy
    but exact, which is precisely when you pick HLL instead; this
    query IS that decision's cost side."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_bitmap_rollup_sql("spark"))


# ---------------------------------------------------------------------------
# R11: compensation (undo) log — point-in-time ROLLBACK as data
# ---------------------------------------------------------------------------


def _compensation_sql(dialect: str) -> str:
    """Inverse of the #116 diff: the op stream that rolls the
    CURRENT state back to the TIME_TRAVEL_AS_OF savepoint. value is
    exact integer cents; DELETE carries the 0 sentinel (documented —
    keeps the frame null-free on both engines)."""
    return _with_log(f"""
        , r1 AS (
            SELECT *, row_number() OVER (
                PARTITION BY key_id ORDER BY ts DESC, seq DESC) AS rn
            FROM log WHERE ts <= TIMESTAMP '{TIME_TRAVEL_AS_OF}')
        , save AS (SELECT * FROM r1 WHERE rn = 1 AND operation <> 'DELETE')
        , r2 AS (
            SELECT *, row_number() OVER (
                PARTITION BY key_id ORDER BY ts DESC, seq DESC) AS rn
            FROM log)
        , cur AS (SELECT * FROM r2 WHERE rn = 1 AND operation <> 'DELETE')
        SELECT COALESCE(s.key_id, c.key_id) AS key_id,
               CASE WHEN s.key_id IS NULL THEN 'DELETE'
                    WHEN c.key_id IS NULL THEN 'INSERT'
                    ELSE 'UPDATE' END AS op,
               CAST(CASE WHEN s.key_id IS NULL THEN 0
                    ELSE CAST(ROUND(s.value * 100) AS BIGINT)
                    END AS BIGINT) AS value_cents
        FROM save s FULL OUTER JOIN cur c ON s.key_id = c.key_id
        WHERE s.key_id IS NULL OR c.key_id IS NULL
              OR s.seq <> c.seq
    """)


@query("cdc_compensation_ops", oracle=_compensation_sql("duck"))
def q_cdc_compensation_ops(spark, sf_dir):
    """POINT-IN-TIME ROLLBACK as a change stream — the compensating
    transaction generator (flashback / PITR-by-undo): the minimal op
    set that, applied to the CURRENT latest-state with ordinary
    upsert semantics, reproduces the state at the
    TIME_TRAVEL_AS_OF savepoint. Keys created since the savepoint
    get DELETE; keys dropped since get INSERT (with their savepoint
    value); keys whose winning op changed get UPDATE. This is #116's
    diff INVERTED into executable form — rollback becomes one more
    CDC batch through the existing upsert_merge machinery instead of
    a table restore, which is exactly how production systems undo a
    bad deploy without losing the intervening audit history. The
    apply-law (upsert(current, compensation) == state_at_savepoint,
    key-for-key in cents) is pinned in pytest.

    Scale: two key-windows sharing one key shuffle + a key-keyed
    FULL OUTER join — the #2/#34 plan shape; output is bounded by
    keys that actually changed."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_compensation_sql("spark"))


def crdt_slots(log_df: DataFrame) -> DataFrame:
    """Per-(key, site) CRDT slot state from (a batch of) the CDC
    log — the DataFrame twin of #313's slots CTE, shared with the
    streaming maintenance law: per-micro-batch PARTIAL slots SUM
    (op-based: each site increments its own slot), redelivered FULL
    states MAX (state-based) — both land on the same merged read."""
    return (
        log_df.withColumn("site", F.col("seq") % _CRDT_SITES)
        .groupBy("key_id", "site")
        .agg(
            F.sum(
                F.when(F.col("operation") != "DELETE", 1).otherwise(0)
            )
            .cast("long")
            .alias("p_slot"),
            F.sum(
                F.when(F.col("operation") == "DELETE", 1).otherwise(0)
            )
            .cast("long")
            .alias("n_slot"),
            F.max(F.expr("CAST(ROUND(value * 100) AS BIGINT)")).alias(
                "max_slot"
            ),
        )
    )


# ---------------------------------------------------------------------------
# R11: hash-ranked uniform sample, join-blowup audit
# ---------------------------------------------------------------------------

_RESERVOIR_K = 200


def _hash_rank_sample_sql(dialect: str) -> str:
    """Fixed-size uniform sample WITHOUT replacement: rank every row
    by md5(event_id) and keep the K smallest — equivalent to a
    reservoir sample but deterministic, repeatable, and MERGEABLE
    (top-K of per-partition top-Ks == global top-K, the law in
    pytest). ORDER BY hash LIMIT K executes as
    TakeOrderedAndProject — per-partition partial top-K, no global
    sort."""
    if dialect == "spark":
        h = (
            "conv(substring(md5(CAST(event_id AS STRING)), 1, 15),"
            " 16, 10)"
        )
    else:
        h = (
            "CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15)"
            " AS BIGINT)"
        )
    return f"""
        WITH ranked AS (
            SELECT event_id, user_id, event_type,
                   CAST({h} AS BIGINT) AS hkey
            FROM events
            ORDER BY hkey ASC, event_id ASC LIMIT {_RESERVOIR_K})
        SELECT event_id, user_id, event_type, hkey FROM ranked
    """


@query("sample_hash_reservoir", oracle=_hash_rank_sample_sql("duck"))
def q_sample_hash_reservoir(spark, sf_dir):
    """Fixed-SIZE uniform sampling — the missing shape beside the
    fixed-RATE samplers (#53 stratified, #154 acceptance-hash):
    rank rows by a content hash and keep the K smallest. Exactly a
    reservoir sample's distribution, but deterministic (rerunnable
    audits), exactly K rows, and MERGEABLE: the K smallest of the
    union are among the per-shard K smallest, so shards sample
    independently and a coordinator merges — no sequential reservoir
    state, no RNG coordination. The pytest law pins merge-equality
    over a 4-way split and distribution uniformity via a
    chi-squared-style bound on user buckets.

    Scale: TakeOrderedAndProject (per-partition partial top-K) —
    corpus never shuffles; K rows reach the driver-side merge
    however large the table."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_hash_rank_sample_sql("spark"))


def _join_blowup_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    return f"""
        WITH ca AS (
            SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS cnt_o
            FROM orders GROUP BY o_custkey)
        , cb AS (
            SELECT o_custkey AS k,
                   CAST(COUNT(*) AS BIGINT) AS cnt_l
            FROM orders o JOIN lineitem l
              ON l.l_orderkey = o.o_orderkey
            GROUP BY o_custkey)
        , contrib AS (
            SELECT ca.k, ca.cnt_o, COALESCE(cb.cnt_l, 0) AS cnt_l,
                   ca.cnt_o * COALESCE(cb.cnt_l, 0) AS out_rows
            FROM ca LEFT JOIN cb ON cb.k = ca.k)
        , tot AS (
            SELECT CAST(SUM(out_rows) AS BIGINT) AS total_out,
                   CAST(COUNT(*) AS BIGINT) AS n_keys,
                   CAST(MAX(out_rows) AS BIGINT) AS max_key_out
            FROM contrib)
        SELECT c.k AS cust_key, c.cnt_o, c.cnt_l,
               CAST(c.out_rows AS BIGINT) AS out_rows,
               (10000 * c.out_rows) {div} t.total_out AS share_bp,
               t.total_out, t.n_keys,
               (10000 * t.max_key_out) {div} t.total_out
                   AS top_key_share_bp
        FROM contrib c CROSS JOIN tot t
        ORDER BY c.out_rows DESC, c.k ASC LIMIT 10
    """


@query("dq_join_blowup_audit", oracle=_join_blowup_sql("duck"))
def q_dq_join_blowup_audit(spark, sf_dir):
    """PRE-FLIGHT join cardinality audit — the optimizer statistic
    as a mart: for a planned customer-grain self-join of orders
    against customer-rolled lineitem counts, the output size per key
    is cnt_a·cnt_b from the two sides' key histograms ALONE — no
    join executed. Emits the top-10 blowup keys with their output
    share (bp) and the total: the number that says broadcast /
    salt / pre-aggregate BEFORE the shuffle is launched, and the
    exact key list #136's salting would target. At 100 TB this
    histogram-product audit is how you catch the 10^12-row join
    before paying for it.

    Scale: two key-keyed aggregates + a key equi-join of the
    HISTOGRAMS (key-cardinality-sized, not row-sized); top-10 via
    TakeOrderedAndProject."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem"
    )
    return spark.sql(_join_blowup_sql("spark"))


# ---------------------------------------------------------------------------
# R11: filtered vector search (pre- vs post-filter), decayed
# engagement
# ---------------------------------------------------------------------------

_FILTERED_OVERFETCH = 3  # post-filter overfetch multiplier


def _ann_filtered_sql(dialect: str) -> str:
    from ..operators.similarity import N_QUERIES, TOPK

    cos = (
        f"({_sim._dot('q.qe', 'v.embedding', dialect)})"
        " / (q.qn * v.nrm)"
    )
    div = "div" if dialect == "spark" else "//"
    mat = "MATERIALIZED " if dialect != "spark" else ""
    return f"""
        WITH v AS (
            SELECT vec_id, embedding, label,
                   {_sim._norm('embedding', dialect)} AS nrm
            FROM embeddings)
        , q AS (
            SELECT vec_id AS query_id, embedding AS qe, nrm AS qn,
                   label AS qlabel
            FROM v WHERE vec_id < {N_QUERIES})
        , scored AS {mat}(
            SELECT q.query_id, q.qlabel, v.vec_id, v.label,
                   {cos} AS cos
            FROM q CROSS JOIN v WHERE v.vec_id <> q.query_id)
        , truth AS {mat}(
            SELECT query_id, vec_id FROM (
                SELECT query_id, vec_id, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY cos DESC, vec_id ASC) AS rn
                FROM scored WHERE label = qlabel) t
            WHERE rn <= {TOPK})
        , pre AS (
            SELECT query_id, vec_id FROM (
                SELECT query_id, vec_id, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY cos DESC, vec_id ASC) AS rn
                FROM scored WHERE label = qlabel) p
            WHERE rn <= {TOPK})
        , post AS (
            SELECT query_id, vec_id FROM (
                SELECT query_id, vec_id, label, qlabel,
                       row_number() OVER (
                           PARTITION BY query_id
                           ORDER BY cos DESC, vec_id ASC) AS rn
                FROM scored) g
            WHERE rn <= {TOPK * _FILTERED_OVERFETCH}
                  AND label = qlabel)
        , post_k AS (
            SELECT query_id, vec_id FROM (
                SELECT query_id, vec_id, row_number() OVER (
                    PARTITION BY query_id ORDER BY vec_id ASC) AS rk
                FROM post) pk
            WHERE rk <= {TOPK})
        , arms AS (
            SELECT 'pre_filter' AS strategy, query_id, vec_id FROM pre
            UNION ALL
            SELECT 'post_filter', query_id, vec_id FROM post_k)
        SELECT a.strategy,
               CAST(COUNT(*) AS BIGINT) AS n_returned,
               CAST(COUNT(t.vec_id) AS BIGINT) AS hits,
               CAST((10000 * COUNT(t.vec_id))
                    {div} {N_QUERIES * TOPK} AS BIGINT) AS recall_bp
        FROM arms a
        LEFT JOIN truth t
          ON t.query_id = a.query_id AND t.vec_id = a.vec_id
        GROUP BY a.strategy
    """


@query("ann_filtered_search_recall", oracle=_ann_filtered_sql("duck"))
def q_ann_filtered_search_recall(spark, sf_dir):
    """FILTERED vector search — the tradeoff every vector store
    documents: answering 'top-k nearest WITH label = X' either by
    PRE-FILTERING (search only the predicate's rows — exact recall,
    but the index must support predicate pushdown) or by
    POST-FILTERING (overfetch k·{m} from the unfiltered index, then
    filter — cheap on any index, loses recall when the predicate is
    selective because qualifying rows fall outside the overfetch
    window, and can return FEWER than k). Both arms measured against
    the exact filtered truth: pre_filter pins 10000 bp by
    construction (the self-consistency arm), post_filter's shortfall
    and its under-return (n_returned < queries·k) are THE published
    numbers behind choosing overfetch multipliers. The brute-force
    score pass stands in for the index; at scale the IVF/PQ chains
    substitute per arm and the same two rank lists come back.

    Scale: ONE pairwise score pass feeds truth + both arms
    (localCheckpointed — multiplicative-CTE rule; duck AS
    MATERIALIZED); everything after is query-bounded rank algebra.
    """.replace("{m}", str(_FILTERED_OVERFETCH))
    ensure_utc(spark)
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView(
        "embeddings"
    )
    from ..operators.similarity import N_QUERIES

    base = spark.sql(
        f"""
        SELECT q.query_id, q.qlabel, v.vec_id, v.label,
               ({_sim._dot('q.qe', 'v.embedding', 'spark')})
                   / (q.qn * v.nrm) AS cos
        FROM (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn,
                     label AS qlabel
              FROM (SELECT vec_id, embedding, label,
                           {_sim._norm('embedding', 'spark')} AS nrm
                    FROM embeddings) s
              WHERE vec_id < {N_QUERIES}) q
        CROSS JOIN (SELECT vec_id, embedding, label,
                           {_sim._norm('embedding', 'spark')} AS nrm
                    FROM embeddings) v
        WHERE v.vec_id <> q.query_id
        """
    ).localCheckpoint()
    base.createOrReplaceTempView("annf_scored_mat")
    sql = _ann_filtered_sql("spark")
    head, tail = sql.split(", truth AS", 1)
    return spark.sql(
        "WITH scored AS (SELECT * FROM annf_scored_mat)\n, truth AS"
        + tail
    )


_DECAY_CAP = 30  # dyadic half-life cap: ages beyond this weigh 0


def _decayed_engagement_sql(dialect: str) -> str:
    """Per-user exponentially time-decayed engagement with a 1-day
    half-life as EXACT dyadic integers: weight(age d) = 2^(CAP−d)
    (so today = 2^CAP, yesterday half that …), ages past CAP weigh
    ZERO — the documented truncation that keeps the score a BIGINT
    shift-sum instead of a float pow. Rank stable cross-engine."""
    div = "div" if dialect == "spark" else "//"
    ep = "epoch_us" if dialect == "duck" else "unix_micros"
    age = (
        f"CAST((hwm_us - {ep}(ts)) {div} 86400000000 AS INT)"
    )
    shl = (
        f"shiftleft(CAST(1 AS BIGINT), {_DECAY_CAP} - age_d)"
        if dialect == "spark"
        else f"(CAST(1 AS BIGINT) << ({_DECAY_CAP} - age_d))"
    )
    return f"""
        WITH hwm AS (
            SELECT MAX({ep}(ts)) AS hwm_us FROM events)
        , aged AS (
            SELECT user_id, {age} AS age_d
            FROM events CROSS JOIN hwm)
        , scored AS (
            SELECT user_id,
                   CAST(SUM(CASE WHEN age_d <= {_DECAY_CAP}
                            THEN {shl} ELSE 0 END) AS BIGINT)
                       AS score_dyadic,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(MIN(age_d) AS BIGINT) AS freshest_age_d
            FROM aged GROUP BY user_id)
        , top AS (
            SELECT user_id, score_dyadic, n_events, freshest_age_d
            FROM scored
            ORDER BY score_dyadic DESC, user_id ASC LIMIT 100)
        SELECT user_id, score_dyadic, n_events, freshest_age_d,
               CAST(row_number() OVER (
                   ORDER BY score_dyadic DESC, user_id ASC)
                   AS BIGINT) AS engagement_rank
        FROM top
    """


@query("events_decayed_engagement", oracle=_decayed_engagement_sql("duck"))
def q_events_decayed_engagement(spark, sf_dir):
    """Time-decayed engagement scoring — the feature-store staple
    (recency-weighted activity for ranking/churn features) in EXACT
    integer algebra: a 1-day half-life decay is 2^(CAP−age_days),
    so the per-user score is a BIGINT shift-sum, not a float pow
    chain (no cross-engine rounding surface, and incrementally
    maintainable: tomorrow's score = today's div 2 + today's new
    events — the dyadic-decay law pinned in pytest). Ages past
    {cap} days truncate to zero weight, stated. Top-100 by score
    via TakeOrderedAndProject.

    Scale: one user-keyed aggregate over a per-row projection; the
    window ranks only after the LIMIT-bounded ordering. The
    half-life is the unit here; any 2^k-day half-life stays dyadic
    (age div k).""".replace("{cap}", str(_DECAY_CAP))
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_decayed_engagement_sql("spark"))


# ---------------------------------------------------------------------------
# R11: scale sizing plan — the 100 TB shuffle/broadcast calculator
# ---------------------------------------------------------------------------

# width model (documented, both engines): fixed-width types by
# schema; strings/arrays measured per row. BIGINT/DOUBLE/TIMESTAMP=8,
# INTEGER=4, FLOAT array = 4/elem (+16 header).
_SIZING_TABLES: dict[str, tuple[int, list[str]]] = {
    # table -> (fixed bytes per row, per-row measured-length exprs)
    "region": (4, ["length(r_name)"]),
    "nation": (8, ["length(n_name)"]),
    "customer": (20, ["length(c_name)", "length(c_mktsegment)"]),
    "supplier": (20, ["length(s_name)"]),
    "part": (
        20,
        ["length(p_name)", "length(p_brand)", "length(p_type)"],
    ),
    "orders": (
        32,
        ["length(o_orderstatus)", "length(o_orderpriority)"],
    ),
    "lineitem": (60, ["length(l_returnflag)", "length(l_linestatus)"]),
    "events": (32, ["length(event_type)", "length(props)"]),
    "documents": (16, ["length(text)", "length(lang)", "length(source)"]),
    "embeddings": (12 + 16 + 4 * 64, []),
}

_SIZING_MULTIPLIERS = [1, 10, 100, 1000]
_TARGET_PARTITION_BYTES = 128 * 1024 * 1024
_BROADCAST_BYTES = 10 * 1024 * 1024


def _sizing_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    stat_arms = " UNION ALL ".join(
        f"""
        SELECT '{t}' AS table_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST({f"SUM({' + '.join(lens)})" if lens else '0'}
                    + COUNT(*) * {fixed} AS BIGINT) AS est_bytes
        FROM {t}"""
        for t, (fixed, lens) in _SIZING_TABLES.items()
    )
    mults = ", ".join(f"({m})" for m in _SIZING_MULTIPLIERS)
    return f"""
        WITH stats AS ({stat_arms})
        SELECT s.table_name, m.mult,
               s.n_rows * m.mult AS n_rows_scaled,
               s.est_bytes * m.mult AS est_bytes_scaled,
               GREATEST(CAST(1 AS BIGINT),
                   CAST((s.est_bytes * m.mult
                         + {_TARGET_PARTITION_BYTES - 1})
                        {div} {_TARGET_PARTITION_BYTES} AS BIGINT))
                   AS shuffle_partitions_128mb,
               CASE WHEN s.est_bytes * m.mult <= {_BROADCAST_BYTES}
                    THEN 1 ELSE 0 END AS fits_broadcast
        FROM stats s
        CROSS JOIN (VALUES {mults}) AS m(mult)
    """


@query("ops_scale_sizing_plan", oracle=_sizing_sql("duck"))
def q_ops_scale_sizing_plan(spark, sf_dir):
    """The 100 TB SIZING CALCULATOR — 'size shuffle partitions and
    maxPartitionBytes so partitions fit in executor memory' as a
    query instead of folklore: per table × scale multiplier
    {1,10,100,1000}, the measured byte estimate (fixed type widths
    from the schema + per-row string/array lengths summed in-engine
    — the width model every optimizer CBO uses), the shuffle
    partition count that keeps partitions at the 128 MB parquet-
    split sweet spot (ceil-division, floor 1), and whether the table
    still fits Spark's 10 MB autoBroadcast threshold at that scale —
    the exact row that says WHEN a dimension join flips from
    broadcast to sort-merge and the conf must be raised or the join
    salted. region/nation stay broadcastable at every multiplier;
    the fact tables' partition counts ARE the
    spark.sql.shuffle.partitions settings for each deployment size.

    Scale: one aggregate per table (count + length sums — no
    shuffle wider than a scalar), a constant 4-row multiplier
    cross join; the calculator itself is free at any corpus size."""
    ensure_utc(spark)
    for t in _SIZING_TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_sizing_sql("spark"))


@query(
    "debezium_gold_scd3",
    oracle=_with_log(
        _DEBEZIUM_SILVER_CTE
        + """
        , seq3 AS (
            SELECT key_id, pos, operation,
                   CAST(ROUND(value * 100) AS BIGINT) AS cents,
                   lag(CAST(ROUND(value * 100) AS BIGINT)) OVER w
                       AS prev_cents,
                   row_number() OVER (
                       PARTITION BY key_id ORDER BY pos DESC) AS rn
            FROM silver
            WINDOW w AS (PARTITION BY key_id ORDER BY pos ASC))
        SELECT key_id, pos, cents AS cur_value_cents, prev_cents
        FROM seq3 WHERE rn = 1 AND operation <> 'DELETE'
        """
    ),
)
def q_debezium_gold_scd3(spark, sf_dir):
    """Debezium medallion GOLD, SCD3 — the third classic slowly-
    changing-dimension shape beside the SCD1 (#134) and SCD2 (#135)
    golds: current value PLUS the immediately-prior value as a
    column (the 'previous_*' attribute pattern for
    before/after comparisons without joining history), keyed like
    SCD1 (DELETE drops the key), values in exact cents, prior value
    NULL for keys with a single version. Both windows (the prior-
    value lag and the latest-wins rank) run over the SAME key
    partition — one shuffle, the #2 plan shape.

    Scale: one key_id shuffle; output one row per live key."""
    from pyspark.sql import Window

    silver = _debezium.parse_envelopes(
        _debezium.synth_envelopes(cdc_operation_log(spark, sf_dir))
    )
    w = Window.partitionBy("key_id").orderBy(F.col("pos").asc())
    wd = Window.partitionBy("key_id").orderBy(F.col("pos").desc())
    cents = F.expr("CAST(ROUND(value * 100) AS BIGINT)")
    out = (
        silver.select(
            "key_id",
            "pos",
            "operation",
            cents.alias("cents"),
        )
        .withColumn("prev_cents", F.lag("cents").over(w))
        .withColumn("rn", F.row_number().over(wd))
    )
    return (
        out.where("rn = 1 AND operation <> 'DELETE'")
        .select(
            "key_id",
            "pos",
            F.col("cents").alias("cur_value_cents"),
            "prev_cents",
        )
    )


@query("bpe_fertility_by_lang", oracle=_text.bpe_fertility_sql("duck"))
def q_bpe_fertility_by_lang(spark, sf_dir):
    """Tokenizer FERTILITY per language — subword tokens per
    whitespace word under the learned K-merge BPE vocab (#228/#253's
    chain): THE multilingual-equity number (fertility 2× ⇒ the same
    sentence costs 2× the context window and 2× the training
    compute — the measured basis of vocab-allocation decisions),
    with chars-per-token beside it. Languages whose words the vocab
    never merges sit at fertility ≈ word length; the training
    language's merges pull it down — measured, per lang.

    Scale: the vocab map is vocabulary-bounded (broadcast); one
    corpus word explode shared with #253; lang-keyed aggregate."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(_text.bpe_fertility_sql("spark"))


_SCENE_FRAMES = 16
_SCENE_WIN = 16  # bytes per frame window


def _scene_cuts_sql(dialect: str) -> str:
    """Frame-energy scene-cut detection over the stub frame grid
    (#83's byte windows, {n} frames): energy = Σ byte values over
    the frame window (ascii-per-position unrolled — both engines
    return 0 past end-of-string, verified), a CUT where the energy
    jump exceeds 20% of the previous frame (5·|Δ| > e_prev in exact
    integers). A real pipeline swaps the byte window for a decoded
    luma histogram via mapInPandas — the frame grid, the delta
    test, and every downstream column are unchanged (the #33 stub
    discipline)."""
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
        , deltas AS (
            SELECT doc_id, frame_idx, energy,
                   energy - lag(energy) OVER (
                       PARTITION BY doc_id ORDER BY frame_idx ASC)
                       AS d
            FROM frames)
        SELECT doc_id,
               CAST(SUM(CASE WHEN d IS NOT NULL
                        AND 5 * ABS(d) > (energy - d)
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
               CAST(MAX(ABS(d)) AS BIGINT) AS max_abs_delta,
               CAST(SUM(energy) AS BIGINT) AS total_energy
        FROM deltas GROUP BY doc_id
    """


@query("mm_scene_cuts", oracle=_scene_cuts_sql("duck"))
def q_mm_scene_cuts(spark, sf_dir):
    """Scene-cut detection for the video modality — the shot-
    boundary pass every video-training pipeline runs before frame
    sampling (sample per SHOT, not per fixed stride, or a 2-hour
    static shot dominates): per doc, frame energies over the #83
    stub frame grid and a cut wherever the energy jumps > 20%
    frame-over-frame (5·|Δ| > e_prev, exact integers; NB e_prev
    reconstructed as energy − Δ so the window shares one pass).
    The decode is the documented stub — a real ffmpeg/luma-histogram
    decoder drops into the frames CTE via mapInPandas with every
    downstream column unchanged.

    Scale: constant {n}× row explode, per-doc window (doc-keyed
    shuffle), bounded aggregate.""".replace("{n}", str(_SCENE_FRAMES))
    ensure_utc(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(_scene_cuts_sql("spark"))


# ---------------------------------------------------------------------------
# R11: deterministic experiment assignment + exact arm moments
# ---------------------------------------------------------------------------

_AB_ARMS = 2


def _ab_moments_sql(dialect: str) -> str:
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
    div = "div" if dialect == "spark" else "//"
    return f"""
        WITH assigned AS (
            SELECT ({h}) % {_AB_ARMS} AS arm, user_id,
                   CAST(ROUND(value * 100) AS BIGINT) AS v_e2
            FROM events)
        SELECT arm,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(v_e2) AS BIGINT) AS sum_v_e2,
               CAST(SUM(v_e2 * v_e2) AS BIGINT) AS sumsq_v_e4,
               CAST(SUM(v_e2) AS BIGINT) {div} COUNT(*) AS mean_v_e2
        FROM assigned GROUP BY arm
    """


@query("events_ab_arm_moments", oracle=_ab_moments_sql("duck"))
def q_events_ab_arm_moments(spark, sf_dir):
    """EXPERIMENTATION analytics — deterministic hash-split A/B
    assignment (arm = md5(user_id) mod {a}: stable across sessions
    and engines, no assignment table to persist — the standard
    bucketing every experimentation platform uses) plus the EXACT
    per-arm sufficient statistics (n, Σv, Σv² in integer cents) from
    which any test statistic (Welch t, z, CUPED adjustment) is one
    driver-side formula — the heavy part (the corpus scan) is done
    once, exactly, and the float math happens on {a} rows. The
    assignment-balance and moment-recomputation laws are pinned in
    pytest (balance within a 4σ binomial band — determinism-safe).

    Scale: one projection + one {a}-group aggregate with map-side
    combine; COUNT(DISTINCT user_id) per arm is the only expensive
    column (exact two-level aggregate) — swap for the HLL register
    read (#156) at extreme scale.""".replace("{a}", str(_AB_ARMS))
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_ab_moments_sql("spark"))


# ---------------------------------------------------------------------------
# R11: cross-path reconciliation (migration validator)
# ---------------------------------------------------------------------------

_RECON_CHUNK = 10  # keys per reconciliation chunk


def _recon_checksum(dialect: str, src: str) -> str:
    """Order-insensitive chunk checksum over the row IDENTITY both
    paths carry (key, seq, operation — payload conventions differ by
    design: the binlog's DELETE after-image is NULL while the event
    log retains the value; identity-less TRUNCATE rows are excluded
    and reconciled by count elsewhere): SUM of 32-bit md5 prefixes —
    each term < 2^32, so the BIGINT sum never overflows at any real
    chunk size (stated bound)."""
    div = "div" if dialect == "spark" else "//"
    cast = "STRING" if dialect == "spark" else "VARCHAR"
    row = (
        f"CAST(key_id AS {cast}) || '|' || CAST(seq AS {cast})"
        " || '|' || operation"
    )
    h = (
        f"CAST(conv(substring(md5({row}), 1, 8), 16, 10) AS BIGINT)"
        if dialect == "spark"
        else f"CAST('0x' || substr(md5({row}), 1, 8) AS BIGINT)"
    )
    return f"""
        SELECT key_id {div} {_RECON_CHUNK} AS chunk,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT key_id) AS BIGINT) AS n_keys,
               CAST(SUM({h}) AS BIGINT) AS checksum
        FROM {src} WHERE key_id IS NOT NULL
        GROUP BY key_id {div} {_RECON_CHUNK}"""


def _recon_sql(dialect: str, side_a: str, side_b: str) -> str:
    return f"""
        WITH ca AS ({_recon_checksum(dialect, side_a)})
        , cb AS ({_recon_checksum(dialect, side_b)})
        SELECT COALESCE(ca.chunk, cb.chunk) AS chunk,
               COALESCE(ca.n_rows, 0) AS n_rows_a,
               COALESCE(cb.n_rows, 0) AS n_rows_b,
               COALESCE(ca.n_keys, 0) AS n_keys,
               COALESCE(ca.checksum, 0) AS checksum_a,
               COALESCE(cb.checksum, 0) AS checksum_b,
               CASE WHEN ca.checksum = cb.checksum
                         AND ca.n_rows = cb.n_rows
                    THEN 1 ELSE 0 END AS is_match
        FROM ca FULL OUTER JOIN cb ON cb.chunk = ca.chunk
    """


@query(
    "cdc_reconciliation_chunks",
    oracle=_with_log(
        ", lg AS (SELECT * FROM log WHERE seq % 251 <> 250)"
        + _recon_sql("duck", "lg", "lg").replace("WITH ca", ", ca", 1)
    ),
)
def q_cdc_reconciliation_chunks(spark, sf_dir):
    """MIGRATION VALIDATOR — the reconciliation pass every CDC
    cutover runs before flipping traffic: chunk the keyspace, compute
    an order-insensitive checksum per chunk on BOTH pipelines, and
    diff. Here the two sides are this repo's two REAL ingestion
    paths — the events-derived operation log (#1) and the JVM-native
    binlog replay (#101) — so is_match = 1 everywhere IS the
    cross-path equivalence guarantee, continuously verifiable; a
    single perturbed row flips exactly its chunk (the true-positive
    law in pytest). Chunk grain bounds re-verification cost to the
    divergent chunk, not the table — the DBLog/validator pattern at
    its standard grain.

    Scale: two independent chunk-keyed aggregates (map-side
    combined; each term < 2^32 so the BIGINT sum is overflow-safe at
    any real chunk size) + a chunk-count-sized FULL OUTER join."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    # mask the binlog's identity-less TRUNCATE positions on the log
    # side too (seq % 251 = 250 — the generator's table-wide ops);
    # row-identity reconciliation is defined over rows BOTH paths
    # key, the stated contract above
    cdc_operation_log(spark, sf_dir).where(
        "seq % 251 <> 250"
    ).createOrReplaceTempView("recon_a")
    read_binlog_jvm(spark, sf_dir).select(
        F.col("primary_keys")["key_id"].cast("long").alias("key_id"),
        "seq",
        "operation",
        F.col("after")["value"].cast("double").alias("value"),
    ).createOrReplaceTempView("recon_b")
    return spark.sql(
        _recon_sql("spark", "recon_a", "recon_b").replace(
            "WITH ca", "WITH ca", 1
        )
    )


# ---------------------------------------------------------------------------
# R11: incremental JOIN-view maintenance (delta rules)
# ---------------------------------------------------------------------------

_IVM_CUTOFF = "1997-01-01 00:00:00"


def _join_ivm_sql(dialect: str) -> str:
    """The delta decomposition for a two-sided changing join:
    A⋈B = A₀⋈B₀ ∪ ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB (disjoint when Δ is a
    partition of each side). orders split by o_orderdate, lineitem
    by l_shipdate at the same cutoff; checksum = Σ 32-bit md5
    prefixes of the join row identity (order-insensitive, overflow
    bound as #326)."""
    cast = "STRING" if dialect == "spark" else "VARCHAR"
    row = (
        f"CAST(o.o_orderkey AS {cast}) || '|' ||"
        f" CAST(l.l_partkey AS {cast}) || '|' ||"
        f" CAST(l.l_linenumber AS {cast})"
    )
    h = (
        f"CAST(conv(substring(md5({row}), 1, 8), 16, 10) AS BIGINT)"
        if dialect == "spark"
        else f"CAST('0x' || substr(md5({row}), 1, 8) AS BIGINT)"
    )
    def term(name, a_pred, b_pred):
        return f"""
        SELECT '{name}' AS term,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COALESCE(SUM({h}), 0) AS BIGINT) AS checksum
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE {a_pred} AND {b_pred}"""

    old_a = f"o.o_orderdate < TIMESTAMP '{_IVM_CUTOFF}'"
    new_a = f"o.o_orderdate >= TIMESTAMP '{_IVM_CUTOFF}'"
    old_b = f"l.l_shipdate < TIMESTAMP '{_IVM_CUTOFF}'"
    new_b = f"l.l_shipdate >= TIMESTAMP '{_IVM_CUTOFF}'"
    return f"""
        WITH terms AS (
            {term('a0_b0', old_a, old_b)}
            UNION ALL {term('da_b0', new_a, old_b)}
            UNION ALL {term('a0_db', old_a, new_b)}
            UNION ALL {term('da_db', new_a, new_b)}
            UNION ALL {term('full', '1=1', '1=1')})
        SELECT t.term, t.n_rows, t.checksum,
               CASE WHEN t.term = 'full' THEN s.sum_rows
                    ELSE CAST(-1 AS BIGINT) END AS delta_sum_rows,
               CASE WHEN t.term = 'full'
                         AND t.n_rows = s.sum_rows
                         AND t.checksum = s.sum_checksum
                    THEN 1
                    WHEN t.term = 'full' THEN 0
                    ELSE -1 END AS ivm_match
        FROM terms t
        CROSS JOIN (
            SELECT CAST(SUM(n_rows) AS BIGINT) AS sum_rows,
                   CAST(SUM(checksum) AS BIGINT) AS sum_checksum
            FROM terms WHERE term <> 'full') s
    """


@query("cdc_join_view_ivm", oracle=_join_ivm_sql("duck"))
def q_cdc_join_view_ivm(spark, sf_dir):
    """Incremental JOIN-view maintenance — the other half of IVM
    beside the aggregate deltas (#117): when BOTH join sides change,
    the view delta is the three-term rule ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB,
    and the maintained view equals the full recompute exactly. This
    query EXHIBITS the law on orders⋈lineitem split at a date
    cutoff: all four disjoint terms with row counts + order-
    insensitive checksums, the full join beside them, and
    ivm_match = 1 pinning Σterms == full (counts AND checksums).
    This is the algebra a streaming join's state store implements
    (#? stream-stream interval join maintains exactly these terms
    batch-by-batch); here it is stated, measured, and oracle-checked
    as data.

    Scale: each term is the SAME key equi-join with partition-
    prunable date predicates pushed to both scans (delta terms read
    only the new partitions — the entire point of IVM: cost ∝ Δ,
    not ∝ |view|); checksums as #326."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem"
    )
    return spark.sql(_join_ivm_sql("spark"))


# ---------------------------------------------------------------------------
# R11: dictionary scan, functional-dependency profile
# ---------------------------------------------------------------------------

_SCAN_PHRASES = ["the dup", "spark", "vector store", "model", "data set"]


def _dict_scan_sql(dialect: str) -> str:
    arms = " UNION ALL ".join(
        f"SELECT '{p}' AS phrase, {len(p)} AS plen" for p in _SCAN_PHRASES
    )
    div = "div" if dialect == "spark" else "//"
    return f"""
        WITH dict AS ({arms})
        , hits AS (
            SELECT d.phrase,
                   (length(doc.text)
                    - length(replace(doc.text, d.phrase, '')))
                       {div} d.plen AS n_occ
            FROM documents doc CROSS JOIN dict d)
        SELECT phrase,
               CAST(SUM(CASE WHEN n_occ > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_docs_matched,
               CAST(SUM(n_occ) AS BIGINT) AS total_occurrences,
               CAST(MAX(n_occ) AS BIGINT) AS max_per_doc
        FROM hits GROUP BY phrase
    """


@query("text_dictionary_scan", oracle=_dict_scan_sql("duck"))
def q_text_dictionary_scan(spark, sf_dir):
    """Multi-PHRASE dictionary scan — the blocklist/compliance pass
    (banned phrases, trademark terms, eval-set canaries as raw
    strings) that token-grain operators (#105/#61, the gram
    families) cannot express because phrases cross token boundaries:
    per dictionary phrase, matched docs, total occurrences, and the
    per-doc maximum, counted EXACTLY via the replace-length identity
    occurrences = (len(t) − len(replace(t, p, ''))) / len(p) — one
    codegen'd expression per (doc, phrase), no regex engine, no
    explode. The dictionary is a broadcast VALUES literal; at
    production scale this is the scan shape of every ToS/brand-
    safety screen (dictionary ≪ corpus, corpus read once).

    Scale: corpus × |dict| narrow projections (each a constant-cost
    string pass), phrase-keyed aggregate; nothing shuffles but the
    |dict|-sized rollup."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(_dict_scan_sql("spark"))


_FD_CANDIDATES = [
    # (name, table, lhs, rhs) — candidate functional dependencies
    ("nation_to_region", "nation", "n_nationkey", "n_regionkey"),
    ("cust_to_nation", "customer", "c_custkey", "c_nationkey"),
    ("cust_to_segment", "customer", "c_custkey", "c_mktsegment"),
    ("order_to_cust", "orders", "o_orderkey", "o_custkey"),
    ("part_brand_to_type", "part", "p_brand", "p_type"),
    ("doc_source_to_lang", "documents", "source", "lang"),
]


def _fd_profile_sql(dialect: str) -> str:
    arms = " UNION ALL ".join(
        f"""
        SELECT '{name}' AS fd,
               CAST(COUNT(*) AS BIGINT) AS n_lhs_groups,
               CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_violating_groups,
               CAST(MAX(n_rhs) AS BIGINT) AS max_rhs_per_lhs
        FROM (SELECT {lhs} AS l,
                     CAST(COUNT(DISTINCT {rhs}) AS BIGINT) AS n_rhs
              FROM {tbl} GROUP BY {lhs}) g{i}"""
        for i, (name, tbl, lhs, rhs) in enumerate(_FD_CANDIDATES)
    )
    return f"WITH arms AS ({arms}) SELECT * FROM arms"


@query("dq_functional_dependencies", oracle=_fd_profile_sql("duck"))
def q_dq_functional_dependencies(spark, sf_dir):
    """Functional-dependency PROFILING — schema-knowledge discovery
    as data (the DQ paradigm behind normalization checks and key
    inference): for each candidate LHS→RHS, the count of LHS groups,
    how many VIOLATE the dependency (more than one RHS value), and
    the worst multiplicity. Key-determined candidates (custkey→
    nation, orderkey→cust) must profile violation-free — the
    primary-key sanity the #203 referential audit doesn't cover —
    while attribute-attribute candidates (brand→type, source→lang)
    measure how FAR from functional the pair is (max_rhs_per_lhs is
    the fan-out a denormalizing join would multiply by).

    Scale: one LHS-keyed two-level distinct aggregate per candidate
    (the #62-exact shape), arms unioned; output is candidate-
    bounded."""
    ensure_utc(spark)
    for t in {c[1] for c in _FD_CANDIDATES}:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_fd_profile_sql("spark"))


# ---------------------------------------------------------------------------
# R11: concurrent-write conflict detection, energy segmentation
# ---------------------------------------------------------------------------


def _concurrent_writes_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    ep = "epoch_us" if dialect == "duck" else "unix_micros"
    return _with_log(f"""
        , sited AS (
            SELECT key_id, seq % {_CRDT_SITES} AS site,
                   {ep}(ts) {div} 60000000 AS minute
            FROM log)
        , cells AS (
            SELECT key_id, minute,
                   CAST(COUNT(DISTINCT site) AS BIGINT) AS n_sites,
                   CAST(COUNT(*) AS BIGINT) AS n_writes
            FROM sited GROUP BY key_id, minute)
        SELECT key_id,
               CAST(COUNT(*) AS BIGINT) AS n_active_minutes,
               CAST(SUM(CASE WHEN n_sites > 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_conflict_minutes,
               CAST(SUM(CASE WHEN n_sites > 1 THEN n_writes
                        ELSE 0 END) AS BIGINT) AS n_conflict_writes,
               CAST(MAX(n_sites) AS BIGINT) AS max_sites_per_minute
        FROM cells GROUP BY key_id
        HAVING SUM(CASE WHEN n_sites > 1 THEN 1 ELSE 0 END) > 0
    """)


@query("cdc_concurrent_write_conflicts", oracle=_concurrent_writes_sql("duck"))
def q_cdc_concurrent_write_conflicts(spark, sf_dir):
    """Concurrent-write DETECTION for the multi-master topology —
    the diagnostic that decides whether #313's CRDT merge or #2's
    LWW is even safe: keys where writes from MULTIPLE origin sites
    land in the same wall-clock minute (the concurrency window where
    LWW ordering is timestamp-skew roulette), with conflict-minute
    and conflict-write counts and the worst per-minute site fan-in.
    Zero rows ⇒ the keyspace is effectively single-writer and LWW is
    fine; hot rows ⇒ those keys need the CRDT register or an owner
    shard. Site = seq mod S as in #313 (a real log substitutes its
    server_id).

    Scale: one (key, minute) aggregate + a key rollup — the key
    shuffle every CDC op shares; output bounded by conflicted
    keys."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_concurrent_writes_sql("spark"))


_VAD_THRESH_CENTI = 110  # frame is "active" if energy*100 > 110*mean


def _energy_segments_sql(dialect: str) -> str:
    """Maximal runs of above-threshold frames (gaps-and-islands over
    the #324 frame grid): a segment starts at an active frame whose
    predecessor is inactive (or absent)."""
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
        , marked AS (
            SELECT doc_id, frame_idx, energy,
                   CASE WHEN 100 * energy * {_SCENE_FRAMES}
                             > {_VAD_THRESH_CENTI}
                               * SUM(energy) OVER (PARTITION BY doc_id)
                        THEN 1 ELSE 0 END AS active
            FROM frames)
        , runs AS (
            SELECT doc_id, frame_idx, energy, active,
                   CASE WHEN active = 1
                             AND COALESCE(lag(active) OVER (
                                 PARTITION BY doc_id
                                 ORDER BY frame_idx ASC), 0) = 0
                        THEN 1 ELSE 0 END AS is_start
            FROM marked)
        SELECT doc_id,
               CAST(SUM(active) AS BIGINT) AS n_active_frames,
               CAST(SUM(is_start) AS BIGINT) AS n_segments,
               CAST(SUM(active * energy) AS BIGINT) AS active_energy
        FROM runs GROUP BY doc_id
    """


@query("mm_energy_segments", oracle=_energy_segments_sql("duck"))
def q_mm_energy_segments(spark, sf_dir):
    """Activity SEGMENTATION for the audio modality — the VAD
    (voice-activity-detection) pass that precedes every speech
    pipeline (transcribe/train on active segments, drop silence):
    frames whose energy exceeds {t}% of the doc's mean frame energy
    are active, and maximal active runs are counted with the
    gaps-and-islands start trick (active ∧ predecessor inactive) —
    the same sessionize algebra (#9) at frame grain. Energies are
    the #324 stub features; a real pipeline swaps in decoded RMS
    frames via mapInPandas with the segmentation algebra unchanged.

    Scale: constant frame explode, one doc-partitioned window pass
    (mean + lag share the doc shuffle), per-doc rollup.""".replace(
        "{t}", str(_VAD_THRESH_CENTI)
    )
    ensure_utc(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(_energy_segments_sql("spark"))


# ---------------------------------------------------------------------------
# R11: jackknife uncertainty, winnowing fingerprints
# ---------------------------------------------------------------------------

_JK_BUCKETS = 10


def _jackknife_sql(dialect: str) -> str:
    """Delete-one-bucket jackknife over deterministic hash buckets:
    leave-one-out means in exact e4 fixed point, and the jackknife
    variance numerator Σ(θ̄₋ᵢ − mean of θ̄₋ᵢ)² in e8 — the classic
    distributed uncertainty estimator (buckets are the resamples;
    no RNG, mergeable per bucket)."""
    if dialect == "spark":
        h = (
            "CAST(conv(substring(md5(CAST(event_id AS STRING)), 1, 8),"
            " 16, 10) AS BIGINT)"
        )
    else:
        h = (
            "CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)"
            " AS BIGINT)"
        )
    div = "div" if dialect == "spark" else "//"
    return f"""
        WITH b AS (
            SELECT ({h}) % {_JK_BUCKETS} AS bucket,
                   CAST(ROUND(value * 100) AS BIGINT) AS v
            FROM events)
        , per AS (
            SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(v) AS BIGINT) AS s
            FROM b GROUP BY bucket)
        , tot AS (
            SELECT CAST(SUM(n) AS BIGINT) AS n_tot,
                   CAST(SUM(s) AS BIGINT) AS s_tot
            FROM per)
        , loo AS (
            SELECT p.bucket, p.n, p.s,
                   ((t.s_tot - p.s) * 100) {div} (t.n_tot - p.n)
                       AS loo_mean_e4
            FROM per p CROSS JOIN tot t)
        , center AS (
            SELECT CAST(SUM(loo_mean_e4) AS BIGINT)
                       {div} {_JK_BUCKETS} AS mbar
            FROM loo)
        SELECT l.bucket, l.n, l.s AS sum_v_e2, l.loo_mean_e4,
               (l.loo_mean_e4 - c.mbar)
                   * (l.loo_mean_e4 - c.mbar) AS sq_dev_e8
        FROM loo l CROSS JOIN center c
    """


@query("events_jackknife_moments", oracle=_jackknife_sql("duck"))
def q_events_jackknife_moments(spark, sf_dir):
    """UNCERTAINTY quantification for distributed aggregates — the
    delete-one-bucket jackknife (the estimator engines like the
    theta-sketch family publish alongside point values): rows are
    hash-assigned to {b} deterministic buckets (the resamples — no
    RNG, so repeatable and mergeable), each bucket's LEAVE-ONE-OUT
    mean is exact e4 fixed point, and the squared deviations from
    the jackknife center are e8 integers — the driver multiplies by
    (B−1)/B for the variance of the mean, a one-line float on {b}
    rows while everything corpus-scale stayed exact. The law test
    recomputes every column and checks the jackknife variance
    against the classical σ²/n within a factor band.

    Scale: one bucket-keyed aggregate (map-side combined) + {b}-row
    algebra; the same shape per group key if a grouped version is
    needed.""".replace("{b}", str(_JK_BUCKETS))
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_jackknife_sql("spark"))


_WINNOW_K = 3  # tokens per gram
_WINNOW_W = 4  # grams per winnowing window
_WINNOW_TOP = 15


def _winnow_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    if dialect == "spark":
        toks = (
            "SELECT doc_id, pos, token FROM documents"
            " LATERAL VIEW posexplode(split(text, ' ')) t AS pos, token"
        )
        h = "CAST(conv(substring(md5(gram), 1, 8), 16, 10) AS BIGINT)"
        gram = (
            "concat_ws(' ', token, lead(token, 1) OVER w,"
            " lead(token, 2) OVER w)"
        )
    else:
        toks = (
            "SELECT doc_id, "
            "unnest(string_split(text, ' ')) AS token, "
            "generate_subscripts(string_split(text, ' '), 1) - 1 AS pos"
            " FROM documents"
        )
        h = "CAST('0x' || substr(md5(gram), 1, 8) AS BIGINT)"
        gram = (
            "concat_ws(' ', token, lead(token, 1) OVER w,"
            " lead(token, 2) OVER w)"
        )
    return f"""
        WITH toks AS ({toks})
        , grams AS (
            SELECT doc_id, pos, {gram} AS gram,
                   CAST(COUNT(*) OVER (PARTITION BY doc_id) AS BIGINT)
                       AS n_tok
            FROM toks
            WINDOW w AS (PARTITION BY doc_id ORDER BY pos ASC))
        , hashed AS (
            SELECT doc_id, pos, {h} AS gh
            FROM grams WHERE pos + {_WINNOW_K} <= n_tok)
        , winmin AS (
            SELECT doc_id, pos,
                   MIN(gh) OVER (PARTITION BY doc_id ORDER BY pos ASC
                       ROWS BETWEEN 0 PRECEDING
                       AND {_WINNOW_W - 1} FOLLOWING) AS fp
            FROM hashed)
        , fps AS (
            SELECT DISTINCT doc_id, fp FROM winmin)
        , shared AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(COUNT(*) AS BIGINT) AS n_shared
            FROM fps a JOIN fps b
              ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id)
        , top AS (
            SELECT * FROM shared
            ORDER BY n_shared DESC, doc_a ASC, doc_b ASC
            LIMIT {_WINNOW_TOP})
        SELECT doc_a, doc_b, n_shared,
               CAST(row_number() OVER (
                   ORDER BY n_shared DESC, doc_a ASC, doc_b ASC)
                   AS BIGINT) AS rnk
        FROM top
    """


@query("text_winnowing_fingerprints", oracle=_winnow_sql("duck"))
def q_text_winnowing_fingerprints(spark, sf_dir):
    """WINNOWING (Schleimer/Wilkerson/Aiken 2003 — the MOSS
    plagiarism detector's fingerprint selection): hash every
    {k}-token gram, keep each {w}-window's MINIMUM hash, and compare
    docs by SHARED selected fingerprints. The guarantee the paper
    proves — any shared run of ≥ w+k−1 tokens shares at least one
    selected fingerprint — makes this the robust middle ground
    between exact substring dedup (#92, position-fragile) and
    MinHash (#27, whole-doc granularity): it localizes matches while
    sampling only ~2/(w+1) of grams. Top-{t} sharing pairs ranked.

    Scale: posexplode + two doc-partitioned windows (lead-gram +
    window-min share the doc shuffle), DISTINCT fingerprints
    (selected-density ~2/(w+1) of grams), fingerprint-keyed
    equi-join for pairs (postings shape, df-cappable exactly like
    #127 at scale), TakeOrderedAndProject.""".replace(
        "{k}", str(_WINNOW_K)
    ).replace("{w}", str(_WINNOW_W)).replace("{t}", str(_WINNOW_TOP))
    ensure_utc(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(_winnow_sql("spark"))


@query(
    "ann_ivfpq_residual_topk",
    oracle=_sim.ivfpq_residual_topk_sql("duck"),
)
def q_ann_ivfpq_residual_topk(spark, sf_dir):
    """RESIDUAL IVF-PQ — the construction production ANN indexes
    actually ship (Jégou et al.'s IVFADC; what FAISS IVFxx,PQyy
    means): PQ codes the residual v − centroid(cell) rather than
    the raw vector, because the coarse quantizer has already
    removed the cell mean — the same PQ bit budget then encodes a
    tighter distribution and ADC error drops (measured beside plain
    PQ #139 in the pytest law: residual energy < raw energy, and
    recall@TOPK not worse within a 1-hit band on the shared query
    set). Serving uses the identity dot(q,v) ≈ dot(q,c_cell) +
    dot(q,r̂): an N_SEEDS-bounded cell LUT + the #139 subspace LUTs,
    all broadcast.

    Scale: codes table = cell id + PQ_M bytes per vector (built
    once, linear); query time touches LUTs (queries × (cells +
    PQ_K·PQ_M) partials — broadcast-sized) and the codes table
    once; no raw vectors at serving time — the #138-140 property,
    now with the residual tightening. The assign/cents/rcb/codes
    index tables are _gate_map-materialized once per session (r5
    verdict item 1) from the SAME CTE chains the DuckDB oracle
    composes inline, so serving is LUT-probe cost and bit-equal to
    the composed oracle."""
    vnorm, _ = _pq_index(spark, sf_dir)
    assign = _gate_map(
        spark, sf_dir, "ivfpq_assign",
        lambda: spark.sql(
            _sim.ivfpq_assign_build_sql("pq_vnorm_mat")
        ),
    )
    assign.createOrReplaceTempView("ivfpq_assign_mat")
    cents = _gate_map(
        spark, sf_dir, "ivfpq_cents",
        lambda: spark.sql(
            _sim.ivfpq_cents_build_sql("ivfpq_assign_mat")
        ),
    )
    cents.createOrReplaceTempView("ivfpq_cents_mat")
    rcb = _gate_map(
        spark, sf_dir, "ivfpq_rcb",
        lambda: spark.sql(
            _sim.ivfpq_rcb_build_sql(
                "ivfpq_assign_mat", "ivfpq_cents_mat"
            )
        ),
    )
    rcb.createOrReplaceTempView("ivfpq_rcb_mat")
    codes = _gate_map(
        spark, sf_dir, "ivfpq_codes",
        lambda: spark.sql(
            _sim.ivfpq_codes_build_sql(
                "ivfpq_assign_mat", "ivfpq_cents_mat",
                "ivfpq_rcb_mat"
            )
        ),
    )
    codes.createOrReplaceTempView("ivfpq_codes_mat")
    return spark.sql(
        _sim.ivfpq_serve_sql(
            "pq_vnorm_mat", "ivfpq_cents_mat", "ivfpq_rcb_mat",
            "ivfpq_codes_mat"
        )
    )


# ---------------------------------------------------------------------------
# Readability scoring (Flesch / Flesch-Kincaid)
# ---------------------------------------------------------------------------


def _readability_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    if dialect == "spark":
        n_words = "CAST(size(split(text, ' ')) AS BIGINT)"
        n_sent = (
            "CAST(size(regexp_extract_all(text, '[.!?]+', 0)) AS BIGINT)"
        )
        n_syl = (
            "CAST(size(regexp_extract_all(lower(text), '[aeiouy]+', 0))"
            " AS BIGINT)"
        )
    else:
        n_words = "CAST(len(string_split(text, ' ')) AS BIGINT)"
        n_sent = "CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)"
        n_syl = (
            "CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))"
            " AS BIGINT)"
        )
    return f"""
        WITH counts AS (
            SELECT doc_id, source,
                   {n_words} AS n_words,
                   GREATEST(CAST(1 AS BIGINT), {n_sent}) AS n_sentences,
                   {n_syl} AS n_syllables
            FROM documents)
        , scored AS (
            SELECT doc_id, source, n_words, n_sentences, n_syllables,
                   CAST(206835 - ((1015 * n_words) {div} n_sentences)
                        - ((84600 * n_syllables) {div} n_words)
                        AS BIGINT) AS fre_e3,
                   CAST(((390 * n_words) {div} n_sentences)
                        + ((11800 * n_syllables) {div} n_words) - 15590
                        AS BIGINT) AS fkgl_e3
            FROM counts WHERE n_words > 0)
        SELECT doc_id, source, n_words, n_sentences, n_syllables,
               fre_e3, fkgl_e3,
               CASE WHEN fre_e3 >= 90000 THEN 'very_easy'
                    WHEN fre_e3 >= 70000 THEN 'easy'
                    WHEN fre_e3 >= 50000 THEN 'standard'
                    WHEN fre_e3 >= 30000 THEN 'difficult'
                    ELSE 'very_difficult' END AS band
        FROM scored
    """


@query("text_readability", oracle=_readability_sql("duck"))
def q_text_readability(spark, sf_dir):
    """FLESCH reading-ease + FLESCH-KINCAID grade level per document
    (Flesch 1948; Kincaid et al. 1975) — the classic surface
    readability pair every corpus datasheet reports beside length
    and quality gates (reference keeps no readability surface; this
    extends the text-quality family #22/#41/#222). Syllables are
    approximated by vowel-group runs ([aeiouy]+) — the standard
    dictionary-free estimator; sentences by [.!?]+ runs floored at
    1 so punctuation-free corpora (this testdata) degrade to the
    words-per-doc regime instead of dividing by zero.

    Both formulas are emitted as floor-scaled e3 integers
    (206.835 - 1.015 W/S - 84.6 Syl/W and 0.39 W/S + 11.8 Syl/W -
    15.59) with the multiply-before-divide discipline, so Spark and
    DuckDB agree bit-for-bit — no float rounding surface.

    Scale: one projection pass over documents, regexp counting in
    whole-stage codegen, zero shuffles, zero joins; 100 TB = a
    map-only scan."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(_readability_sql("spark"))


# ---------------------------------------------------------------------------
# SymSpell deletion-neighborhood fuzzy vocabulary matching
# ---------------------------------------------------------------------------


def _symspell_sql(dialect: str) -> str:
    if dialect == "spark":
        toks = (
            "SELECT word FROM part"
            " LATERAL VIEW explode(split(p_name, ' ')) t AS word"
        )
        variants = (
            "SELECT word,"
            " IF(pos = 0, word,"
            "    concat(substring(word, 1, pos - 1),"
            "           substring(word, pos + 1))) AS variant"
            " FROM vocab"
            " LATERAL VIEW explode(sequence(0, length(word))) t AS pos"
        )
    else:
        toks = (
            "SELECT unnest(string_split(p_name, ' ')) AS word FROM part"
        )
        variants = (
            "SELECT word,"
            " CASE WHEN pos = 0 THEN word"
            "      ELSE substr(word, 1, pos - 1) || substr(word, pos + 1)"
            " END AS variant"
            " FROM vocab,"
            " unnest(generate_series(0, length(word))) AS t(pos)"
        )
    return f"""
        WITH toks AS ({toks})
        , freq AS (
            SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
            FROM toks GROUP BY word)
        , vocab AS (
            SELECT word FROM freq WHERE length(word) >= 3)
        , variants AS ({variants})
        , cand AS (
            SELECT DISTINCT a.word AS word_a, b.word AS word_b
            FROM variants a JOIN variants b
              ON a.variant = b.variant AND a.word < b.word)
        , verified AS (
            SELECT word_a, word_b FROM cand
            WHERE levenshtein(word_a, word_b) = 1)
        SELECT v.word_a, v.word_b,
               fa.freq AS freq_a, fb.freq AS freq_b,
               CAST(row_number() OVER (
                   ORDER BY fa.freq + fb.freq DESC,
                            v.word_a ASC, v.word_b ASC)
                   AS BIGINT) AS rnk
        FROM verified v
        JOIN freq fa ON fa.word = v.word_a
        JOIN freq fb ON fb.word = v.word_b
    """


@query("dedup_symspell_edit1", oracle=_symspell_sql("duck"))
def q_dedup_symspell_edit1(spark, sf_dir):
    """SYMSPELL deletion-neighborhood fuzzy matching (Garbe's
    symmetric-delete algorithm, the standard sub-linear alternative
    to BK-trees): every edit-distance-1 pair — insert, delete, OR
    substitute — shares at least one single-deletion variant when
    each word's neighborhood includes the word itself, so candidate
    generation is a variant-keyed EQUI-join instead of an all-pairs
    levenshtein scan; exact levenshtein then verifies the bounded
    candidate set (deletion-key collisions like abc/acb are distance
    2 and must be dropped). Run over the part-name token vocabulary
    — the typo/variant-normalization step of entity resolution,
    complementing token-set matching (part_fuzzy_match).

    Scale: the corpus is touched ONCE for token frequencies; the
    deletion expansion (×(len+1)) runs on the DISTINCT vocabulary
    only (≪ corpus — Heaps' law), the variant join is postings-
    shaped (df-cappable like #127 if a variant key ever grows hot),
    and verification is O(candidates) with candidates ≈ true pairs
    + rare collisions. No all-pairs anywhere."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(_symspell_sql("spark"))


# ---------------------------------------------------------------------------
# Retrieval evaluation: nDCG / precision / recall @ 10 per arm
# ---------------------------------------------------------------------------

# floor(1e6 / log2(rank+1)) for rank 1..10 — data-independent
# constants computed in Python and inlined (never per-row in-engine).
_NDCG_DISC_E6 = (
    (1, 1000000),
    (2, 630929),
    (3, 500000),
    (4, 430676),
    (5, 386852),
    (6, 356207),
    (7, 333333),
    (8, 315464),
    (9, 301029),
    (10, 289064),
)
_NDCG_AT = 10


def _ndcg_report_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    bm = _text.bm25_sql(dialect)
    disc_rows = ", ".join(f"({r}, {d})" for r, d in _NDCG_DISC_E6)
    return f"""
        WITH bm AS ({bm})
        , v AS (
            SELECT vec_id, embedding, label,
                   {_sim._norm('embedding', dialect)} AS nrm
            FROM embeddings)
        , q AS (
            SELECT embedding AS qe, nrm AS qn, label AS qlabel
            FROM v WHERE vec_id = 0)
        , dscored AS (
            SELECT v.vec_id AS doc_id,
                   ({_sim._dot('q.qe', 'v.embedding', dialect)})
                       / (q.qn * v.nrm) AS cos
            FROM v CROSS JOIN q WHERE v.vec_id <> 0)
        , dtop AS (
            SELECT doc_id, cos FROM dscored
            ORDER BY cos DESC, doc_id ASC LIMIT {_NDCG_AT})
        , dense AS (
            SELECT doc_id, CAST(row_number() OVER (
                       ORDER BY cos DESC, doc_id ASC) AS BIGINT)
                   AS rnk
            FROM dtop)
        , fused AS (
            SELECT COALESCE(b.doc_id, d.doc_id) AS doc_id,
                   (CASE WHEN b.bm25_rank IS NULL THEN 0
                         ELSE 1000000 {div} ({_RRF_K} + b.bm25_rank) END
                    + CASE WHEN d.rnk IS NULL THEN 0
                           ELSE 1000000 {div} ({_RRF_K} + d.rnk) END)
                       AS rrf_e6
            FROM bm b FULL OUTER JOIN dense d ON b.doc_id = d.doc_id)
        , rrf AS (
            SELECT doc_id, CAST(row_number() OVER (
                       ORDER BY rrf_e6 DESC, doc_id ASC) AS BIGINT)
                   AS rnk
            FROM fused)
        , arm_ranks AS (
            SELECT 'bm25' AS arm, doc_id, bm25_rank AS rnk FROM bm
            UNION ALL
            SELECT 'dense' AS arm, doc_id, rnk FROM dense
            UNION ALL
            SELECT 'rrf' AS arm, doc_id, rnk FROM rrf
            WHERE rnk <= {_NDCG_AT})
        , rel AS (
            SELECT v.vec_id AS doc_id,
                   CASE WHEN v.vec_id <> 0 AND v.label = q.qlabel
                        THEN 1 ELSE 0 END AS rel
            FROM v CROSS JOIN q)
        , disc AS (
            SELECT * FROM (VALUES {disc_rows}) AS d(rnk, disc_e6))
        , totals AS (
            SELECT CAST(SUM(rel) AS BIGINT) AS n_rel_total FROM rel)
        , idcg AS (
            SELECT CAST(SUM(d.disc_e6) AS BIGINT) AS idcg_e6
            FROM disc d CROSS JOIN totals t
            WHERE d.rnk <= LEAST({_NDCG_AT}, t.n_rel_total))
        , hits AS (
            SELECT a.arm,
                   CAST(SUM(r.rel) AS BIGINT) AS n_rel_at_10,
                   CAST(SUM(r.rel * d.disc_e6) AS BIGINT) AS dcg_e6
            FROM arm_ranks a
            JOIN rel r ON r.doc_id = a.doc_id
            JOIN disc d ON d.rnk = a.rnk
            GROUP BY a.arm)
        , arms AS (
            SELECT * FROM (VALUES ('bm25'), ('dense'), ('rrf'))
                AS a(arm))
        SELECT a.arm,
               COALESCE(h.n_rel_at_10, CAST(0 AS BIGINT))
                   AS n_rel_at_10,
               COALESCE(h.dcg_e6, CAST(0 AS BIGINT)) AS dcg_e6,
               i.idcg_e6,
               CAST((COALESCE(h.dcg_e6, 0) * 1000000) {div} i.idcg_e6
                   AS BIGINT) AS ndcg_ppm,
               CAST((COALESCE(h.n_rel_at_10, 0) * 1000000)
                   {div} {_NDCG_AT} AS BIGINT) AS precision_ppm,
               CAST((COALESCE(h.n_rel_at_10, 0) * 1000000)
                   {div} t.n_rel_total AS BIGINT) AS recall_ppm
        FROM arms a
        LEFT JOIN hits h ON h.arm = a.arm
        CROSS JOIN idcg i CROSS JOIN totals t
    """


@query("retrieval_ndcg_report", oracle=_ndcg_report_sql("duck"))
def q_retrieval_ndcg_report(spark, sf_dir):
    """RETRIEVAL EVALUATION — nDCG@10 / precision@10 / recall@10
    for each serving arm (BM25 sparse, dense cosine, RRF fusion)
    against label-match relevance (a doc is relevant iff its
    embedding shares vec 0's label — the query's class, excluding
    the query itself). Completes the IR loop beside the ANN RECALL
    dashboard (#172): recall measures index fidelity to exact
    cosine; nDCG measures end-task ranking quality against an
    INDEPENDENT ground truth, which is what actually decides a
    hybrid rollout. Discounts 1/log2(rank+1) are e6 floor-scaled
    Python-precomputed literals in a VALUES table (Jarvelin &
    Kekalainen 2002); IDCG truncates at min(10, n_relevant) so
    ndcg_ppm = 1e6 means a perfect head. All-integer arithmetic
    cross-engine; arms absent from the hit join still report
    zero rows via the literal arms table.

    Scale: both arms are the existing serving plans (#152
    TakeOrderedAndProject, one-vector broadcast dense top-N); the
    evaluation itself touches 30 rank rows against a broadcast
    10-row discount table — the corpus is never re-scanned for
    scoring."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView(
        "embeddings"
    )
    return spark.sql(_ndcg_report_sql("spark"))


# ---------------------------------------------------------------------------
# Poisson bootstrap (distributed resampling)
# ---------------------------------------------------------------------------

_BOOT_B = 32
# cumulative Poisson(1) CDF at k=0..8, e6-floored — data-independent
# constants computed in Python (math.exp), inlined as literals.
_BOOT_CDF_E6 = (
    367879,
    735758,
    919698,
    981011,
    996340,
    999405,
    999916,
    999989,
    999998,
)


def _poisson_bootstrap_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    if dialect == "spark":
        reps = (
            "SELECT doc_id, n_tokens, b FROM base"
            f" LATERAL VIEW explode(sequence(0, {_BOOT_B - 1})) t AS b"
        )
        u = (
            "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING),"
            " ':', CAST(b AS STRING))), 1, 8), 16, 10) AS BIGINT)"
            " % 1000000"
        )
        ntok = "CAST(size(split(text, ' ')) AS BIGINT)"
    else:
        reps = (
            "SELECT doc_id, n_tokens, b FROM base,"
            f" unnest(generate_series(0, {_BOOT_B - 1})) AS t(b)"
        )
        u = (
            "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'"
            " || CAST(b AS VARCHAR)), 1, 8) AS BIGINT) % 1000000"
        )
        ntok = "CAST(len(string_split(text, ' ')) AS BIGINT)"
    cases = " ".join(
        f"WHEN u < {c} THEN {k}" for k, c in enumerate(_BOOT_CDF_E6)
    )
    return f"""
        WITH base AS (
            SELECT doc_id, {ntok} AS n_tokens FROM documents)
        , reps AS ({reps})
        , hashed AS (
            SELECT doc_id, n_tokens, b, {u} AS u FROM reps)
        , weighted AS (
            SELECT b, n_tokens,
                   CAST(CASE {cases} ELSE {len(_BOOT_CDF_E6)} END
                        AS BIGINT) AS w
            FROM hashed)
        SELECT b AS replicate,
               CAST(SUM(w) AS BIGINT) AS n_eff,
               CAST(SUM(w * n_tokens) AS BIGINT) AS sum_tokens,
               CAST((SUM(w * n_tokens) * 1000000) {div} SUM(w)
                   AS BIGINT) AS mean_tokens_e6
        FROM weighted
        GROUP BY b
    """


@query("sample_poisson_bootstrap", oracle=_poisson_bootstrap_sql("duck"))
def q_sample_poisson_bootstrap(spark, sf_dir):
    """POISSON BOOTSTRAP (Chamandy et al. 2012, "Estimating
    uncertainty for massive data streams" — Google's bootstrap for
    data too large to multinomial-resample): replicate b reweights
    each doc by an independent Poisson(1) draw, so all B resamples
    are computed in ONE pass with no coordination on the total count
    (the multinomial constraint Σw = n is relaxed — exactly what
    makes it embarrassingly parallel). The draw is DETERMINISTIC:
    u = md5(doc_id:b) mod 1e6 inverted through the e6-floored
    Poisson(1) CDF as a literal CASE ladder (k ≤ 9 captures all but
    1e-6 of mass). Per-replicate effective count, token sum, and e6
    floor-scaled mean — the replicate spread IS the standard-error
    estimate, the sibling of the delete-one-bucket jackknife (#332)
    that needs no bucket structure.

    Scale: one corpus scan, a ×B row expansion (B=32 bounded)
    entirely inside whole-stage codegen (hash + CASE ladder — no
    joins, no Python), then a 32-group hash aggregate with map-side
    combine. The classic n-multinomial bootstrap cannot run at this
    shape; Poisson is the distributed standard for a reason."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(_poisson_bootstrap_sql("spark"))


@query("graph_hits_knn", oracle=_sim.hits_sql("duck"))
def q_graph_hits_knn(spark, sf_dir):
    """HITS hubs & authorities (Kleinberg 1999) over the corpus KNN
    graph — the DIRECTED centrality pair PageRank's single score
    conflates: an authority is an embedding many regions point TO
    (their nearest representative — a canonical-ish vector), a hub
    points AT many authorities (sits between dense regions). The
    mutual recursion a = A'h, h = Aa runs HITS_ITERS unrolled rounds
    with explicit integer L1 normalization per half-step (raw sums
    are bounded by the global mass, so raw×SCALE stays in BIGINT —
    see operators/similarity.py:_hits_rounds); both engines land on
    identical longs, so the hash match pins the fixpoint algebra.

    Scale: the KNN edge list comes from the SHARED `graph_knn_edges`
    gate map (built once per session, reused by community
    conductance #481); the rounds run as a DRIVER LOOP with each
    half-step localCheckpointed (r6 — the unrolled single statement
    re-derived every h/a subtree multiplicatively: 566 exchanges in
    the r5 plan audit, 4 in the loop's composed final plan); each
    half-step is one edge-keyed aggregate + a node-sized left join,
    scalar totals broadcast."""
    edges = _knn_edges_view(spark, sf_dir)
    _gate_map(
        spark, sf_dir, "graph_nodes",
        lambda: spark.sql("SELECT vec_id FROM embeddings"),
    ).createOrReplaceTempView("hits_nodes_mat")
    return _sim.hits_loop(spark, edges, "hits_nodes_mat")


def _l_diversity_sql(dialect: str) -> str:
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
            SELECT c_nationkey, {band} AS bal_band,
                   c_mktsegment AS sens
            FROM cents)
        , sc AS (
            SELECT c_nationkey, bal_band, sens,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM qi GROUP BY c_nationkey, bal_band, sens)
        , gs AS (
            SELECT c_nationkey, bal_band,
                   CAST(SUM(n) AS BIGINT) AS gsize,
                   CAST(COUNT(*) AS BIGINT) AS n_distinct_sens,
                   CAST(MAX(n) AS BIGINT) AS r1
            FROM sc GROUP BY c_nationkey, bal_band)
        , tot AS (
            SELECT CAST(SUM(gsize) AS BIGINT) AS n_rows,
                   CAST(COUNT(*) AS BIGINT) AS n_groups,
                   CAST(MIN(n_distinct_sens) AS BIGINT) AS l_diversity,
                   CAST(SUM(CASE WHEN r1 >= 2 * (gsize - r1) THEN 1
                            ELSE 0 END) AS BIGINT)
                       AS groups_failing_c2l2
            FROM gs)
        SELECT lv.l, t.n_groups, t.n_rows, t.l_diversity,
               t.groups_failing_c2l2,
               CAST(SUM(CASE WHEN g.n_distinct_sens < lv.l THEN 1
                        ELSE 0 END) AS BIGINT) AS groups_below_l,
               CAST(SUM(CASE WHEN g.n_distinct_sens < lv.l
                        THEN g.gsize ELSE 0 END) AS BIGINT)
                   AS rows_below_l,
               CAST((10000 * SUM(CASE WHEN g.n_distinct_sens < lv.l
                                 THEN g.gsize ELSE 0 END))
                    AS BIGINT) {div} t.n_rows AS rows_below_bp
        FROM gs g
        CROSS JOIN (VALUES (2), (3), (5)) AS lv(l)
        CROSS JOIN tot t
        GROUP BY lv.l, t.n_groups, t.n_rows, t.l_diversity,
                 t.groups_failing_c2l2
    """


@query("dq_l_diversity", oracle=_l_diversity_sql("duck"))
def q_dq_l_diversity(spark, sf_dir):
    """l-DIVERSITY risk profile (Machanavajjhala et al. 2007) — the
    gate k-anonymity (#302) cannot express: a QI group can hold 25
    indistinguishable rows and STILL leak if they all share one
    sensitive value (the homogeneity attack). Quasi-identifiers =
    (nation, 1000-unit balance band, posrem floor banding for
    negative balances), sensitive attribute = market segment.
    Reports distinct l-diversity (min distinct sensitive values per
    group), per-threshold l ∈ {2,3,5} group/row exposure, and the
    recursive (c=2, l=2) failure count — a group fails when its
    modal sensitive value outweighs 2× the rest (r1 ≥ 2(g−r1)),
    the integer form of Machanavajjhala's recursive criterion.

    Scale: two hash aggregates (QI×sens, then QI) + a broadcast
    3-row threshold grid and a scalar totals row — the same shape
    as #302, linear in the table, no windows, no joins on data
    keys."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "customer"
    )
    return spark.sql(_l_diversity_sql("spark"))


# ---------------------------------------------------------------------------
# Markov removal-effect attribution
# ---------------------------------------------------------------------------

_MKATTR_ITERS = 6
_MKATTR_CHANNELS = ("click", "view", "signup", "error")


def _markov_trans_sql(dialect: str) -> str:
    """The ONE corpus pass of the attribution chain: user-ordered
    window -> absorbing-state transition COUNTS (ft, tt, n) — a
    |states|²-bounded table the value iteration runs on. Split out
    (r6) so the Spark side materializes it once (localCheckpoint)
    and the DuckDB oracle marks it MATERIALIZED: inlined, every one
    of the 6 rounds' prob references re-ran the corpus window scan
    (270 exchanges in the r5 plan audit)."""
    return f"""
        WITH ordered AS (
            SELECT user_id, event_type,
                   lag(event_type) OVER w AS prev_type,
                   lead(event_type) OVER w AS next_type
            FROM events
            WINDOW w AS (PARTITION BY user_id
                         ORDER BY ts ASC, event_id ASC))
        , trans_raw AS (
            SELECT event_type AS ft,
                   CASE WHEN next_type = 'purchase' THEN 'CONV'
                        ELSE next_type END AS tt
            FROM ordered
            WHERE event_type <> 'purchase' AND next_type IS NOT NULL
            UNION ALL
            SELECT 'START' AS ft,
                   CASE WHEN event_type = 'purchase' THEN 'CONV'
                        ELSE event_type END AS tt
            FROM ordered
            WHERE prev_type IS NULL OR prev_type = 'purchase'
            UNION ALL
            SELECT event_type AS ft, 'NULLS' AS tt
            FROM ordered
            WHERE next_type IS NULL AND event_type <> 'purchase')
        , trans AS (
            SELECT ft, tt, CAST(COUNT(*) AS BIGINT) AS n
            FROM trans_raw GROUP BY ft, tt)
        SELECT ft, tt, n FROM trans
    """


def _markov_prob_sql(dialect: str, trans_rel: str) -> str:
    """e6-normalized transition-probability rows from the counts
    table — |states|²-bounded; the Spark side checkpoints this too
    (it is probed once per iteration round × removal variant)."""
    div = "div" if dialect == "spark" else "//"
    return f"""
        WITH rowtot AS (
            SELECT ft, CAST(SUM(n) AS BIGINT) AS tot
            FROM {trans_rel} GROUP BY ft)
        SELECT t.ft, t.tt,
               CAST((t.n * 1000000) {div} r.tot AS BIGINT) AS prob_e6
        FROM {trans_rel} t JOIN rowtot r ON r.ft = t.ft
    """


def _markov_tail_sql(dialect: str, trans_rel: str,
                     prob_rel: str | None = None) -> str:
    div = "div" if dialect == "spark" else "//"
    chan_rows = ", ".join(f"('{c}')" for c in _MKATTR_CHANNELS)
    state_rows = ", ".join(
        f"('{s}')"
        for s in ("START",) + _MKATTR_CHANNELS + ("CONV", "NULLS")
    )
    mat = "MATERIALIZED " if dialect != "spark" else ""
    if prob_rel is None:
        prob_rel = "prob"
        prob_ctes = f"""rowtot AS (
            SELECT ft, CAST(SUM(n) AS BIGINT) AS tot
            FROM {trans_rel} GROUP BY ft)
        , prob AS {mat}(
            SELECT t.ft, t.tt,
                   CAST((t.n * 1000000) {div} r.tot AS BIGINT)
                       AS prob_e6
            FROM {trans_rel} t JOIN rowtot r ON r.ft = t.ft)
        , """
    else:
        prob_ctes = ""
    ctes = f"""
        {prob_ctes}journeys AS (
            SELECT CAST(SUM(CASE WHEN ft = 'START' THEN n ELSE 0 END)
                        AS BIGINT) AS n_journeys,
                   CAST(SUM(CASE WHEN tt = 'CONV' THEN n ELSE 0 END)
                        AS BIGINT) AS n_conversions
            FROM {trans_rel})
        , variants AS (
            SELECT rm FROM (VALUES ('none'), {chan_rows}) AS t(rm))
        , states AS (
            SELECT s FROM (VALUES {state_rows}) AS t(s))
        , base AS (
            SELECT va.rm, st.s FROM variants va CROSS JOIN states st)
        , v0 AS (
            SELECT rm, s,
                   CAST(CASE WHEN s = 'CONV' THEN 1000000000
                        ELSE 0 END AS BIGINT) AS v
            FROM base)"""
    prev = "v0"
    for i in range(1, _MKATTR_ITERS + 1):
        ctes += f"""
        , acc{i} AS (
            SELECT pv.rm, p.ft AS s,
                   CAST(SUM((p.prob_e6 * pv.v) {div} 1000000)
                       AS BIGINT) AS acc
            FROM {prob_rel} p JOIN {prev} pv ON pv.s = p.tt
            GROUP BY pv.rm, p.ft)
        , v{i} AS (
            SELECT b.rm, b.s,
                   CASE WHEN b.s = 'CONV'
                            THEN CAST(1000000000 AS BIGINT)
                        WHEN b.s = 'NULLS' OR b.s = b.rm
                            THEN CAST(0 AS BIGINT)
                        ELSE COALESCE(a.acc, CAST(0 AS BIGINT))
                   END AS v
            FROM base b
            LEFT JOIN acc{i} a ON a.rm = b.rm AND a.s = b.s)"""
        prev = f"v{i}"
    return f"""{ctes}
        , pfull AS (
            SELECT v AS p_full FROM {prev}
            WHERE rm = 'none' AND s = 'START')
        , pvar AS (
            SELECT rm AS channel, v AS p_removed FROM {prev}
            WHERE rm <> 'none' AND s = 'START')
        , re AS (
            SELECT pv.channel, pf.p_full, pv.p_removed,
                   CAST(((pf.p_full - pv.p_removed) * 1000000)
                        {div} GREATEST(CAST(1 AS BIGINT), pf.p_full)
                        AS BIGINT) AS removal_effect_ppm
            FROM pvar pv CROSS JOIN pfull pf)
        , retot AS (
            SELECT GREATEST(CAST(1 AS BIGINT),
                            CAST(SUM(removal_effect_ppm) AS BIGINT))
                       AS tot
            FROM re)
        SELECT r.channel,
               r.p_full AS p_conv_full_e9,
               r.p_removed AS p_conv_removed_e9,
               r.removal_effect_ppm,
               CAST((r.removal_effect_ppm * 1000000) {div} t.tot
                   AS BIGINT) AS attribution_ppm,
               j.n_journeys, j.n_conversions
        FROM re r CROSS JOIN retot t CROSS JOIN journeys j
    """


def _markov_attr_sql(dialect: str) -> str:
    """Composed single-statement form (the DuckDB oracle): the
    corpus-pass transition counts as a MATERIALIZED CTE + the
    bounded value-iteration tail."""
    mat = "MATERIALIZED " if dialect != "spark" else ""
    head = _markov_trans_sql(dialect)
    inner = head.split("WITH ", 1)[1].rsplit("SELECT ft, tt, n FROM trans", 1)[0]
    if mat:
        inner = inner.replace(", trans AS (", f", trans AS {mat}(")
    return f"""
        WITH {inner.rstrip().rstrip(',')}
        , {_markov_tail_sql(dialect, 'trans')}
    """


@query("events_markov_attribution", oracle=_markov_attr_sql("duck"))
def q_events_markov_attribution(spark, sf_dir):
    """MARKOV REMOVAL-EFFECT ATTRIBUTION (Anderl et al. 2014) — the
    data-driven counterfactual the heuristic first/last/linear
    splits (#297) cannot give: model journeys as a first-order
    chain over touch channels with absorbing CONV/NULL states,
    compute P(convert | START), then for each channel KNOCK IT OUT
    (its state pinned to the null value — mass routed into it is
    lost) and re-measure; a channel's credit is its share of the
    total conversion-probability drop. Journeys segment at each
    purchase (the next event starts a new one); transition rows are
    e6-normalized probabilities BEFORE the iteration, so each
    contribution prob_e6·v div 1e6 is ≤ 1e15 at ANY corpus size —
    the overflow-proof variant of #158's inline row-normalization.
    _MKATTR_ITERS unrolled value-iteration rounds give
    P(absorb within K steps) — the K-step truncation is documented
    and identical cross-engine (exact absorption needs a matrix
    inverse no SQL engine should be asked for).

    Scale: ONE corpus window pass builds the transition counts —
    MATERIALIZED (localCheckpoint / duck MATERIALIZED CTE, r6:
    inlined, each round's prob reference re-ran the corpus scan —
    270 exchanges in the r5 plan audit, ~30 after); everything
    after runs on a |states|²-bounded broadcast matrix × 5 removal
    variants × 6 rounds of ~35-row joins. Removal monotonicity
    (p_removed ≤ p_full) and the conservation of the attribution
    shares are pinned in pytest."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    spark.sql(_markov_trans_sql("spark")).localCheckpoint()\
        .createOrReplaceTempView("mkattr_trans_mat")
    spark.sql(
        _markov_prob_sql("spark", "mkattr_trans_mat")
    ).localCheckpoint().createOrReplaceTempView("mkattr_prob_mat")
    return spark.sql(
        "WITH "
        + _markov_tail_sql(
            "spark", "mkattr_trans_mat", "mkattr_prob_mat"
        ).lstrip()
    )


# ---------------------------------------------------------------------------
# RFM segment migration matrix
# ---------------------------------------------------------------------------


def _segment_migration_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    us = "unix_micros" if dialect == "spark" else "epoch_us"
    ctes = f"""
        WITH b AS (
            SELECT MIN({us}(o_orderdate)) AS mn,
                   MAX({us}(o_orderdate)) AS mx
            FROM orders)
        , cut AS (
            SELECT mn + (mx - mn) {div} 2 AS c FROM b)"""
    for i, pred in ((1, "<"), (2, ">=")):
        ctes += f"""
        , m{i} AS (
            SELECT o_custkey AS custkey,
                   MAX(o_orderdate) AS last_order,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS spend_e2
            FROM orders CROSS JOIN cut
            WHERE {us}(o_orderdate) {pred} cut.c
            GROUP BY o_custkey)
        , n{i} AS (SELECT CAST(COUNT(*) AS BIGINT) AS nc FROM m{i})
        , ranked{i} AS (
            SELECT m{i}.*,
                   CAST(row_number() OVER (
                       ORDER BY last_order DESC, custkey ASC) AS BIGINT)
                       AS r_rnk,
                   CAST(row_number() OVER (
                       ORDER BY n_orders DESC, custkey ASC) AS BIGINT)
                       AS f_rnk,
                   CAST(row_number() OVER (
                       ORDER BY spend_e2 DESC, custkey ASC) AS BIGINT)
                       AS m_rnk
            FROM m{i})
        , seg{i} AS (
            SELECT custkey,
                   CASE
                     WHEN 5 - ((r_rnk - 1) * 5) {div} nc >= 4
                          AND 5 - ((f_rnk - 1) * 5) {div} nc >= 4
                          AND 5 - ((m_rnk - 1) * 5) {div} nc >= 4
                         THEN 'champion'
                     WHEN 5 - ((f_rnk - 1) * 5) {div} nc >= 4
                         THEN 'loyal'
                     WHEN 5 - ((m_rnk - 1) * 5) {div} nc >= 4
                         THEN 'big_spender'
                     WHEN 5 - ((r_rnk - 1) * 5) {div} nc <= 2
                          AND 5 - ((f_rnk - 1) * 5) {div} nc >= 3
                         THEN 'at_risk'
                     WHEN 5 - ((r_rnk - 1) * 5) {div} nc <= 2
                         THEN 'hibernating'
                     ELSE 'mid'
                   END AS tier
            FROM ranked{i} CROSS JOIN n{i})"""
    return f"""{ctes}
        , joined AS (
            SELECT COALESCE(s1.custkey, s2.custkey) AS custkey,
                   COALESCE(s1.tier, 'absent') AS seg_from,
                   COALESCE(s2.tier, 'absent') AS seg_to
            FROM seg1 s1 FULL OUTER JOIN seg2 s2
              ON s1.custkey = s2.custkey)
        , tot AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n FROM joined)
        SELECT j.seg_from, j.seg_to,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST((COUNT(*) * 10000) {div} t.n AS BIGINT) AS share_bp
        FROM joined j CROSS JOIN tot t
        GROUP BY j.seg_from, j.seg_to, t.n
    """


@query(
    "customer_segment_migration",
    oracle=_segment_migration_sql("duck"),
)
def q_customer_segment_migration(spark, sf_dir):
    """RFM SEGMENT MIGRATION MATRIX — the longitudinal view the
    static #170 snapshot can't give: recompute RFM tiers (champion /
    loyal / big_spender / at_risk / hibernating / mid, the classic
    CRM taxonomy as an ordered CASE over the #170 quintile formula)
    independently on each HALF of the order history (epoch-micro
    midpoint split, integer cut), then cross-tabulate where every
    customer moved — including 'absent' (churned out of / newly
    entered a period) via the FULL OUTER join. The migration mart
    behind retention planning: champion→hibernating flow is the
    churn alarm, absent→champion the acquisition win.

    Scale: ONE map-side-combined fact→customer aggregate computes
    BOTH halves' (recency, frequency, monetary) as conditional
    aggregates over a single orders scan (r9, guide §2.1 — the
    previous shape scanned and shuffled the fact table once per
    half), materialized once since both tier chains read it; each
    half's three ranks then run band-prefix decomposed
    (_rfm_ranked: bucket-partitioned windows + bounded
    bucket-prefix self-joins — ZERO unpartitioned windows where the
    old shape had six; r6 verdict item 3, plan-pinned in
    tests/test_plans.py), and a customer-keyed full outer join; the
    matrix is ≤ 7×7. The oracle keeps the two-scan six-global-window
    form — hash match proves the decomposition exact."""
    ensure_utc(spark)
    orders = load_table(spark, sf_dir, "orders")
    us = F.expr("unix_micros(o_orderdate)")
    cut = orders.agg(F.min(us).alias("mn"), F.max(us).alias("mx")).select(
        F.expr("mn + (mx - mn) div 2").alias("c")
    )
    half = orders.crossJoin(F.broadcast(cut))
    cents = F.round(F.col("o_totalprice") * 100).cast("long")

    def _half_cols(pred, tag):
        return [
            F.max(F.when(pred, F.col("o_orderdate"))).alias(f"lo{tag}"),
            F.sum(F.when(pred, 1).otherwise(0))
            .cast("long")
            .alias(f"no{tag}"),
            F.sum(F.when(pred, cents)).cast("long").alias(f"sp{tag}"),
        ]

    both = (
        half.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            *_half_cols(us < F.col("c"), "1"),
            *_half_cols(us >= F.col("c"), "2"),
        )
        .localCheckpoint()  # both tier chains read it
    )

    def _half_m(tag):
        # customers absent from a half (no orders there) are absent
        # from that half's RFM table — identical to the per-half
        # aggregate over a filtered scan
        return both.where(F.col(f"no{tag}") > 0).select(
            "custkey",
            F.col(f"lo{tag}").alias("last_order"),
            F.col(f"no{tag}").alias("n_orders"),
            F.col(f"sp{tag}").alias("spend_e2"),
        )

    def _tiers(m):
        ranked = _rfm_ranked(m)
        n = ranked.agg(F.count(F.lit(1)).cast("long").alias("nc"))
        scored = ranked.crossJoin(F.broadcast(n)).select(
            "custkey",
            F.expr("5 - ((r_rnk - 1) * 5) div nc").alias("_r"),
            F.expr("5 - ((f_rnk - 1) * 5) div nc").alias("_f"),
            F.expr("5 - ((m_rnk - 1) * 5) div nc").alias("_m"),
        )
        return scored.select(
            "custkey",
            F.when(
                (F.col("_r") >= 4) & (F.col("_f") >= 4)
                & (F.col("_m") >= 4),
                "champion",
            )
            .when(F.col("_f") >= 4, "loyal")
            .when(F.col("_m") >= 4, "big_spender")
            .when((F.col("_r") <= 2) & (F.col("_f") >= 3), "at_risk")
            .when(F.col("_r") <= 2, "hibernating")
            .otherwise("mid")
            .alias("tier"),
        )

    s1 = _tiers(_half_m("1")).select(
        F.col("custkey").alias("ck1"), F.col("tier").alias("t1")
    )
    s2 = _tiers(_half_m("2")).select(
        F.col("custkey").alias("ck2"), F.col("tier").alias("t2")
    )
    joined = s1.join(s2, F.col("ck1") == F.col("ck2"), "full_outer").select(
        F.coalesce("t1", F.lit("absent")).alias("seg_from"),
        F.coalesce("t2", F.lit("absent")).alias("seg_to"),
    )
    tot = joined.agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        joined.crossJoin(F.broadcast(tot))
        .groupBy("seg_from", "seg_to", "n")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
        .select(
            "seg_from",
            "seg_to",
            "n_customers",
            F.expr("(n_customers * 10000) div n")
            .cast("long")
            .alias("share_bp"),
        )
    )


# ---------------------------------------------------------------------------
# KMV / theta sketch set algebra (union, intersection, DIFFERENCE)
# ---------------------------------------------------------------------------

_KMV_K = 64
_KMV_DOM = 4294967296  # 2^32 — the hash domain


def _theta_sketch_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    if dialect == "spark":
        h = (
            "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8),"
            " 16, 10) AS BIGINT) + 1"
        )
    else:
        h = (
            "CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)"
            " AS BIGINT) + 1"
        )
    return f"""
        WITH du AS (
            SELECT DISTINCT event_type, user_id FROM events)
        , hx AS (
            SELECT DISTINCT event_type, {h} AS h FROM du)
        , ranked AS (
            SELECT event_type, h,
                   row_number() OVER (
                       PARTITION BY event_type ORDER BY h ASC) AS rnk
            FROM hx)
        , sk AS (
            SELECT event_type, h FROM ranked WHERE rnk <= {_KMV_K})
        , stats AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_kept,
                   CAST(MAX(h) AS BIGINT) AS kth
            FROM sk GROUP BY event_type)
        , est AS (
            SELECT event_type, n_kept, kth,
                   CAST(CASE WHEN n_kept < {_KMV_K} THEN n_kept
                        ELSE (({_KMV_K} - 1) * {_KMV_DOM}) {div} kth
                        END AS BIGINT) AS est_n
            FROM stats)
        , exact AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS exact_n
            FROM du GROUP BY event_type)
        , w AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   CAST(COUNT(*) AS BIGINT) AS n_common
            FROM sk a
            JOIN sk b ON b.h = a.h AND a.event_type < b.event_type
            JOIN est ea ON ea.event_type = a.event_type
            JOIN est eb ON eb.event_type = b.event_type
            WHERE a.h <= LEAST(ea.kth, eb.kth)
            GROUP BY a.event_type, b.event_type)
        , xw AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   CAST(COUNT(*) AS BIGINT) AS exact_inter
            FROM du a
            JOIN du b ON b.user_id = a.user_id
                     AND a.event_type < b.event_type
            GROUP BY a.event_type, b.event_type)
        , pairs AS (
            SELECT ea.event_type AS type_a, eb.event_type AS type_b,
                   ea.est_n AS est_a, eb.est_n AS est_b,
                   ea.n_kept AS kept_a, eb.n_kept AS kept_b,
                   LEAST(ea.kth, eb.kth) AS theta,
                   COALESCE(w.n_common, 0) AS n_common
            FROM est ea
            JOIN est eb ON ea.event_type < eb.event_type
            LEFT JOIN w ON w.type_a = ea.event_type
                       AND w.type_b = eb.event_type)
        , ests AS (
            SELECT type_a, type_b, est_a, est_b,
                   CAST(LEAST(est_a, est_b,
                        CASE WHEN kept_a < {_KMV_K}
                                  AND kept_b < {_KMV_K}
                             THEN n_common
                        ELSE (n_common * {_KMV_DOM}) {div} theta
                        END) AS BIGINT) AS est_intersection
            FROM pairs)
        SELECT e.type_a, e.type_b, e.est_a, e.est_b,
               e.est_intersection,
               CAST(e.est_a + e.est_b - e.est_intersection AS BIGINT)
                   AS est_union,
               CAST(GREATEST(0, e.est_a - e.est_intersection)
                   AS BIGINT) AS est_diff_ab,
               xa.exact_n AS exact_a, xb.exact_n AS exact_b,
               x.exact_inter AS exact_intersection,
               CAST(xa.exact_n - x.exact_inter AS BIGINT)
                   AS exact_diff_ab
        FROM ests e
        JOIN exact xa ON xa.event_type = e.type_a
        JOIN exact xb ON xb.event_type = e.type_b
        JOIN xw x ON x.type_a = e.type_a AND x.type_b = e.type_b
    """


@query("events_theta_sketch_ops", oracle=_theta_sketch_sql("duck"))
def q_events_theta_sketch_ops(spark, sf_dir):
    """KMV / THETA SKETCH set algebra (Beyer et al. 2007 "On
    synopses for distinct-value estimation"; the Apache DataSketches
    theta family): keep the K smallest 32-bit hash values per
    audience; the Kth minimum θ estimates density, so
    n̂ = (K−1)·2³² div θ — and UNLIKE HLL (#301, register-MAX only)
    the kept sample supports INTERSECTION and DIFFERENCE directly:
    common kept values below min(θa, θb) scale by 2³²/θ, and
    A\\B = n̂_A − n̂_∩, with the standard library clamp
    n̂_∩ ≤ min(n̂_A, n̂_B) (W can reach K while the single-set
    estimator uses K−1). Sketches with fewer than K values are exact
    and the estimator degrades to the true count (the CASE arm).
    Exact audits computed beside every estimate, #301-style, so the
    error is visible in the mart itself.

    Scale: sketch build = one distinct-project + a per-type rank
    window truncated at K (TakeOrdered shape); all pairwise algebra
    runs on ≤ K rows per audience — mergeable (K smallest of a
    union of K-sets), so partial sketches combine map-side exactly
    like the HLL registers. The exact-audit CTEs are the
    toy-SF honesty instrument; production reads the estimates."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_theta_sketch_sql("spark"))


# ---------------------------------------------------------------------------
# Largest-remainder (Hamilton) sample allocation
# ---------------------------------------------------------------------------

_HAM_BUDGET = 1000


def _hamilton_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
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
        , ranked AS (
            SELECT q.*,
                   CAST(row_number() OVER (
                       ORDER BY q.rem_num DESC, q.source ASC)
                       AS BIGINT) AS rem_rank
            FROM quota q)
        SELECT r.source, r.n_docs, r.floor_alloc, r.rem_num,
               r.rem_rank,
               CAST(CASE WHEN r.rem_rank <= lv.l THEN 1 ELSE 0 END
                   AS BIGINT) AS extra,
               CAST(r.floor_alloc
                    + CASE WHEN r.rem_rank <= lv.l THEN 1 ELSE 0 END
                   AS BIGINT) AS alloc
        FROM ranked r CROSS JOIN leftover lv
    """


@query("sample_allocation_hamilton", oracle=_hamilton_sql("duck"))
def q_sample_allocation_hamilton(spark, sf_dir):
    """LARGEST-REMAINDER (Hamilton) APPORTIONMENT of a fixed sample
    budget across strata — the exact-integer answer to 'give every
    source its proportional share of {B} samples' that naive
    per-stratum rounding cannot give (floors under-shoot, rounds
    drift): floor the exact quota B·N_h/N, then award the leftover
    seats to the largest fractional remainders (deterministic
    source-key tie-break). Guarantees Σ alloc = B EXACTLY and
    |alloc_h − quota_h| < 1 (the quota property) — the allocation
    step that feeds the stratified sampler (#53): its per-stratum
    take-counts become exact instead of hash-expected. Remainders
    compare as integer numerators over the COMMON denominator N —
    no fraction ever materializes.

    Scale: one hash aggregate to stratum grain, scalar totals
    broadcast, and a rank window over the STRATUM table (sources —
    bounded); corpus touched once.""".replace("{B}", str(_HAM_BUDGET))
    ensure_utc(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(_hamilton_sql("spark"))


# ---------------------------------------------------------------------------
# Haar wavelet energy decomposition (multi-resolution burst profile)
# ---------------------------------------------------------------------------

_HAAR_HOURS = 64  # 2^6 dyadic grid
_HAAR_LEVELS = 3


def _haar_sql(dialect: str) -> str:
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
            FROM {prev} GROUP BY idx {div} 2)"""
        prev = f"l{lv}"
    detail_arms = "\n            UNION ALL".join(
        f"""
            SELECT 'detail{lv}' AS kind,
                   CAST(COUNT(*) AS BIGINT) AS n_coeffs,
                   CAST(SUM(d * d) AS BIGINT) AS energy
            FROM l{lv}"""
        for lv in range(1, _HAAR_LEVELS + 1)
    )
    return f"""{ctes}
        , rows_out AS (
            SELECT 'signal' AS kind,
                   CAST(COUNT(*) AS BIGINT) AS n_coeffs,
                   CAST(SUM(v * v) AS BIGINT) AS energy
            FROM g0
            UNION ALL{detail_arms}
            UNION ALL
            SELECT 'approx{_HAAR_LEVELS}' AS kind,
                   CAST(COUNT(*) AS BIGINT) AS n_coeffs,
                   CAST(SUM(a * a) AS BIGINT) AS energy
            FROM l{_HAAR_LEVELS})
        SELECT kind, n_coeffs, energy FROM rows_out
    """


@query("events_haar_energy", oracle=_haar_sql("duck"))
def q_events_haar_energy(spark, sf_dir):
    """HAAR WAVELET energy decomposition of the hourly event series
    — the multi-resolution burst profile the single-scale screens
    (ACF #275, CUSUM #206, MAD #244) cannot give: detail energy at
    level l measures variance at the 2^l-hour scale, so a
    bot-traffic micro-burst loads detail1 while a diurnal swing
    loads detail3+ — one mart row per scale. Unnormalized integer
    Haar (pair sums and differences, no √2), which keeps every
    coefficient a BIGINT and makes Parseval EXACT:
    2^L·Σx² = Σ_l 2^(L−l)·Σd_l² + Σa_L² — pinned bit-for-bit in
    pytest, something float wavelets can never promise. First
    2^6 = 64 hours from the corpus minimum, dense dyadic grid
    (missing hours are true zeros).

    Scale: ONE corpus pass to hourly counts (map-side combined),
    then L=3 aggregates over a 64-row dyadic ladder — the
    transform is O(grid), not O(events); widen the grid and the
    ladder stays loglinear. The classic DSP alternative (FFT) needs
    floats and global transposes; Haar is the shuffle-free integer
    member of the family."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_haar_sql("spark"))


def _keyframes_sql(dialect: str) -> str:
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
        , deltas AS (
            SELECT doc_id, frame_idx, energy,
                   energy - lag(energy) OVER (
                       PARTITION BY doc_id ORDER BY frame_idx ASC)
                       AS d
            FROM frames)
        , cuts AS (
            SELECT doc_id, frame_idx, energy,
                   CASE WHEN d IS NOT NULL
                        AND 5 * ABS(d) > (energy - d)
                        THEN 1 ELSE 0 END AS is_cut
            FROM deltas)
        , shots AS (
            SELECT doc_id, frame_idx, energy,
                   CAST(SUM(is_cut) OVER (
                       PARTITION BY doc_id ORDER BY frame_idx ASC
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS shot_id
            FROM cuts)
        , ranked AS (
            SELECT doc_id, shot_id, frame_idx, energy,
                   row_number() OVER (
                       PARTITION BY doc_id, shot_id
                       ORDER BY energy DESC, frame_idx ASC) AS rn
            FROM shots)
        , spans AS (
            SELECT doc_id, shot_id,
                   CAST(COUNT(*) AS BIGINT) AS n_frames,
                   CAST(MIN(frame_idx) AS BIGINT) AS start_frame,
                   CAST(MAX(frame_idx) AS BIGINT) AS end_frame
            FROM shots GROUP BY doc_id, shot_id)
        SELECT s.doc_id, s.shot_id, s.n_frames,
               s.start_frame, s.end_frame,
               CAST(r.frame_idx AS BIGINT) AS keyframe_idx,
               r.energy AS keyframe_energy
        FROM spans s
        JOIN ranked r ON r.doc_id = s.doc_id
                     AND r.shot_id = s.shot_id AND r.rn = 1
    """


@query("mm_keyframes", oracle=_keyframes_sql("duck"))
def q_mm_keyframes(spark, sf_dir):
    """KEYFRAME SELECTION per shot — the step after shot-boundary
    detection (#324) in every video-training pipeline: segment each
    doc's frame grid into shots (gaps-and-islands via the running
    cut-flag sum), then pick the ARGMAX-energy frame per shot
    (deterministic tie-break: lowest frame index) as the shot's
    representative for the VLM training sample. Per-shot span and
    frame count ride along so downstream sampling can weight by
    shot length. Same stub-decode discipline as #83/#324: a real
    decoder replaces the byte-window energy via mapInPandas and
    every downstream column is unchanged.

    Scale: constant 16× frame explode, two doc-keyed windows
    sharing one shuffle (lag + running sum), a (doc, shot) rank
    window, and a bounded self-join — all linear in docs."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(_keyframes_sql("spark"))


# ---------------------------------------------------------------------------
# Value-shape (pattern) profiling
# ---------------------------------------------------------------------------

_PATTERN_TOPN = 5


def _pattern_profile_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    # DuckDB regexp_replace is FIRST-match unless the 'g' flag is
    # passed; Spark is global by default and has no flag argument.
    g = "" if dialect == "spark" else ", 'g'"

    def shape(col: str) -> str:
        s = f"regexp_replace({col}, '[0-9]', '9'{g})"
        s = f"regexp_replace({s}, '[A-Z]', 'A'{g})"
        s = f"regexp_replace({s}, '[a-z]', 'a'{g})"
        s = f"regexp_replace({s}, '9+', '9'{g})"
        s = f"regexp_replace({s}, 'A+', 'A'{g})"
        return f"regexp_replace({s}, 'a+', 'a'{g})"

    arms = "\n            UNION ALL".join(
        f"""
            SELECT '{t}.{c}' AS col_name, {shape(c)} AS pattern
            FROM {t}"""
        for t, c in (
            ("part", "p_name"),
            ("part", "p_brand"),
            ("part", "p_type"),
            ("customer", "c_name"),
            ("customer", "c_mktsegment"),
        )
    )
    return f"""
        WITH shapes AS ({arms})
        , counts AS (
            SELECT col_name, pattern,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM shapes GROUP BY col_name, pattern)
        , tots AS (
            SELECT col_name, CAST(SUM(n) AS BIGINT) AS tot
            FROM counts GROUP BY col_name)
        , ranked AS (
            SELECT c.col_name, c.pattern, c.n,
                   CAST((c.n * 10000) {div} t.tot AS BIGINT)
                       AS share_bp,
                   CAST(row_number() OVER (
                       PARTITION BY c.col_name
                       ORDER BY c.n DESC, c.pattern ASC) AS BIGINT)
                       AS rnk,
                   CAST(COUNT(*) OVER (PARTITION BY c.col_name)
                       AS BIGINT) AS n_patterns
            FROM counts c JOIN tots t ON t.col_name = c.col_name)
        SELECT col_name, pattern, n, share_bp, rnk, n_patterns
        FROM ranked WHERE rnk <= {_PATTERN_TOPN}
    """


@query("dq_pattern_profile", oracle=_pattern_profile_sql("duck"))
def q_dq_pattern_profile(spark, sf_dir):
    """VALUE-SHAPE PROFILING (the format-conformance report Deequ /
    Great Expectations ship as `pattern` analyzers): every string
    collapses to its character-class SHAPE — digit runs → 9,
    upper runs → A, lower runs → a, punctuation verbatim — so
    'Customer#000000042' profiles as 'A#9' and 'Brand#13' as
    'Aa#9'; per column the top shapes with counts, basis-point
    share, and the total distinct-shape count. A format break (a
    NULL-ish sentinel, a stray locale) shows up as a new shape row
    long before any value-level rule names it — the profiling gate
    that writes the value-conformance rules for #67's audit.

    Scale: shape derivation is six chained JVM regexes in
    whole-stage codegen (no explode — one shape per VALUE, not per
    char), one hash aggregate per (column, shape), and rank windows
    partitioned BY COLUMN over the shape-bounded counts table.
    Shapes per column are format-bounded (text has thousands at
    most), so the window input is tiny regardless of corpus."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "customer"
    )
    return spark.sql(_pattern_profile_sql("spark"))


# ---------------------------------------------------------------------------
# Cosine-threshold same-label precision/recall curve
# ---------------------------------------------------------------------------

_THRESH_GRID_E6 = (500000, 600000, 700000, 800000, 900000)


def _threshold_precision_sql(dialect: str) -> str:
    from ..operators.similarity import N_QUERIES

    div = "div" if dialect == "spark" else "//"
    grid = ", ".join(f"({t})" for t in _THRESH_GRID_E6)
    return f"""
        WITH v AS (
            SELECT vec_id, embedding, label,
                   {_sim._norm('embedding', dialect)} AS nrm
            FROM embeddings)
        , q AS (
            SELECT vec_id AS query_id, embedding AS qe, nrm AS qn,
                   label AS qlabel
            FROM v WHERE vec_id < {N_QUERIES})
        , pairs AS (
            SELECT q.query_id, v.vec_id,
                   CAST(FLOOR(
                       ({_sim._dot('q.qe', 'v.embedding', dialect)})
                       / (q.qn * v.nrm) * 1000000) AS BIGINT)
                       AS cos_e6,
                   CASE WHEN v.label = q.qlabel THEN 1 ELSE 0 END
                       AS is_match
            FROM q CROSS JOIN v WHERE v.vec_id <> q.query_id)
        , rel AS (
            SELECT CAST(SUM(is_match) AS BIGINT) AS n_rel FROM pairs)
        , grid AS (
            SELECT * FROM (VALUES {grid}) AS g(thresh_e6))
        SELECT g.thresh_e6,
               CAST(SUM(CASE WHEN p.cos_e6 >= g.thresh_e6
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_pos,
               CAST(SUM(CASE WHEN p.cos_e6 >= g.thresh_e6
                        THEN p.is_match ELSE 0 END) AS BIGINT)
                   AS n_true_pos,
               r.n_rel,
               CAST((SUM(CASE WHEN p.cos_e6 >= g.thresh_e6
                         THEN p.is_match ELSE 0 END) * 1000000)
                    {div} GREATEST(CAST(1 AS BIGINT),
                        SUM(CASE WHEN p.cos_e6 >= g.thresh_e6
                            THEN 1 ELSE 0 END)) AS BIGINT)
                   AS precision_ppm,
               CAST((SUM(CASE WHEN p.cos_e6 >= g.thresh_e6
                         THEN p.is_match ELSE 0 END) * 1000000)
                    {div} GREATEST(CAST(1 AS BIGINT), r.n_rel)
                   AS BIGINT) AS recall_ppm
        FROM pairs p CROSS JOIN grid g CROSS JOIN rel r
        GROUP BY g.thresh_e6, r.n_rel
    """


@query(
    "embed_threshold_precision_curve",
    oracle=_threshold_precision_sql("duck"),
)
def q_embed_threshold_precision_curve(spark, sf_dir):
    """COSINE-THRESHOLD CALIBRATION against label ground truth —
    the decision-support curve behind every 'is 0.8 similar
    enough?' question: over the seed-query × corpus pair grid,
    precision and recall of predicting SAME-LABEL at cosine ≥ t
    for a 5-point threshold grid. The labeled sibling of the
    unlabeled sweeps (#190 dedup S-curve, #191 semdedup tau): those
    count survivors, this measures task accuracy, which is what
    actually picks the production threshold. Monotone laws pinned
    in pytest: predicted-positives and true-positives (hence
    recall) are non-increasing in t.

    Scale: pairs are N_QUERIES-bounded (seeds broadcast against
    the corpus — one scan); the threshold grid multiplies the
    AGGREGATE only (5 conditional sums in one pass), never the
    pair rows; scalar n_rel broadcast."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView(
        "embeddings"
    )
    return spark.sql(_threshold_precision_sql("spark"))


# ---------------------------------------------------------------------------
# Gap fill: dense day grid + LOCF + exact linear interpolation
# ---------------------------------------------------------------------------

_GAPFILL_USERS = 20


def _gapfill_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    us = "unix_micros" if dialect == "spark" else "epoch_us"
    if dialect == "spark":
        grid = (
            "SELECT u.user_id, d AS day_idx FROM users u"
            " CROSS JOIN span s"
            " LATERAL VIEW explode(sequence(0, s.span_days)) t AS d"
        )
    else:
        grid = (
            "SELECT u.user_id, t.d AS day_idx FROM users u"
            " CROSS JOIN span s,"
            " unnest(generate_series(0, s.span_days)) AS t(d)"
        )
    # floor division that agrees on negative numerators (posrem)
    def fdiv(a: str, b: str) -> str:
        return f"(({a} - ((({a} % {b}) + {b}) % {b})) {div} {b})"

    interp_num = "(nv - pv) * (day_idx - pd)"
    interp_den = "(nd - pd)"
    # IGNORE NULLS placement differs: Spark takes it AFTER the call,
    # DuckDB INSIDE the parens.
    inn = " IGNORE NULLS" if dialect != "spark" else ""
    outn = " IGNORE NULLS" if dialect == "spark" else ""
    lv, fv = "last_value", "first_value"
    return f"""
        WITH b AS (
            SELECT MIN({us}(ts)) AS t0 FROM events)
        , daily AS (
            SELECT user_id,
                   ({us}(ts) - b.t0) {div} 86400000000 AS day_idx,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT))
                       AS BIGINT) AS observed_cents
            FROM events CROSS JOIN b
            WHERE user_id < {_GAPFILL_USERS}
            GROUP BY user_id, ({us}(ts) - b.t0) {div} 86400000000)
        , span AS (
            SELECT CAST(MAX(day_idx) AS BIGINT) AS span_days
            FROM daily)
        , users AS (
            SELECT DISTINCT user_id FROM daily)
        , grid AS ({grid})
        , joined AS (
            SELECT g.user_id, CAST(g.day_idx AS BIGINT) AS day_idx,
                   d.observed_cents
            FROM grid g
            LEFT JOIN daily d ON d.user_id = g.user_id
                             AND d.day_idx = g.day_idx)
        , anchored AS (
            SELECT user_id, day_idx, observed_cents,
                   {lv}(observed_cents{inn}){outn} OVER (
                       PARTITION BY user_id ORDER BY day_idx ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS pv,
                   {lv}(CASE WHEN observed_cents IS NOT NULL
                        THEN day_idx END{inn}){outn} OVER (
                       PARTITION BY user_id ORDER BY day_idx ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS pd,
                   {fv}(observed_cents{inn}){outn} OVER (
                       PARTITION BY user_id ORDER BY day_idx ASC
                       ROWS BETWEEN CURRENT ROW
                       AND UNBOUNDED FOLLOWING) AS nv,
                   {fv}(CASE WHEN observed_cents IS NOT NULL
                        THEN day_idx END{inn}){outn} OVER (
                       PARTITION BY user_id ORDER BY day_idx ASC
                       ROWS BETWEEN CURRENT ROW
                       AND UNBOUNDED FOLLOWING) AS nd
            FROM joined)
        SELECT user_id, day_idx, observed_cents,
               CAST(pv AS BIGINT) AS locf_cents,
               CAST(CASE
                    WHEN observed_cents IS NOT NULL THEN observed_cents
                    WHEN pv IS NOT NULL AND nv IS NOT NULL
                        THEN pv + {fdiv(interp_num, interp_den)}
                    WHEN pv IS NOT NULL THEN pv
                    ELSE nv END AS BIGINT) AS interp_cents,
               (observed_cents IS NULL) AS is_gap
        FROM anchored
    """


@query("events_gap_fill_interp", oracle=_gapfill_sql("duck"))
def q_events_gap_fill_interp(spark, sf_dir):
    """TIME-SERIES DENSIFICATION + IMPUTATION — the gap-fill pass
    every per-entity metric series needs before window features or
    forecasting (#255/#280 assume a dense grid; this BUILDS it):
    per user, a dense day grid over the corpus span LEFT-joined
    with observed daily spend, then two imputations side by side —
    LOCF (last observation carried forward, the feature-store
    default) and EXACT linear interpolation between the bracketing
    observations, computed with the posrem floor division so both
    engines agree even when the slope is negative (Spark div
    truncates toward zero, DuckDB // floors — the r8 lesson).
    Leading gaps fall back to the next observation, trailing to
    LOCF; a 20-user panel bounds the demo output (the grid is the
    deployment shape: entities × span).

    Scale: grid = entity-table × bounded day sequence (no corpus
    blowup); the four anchor columns share ONE user-partitioned
    sort (four frames over the same window ordering — one
    shuffle); interpolation is pure codegen arithmetic."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_gapfill_sql("spark"))


@query("ann_hnsw_descent_topk", oracle=_sim.hnsw_topk_sql("duck"))
def q_ann_hnsw_descent_topk(spark, sf_dir):
    """FULL HNSW SEARCH STRUCTURE (Malkov & Yashunin 2018) — the
    hierarchical half #293's layer-0 walk approximated with the
    coarse quantizer, now built for real: every vector draws a
    geometric layer from the TRAILING-ZERO BITS of its id hash
    (P(lvl ≥ k) = 2^-k — the integer spelling of floor(−ln(u)·mL),
    no logs, no RNG), each upper layer keeps a KNN graph over its
    ≈2^-l-thinned node set, and a probe enters at the GLOBAL top
    node, greedily descends layer by layer (2 hops per layer), and
    hands the landing node to the layer-0 walk + exact rerank of
    the visited pool — the production zoom-coarse-to-fine shape
    instead of a seed-table argmax. Output matches #293's serving
    contract (query_id, neighbor_id, nn_rank, cos_e6) so the two
    entry strategies are directly comparable.

    MEASURED (sf0.001, isotropic 64-d embeddings): cell-confined
    upper graphs trap the descent in the entry cell (recall@5
    0.10); adding deterministic RING links (hash-ordered ±2
    wrap-around per layer — degree-bounded cross-cell
    navigability, the small-world ingredient HNSW's insert
    heuristic provides implicitly) lifts it to 0.28, and a width-2
    descent beam + ef=8 layer-0 beam to 0.36 — still below #293's
    multi-seed entry (0.60), the honest finding: on isotropic
    data 16 quantizer probes beat one hierarchical path; the
    hierarchy's value is O(log n) routing on CLUSTERED corpora.
    Band + contract laws in pytest.

    Scale: layer graphs cost a geometric series (Σ 2^-l) of the
    layer-0 build and are checkpoint-materialized like every graph
    chain since the pagerank lesson; per-probe descent work is
    O(layers · hops · KNN_K) — independent of corpus size, the
    logarithmic-routing property that makes HNSW the
    billion-vector default."""
    ensure_utc(spark)
    return _sim.hnsw_topk(spark, sf_dir)


@query("graph_ppr_seeds", oracle=_sim.ppr_seeds_sql("duck"))
def q_graph_ppr_seeds(spark, sf_dir):
    """PERSONALIZED PAGERANK / random walk with restart (Page et
    al.'s teleport pinned to a seed; Tong et al. 2006) over the
    corpus KNN graph — the RECOMMENDER primitive the global scores
    can't give: global PageRank (#121) answers 'what is hubby
    overall', HITS (#339) 'hubs vs authorities', PPR answers 'what
    is close to THIS seed by multi-hop graph proximity' — the
    query-time relevance diffusion behind graph recommenders and
    label-propagation seeds. All probe seeds run at once (seed_id
    rides the aggregation key); 3 unrolled rounds, 15% restart mass
    to the seed each round, floor-integer algebra identical on both
    engines; top-{k} per seed by diffused mass.

    Scale: edges checkpointed once (the pagerank lesson); each
    round is one edge-keyed aggregate whose mass table is bounded
    by probes × reached nodes (≤ probes × KNN_K^round, the locality
    of RWR); the pbase grid is probes × nodes but only as a sparse
    left-join target. Dangling-node mass sheds as in #121
    (documented). Edges from the shared `graph_knn_edges` gate map
    (r6).""".replace("{k}", "5")
    ensure_utc(spark)
    edges = _knn_edges_view(spark, sf_dir)
    return _sim.ppr_seeds(spark, sf_dir, edges_view=edges)


