"""Embedding similarity-search operators: brute-force cosine top-k
(the ANN baseline), near-dup pairs, per-label centroids, and an
IVF-style cell-probed ANN.

Cross-engine determinism: dot products / norms are generated as
explicit left-associated per-dimension expression chains in BOTH the
Spark SQL and DuckDB dialects — identical IEEE double operations in
identical order, so cosine values are bit-identical and rankings
match the oracle without tolerance hacks. (Float32 inputs are cast
to double element-wise; exact.)

Scale design (100 TB):
- brute-force top-k is the correctness baseline: a broadcast of the
  (small) query set against a partitioned scan of the corpus — no
  shuffle of the corpus, one partial top-k per partition (window
  over query_id after AQE-coalesced exchange of only
  |queries|*|corpus_partition_topk| rows).
- the IVF path is the scale answer: assign once to a coarse cell
  (seed vectors), then probe only the query's cell — candidate set
  shrinks by ~n_cells; the cell assignment is itself a broadcast
  join (seeds are tiny).
- near-dup at scale composes with dedup.lsh-style blocking; the
  all-pairs form here is the oracle twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

DIMS = 64
TOPK = 5
N_QUERIES = 10  # vec_id < 10
# IVF coarse-cell count (vec_id < N_SEEDS as seed vectors). This is
# the TEST-SF DEFAULT, not a structural constant: every cell-bounded
# operator (IVF probe, semdedup, KNN graph, PageRank, trained
# k-means, diversity sampling) takes an n_seeds/n_cells parameter.
# Sizing rule at scale: cell-bounded work is Θ(Σ cell²) =
# Θ(n²/n_cells) under balance, so a FIXED cell count is still
# quadratic in corpus size — pick n_cells ∝ n / target_cell_size
# (e.g. target ~2-10k vectors per cell; FAISS practice is
# n_cells ≈ sqrt(n) to several×sqrt(n)). Assignment stays cheap as
# n_cells grows: O(n·n_cells·DIMS) with the centroid table a
# bounded broadcast — the trained-kmeans path makes large n_cells
# affordable. Oracle parity at two different cell counts is pinned
# in tests/test_round5.py.
N_SEEDS = 16
NEAR_DUP_THRESHOLD = 0.4

# ---------------------------------------------------------------------------
# Self-sizing blocking dials (r7 verdict item 1). The two blocking
# structures whose REGISTERED defaults were frozen constants —
# hyperplane-LSH band width (r_bits) and the KNN/IVF coarse-cell
# count (nlist) — now derive themselves from a corpus count INSIDE
# the generated SQL, in both dialects, with the same integer-exact
# formula, so the registered arm IS the scaled arm at every sf and
# the DuckDB oracle stays bit-exact without a frozen/scaled twin
# split. Both formulas evaluate to the historical constants at the
# driver's sf0.01/sf0.1 corpora (extra bits = 0, nlist = 16), so
# every existing oracle hash at driver scale is unchanged.
#
#   nlist(n)  = max(N_SEEDS, floor(sqrt(n * N_SEEDS² / N_REF_VECS)))
#               — the √n rule, the flat-quantizer cost optimum:
#               assign n·nlist + in-cell n²/nlist is Θ(n^1.5),
#               minimized at nlist ∝ √n. (The r7 scaled twin used
#               nlist ∝ n and measured 0.68 over ONE decade — its
#               assign stage is quadratic and the r8 sf10 point
#               caught it; frozen nlist is worse at every size,
#               exp 1.37. Truly linear graph builds use the banded
#               LSH cells instead: knn_graph_lsh_sql.)
#   r_bits(n) = R_BITS + round(log2(n / N_REF_VECS)) clamped to
#               [R_BITS, R_BITS + R_MAX_ADD]
#               — holds band-bucket occupancy n/2^r_bits constant,
#               so random band collisions Θ(n²·bands/2^r_bits) stay
#               linear (measured: frozen exp 1.58 → scaled 0.73).
#
# round(log2 g) is made integer-exact via precomputed thresholds:
# round(log2(n/N_REF)) >= a  ⟺  n² > N_REF²·2^(2a-1)  ⟺  n > t_a
# with t_a = isqrt(N_REF²·2^(2a-1)) — pure BIGINT comparisons, no
# float log in either engine. R_MAX_ADD = 8 supports corpora up to
# 2^8× the sf0.1 reference (~sf25 on this data contract); beyond
# that, regenerate with a larger R_MAX_ADD (one constant).
N_REF_VECS = 2000  # embeddings row count at the sf0.1 reference point
R_MAX_ADD = 8


def _bit_thresholds(ref: int | None = None) -> list[int]:
    import math

    r = N_REF_VECS if ref is None else ref
    return [
        math.isqrt(r * r * (1 << (2 * a - 1)))
        for a in range(1, R_MAX_ADD + 1)
    ]


def _nlist_expr(n_expr: str = "COUNT(*)") -> str:
    """Self-sizing nlist from a corpus count — the √n rule
    (FAISS practice, nlist = N_SEEDS·√(n/N_REF)): flat-quantizer
    build cost is assign n·nlist + in-cell n²/nlist, minimized at
    nlist ∝ √n where both terms are Θ(n^1.5). The r7 scaled twin
    used nlist ∝ n, which looks better over ONE decade (in-cell
    dominates at these sizes) but makes the ASSIGN stage itself
    quadratic — measured at the sf10 point: 718 s vs the √n rule's
    balance (SCALING_r8.json, the second-decade catch). Truly
    linear graph construction needs a hierarchical/LSH quantizer —
    that path is ann_knn_graph_lsh (banded cells, candidates ∝ n).

    Cross-engine determinism: FLOOR(SQRT(double)) — both engines
    parse the same decimal literal to the same IEEE double and SQRT
    is correctly rounded, so the floor agrees bit-for-bit; equality
    under an engaged dial is pinned in
    tests/test_self_sizing_dials.py."""
    c = (N_SEEDS * N_SEEDS) / N_REF_VECS
    return (
        f"GREATEST({N_SEEDS}, CAST(FLOOR(SQRT("
        f"CAST({n_expr} AS DOUBLE) * {c!r})) AS BIGINT))"
    )


def _seed_pred(n_seeds: int | None) -> str:
    """Seed-membership predicate on vec_id: a literal bound when
    n_seeds is pinned, else the self-sizing scalar subquery (the
    same nlist formula _knn_ctes uses, so every derived structure —
    greedy walk entry points, BFS layer 0, HNSW probes — sizes
    consistently with the KNN chain it rides on)."""
    if n_seeds is not None:
        return f"vec_id < {n_seeds}"
    return (
        f"vec_id < (SELECT {_nlist_expr()} FROM embeddings)"
    )


def _elem(col: str, i: int, dialect: str) -> str:
    if dialect == "spark":
        return f"CAST(element_at({col}, {i}) AS DOUBLE)"
    return f"CAST({col}[{i}] AS DOUBLE)"


def _dot(a: str, b: str, dialect: str) -> str:
    """Left-associated double summation of elementwise products.

    Spark uses a sequential `aggregate` fold over `zip_with` —
    bit-identical to DuckDB's explicit left-associated `+` chain
    (0.0 + v1 is exact), but with O(1) codegen size instead of a
    64-term expression (cuts per-query compile time)."""
    if dialect == "spark":
        return (
            f"aggregate(zip_with({a}, {b}, "
            "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    return " + ".join(
        f"({_elem(a, i, dialect)} * {_elem(b, i, dialect)})"
        for i in range(1, DIMS + 1)
    )


def _norm(a: str, dialect: str) -> str:
    return f"SQRT({_dot(a, a, dialect)})"


def topk_sql(dialect: str) -> str:
    return f"""
        WITH v AS (
            SELECT vec_id, embedding, {_norm('embedding', dialect)} AS nrm
            FROM embeddings)
        , q AS (
            SELECT vec_id AS query_id, embedding AS qe, nrm AS qn
            FROM v WHERE vec_id < {N_QUERIES})
        , scored AS (
            SELECT q.query_id, v.vec_id AS neighbor_id,
                   ({_dot('q.qe', 'v.embedding', dialect)}) / (q.qn * v.nrm) AS cos
            FROM q CROSS JOIN v WHERE v.vec_id <> q.query_id)
        , ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rn
            FROM scored)
        SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS nn_rank,
               ROUND(cos, 6) AS cosine
        FROM ranked WHERE rn <= {TOPK}
    """


def near_dup_sql(dialect: str) -> str:
    return f"""
        WITH v AS (
            SELECT vec_id, embedding, {_norm('embedding', dialect)} AS nrm
            FROM embeddings)
        , scored AS (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   ({_dot('a.embedding', 'b.embedding', dialect)}) / (a.nrm * b.nrm)
                       AS cos
            FROM v a JOIN v b ON a.vec_id < b.vec_id)
        SELECT vec_a, vec_b, ROUND(cos, 6) AS cosine
        FROM scored WHERE cos >= {NEAR_DUP_THRESHOLD}
    """


def centroids_sql(dialect: str) -> str:
    sq_sum = " + ".join(
        f"(AVG({_elem('embedding', i, dialect)}) * AVG({_elem('embedding', i, dialect)}))"
        for i in range(1, DIMS + 1)
    )
    return f"""
        SELECT label, COUNT(*) AS n_vecs,
               ROUND(SQRT({sq_sum}), 4) AS centroid_norm
        FROM embeddings GROUP BY label
    """


def ivf_topk_sql(dialect: str, n_seeds: int = N_SEEDS) -> str:
    return f"""
        WITH v AS (
            SELECT vec_id, embedding, {_norm('embedding', dialect)} AS nrm
            FROM embeddings)
        , seeds AS (
            SELECT vec_id AS seed_id, embedding AS se, nrm AS snrm
            FROM v WHERE vec_id < {n_seeds})
        , assign AS (
            SELECT v.vec_id, v.embedding, v.nrm, s.seed_id,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY ({_dot('v.embedding', 's.se', dialect)})
                                / (v.nrm * s.snrm) DESC,
                                s.seed_id ASC) AS rn
            FROM v CROSS JOIN seeds s)
        , cells AS (
            SELECT vec_id, embedding, nrm, seed_id AS cell
            FROM assign WHERE rn = 1)
        , q AS (
            SELECT vec_id AS query_id, embedding AS qe, nrm AS qn, cell
            FROM cells WHERE vec_id < {N_QUERIES})
        , cand AS (
            SELECT q.query_id, c.vec_id AS neighbor_id, q.cell,
                   ({_dot('q.qe', 'c.embedding', dialect)}) / (q.qn * c.nrm) AS cos
            FROM q JOIN cells c ON c.cell = q.cell AND c.vec_id <> q.query_id)
        , ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rn
            FROM cand)
        SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS nn_rank,
               ROUND(cos, 6) AS cosine, cell
        FROM ranked WHERE rn <= {TOPK}
    """


N_PROBES = 2


def ivf_multiprobe_sql(dialect: str, n_seeds: int = N_SEEDS) -> str:
    """IVF with multi-probe: each query searches its N_PROBES nearest
    coarse cells instead of one — the standard recall/latency knob
    (e.g. FAISS nprobe).  Corpus vectors still live in exactly one
    cell, so the probe fan-out multiplies candidates by at most
    N_PROBES, not the corpus size."""
    return f"""
        WITH v AS (
            SELECT vec_id, embedding, {_norm('embedding', dialect)} AS nrm
            FROM embeddings)
        , seeds AS (
            SELECT vec_id AS seed_id, embedding AS se, nrm AS snrm
            FROM v WHERE vec_id < {n_seeds})
        , assign AS (
            SELECT v.vec_id, v.embedding, v.nrm, s.seed_id,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY ({_dot('v.embedding', 's.se', dialect)})
                                / (v.nrm * s.snrm) DESC,
                                s.seed_id ASC) AS rn
            FROM v CROSS JOIN seeds s)
        , cells AS (
            SELECT vec_id, embedding, nrm, seed_id AS cell
            FROM assign WHERE rn = 1)
        , probes AS (
            SELECT vec_id AS query_id, seed_id AS cell
            FROM assign WHERE vec_id < {N_QUERIES} AND rn <= {N_PROBES})
        , q AS (
            SELECT vec_id AS query_id, embedding AS qe, nrm AS qn
            FROM v WHERE vec_id < {N_QUERIES})
        , cand AS (
            SELECT p.query_id, c.vec_id AS neighbor_id,
                   ({_dot('q.qe', 'c.embedding', dialect)}) / (q.qn * c.nrm) AS cos
            FROM probes p
            JOIN q ON q.query_id = p.query_id
            JOIN cells c ON c.cell = p.cell AND c.vec_id <> p.query_id)
        , ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rn
            FROM cand)
        SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS nn_rank,
               ROUND(cos, 6) AS cosine
        FROM ranked WHERE rn <= {TOPK}
    """


# ---------------------------------------------------------------------------
# Blocked (random-hyperplane LSH) near-dup — the 100 TB path
# ---------------------------------------------------------------------------
#
# embed_near_dup above is the exact all-pairs oracle baseline: an
# O(n^2) self-join that is correct but a scale-killer on a real
# corpus. This twin blocks candidates first: H = R_BITS * N_BANDS
# deterministic hyperplanes (md5-seeded integer entries, identical
# literals in both SQL dialects), each vector gets H sign bits, bits
# are grouped into N_BANDS band keys, and only vectors sharing a
# (band_idx, band_key) bucket are compared — a key-partitioned equi
# self-join (shuffle on the band key) instead of a cross join. Exact
# cosine then verifies candidates, so there are NO false positives;
# the price is bounded recall on true pairs.
#
# Why hyperplane LSH and not IVF-cell blocking: measured on this
# testdata (sf0.01, τ=0.4), candidate blocking by shared IVF probe
# cell recalls only 26/59 true pairs at nprobe=2 (0.44) and needs
# nprobe=4 to reach 54/59 (0.92) — at which point 72% of ALL pairs
# survive as candidates, i.e. barely better than all-pairs. Weakly
# similar vectors do not co-locate in coarse cells; sign-bit LSH
# bands target the pair angle directly. (IVF remains the right
# blocker for top-k SEARCH, where the query's own cell is exactly
# the neighborhood wanted — see ivf_topk above.)
#
# Parameter honesty (measured on this testdata, tests pin it): the
# synthetic near-dups sit at cos 0.40-0.51, barely above the noise
# floor (random 64-dim pairs: cos 0 +/- 0.125), the WORST regime for
# hyperplane LSH (bit-agreement p1=0.63 vs p2=0.5). r=4, B=16 gives
# measured recall 0.96-0.98 with ~64% of pairs surviving as
# candidates. In the production dedup regime (tau >= 0.8, where real
# duplicate embeddings live) the same operator with r=8, B=32 gets
# recall >= 0.94 with ~13% candidates, and selectivity keeps
# improving as tau -> 1 while all-pairs stays n^2. The structural
# property — candidate generation is a bucketed equi-join, never a
# materialized cross product — is what survives the 1000x scale-up.

R_BITS = 4
N_BANDS = 16


def _plane(tag: str) -> list[int]:
    import hashlib

    return [
        int(hashlib.md5(f"{tag}_{i}".encode()).hexdigest()[:8], 16) - 2**31
        for i in range(DIMS)
    ]


def _hyperplanes(r_bits: int = R_BITS, n_bands: int = N_BANDS) -> list[list[int]]:
    """Deterministic hyperplane matrix: entry (j, i) is a pseudo-random
    integer in [-2^31, 2^31) from md5("hp_{j}_{i}") — computed once in
    Python, embedded as identical literals in both dialects, so the
    sign bits are bit-identical cross-engine (integer * double products
    and left-associated sums are the same IEEE ops in both)."""
    return [_plane(f"hp_{j}") for j in range(r_bits * n_bands)]


def _hyperplanes_ext(n_bands: int = N_BANDS) -> list[list[list[int]]]:
    """Prefix-stable plane matrix for the SELF-SIZING band chain:
    planes[b][k] is band b's k-th hyperplane, k < R_BITS reuses the
    frozen-default ids (hp_{b*R_BITS+k}) so at extra_bits = 0 the
    sign bits — and therefore the candidate set — are bit-identical
    to the historical r_bits=R_BITS chain; extension bits
    (k >= R_BITS) get fresh ids. Growing r_bits only APPENDS planes
    per band (prefix property), which is what makes the
    top-bits-of-a-max-width-key trick below a valid LSH at every
    corpus size."""
    return [
        [
            _plane(f"hp_{b * R_BITS + k}" if k < R_BITS else f"hpx_{b}_{k}")
            for k in range(R_BITS + R_MAX_ADD)
        ]
        for b in range(n_bands)
    ]


def _sign_bit(plane: list[int], dialect: str) -> str:
    """CASE-expression for one sign bit of `embedding` vs a constant
    hyperplane: left-associated double dot, >= 0 -> 1."""
    if dialect == "spark":
        arr = ", ".join(str(c) for c in plane)
        dot = (
            f"aggregate(zip_with(embedding, array({arr}), "
            "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    else:
        dot = " + ".join(
            f"({_elem('embedding', i + 1, dialect)} * CAST({c} AS DOUBLE))"
            for i, c in enumerate(plane)
        )
    return f"CASE WHEN ({dot}) >= 0 THEN 1 ELSE 0 END"


def _pw_case(ref: int | None = None) -> str:
    """pw = 2^(R_MAX_ADD - extra_bits) derived from the corpus count:
    the power-of-two divisor that keeps only the top R_BITS + extra
    bits of each band's max-width key. Descending BIGINT threshold
    ladder, identical literals in both dialects — no float log2
    anywhere, so both engines land on the same pw at every corpus
    size."""
    ts = _bit_thresholds(ref)
    whens = " ".join(
        f"WHEN COUNT(*) > {ts[a - 1]} THEN {1 << (R_MAX_ADD - a)}"
        for a in range(R_MAX_ADD, 0, -1)
    )
    return f"CASE {whens} ELSE {1 << R_MAX_ADD} END"


def _sig_word_cols(s_name, n_bands: int = N_BANDS) -> str:
    """Packed-signature word columns w0..w{SIG_WORDS-1} from already-
    computed sign-bit columns (s_name(b, k) -> column expr or None
    when the chain does not emit bit k). Fixed SIG_BAND_BITS-per-band
    bit-position layout, so literal chains of any width and the
    full-width structural chain pack bit-compatible words."""
    words = []
    for w in range((n_bands + SIG_BANDS_PER_WORD - 1) // SIG_BANDS_PER_WORD):
        terms = []
        for b in range(
            w * SIG_BANDS_PER_WORD,
            min((w + 1) * SIG_BANDS_PER_WORD, n_bands),
        ):
            for k in range(SIG_BAND_BITS):
                col = s_name(b, k)
                if col is None:
                    continue
                shift = (
                    SIG_BANDS_PER_WORD * SIG_BAND_BITS
                    - 1
                    - ((b % SIG_BANDS_PER_WORD) * SIG_BAND_BITS + k)
                )
                terms.append(f"{col} * {1 << shift}")
        words.append(
            "CAST(" + " + ".join(terms) + f" AS BIGINT) AS w{w}"
        )
    return ", ".join(words)


def _lsh_band_ctes_auto(
    dialect: str,
    n_bands: int = N_BANDS,
    sig: bool = False,
    with_cand: bool = True,
) -> str:
    """SELF-SIZING variant of the band chain (r7 verdict item 1):
    r_bits is derived from the corpus count inside the SQL, so the
    registered query IS the scaled arm at every sf.

    Mechanism — top-bits-of-a-max-width-key: every band computes a
    (R_BITS + R_MAX_ADD)-bit key from prefix-stable hyperplanes
    (_hyperplanes_ext), then keeps only its top R_BITS + extra bits
    via one integer division by pw = 2^(R_MAX_ADD - extra), where
    extra = round(log2(n / N_REF_VECS)) comes from the integer
    threshold ladder in _pw_case(). Extension bits (k >= R_BITS) are
    CASE-gated on pw, so their 64-dim dot products are SKIPPED per
    row whenever the corpus doesn't need them (both engines evaluate
    CASE branches lazily) — at the driver's sf0.01/sf0.1 the chain
    does exactly the historical R_BITS work and produces the
    bit-identical candidate set (gated bits evaluate to 0 and are
    divided away; the frozen planes keep their r7 ids). At sf1 the
    same SQL runs 7-bit bands, at sf10 11-bit bands — band-bucket
    occupancy n/2^r_bits stays ~constant, which is what turns the
    measured frozen-dial exp 1.58 into ~0.73 (SCALING_r7.json)
    WITHOUT a human re-sizing anything."""
    planes = _hyperplanes_ext(n_bands)
    r_max = R_BITS + R_MAX_ADD
    # sig (graph) chains run the occupancy ladder against a 1/
    # GRAPH_OCC_DIV reference: extension bits engage two doublings
    # EARLIER, holding band buckets ~4x smaller — the candidate-
    # volume dial the hamming re-rank sits behind. The near-dup
    # chain keeps the original ladder (its recall law is pinned at
    # the historical operating point).
    ref = N_REF_VECS // GRAPH_OCC_DIV if sig else N_REF_VECS

    def bit_expr(b: int, k: int) -> str:
        expr = _sign_bit(planes[b][k], dialect)
        if k < R_BITS or sig:
            # sig chains compute every extension bit UNGATED: the
            # key division by pw drops the low bits regardless
            # (Σ_{dropped} s·2^j < pw), so keys are bit-identical to
            # the gated form, and the full-width bits double as the
            # packed hamming signature for free — half the sign-dot
            # expression tree of a separate signature CTE.
            return expr
        gate = 1 << (R_MAX_ADD + R_BITS - 1 - k)
        return f"CASE WHEN pw <= {gate} THEN {expr} ELSE 0 END"

    bit_cols = ",\n                   ".join(
        f"{bit_expr(b, k)} AS s{b * r_max + k}"
        for b in range(n_bands)
        for k in range(r_max)
    )
    key_cols = ", ".join(
        "("
        + " + ".join(
            f"s{b * r_max + k} * {1 << (r_max - 1 - k)}" for k in range(r_max)
        )
        + f") AS k{b}"
        for b in range(n_bands)
    )
    if sig:
        key_cols += ", " + _sig_word_cols(
            lambda b, k: f"s{b * r_max + k}", n_bands
        )
    # duck inlines plain CTEs: without MATERIALIZED the n_bands-arm
    # UNION ALL below re-expands the (R_BITS+R_MAX_ADD)x64-term
    # sign-bit tree per arm (~20x oracle wall at sf0.1)
    mat = "MATERIALIZED " if dialect != "spark" else ""
    wcols = ", " + ", ".join(f"w{w}" for w in range(SIG_WORDS)) if sig else ""
    head = f"""
        lshv AS (
            SELECT vec_id, embedding, {_norm('embedding', dialect)} AS nrm
            FROM embeddings)
        , prm AS (
            SELECT CAST({_pw_case(ref)} AS BIGINT) AS pw FROM lshv)
        , bits AS (
            SELECT vec_id, pw,
                   {bit_cols}
            FROM lshv CROSS JOIN prm)
        , keys AS {mat}(
            SELECT vec_id, pw, {key_cols} FROM bits)"""
    if dialect == "spark":
        key_arr = ", ".join(f"k{b}" for b in range(n_bands))
        bands = f"""
        , bands AS (
            SELECT vec_id, band_idx, bk div pw AS band_key{wcols}
            FROM keys
            LATERAL VIEW posexplode(array({key_arr})) AS band_idx, bk)"""
    else:
        union = "\n            UNION ALL ".join(
            f"SELECT vec_id, {b} AS band_idx, k{b} // pw AS band_key{wcols}"
            " FROM keys"
            for b in range(n_bands)
        )
        bands = f"""
        , bands AS ({union})"""
    cand = (
        """
        , cand AS (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM bands a
            JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_key = b.band_key
             AND a.vec_id < b.vec_id)
    """
        if with_cand
        else "\n    "
    )
    return head + bands + cand


def auto_r_bits(spark, sf_dir: str) -> int:
    """The occupancy rule evaluated DRIVER-SIDE from one cheap
    corpus count (column-pruned parquet count-star): the Spark
    wrappers emit a chain with exactly the needed bits instead of
    compiling the full R_MAX_ADD-gated expression tree — same
    candidate partition as the structural form (prefix planes +
    identical ladder thresholds; the DuckDB oracle keeps the
    in-SQL structural form, and cross-engine equality at an engaged
    dial is pinned in tests/test_self_sizing_dials.py)."""
    from ..tables import load_table

    n = load_table(spark, sf_dir, "embeddings").count()
    return R_BITS + sum(1 for t in _bit_thresholds() if n > t)


def auto_r_bits_graph(spark, sf_dir: str) -> int:
    """auto_r_bits against the graph chain's 1/GRAPH_OCC_DIV ladder
    reference (see GRAPH_OCC_DIV)."""
    from ..tables import load_table

    n = load_table(spark, sf_dir, "embeddings").count()
    ts = _bit_thresholds(N_REF_VECS // GRAPH_OCC_DIV)
    return R_BITS + sum(1 for t in ts if n > t)


def _lsh_band_ctes(
    dialect: str,
    r_bits: int | None = None,
    n_bands: int = N_BANDS,
    prefix_planes: bool = False,
    sig: bool = False,
    with_cand: bool = True,
) -> str:
    """Shared CTE chain v -> bands -> cand producing DISTINCT
    candidate pairs (vec_a < vec_b) from band-bucket collisions.

    r_bits=None (the registered default) emits the SELF-SIZING chain
    (_lsh_band_ctes_auto) — band width derived from the corpus count
    inside the SQL, both dialects. An explicit r_bits pins a
    literal-width chain: with prefix_planes=True it uses the
    prefix-stable extension planes (the auto_r_bits driver-side
    fast path — partitions candidates identically to the structural
    chain at the same width); with the default False it keeps the
    historical global-j plane indexing (r7 scaling-contrast arms).

    Plan-shape note (measured at sf0.1, both checksum-identical): the
    per-bit CASE projection form below codegens to ~1.1 s warm; the
    "cleaner" alternative — one constant 64x64 matrix + a `transform`
    fold over it (plain or 1-row-cross-joined) — is 8-9x SLOWER
    because nested higher-order functions drop out of whole-stage
    codegen into interpreted per-row lambda eval. Wide-but-flat
    expression lists beat compact HOFs in the Spark hot path.

    Spark explodes band keys with posexplode; the DuckDB oracle
    unions one SELECT per band — same rows, and the per-dimension
    double products/sums are identical left-associated IEEE ops in
    both, so the sign bits are bit-identical cross-engine."""
    if r_bits is None:
        return _lsh_band_ctes_auto(
            dialect, n_bands, sig=sig, with_cand=with_cand
        )
    if sig:
        # sig chains emit the FULL prefix-stable plane set per band:
        # keys use the first r_bits (identical partition), the packed
        # hamming signature uses all SIG_BAND_BITS
        assert prefix_planes, "sig requires the prefix-stable planes"
        ext = _hyperplanes_ext(n_bands)
        n_emit = SIG_BAND_BITS
        planes2 = ext  # planes2[b][k]
    elif prefix_planes:
        ext = _hyperplanes_ext(n_bands)
        n_emit = r_bits
        planes2 = ext
    else:
        flat = _hyperplanes(r_bits, n_bands)
        n_emit = r_bits
        planes2 = [
            [flat[b * r_bits + k] for k in range(r_bits)]
            for b in range(n_bands)
        ]
    bit_cols = ",\n                   ".join(
        f"{_sign_bit(planes2[b][k], dialect)} AS s{b * n_emit + k}"
        for b in range(n_bands)
        for k in range(n_emit)
    )
    key_cols = ", ".join(
        "("
        + " + ".join(
            f"s{b * n_emit + k} * {1 << (r_bits - 1 - k)}"
            for k in range(r_bits)
        )
        + f") AS k{b}"
        for b in range(n_bands)
    )
    if sig:
        key_cols += ", " + _sig_word_cols(
            lambda b, k: f"s{b * n_emit + k}" if k < n_emit else None,
            n_bands,
        )
    mat = "MATERIALIZED " if dialect != "spark" else ""
    wcols = ", " + ", ".join(f"w{w}" for w in range(SIG_WORDS)) if sig else ""
    cand = (
        """
        , cand AS (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM bands a
            JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_key = b.band_key
             AND a.vec_id < b.vec_id)
    """
        if with_cand
        else "\n    "
    )
    if dialect == "spark":
        key_arr = ", ".join(f"k{b}" for b in range(n_bands))
        return f"""
        lshv AS (
            SELECT vec_id, embedding, {_norm('embedding', dialect)} AS nrm
            FROM embeddings)
        , bits AS (
            SELECT vec_id,
                   {bit_cols}
            FROM lshv)
        , keys AS (
            SELECT vec_id, {key_cols} FROM bits)
        , bands AS (
            SELECT vec_id, band_idx, band_key{wcols}
            FROM keys
            LATERAL VIEW posexplode(array({key_arr})) AS band_idx, band_key)"""\
            + cand
    bands = "\n            UNION ALL ".join(
        f"SELECT vec_id, {b} AS band_idx, k{b} AS band_key{wcols} FROM keys"
        for b in range(n_bands)
    )
    return f"""
        lshv AS (
            SELECT vec_id, embedding, {_norm('embedding', dialect)} AS nrm
            FROM embeddings)
        , bits AS (
            SELECT vec_id,
                   {bit_cols}
            FROM lshv)
        , keys AS {mat}(
            SELECT vec_id, {key_cols} FROM bits)
        , bands AS ({bands})""" + cand


def near_dup_lsh_sql(
    dialect: str,
    r_bits: int | None = None,
    n_bands: int = N_BANDS,
    prefix_planes: bool = False,
) -> str:
    # r_bits is the corpus-tracking dial: random band collisions
    # scale ~ n^2 / 2^r_bits, so production adds ~log2(growth) bits
    # per corpus decade to hold bucket occupancy (and per-band
    # candidate volume) constant. Since r8 the REGISTERED default
    # (r_bits=None) self-sizes inside the SQL from the corpus count
    # (_lsh_band_ctes_auto) — the registered arm IS the scaled arm;
    # an explicit r_bits pins the frozen-width contrast chain.
    return f"""
        WITH {_lsh_band_ctes(dialect, r_bits, n_bands, prefix_planes)}{
        _near_dup_tail_sql(dialect)}"""


def _near_dup_tail_sql(dialect: str) -> str:
    """The verify tail shared by the single-statement form above and
    the staged Spark builder (near_dup_lsh): exact-cosine scoring of
    the banded candidates + the threshold filter. Factored so the
    two spellings cannot drift."""
    return f"""
        , scored AS (
            SELECT cand.vec_a, cand.vec_b,
                   ({_dot('va.embedding', 'vb.embedding', dialect)})
                       / (va.nrm * vb.nrm) AS cos
            FROM cand
            JOIN lshv va ON va.vec_id = cand.vec_a
            JOIN lshv vb ON vb.vec_id = cand.vec_b)
        SELECT vec_a, vec_b, ROUND(cos, 6) AS cosine
        FROM scored WHERE cos >= {NEAR_DUP_THRESHOLD}
    """


# ---------------------------------------------------------------------------
# R3: SemDeDup (semantic dedup via coarse cells) + int8 quantization
# ---------------------------------------------------------------------------

SEMDEDUP_TAU = NEAR_DUP_THRESHOLD


def semdedup_sql(dialect: str, n_seeds: int | None = None) -> str:
    """SemDeDup (Abbas et al. 2023): cluster embeddings into coarse
    cells (k-means stand-in: nearest of the N_SEEDS seed vectors, the
    same assignment the IVF index uses), then WITHIN EACH CELL drop
    every vector that has a lower-id cell-mate at cosine >= tau —
    keep-one-per-duplicate-group, resolved greedily by id (chains
    collapse to their minimum id, deterministic in both engines).

    Scale: the pairwise compare is cell-bounded — O(sum of cell^2),
    not corpus^2; cells are balanced by the coarse quantizer, and the
    join is an equi-join on the cell key (shuffle on cell, no cross
    product). The seed set is fixed-size -> its cross join is a
    broadcast of N_SEEDS rows."""
    return f"""
        WITH v AS (
            SELECT vec_id, embedding, {_norm('embedding', dialect)} AS nrm
            FROM embeddings)
        , seeds AS (
            SELECT vec_id AS seed_id, embedding AS se, nrm AS snrm
            FROM v WHERE {_seed_pred(n_seeds)})
        , assign AS (
            SELECT v.vec_id, v.embedding, v.nrm, s.seed_id,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY ({_dot('v.embedding', 's.se', dialect)})
                                / (v.nrm * s.snrm) DESC,
                                s.seed_id ASC) AS rn
            FROM v CROSS JOIN seeds s)
        , cells AS (
            SELECT vec_id, embedding, nrm, seed_id AS cell
            FROM assign WHERE rn = 1)
        , dropped AS (
            SELECT DISTINCT b.vec_id
            FROM cells a
            JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
            WHERE ({_dot('a.embedding', 'b.embedding', dialect)})
                  / (a.nrm * b.nrm) >= {SEMDEDUP_TAU})
        SELECT c.vec_id, CAST(c.cell AS BIGINT) AS cell,
               CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT)
                   AS keep
        FROM cells c LEFT JOIN dropped d ON c.vec_id = d.vec_id
    """


def sem_cells_build_sql(n_seeds: int | None = None) -> str:
    """Spark-only staged seed-nearest cell assignment (r10, guide
    §2.2 — the ivfpq_assign_build_sql idiom): the corpus×N_SEEDS
    row_number window (an O(n·s log s) sort behind one exchange)
    becomes min(struct(-cos, seed_id, embedding, nrm)) — a
    SortAggregate with MAP-SIDE partials (struct buffers are not
    hash-agg-mutable); the exchange carries one pre-reduced row per
    vector instead of corpus×N_SEEDS rows. Negation is
    order-reversing, so
    (-cos ASC, seed_id ASC) is exactly the window's
    (cos DESC, seed_id ASC); embedding/nrm ride in the struct
    (functionally dependent on vec_id — the comparator never
    reaches them because seed_id differs first). The oracle keeps
    the single-statement window form (semdedup_sql); the
    rows+schema+hash gate pins equality."""
    return f"""
        WITH v AS (
            SELECT vec_id, embedding, {_norm('embedding', 'spark')} AS nrm
            FROM embeddings)
        , seeds AS (
            SELECT vec_id AS seed_id, embedding AS se, nrm AS snrm
            FROM v WHERE {_seed_pred(n_seeds)})
        SELECT vec_id, m.cell AS cell, m.embedding AS embedding,
               m.nrm AS nrm
        FROM (
            SELECT v.vec_id,
                   min(struct(
                       -(({_dot('v.embedding', 's.se', 'spark')})
                         / (v.nrm * s.snrm)) AS nc,
                       s.seed_id AS cell,
                       v.embedding AS embedding, v.nrm AS nrm)) AS m
            FROM v CROSS JOIN seeds s
            GROUP BY v.vec_id) a
    """


def sem_bmax_build_sql(cells_view: str) -> str:
    """Per-vector max within-cell lower-id-mate cosine — the ONE
    pairwise pass both semdedup verdicts and the whole tau sweep
    reduce over (r10, guide §2.1): dropped-at-tau ⟺ maxcos >= tau
    for every tau, so the sweep's five arms and the keep verdict
    are conditional aggregates over this table instead of five
    re-derived cell self-joins. MAX over doubles is exact (no
    summation), so the verdict is bit-identical to the oracle's
    EXISTS(cos >= tau) form."""
    return f"""
        SELECT b.vec_id AS b_id,
               MAX(({_dot('a.embedding', 'b.embedding', 'spark')})
                   / (a.nrm * b.nrm)) AS maxcos
        FROM {cells_view} a JOIN {cells_view} b
          ON a.cell = b.cell AND a.vec_id < b.vec_id
        GROUP BY b.vec_id
    """


def semdedup_from_mats_sql(cells_view: str, bmax_view: str) -> str:
    """SemDeDup verdict served from the two materialized tables."""
    return f"""
        SELECT c.vec_id, CAST(c.cell AS BIGINT) AS cell,
               CAST(CASE WHEN m.maxcos >= {SEMDEDUP_TAU}
                         THEN 0 ELSE 1 END AS BIGINT) AS keep
        FROM {cells_view} c LEFT JOIN {bmax_view} m ON c.vec_id = m.b_id
    """


def quantize_sql(dialect: str) -> str:
    """Int8 scalar quantization of the embedding column (the storage
    / ANN-memory compression step): per-dimension [min, max] over the
    corpus, 256 uniform bins, dequantize at bin centers. Emits
    integer-exact evidence per vector: the code sum and the
    e6-scaled per-dim reconstruction-error sum/max —
    order-independent integers, so the oracle compare is exact.

    Determinism: each value is floored to an e6-scaled BIGINT first
    (ONE IEEE multiply by an exactly-representable constant — safe
    per-operation), then binning, bin centers, and errors are pure
    integer algebra: code = ((xi-lo)*256) div (hi-lo+1) in [0,255],
    err_e6 = |512*(xi-lo) - (2*code+1)*(hi-lo+1)| div 512. No float
    division chain anywhere, so no reassociation/FMA hazard between
    engines (ADVICE r2: FLOOR over a two-step float quotient was the
    one non-integer step in the 'integer-exact' claim).

    Scale: the explode is 64x row count but narrow (three columns);
    per-dim stats aggregate to DIMS rows — a bounded broadcast back
    onto the scan regardless of corpus size. One shuffle on the dim
    key, one on vec_id for the re-agg; no all-pairs anywhere."""
    if dialect == "spark":
        explode = """
        e AS (
            SELECT vec_id, p + 1 AS dim, CAST(xe AS DOUBLE) AS x
            FROM embeddings
            LATERAL VIEW posexplode(embedding) AS p, xe)
        """
    else:
        explode = """
        e AS (
            SELECT vec_id, d.dim AS dim,
                   CAST(embedding[d.dim] AS DOUBLE) AS x
            FROM embeddings,
                 (SELECT CAST(unnest(range(1, 65)) AS BIGINT) AS dim) d)
        """
    idiv = "div" if dialect == "spark" else "//"
    return f"""
        WITH {explode}
        , ei AS (
            SELECT vec_id, dim,
                   CAST(FLOOR(x * 1000000) AS BIGINT) AS xi
            FROM e)
        , stats AS (
            SELECT dim, MIN(xi) AS lo, MAX(xi) AS hi FROM ei GROUP BY dim)
        , q AS (
            SELECT ei.vec_id,
                   CASE WHEN s.hi = s.lo THEN 0
                        ELSE ((ei.xi - s.lo) * 256) {idiv} (s.hi - s.lo + 1)
                   END AS code,
                   CASE WHEN s.hi = s.lo THEN 0
                        ELSE ABS(512 * (ei.xi - s.lo)
                             - (2 * (((ei.xi - s.lo) * 256)
                                     {idiv} (s.hi - s.lo + 1)) + 1)
                               * (s.hi - s.lo + 1)) {idiv} 512
                   END AS err_e6
            FROM ei JOIN stats s ON ei.dim = s.dim)
        SELECT vec_id,
               CAST(SUM(code) AS BIGINT) AS code_sum,
               CAST(SUM(err_e6) AS BIGINT) AS err_sum_e6,
               CAST(MAX(err_e6) AS BIGINT) AS err_max_e6
        FROM q GROUP BY vec_id
    """


def ivf_cell_stats_sql(dialect: str, n_seeds: int = N_SEEDS) -> str:
    """IVF index-build observability: per coarse cell — vector count,
    share of the corpus (floor bp), and the cell's cosine-affinity
    profile to its seed (floor-scaled e6 min/mean is avoided: mean of
    doubles is order-dependent, so we emit min/max only — exact).
    The balance view is what an ANN operator watches to re-train the
    coarse quantizer: skewed cells = degraded recall and hot probe
    partitions at query time.

    Scale: one assignment pass (broadcast of N_SEEDS rows + per-row
    argmax) and one hash agg on the cell key; output is
    n_cells-bounded."""
    idiv = "div" if dialect == "spark" else "//"
    return f"""
        WITH v AS (
            SELECT vec_id, embedding, {_norm('embedding', dialect)} AS nrm
            FROM embeddings)
        , seeds AS (
            SELECT vec_id AS seed_id, embedding AS se, nrm AS snrm
            FROM v WHERE vec_id < {n_seeds})
        , assign AS (
            SELECT v.vec_id, s.seed_id,
                   ({_dot('v.embedding', 's.se', dialect)})
                       / (v.nrm * s.snrm) AS cos,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY ({_dot('v.embedding', 's.se', dialect)})
                                / (v.nrm * s.snrm) DESC,
                                s.seed_id ASC) AS rn
            FROM v CROSS JOIN seeds s)
        , cells AS (
            SELECT vec_id, seed_id AS cell, cos
            FROM assign WHERE rn = 1)
        , tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM cells)
        SELECT CAST(c.cell AS BIGINT) AS cell,
               CAST(COUNT(*) AS BIGINT) AS n_vecs,
               CAST((10000 * COUNT(*)) {idiv} MAX(t.n) AS BIGINT) AS share_bp,
               CAST(FLOOR(MIN(c.cos) * 1000000) AS BIGINT) AS min_cos_e6,
               CAST(FLOOR(MAX(c.cos) * 1000000) AS BIGINT) AS max_cos_e6
        FROM cells c CROSS JOIN tot t
        GROUP BY c.cell
    """


KNN_K = 3


def _knn_ctes(dialect: str, n_seeds: int | None = None) -> str:
    """Shared CTE chain ``v → seeds → assign → cells → cand →
    ranked`` used by the KNN-graph query and the PageRank query
    built on its edges.

    n_seeds=None (the registered default since r8) SELF-SIZES the
    coarse-cell count from the corpus count inside the SQL with the
    √n rule: nlist = max(N_SEEDS, ⌊√(n·N_SEEDS²/N_REF_VECS)⌋) —
    the flat-quantizer cost optimum (assign n·nlist + in-cell
    n²/nlist, both Θ(n^1.5) at nlist ∝ √n; the r7 nlist∝n twin
    measured 0.68 over one decade only because in-cell work
    dominated there — its assign stage is quadratic, caught at the
    r8 sf10 point; the linear build is the banded-cell graph,
    knn_graph_lsh_sql). Frozen nlist is worse at every size
    (in-cell Θ(n²), measured exp 1.37). At the driver's
    sf0.01/sf0.1 the formula yields the historical 16, so every
    existing oracle hash at driver scale is unchanged. Both dialects derive nlist
    from the same integer formula, so the oracle twin stays exact at
    every sf. An explicit n_seeds pins the frozen contrast chain
    (scaling arms, two-cell-count parity tests). Seed selection is
    still vec_id < nlist (the documented k-means stand-in): replica
    0 of tools/make_scale_data.py keeps the dense 0..N_REF_VECS-1 id
    range, so nlist can grow ~2^7× before id-seeds run out — a
    trained codebook (ann_ivf_kmeans) replaces id-seeds long before
    that on a real corpus.

    The heavy members are MATERIALIZED in the DuckDB dialect:
    PageRank's unrolled rounds reference the chain repeatedly and
    DuckDB 1.0 inlines CTEs by default, re-evaluating the
    seed-assignment cross join once per reference — enough to OOM a
    long-lived oracle connection at the end of a full-registry
    sweep. Spark reuses the exchange on its own (ReuseExchange), so
    the keyword is dialect-gated."""
    mat = "MATERIALIZED " if dialect != "spark" else ""
    if n_seeds is None:
        prm = f"""
        , prm AS (
            SELECT {_nlist_expr()} AS nlist FROM v)"""
        seed_pred = "vec_id < (SELECT nlist FROM prm)"
    else:
        prm = ""
        seed_pred = f"vec_id < {n_seeds}"
    return f"""
        WITH v AS {mat}(
            SELECT vec_id, embedding, {_norm('embedding', dialect)} AS nrm
            FROM embeddings){prm}
        , seeds AS (
            SELECT vec_id AS seed_id, embedding AS se, nrm AS snrm
            FROM v WHERE {seed_pred})
        , assign AS {mat}(
            SELECT v.vec_id, v.embedding, v.nrm, s.seed_id,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY ({_dot('v.embedding', 's.se', dialect)})
                                / (v.nrm * s.snrm) DESC,
                                s.seed_id ASC) AS rn
            FROM v CROSS JOIN seeds s)
        , cells AS {mat}(
            SELECT vec_id, embedding, nrm, seed_id AS cell
            FROM assign WHERE rn = 1)
        , cand AS {mat}(
            SELECT a.vec_id, b.vec_id AS neighbor_id,
                   ({_dot('a.embedding', 'b.embedding', dialect)})
                       / (a.nrm * b.nrm) AS cos
            FROM cells a
            JOIN cells b ON a.cell = b.cell AND a.vec_id <> b.vec_id)
        , ranked AS {mat}(
            SELECT *, row_number() OVER (
                PARTITION BY vec_id
                ORDER BY cos DESC, neighbor_id ASC) AS rnk
            FROM cand)"""


def knn_graph_sql(dialect: str, n_seeds: int | None = None) -> str:
    """Batch KNN-graph construction: EVERY vector gets its KNN_K
    nearest cell-mates (cosine, deterministic tie-break) — the
    primitive behind graph-based dedup, diversity sampling, and
    label propagation over a corpus. Unlike ann_ivf_topk (10 query
    vectors), this is the all-vectors self-join form.

    Scale: candidate pairs are cell-bounded (equi-join on the coarse
    cell, shuffle on the cell key), and the per-vector top-k is a
    rank window over candidates partitioned by the source vector —
    O(sum cell²) candidates, never corpus²; k and the cell count cap
    the output at KNN_K rows per vector."""
    return f"""{_knn_ctes(dialect, n_seeds)}
        SELECT vec_id, neighbor_id, CAST(rnk AS BIGINT) AS nn_rank,
               CAST(FLOOR(cos * 1000000) AS BIGINT) AS cos_e6
        FROM ranked WHERE rnk <= {KNN_K}
    """


# Hamming re-rank dials for the banded KNN-graph build (r9: the
# constant cut the r8 verdict asked for). Every vector carries a
# packed SIG_BITS-bit sign signature (ALL R_BITS+R_MAX_ADD extension
# planes of every band, ungated — computing the full set is
# n·SIG_BITS·DIMS flops, trivial next to candidate scoring); banded
# candidates are pre-ranked per vector by signature hamming distance
# (xor + popcount on SIG_WORDS BIGINTs — integer ops, no embedding
# payload through the big shuffle) and only the GRAPH_CAND_CAP best
# are scored with the exact 64-dim cosine. Sizing: among c banded
# candidates the true NN (cos≈0.4 on this corpus, p_disagree≈0.365)
# beats a collision-biased candidate (p≈0.48) on a 192-bit signature
# with prob ≈Φ(2.3)≈0.99, so E[#beating NN] ≈ 0.01c ≈ 3-16 across
# sf0.001..sf10 — a cap of 64 keeps the NN with prob ≈1 while
# cutting exact-scoring work ~(candidates/cap)× (≈25× at sf10).
GRAPH_CAND_CAP = 64
# the graph chain's occupancy divisor: its self-sizing ladder uses
# reference count N_REF_VECS/GRAPH_OCC_DIV, i.e. ~4x smaller band
# buckets than the near-dup chain at every corpus size (log2(4)=2
# extra bits engaged two doublings earlier; capped like everything
# else at R_MAX_ADD extension bits)
GRAPH_OCC_DIV = 4
# per-bucket pre-cap (stage A of the hamming re-rank): each vector
# keeps its hamming-top-GRAPH_BUCKET_CAP per (band, bucket) BEFORE
# the global top-GRAPH_CAND_CAP window. The pre-cap window partitions
# by (band_idx, band_key, vec_id) — a SUPERSET of the bucket
# self-join's keys, so Spark's EnsureRequirements adds NO exchange
# (HashPartitioning(a,b) satisfies ClusteredDistribution(a,b,c)):
# the 439M-row candidate stream is capped to ≤ bands·cap rows per
# vector inside the join's own partitioning, and only ~n·256 rows
# reach the exchange-bearing global window (measured sf10: the
# uncapped global window alone was 375 s). A neighbor the pre-cap
# drops would need GRAPH_BUCKET_CAP closer-by-hamming candidates in
# EVERY bucket it shares — vanishing for the hamming-strong
# candidates the exact-cosine stage actually ranks.
GRAPH_BUCKET_CAP = 16
SIG_BAND_BITS = R_BITS + R_MAX_ADD  # bit positions per band (12)
SIG_BANDS_PER_WORD = 4  # 48 bits per BIGINT word, sign-safe
SIG_WORDS = (N_BANDS + SIG_BANDS_PER_WORD - 1) // SIG_BANDS_PER_WORD


def knn_graph_lsh_sql(
    dialect: str,
    r_bits: int | None = None,
    prefix_planes: bool = False,
    cand_cap: int = GRAPH_CAND_CAP,
) -> str:
    """KNN graph over LSH-BAND cells — the LINEAR build path the
    flat IVF graph cannot be (r8, the sf10 catch): the seed-nearest
    quantizer costs assign n·nlist + in-cell n²/nlist ≥ 2n^1.5 at
    the optimal nlist ∝ √n (measured: SCALING_r8.json second
    decade), while banded hyperplane cells generate candidates in
    Θ(n·bands·occupancy) with the SELF-SIZED band width holding
    occupancy constant — candidates ∝ n, no assign stage at all.

    r9 constant cut (the r8 verdict's #2-3): the bands explode
    carries each vector's packed SIG_WORDS-BIGINT sign signature, so
    the bucket self-join computes HAMMING distance INLINE (integer
    xor+popcount in the join projection — no embedding payload and
    no join-back through the candidate set), a single dense_rank
    window keeps the hamming-top-{cand_cap} per vector (dense_rank
    because a pair colliding in k bands appears k times with the
    identical (ham, neighbor) order key — the rank dedups for free,
    replacing a 200M-row DISTINCT shuffle with nothing), and only
    those survivors are scored with the exact cosine; the output
    stays top-KNN_K by EXACT cosine (vec_id, neighbor_id, nn_rank,
    cos_e6 — same contract as knn_graph_sql). Vectors with no band collision have no edges
    (the singleton-cell caveat of the IVF form, same downstream
    handling). Recall vs the exact brute-force top-K is pinned in
    tests/test_self_sizing_dials.py; this is the build a 100 TB
    corpus graph (dedup communities, diversity sampling) would
    actually run, with the IVF form kept as the Voronoi-cell
    twin."""
    return f"""
        WITH {_lsh_band_ctes(dialect, r_bits, N_BANDS, prefix_planes,
                             sig=True, with_cand=False)}{
        _knn_lsh_tail_sql(dialect, cand_cap)}"""


def _knn_lsh_tail_sql(dialect: str, cand_cap: int = GRAPH_CAND_CAP) -> str:
    """hpairs → bkeep → hkeep → scored → ranked tail of the banded
    KNN build, referencing `bands` (vec_id, band_idx, band_key,
    w0..w{SIG_WORDS-1}) and `lshv` (vec_id, embedding, nrm) CTEs.
    Shared between the single-statement form (knn_graph_lsh_sql —
    the oracle twin and the structural-equality exhibit) and the
    staged Spark path (knn_graph_lsh), which materializes `keys`
    first and re-enters here over a bands-from-view CTE."""
    if dialect == "spark":
        ham = " + ".join(
            f"bit_count(a.w{w} ^ b.w{w})" for w in range(SIG_WORDS)
        )
    else:
        # duck bit_count returns TINYINT — the word sum overflows
        ham = " + ".join(
            f"CAST(bit_count(xor(a.w{w}, b.w{w})) AS INTEGER)"
            for w in range(SIG_WORDS)
        )
    return f"""
        , hpairs AS (
            SELECT a.band_idx, a.band_key,
                   a.vec_id, b.vec_id AS neighbor_id, ({ham}) AS ham
            FROM bands a
            JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_key = b.band_key
             AND a.vec_id <> b.vec_id)
        , bkeep AS (
            SELECT vec_id, neighbor_id, ham FROM (
                SELECT vec_id, neighbor_id, ham, row_number() OVER (
                    PARTITION BY band_idx, band_key, vec_id
                    ORDER BY ham ASC, neighbor_id ASC) AS brn
                FROM hpairs) b
            WHERE brn <= {GRAPH_BUCKET_CAP})
        , hkeep AS (
            SELECT DISTINCT vec_id, neighbor_id FROM (
                SELECT vec_id, neighbor_id, dense_rank() OVER (
                    PARTITION BY vec_id
                    ORDER BY ham ASC, neighbor_id ASC) AS hrn
                FROM bkeep) h
            WHERE hrn <= {cand_cap})
        , scored AS (
            SELECT k.vec_id, k.neighbor_id,
                   ({_dot('va.embedding', 'vb.embedding', dialect)})
                       / (va.nrm * vb.nrm) AS cos
            FROM hkeep k
            JOIN lshv va ON va.vec_id = k.vec_id
            JOIN lshv vb ON vb.vec_id = k.neighbor_id)
        , ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id
                ORDER BY cos DESC, neighbor_id ASC) AS rnk
            FROM scored)
        SELECT vec_id, neighbor_id, CAST(rnk AS BIGINT) AS nn_rank,
               CAST(FLOOR(cos * 1000000) AS BIGINT) AS cos_e6
        FROM ranked WHERE rnk <= {KNN_K}
    """


def knn_graph_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STAGED Spark-side banded build (r9, guide §1.2/§2.4/§5): the
    single-statement form pays the n_bands·(R_BITS+R_MAX_ADD)
    sign-bit subtree TWICE (once per side of the bucket self-join —
    two serial single-task ~4 s stages at sf0.1, measured via the
    stage API) and carries a ~445 KB physical plan through every
    downstream analysis. This path computes `keys` ONCE over a
    fanned-out scan (tables.fanout_scan: the driver testdata plans
    1-3 row-group splits, so the sign-bit projection would otherwise
    run on one core; a no-op whenever the scan already yields ≥
    defaultParallelism splits), materializes it (localCheckpoint on
    a single node; df.checkpoint(eager=True) against a replicated
    dir on a cluster — the operators/graph.py split), and runs the
    join/window/rerank tail over the materialized keys. Same
    expressions, same deterministic tie-breakers ⇒ row-identical to
    the oracle's single-statement MATERIALIZED-CTE form (which is
    DuckDB's spelling of the same materialize-once plan);
    cross-engine equality stays pinned in
    tests/test_self_sizing_dials.py."""
    from ..tables import fanout_scan, load_table

    bits = auto_r_bits_graph(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    fanout_scan(spark, emb).createOrReplaceTempView("embeddings")
    ctes = _lsh_band_ctes(
        "spark", r_bits=bits, prefix_planes=True, sig=True, with_cand=False
    )
    keys = spark.sql(f"WITH {ctes} SELECT * FROM keys").localCheckpoint()
    emb.createOrReplaceTempView("embeddings")  # restore the plain view
    keys.createOrReplaceTempView("gk_keys_mat")
    key_arr = ", ".join(f"k{b}" for b in range(N_BANDS))
    wcols = ", ".join(f"w{w}" for w in range(SIG_WORDS))
    return spark.sql(
        f"""
        WITH lshv AS (
            SELECT vec_id, embedding, {_norm('embedding', 'spark')} AS nrm
            FROM embeddings)
        , bands AS (
            SELECT vec_id, band_idx, band_key, {wcols}
            FROM gk_keys_mat
            LATERAL VIEW posexplode(array({key_arr})) AS band_idx, band_key){
        _knn_lsh_tail_sql('spark')}"""
    )


# The graph family's edge builder (r9, the r8 verdict's #2): every
# registered graph query (PageRank, HITS, LPA, conductance, node2vec,
# robustness, triangles, distance summary, LOF, assortativity, …)
# consumes ONE shared edge list with the contract (vec_id,
# neighbor_id, nn_rank, cos_e6). The builder behind it is
# parameterized here — "lsh" (the DEFAULT: banded hyperplane cells +
# hamming-capped exact re-rank, candidates ∝ n — the build that
# survives 100×) or "ivf" (the flat Voronoi-cell quantizer, Θ(n^1.5)
# by construction — kept as the registered `ann_knn_graph` twin and
# the scaling-contrast arm). The r5 keep-list precedent: the scale
# path must be what the registered queries RUN, not an opt-in.
GRAPH_EDGE_BUILDER = "lsh"


def graph_edges_sql(dialect: str) -> str:
    """The shared edge-list SQL for the selected builder — drop-in
    text for `knn AS (…)` CTEs in both dialects (the two builders
    share one output contract)."""
    if GRAPH_EDGE_BUILDER == "lsh":
        return knn_graph_lsh_sql(dialect)
    return knn_graph_sql(dialect)


def graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-side builder twin of graph_edges_sql (the lsh arm uses
    the driver-side auto_r_bits fast path; equality with the in-SQL
    structural form is pinned in tests/test_self_sizing_dials.py)."""
    if GRAPH_EDGE_BUILDER == "lsh":
        return knn_graph_lsh(spark, sf_dir)
    return knn_graph(spark, sf_dir)


def _graph_edge_head(dialect: str, n_seeds: int | None) -> str:
    """Shared head CTEs for every single-statement graph-family SQL:
    `v` (vec_id, embedding, nrm), `seeds` (the walk/probe entry
    points), and `edges` (src, dst — the shared builder's output).
    n_seeds=None rides GRAPH_EDGE_BUILDER (banded-LSH since r9);
    an explicit n_seeds pins the frozen flat chain (contrast arms,
    two-cell-count parity tests). The banded `knn` subquery defines
    its own inner `v` — both engines scope nested CTEs innermost-
    first, and the outer `v` here is the same relation."""
    mat = "MATERIALIZED " if dialect != "spark" else ""
    if n_seeds is not None:
        return f"""{_knn_ctes(dialect, n_seeds)}
        , edges AS {mat}(
            SELECT vec_id AS src, neighbor_id AS dst
            FROM ranked WHERE rnk <= {KNN_K})"""
    return f"""
        WITH v AS {mat}(
            SELECT vec_id, embedding, {_norm('embedding', dialect)} AS nrm
            FROM embeddings)
        , seeds AS (
            SELECT vec_id AS seed_id, embedding AS se, nrm AS snrm
            FROM v WHERE {_seed_pred(None)})
        , knn AS {mat}({graph_edges_sql(dialect)})
        , edges AS (
            SELECT vec_id AS src, neighbor_id AS dst FROM knn)"""


# PageRank over the KNN graph: PR_ITERS fixed power iterations with
# damping 0.85, all arithmetic integer (rank mass scaled by PR_SCALE,
# floor division) so every engine lands on identical longs. Dangling
# mass (vectors in singleton cells have no out-edges) is dropped, the
# documented simplification of the classic formulation.
PR_ITERS = 3
PR_SCALE = 1_000_000_000


def pagerank_sql(dialect: str, n_seeds: int | None = None) -> str:
    """Centrality over the corpus KNN graph — the 'hubby' vectors a
    curation pipeline inspects for over-represented regions (a
    high-PageRank embedding sits in a dense, mutually-near
    neighborhood; diversity-aware sampling downweights it).

    The iteration is UNROLLED: each round is one contributions
    aggregate (edges ⋈ ranks, grouped by dst — a key-partitioned
    shuffle bounded by edge count) plus a left join back to nodes.
    Fixed PR_ITERS keeps the plan static (no driver-side convergence
    loop) and the unrolled CTE chain is the oracle twin — both
    engines run the same integer algebra, so the hash match proves
    the fixpoint algebra, not a float tolerance.

    Scale: per round, one shuffle on dst + one on vec_id; ranks and
    degrees are node-sized, edges KNN_K-bounded per node. At 1000
    executors the repeated lineage would be checkpointed per round
    (see operators/graph.py's reliable-checkpoint mode); at
    PR_ITERS=3 the plan stays comfortably analyzable.

    n_seeds=None (the registered default) rides the shared
    GRAPH_EDGE_BUILDER edge list (banded-LSH since r9); an explicit
    n_seeds pins the frozen flat-quantizer chain (scaling-contrast
    arms, tests/test_round5.py two-cell-count parity)."""
    div = "div" if dialect == "spark" else "//"
    mat = "MATERIALIZED " if dialect != "spark" else ""
    ctes = f"""{_graph_edge_head(dialect, n_seeds)}
        , nodes AS (SELECT vec_id FROM v)
        , nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM nodes)
        , outdeg AS {mat}(
            SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
            FROM edges GROUP BY src)
        , r0 AS (
            SELECT vec_id, CAST({PR_SCALE} {div} n_nodes AS BIGINT) AS r
            FROM nodes CROSS JOIN nn)"""
    prev = "r0"
    for i in range(1, PR_ITERS + 1):
        ctes += f"""
        , c{i} AS (
            SELECT e.dst AS vec_id,
                   CAST(SUM(p.r {div} d.deg) AS BIGINT) AS contrib
            FROM edges e
            JOIN {prev} p ON p.vec_id = e.src
            JOIN outdeg d ON d.src = e.src
            GROUP BY e.dst)
        , r{i} AS (
            SELECT n.vec_id,
                   CAST((15 * ({PR_SCALE} {div} nn.n_nodes)) {div} 100
                        + (85 * COALESCE(c.contrib, 0)) {div} 100
                        AS BIGINT) AS r
            FROM nodes n CROSS JOIN nn
            LEFT JOIN c{i} c ON c.vec_id = n.vec_id)"""
        prev = f"r{i}"
    return f"""{ctes}
        SELECT p.vec_id, p.r AS pagerank_e9,
               CAST(COALESCE(d.deg, 0) AS BIGINT) AS out_degree
        FROM {prev} p LEFT JOIN outdeg d ON d.src = p.vec_id
    """


def pagerank_iter_sql(edges_view: str, nodes_view: str) -> str:
    """Spark-side PageRank iteration over an ALREADY-MATERIALIZED
    edge relation. The unrolled rounds reference the edge list once
    per round; when the edges come from the KNN chain's cell
    self-join, Spark's ReuseExchange covers the shuffles but NOT the
    cross-join codegen, so each round used to re-evaluate the whole
    KNN construction (the most expensive query in the r2 bench).
    Materializing the edges first (localCheckpoint on a single node,
    reliable checkpoint on a cluster — same split as
    operators/graph.py) makes every round a scan of the cached edge
    blocks. Same integer algebra as pagerank_sql; the DuckDB oracle
    keeps the single-statement form with MATERIALIZED CTEs, which is
    that engine's spelling of the same materialize-once plan."""
    div = "div"
    ctes = f"""
        WITH nodes AS (SELECT vec_id FROM {nodes_view})
        , nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM nodes)
        , outdeg AS (
            SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
            FROM {edges_view} GROUP BY src)
        , r0 AS (
            SELECT vec_id, CAST({PR_SCALE} {div} n_nodes AS BIGINT) AS r
            FROM nodes CROSS JOIN nn)"""
    prev = "r0"
    for i in range(1, PR_ITERS + 1):
        ctes += f"""
        , c{i} AS (
            SELECT e.dst AS vec_id,
                   CAST(SUM(p.r {div} d.deg) AS BIGINT) AS contrib
            FROM {edges_view} e
            JOIN {prev} p ON p.vec_id = e.src
            JOIN outdeg d ON d.src = e.src
            GROUP BY e.dst)
        , r{i} AS (
            SELECT n.vec_id,
                   CAST((15 * ({PR_SCALE} {div} nn.n_nodes)) {div} 100
                        + (85 * COALESCE(c.contrib, 0)) {div} 100
                        AS BIGINT) AS r
            FROM nodes n CROSS JOIN nn
            LEFT JOIN c{i} c ON c.vec_id = n.vec_id)"""
        prev = f"r{i}"
    return f"""{ctes}
        SELECT p.vec_id, p.r AS pagerank_e9,
               CAST(COALESCE(d.deg, 0) AS BIGINT) AS out_degree
        FROM {prev} p LEFT JOIN outdeg d ON d.src = p.vec_id
    """


def pagerank_r0_sql(nodes_view: str) -> str:
    """Round-0 uniform rank row set — same algebra as the r0 CTE of
    the composed forms."""
    return f"""
        SELECT vec_id,
               CAST({PR_SCALE} div nn.n_nodes AS BIGINT) AS r
        FROM {nodes_view} CROSS JOIN (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes
            FROM {nodes_view}) nn
    """


def pagerank_round_sql(edges_view: str, nodes_view: str,
                       outdeg_view: str, prev_view: str) -> str:
    """One damped power-iteration round over materialized relations
    — identical integer algebra to one c{i}/r{i} CTE pair of the
    composed oracle forms."""
    return f"""
        WITH c AS (
            SELECT e.dst AS vec_id,
                   CAST(SUM(p.r div d.deg) AS BIGINT) AS contrib
            FROM {edges_view} e
            JOIN {prev_view} p ON p.vec_id = e.src
            JOIN {outdeg_view} d ON d.src = e.src
            GROUP BY e.dst)
        , nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes
                 FROM {nodes_view})
        SELECT n.vec_id,
               CAST((15 * ({PR_SCALE} div nn.n_nodes)) div 100
                    + (85 * COALESCE(c.contrib, 0)) div 100
                    AS BIGINT) AS r
        FROM {nodes_view} n CROSS JOIN nn
        LEFT JOIN c ON c.vec_id = n.vec_id
    """


def pagerank_outdeg_sql(edges_view: str) -> str:
    return f"""
        SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
        FROM {edges_view} GROUP BY src
    """


def _edges_df(
    spark: SparkSession, sf_dir: str, n_seeds: int | None
) -> DataFrame:
    """Directed (src, dst) edge DataFrame for the Spark-side graph
    operators: the shared GRAPH_EDGE_BUILDER (n_seeds=None, the
    registered default) or the pinned flat chain (contrast arms)."""
    if n_seeds is None:
        return graph_edges(spark, sf_dir).selectExpr(
            "vec_id AS src", "neighbor_id AS dst"
        )
    return spark.sql(
        f"""{_knn_ctes('spark', n_seeds)}
        SELECT vec_id AS src, neighbor_id AS dst
        FROM ranked WHERE rnk <= {KNN_K}
        """
    )


def pagerank_knn(
    spark: SparkSession,
    sf_dir: str,
    n_seeds: int | None = None,
    checkpoint_mode: str = "local",
) -> DataFrame:
    """Build the KNN edge list ONCE (eager checkpoint cuts the
    lineage so no round re-runs the cell self-join), then iterate
    over the materialized edges. checkpoint_mode mirrors
    operators/graph.connected_components: 'local' (single-node
    test/default) vs 'reliable' (replicated checkpoint files — the
    cluster deployment mode, checkpoint dir must already be set on
    the SparkContext); the iteration SQL is engine-identical to the
    oracle's MATERIALIZED-CTE form."""
    from ..tables import load_table

    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView(
        "embeddings"
    )
    edges = _edges_df(spark, sf_dir, n_seeds)
    if checkpoint_mode == "reliable":
        edges = edges.checkpoint(eager=True)
    elif checkpoint_mode == "local":
        edges = edges.localCheckpoint()
    else:
        raise ValueError(f"unknown checkpoint_mode: {checkpoint_mode!r}")
    edges.createOrReplaceTempView("knn_edges_mat")
    return spark.sql(pagerank_iter_sql("knn_edges_mat", "embeddings"))


def _run(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    # DIMS is fixed by the data contract (64); tests/test_similarity
    # validate it — no extra job here in the query path.
    from ..tables import load_table

    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings")
    return spark.sql(sql)


def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, sf_dir, topk_sql("spark"))


def near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, sf_dir, near_dup_sql("spark"))


def near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # driver-side count picks the exact band width (auto_r_bits) so
    # the Spark plan compiles only the bits it needs; the oracle
    # twin keeps the in-SQL structural form — same partition, same
    # rows (tests/test_self_sizing_dials.py).
    #
    # STAGED build (r9, the knn_graph_lsh pattern, guide §1.2/§2.4):
    # the single-statement form re-computed the N_BANDS·r_bits
    # sign-bit subtree on BOTH sides of the band self-join over a
    # 1-3-split scan (~144 KB plan, two serial single-task stages).
    # Compute `keys` once over a fanned-out scan (fanout_scan is a
    # no-op when the scan already plans ≥ defaultParallelism
    # splits), materialize (localCheckpoint; df.checkpoint against a
    # replicated dir on a cluster — the operators/graph.py split),
    # and run the band-join + exact-verify tail over the
    # materialized keys. Same expressions and candidates ⇒
    # row-identical to the oracle's single-statement form.
    from ..tables import fanout_scan, load_table

    bits = auto_r_bits(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    fanout_scan(spark, emb).createOrReplaceTempView("embeddings")
    ctes = _lsh_band_ctes(
        "spark", r_bits=bits, prefix_planes=True, with_cand=False
    )
    keys = spark.sql(f"WITH {ctes} SELECT * FROM keys").localCheckpoint()
    emb.createOrReplaceTempView("embeddings")  # restore the plain view
    keys.createOrReplaceTempView("nd_keys_mat")
    key_arr = ", ".join(f"k{b}" for b in range(N_BANDS))
    return spark.sql(
        f"""
        WITH lshv AS (
            SELECT vec_id, embedding, {_norm('embedding', 'spark')} AS nrm
            FROM embeddings)
        , bands AS (
            SELECT vec_id, band_idx, band_key
            FROM nd_keys_mat
            LATERAL VIEW posexplode(array({key_arr})) AS band_idx, band_key)
        , cand AS (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM bands a
            JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_key = b.band_key
             AND a.vec_id < b.vec_id){_near_dup_tail_sql('spark')}"""
    )


def centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, sf_dir, centroids_sql("spark"))


def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, sf_dir, ivf_topk_sql("spark"))


def ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, sf_dir, ivf_multiprobe_sql("spark"))


def semdedup(
    spark: SparkSession, sf_dir: str, n_seeds: int | None = None
) -> DataFrame:
    return _run(spark, sf_dir, semdedup_sql("spark", n_seeds))


def quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, sf_dir, quantize_sql("spark"))


def ivf_cell_stats(
    spark: SparkSession, sf_dir: str, n_seeds: int = N_SEEDS
) -> DataFrame:
    return _run(spark, sf_dir, ivf_cell_stats_sql("spark", n_seeds))


def knn_graph(
    spark: SparkSession, sf_dir: str, n_seeds: int | None = None
) -> DataFrame:
    return _run(spark, sf_dir, knn_graph_sql("spark", n_seeds))



# ---------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011, "Product Quantization for
# Nearest Neighbor Search"): split the 64-dim space into PQ_M
# subspaces of DIMS/PQ_M dims, quantize each subvector to the nearest
# of PQ_K codewords, and answer top-k via ADC (asymmetric distance
# computation) — a per-query lookup table of query-subvector ×
# codeword partial inner products, so scoring a database vector is
# PQ_M table lookups + PQ_M-1 adds instead of a 64-dim dot product.
#
# Codebook: the subvectors of the seed vectors (vec_id < PQ_K) — the
# same deterministic k-means stand-in the IVF path uses (seeds are
# SQL-expressible cross-engine; a trained codebook drops in without
# changing any plan shape).
#
# Scale design (100 TB): codes are PQ_M small ints per vector, built
# with ONE broadcast cross join against the PQ_K-row codebook; the
# ADC LUT is |queries| x PQ_K x PQ_M partials — broadcast-sized by
# construction — and the scoring join fans the (narrow) codes table
# against it with NO shuffle of the corpus and no touch of the raw
# embedding column at query time. Determinism: all double math is
# fixed-order left-associated (the ADC sum is an explicit
# (((p0+p1)+p2)+...) chain, never an aggregate over unordered rows),
# so Spark and DuckDB agree bit-for-bit.

PQ_M = 8  # subspaces
PQ_SUB = DIMS // PQ_M  # dims per subspace
PQ_K = 32  # codewords per subspace: vec_id < PQ_K subvectors


def _lut_broadcast_hint(dialect: str) -> str:
    """Broadcast hint for the ADC LUT joins. The LUT is |queries| x
    PQ_K rows — bounded by constants, never corpus-sized — so every
    l0..l{PQ_M-1} join side must broadcast; Catalyst's size estimate
    for the CTE (behind aggregates and a cross join) is unknown and
    can silently fall back to SortMergeJoin, shuffling the
    corpus-sized codes table PQ_M times. DuckDB parses the hint as a
    plain comment."""
    if dialect != "spark":
        return ""
    aliases = ", ".join(f"l{s}" for s in range(PQ_M))
    return f"/*+ BROADCAST({aliases}) */ "


def _normalized(dialect: str) -> str:
    fn = "transform" if dialect == "spark" else "list_transform"
    return f"{fn}(embedding, x -> CAST(x AS DOUBLE) / nrm)"


def _sub_slice(col: str, s: int, dialect: str) -> str:
    off = s * PQ_SUB
    if dialect == "spark":
        return f"slice({col}, {off + 1}, {PQ_SUB})"
    return f"{col}[{off + 1}:{off + PQ_SUB}]"


def _sub_fold(a: str, b: str, s: int, dialect: str, op: str) -> str:
    """Left-associated double fold over one subspace of two
    normalized (already-double) arrays; op is 'dot' or 'l2'."""
    if dialect == "spark":
        body = "(x - y) * (x - y)" if op == "l2" else "x * y"
        return (
            f"aggregate(zip_with({_sub_slice(a, s, dialect)}, "
            f"{_sub_slice(b, s, dialect)}, (x, y) -> {body}), "
            "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    off = s * PQ_SUB
    terms = []
    for i in range(off + 1, off + PQ_SUB + 1):
        if op == "l2":
            terms.append(f"(({a}[{i}] - {b}[{i}]) * ({a}[{i}] - {b}[{i}]))")
        else:
            terms.append(f"({a}[{i}] * {b}[{i}])")
    return " + ".join(terms)


def _pq_code_chain(vrel: str, dialect: str) -> str:
    """cb → dist → ranked → codes CTE chain from a normalized-vector
    relation `vrel` (columns vec_id, e). Shared verbatim by the
    composed oracle form (vrel = the inline `v` CTE) and the
    materialized-serving build (vrel = the checkpointed vnorm view),
    so the two paths cannot drift."""
    dists = ",\n                   ".join(
        f"{_sub_fold('v.e', 'cb.ce', s, dialect, 'l2')} AS d{s}"
        for s in range(PQ_M)
    )
    ranks = ",\n                   ".join(
        f"row_number() OVER (PARTITION BY vec_id "
        f"ORDER BY d{s} ASC, cw ASC) AS r{s}"
        for s in range(PQ_M)
    )
    code_cols = ",\n                   ".join(
        f"CAST(MAX(CASE WHEN r{s} = 1 THEN cw END) AS BIGINT) AS c{s}"
        for s in range(PQ_M)
    )
    return f"""cb AS (
            SELECT vec_id AS cw, e AS ce FROM {vrel}
            WHERE vec_id < {PQ_K})
        , dist AS (
            SELECT v.vec_id, cb.cw,
                   {dists}
            FROM {vrel} v CROSS JOIN cb)
        , ranked AS (
            SELECT vec_id, cw,
                   {ranks}
            FROM dist)
        , codes AS (
            SELECT vec_id,
                   {code_cols}
            FROM ranked GROUP BY vec_id)
    """


def _pq_base_ctes(dialect: str) -> str:
    return f"""
        WITH raw AS (
            SELECT vec_id, embedding, {_norm('embedding', dialect)} AS nrm
            FROM embeddings)
        , v AS (
            SELECT vec_id, {_normalized(dialect)} AS e FROM raw)
        , {_pq_code_chain('v', dialect)}
    """


def pq_codes_sql(dialect: str) -> str:
    cols = ", ".join(f"c{s}" for s in range(PQ_M))
    return f"""{_pq_base_ctes(dialect)}
        SELECT vec_id, {cols} FROM codes
    """


def _pq_lut_ctes(vrel: str, dialect: str) -> str:
    """q + qcb + lut CTEs from a normalized-vector relation. `qcb`
    (not `cb`) so the chain composes with BOTH the oracle form
    (where a `cb` CTE already exists) and the serving form (where
    the codes come from a materialized view and no cb exists) —
    identical rows either way, PQ_K-bounded."""
    luts = ",\n                   ".join(
        f"{_sub_fold('q.qe', 'qcb.ce', s, dialect, 'dot')} AS p{s}"
        for s in range(PQ_M)
    )
    return f"""q AS (
            SELECT vec_id AS query_id, e AS qe FROM {vrel}
            WHERE vec_id < {N_QUERIES})
        , qcb AS (
            SELECT vec_id AS cw, e AS ce FROM {vrel}
            WHERE vec_id < {PQ_K})
        , lut AS (
            SELECT q.query_id, qcb.cw,
                   {luts}
            FROM q CROSS JOIN qcb)
    """


def _pq_adc_scored(codes_rel: str, dialect: str) -> str:
    joins = "\n            ".join(
        f"JOIN lut l{s} ON l{s}.query_id = l0.query_id "
        f"AND l{s}.cw = c.c{s}"
        for s in range(1, PQ_M)
    )
    adc = "l0.p0"
    for s in range(1, PQ_M):
        adc = f"({adc} + l{s}.p{s})"
    return f"""scored AS (
            SELECT {_lut_broadcast_hint(dialect)}l0.query_id, c.vec_id AS neighbor_id,
                   {adc} AS adc
            FROM {codes_rel} c
            JOIN lut l0 ON l0.cw = c.c0
            {joins}
            WHERE c.vec_id <> l0.query_id)
    """


def _pq_topk_tail(codes_rel: str, dialect: str) -> str:
    return f"""{_pq_adc_scored(codes_rel, dialect)}
        , out AS (
            SELECT query_id, neighbor_id, adc,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY adc DESC, neighbor_id ASC) AS rn
            FROM scored)
        SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS pq_rank,
               ROUND(adc, 6) AS adc_score
        FROM out WHERE rn <= {TOPK}
    """


def pq_topk_sql(dialect: str) -> str:
    return f"""{_pq_base_ctes(dialect)}
        , {_pq_lut_ctes('v', dialect)}
        , {_pq_topk_tail('codes', dialect)}"""


def pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, sf_dir, pq_codes_sql("spark"))


PQ_SHORTLIST = TOPK * 10  # ADC candidates fed to the exact re-rank


def pq_rerank_topk_sql(dialect: str) -> str:
    """Two-stage retrieval, the production PQ deployment (Jégou et
    al. §V): ADC over compressed codes produces a PQ_SHORTLIST-sized
    candidate set per query (cheap, code-only), then EXACT cosine
    re-ranks just those candidates — the full-precision column is
    touched for |q| x PQ_SHORTLIST rows instead of the whole corpus.
    With the untrained seed codebook, pure-ADC recall@5 is ~0.25 but
    the top-50 shortlist already contains ~0.8 of the true top-5
    (pinned in pytest) — the re-rank recovers exactly that, which is
    why real systems always pair PQ with a re-rank stage."""
    return f"""{_pq_base_ctes(dialect)}
        , {_pq_lut_ctes('v', dialect)}
        , {_pq_rerank_tail('codes', 'v', dialect)}"""


def _pq_rerank_tail(codes_rel: str, vrel: str, dialect: str) -> str:
    return f"""{_pq_adc_scored(codes_rel, dialect)}
        , short AS (
            SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       row_number() OVER (
                           PARTITION BY query_id
                           ORDER BY adc DESC, neighbor_id ASC) AS rn
                FROM scored) s
            WHERE rn <= {PQ_SHORTLIST})
        , rescored AS (
            SELECT s.query_id, s.neighbor_id,
                   {_dot('qv.e', 'nv.e', dialect)} AS cos
            FROM short s
            JOIN {vrel} qv ON qv.vec_id = s.query_id
            JOIN {vrel} nv ON nv.vec_id = s.neighbor_id)
        , out AS (
            SELECT query_id, neighbor_id, cos,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY cos DESC, neighbor_id ASC) AS rn
            FROM rescored)
        SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS nn_rank,
               ROUND(cos, 6) AS cosine
        FROM out WHERE rn <= {TOPK}
    """


# ---------------------------------------------------------------------------
# Materialized PQ serving (r5 verdict item 1): the codebook/codes
# tables are pure functions of the corpus — the production shape
# builds them ONCE (index build) and serves top-k from the
# materialized tables, exactly the _gate_map discipline the curation
# keep-lists use. The composed *_sql forms above remain the
# cross-engine ORACLE; the builders below emit the Spark SERVING
# split over pre-registered temp views. Every CTE chain is shared
# with the oracle form, so the two paths cannot drift and serving
# output is bit-equal.
# ---------------------------------------------------------------------------


def vnorm_sql(dialect: str = "spark") -> str:
    """Normalized-vector table (vec_id, e) — the shared first stage
    of every PQ / IVF-PQ plan, materialized once per session."""
    return f"""
        WITH raw AS (
            SELECT vec_id, embedding, {_norm('embedding', dialect)} AS nrm
            FROM embeddings)
        SELECT vec_id, {_normalized(dialect)} AS e FROM raw
    """


def pq_codes_build_sql(v_table: str) -> str:
    """Index build: PQ codes from the materialized vnorm view.

    r9 (guide §2.2): the per-subspace argmin runs as
    min(struct(d_s, cw)) in ONE hash aggregate with map-side
    partial aggregation — the dual-dialect chain's eight
    row_number windows were eight corpus×PQ_K sorts behind one
    exchange. struct comparison is lexicographic (d ASC, cw ASC),
    exactly each window's order key, so the winners are identical;
    the composed DuckDB oracle keeps the window chain and the
    driver's rows+schema+hash gate pins the equality."""
    dists = ",\n                   ".join(
        f"{_sub_fold('v.e', 'cb.ce', s, 'spark', 'l2')} AS d{s}"
        for s in range(PQ_M)
    )
    code_cols = ",\n                   ".join(
        f"CAST(min(struct(d{s}, cw)).cw AS BIGINT) AS c{s}"
        for s in range(PQ_M)
    )
    return f"""
        WITH cb AS (
            SELECT vec_id AS cw, e AS ce FROM {v_table}
            WHERE vec_id < {PQ_K})
        , dist AS (
            SELECT v.vec_id, cb.cw,
                   {dists}
            FROM {v_table} v CROSS JOIN cb)
        SELECT vec_id,
               {code_cols}
        FROM dist GROUP BY vec_id
    """


def pq_topk_serve_sql(v_table: str, codes_table: str) -> str:
    """Serve ADC top-k from materialized codes: the only corpus-
    sized input is the narrow codes view; the raw embedding column
    is touched just for the PQ_K-bounded codebook + query slice."""
    return f"""
        WITH {_pq_lut_ctes(v_table, 'spark')}
        , {_pq_topk_tail(codes_table, 'spark')}"""


def pq_rerank_serve_sql(v_table: str, codes_table: str) -> str:
    """Serve shortlist + exact re-rank from materialized codes; the
    re-rank probes the materialized vnorm view for candidate rows
    only."""
    return f"""
        WITH {_pq_lut_ctes(v_table, 'spark')}
        , {_pq_rerank_tail(codes_table, v_table, 'spark')}"""


# ---------------------------------------------------------------------------
# Trained IVF: k-means (Lloyd) over int8-quantized vectors, unrolled
# fixed iterations, all-integer distance algebra.
# ---------------------------------------------------------------------------

KM_ITERS = 2


def kmeans_sql(dialect: str, n_seeds: int = N_SEEDS) -> str:
    """K-means training for the IVF coarse quantizer — the step the
    seed-based IVF queries skip (they use raw vectors vec_id <
    N_SEEDS as cells; ann_ivf_cell_stats watches the resulting
    imbalance). Two unrolled Lloyd rounds over INT8-QUANTIZED
    vectors: distances are integer L2² sums and centroid updates are
    floor-divided integer means, so both engines run identical
    algebra — the standard trick for making iterative float training
    reproducible (quantize first, train in integers).

    Per round: one join on the dim key (|v| x KM_K x DIMS rows — the
    canonical k-means cost, linear in each factor), one argmin rank
    window per vector, one (cid, dim) aggregate whose size is
    KM_K x DIMS — a constant-bounded table that broadcasts into the
    next round. Empty cells drop out deterministically (standard
    Lloyd behavior).

    Output: each vector's final cell, its integer L2² to the trained
    centroid, and the round-1 distance for the same vector — the
    pytest law pins total WSS(round 2) <= WSS(round 1), Lloyd's
    monotone-improvement property surviving integer rounding."""
    return f"""{_kmeans_ctes(dialect, n_seeds)}
        SELECT f.vec_id, f.cid AS cell, f.dist2,
               p.dist2 AS dist2_round1
        FROM asg{KM_ITERS} f JOIN asg1 p ON p.vec_id = f.vec_id
    """


def _kmeans_ctes(dialect: str, n_seeds: int = N_SEEDS) -> str:
    """The Lloyd-training CTE chain (ends at asg{KM_ITERS}: each
    vector's trained cell + integer L2²), shared by the training
    query and the trained-quantizer ANN search."""
    div = "div" if dialect == "spark" else "//"
    if dialect == "spark":
        explode = """
        e AS (
            SELECT vec_id, p + 1 AS dim, CAST(xe AS DOUBLE) AS x
            FROM embeddings
            LATERAL VIEW posexplode(embedding) AS p, xe)
        """
    else:
        explode = """
        e AS (
            SELECT vec_id, d.dim AS dim,
                   CAST(embedding[d.dim] AS DOUBLE) AS x
            FROM embeddings,
                 (SELECT CAST(unnest(range(1, 65)) AS BIGINT) AS dim) d)
        """
    mat = "MATERIALIZED " if dialect != "spark" else ""
    sql = f"""
        WITH {explode}
        , ei AS (
            SELECT vec_id, dim,
                   CAST(FLOOR(x * 1000000) AS BIGINT) AS xi
            FROM e)
        , stats AS {mat}(
            SELECT dim, MIN(xi) AS lo, MAX(xi) AS hi FROM ei GROUP BY dim)
        , codes AS {mat}(
            SELECT ei.vec_id, ei.dim,
                   CASE WHEN s.hi = s.lo THEN 0
                        ELSE ((ei.xi - s.lo) * 256) {div} (s.hi - s.lo + 1)
                   END AS cx
            FROM ei JOIN stats s ON ei.dim = s.dim)
        , c0 AS (
            SELECT vec_id AS cid, dim, cx AS cc FROM codes
            WHERE vec_id < {n_seeds})"""
    prev = "c0"
    for i in range(1, KM_ITERS + 1):
        sql += f"""
        , d{i} AS {mat}(
            SELECT v.vec_id, c.cid,
                   CAST(SUM((v.cx - c.cc) * (v.cx - c.cc)) AS BIGINT)
                       AS dist2
            FROM codes v JOIN {prev} c ON v.dim = c.dim
            GROUP BY v.vec_id, c.cid)
        , asg{i} AS {mat}(
            SELECT vec_id, cid, dist2 FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY vec_id
                    ORDER BY dist2 ASC, cid ASC) AS rn
                FROM d{i}) r WHERE rn = 1)
        , c{i} AS (
            SELECT a.cid, v.dim,
                   CAST(SUM(v.cx) {div} COUNT(*) AS BIGINT) AS cc
            FROM asg{i} a JOIN codes v ON v.vec_id = a.vec_id
            GROUP BY a.cid, v.dim)"""
        prev = f"c{i}"
    return sql


def kmeans_cells(
    spark: SparkSession, sf_dir: str, n_seeds: int = N_SEEDS
) -> DataFrame:
    return _run(spark, sf_dir, kmeans_sql("spark", n_seeds))


def kmeans_topk_sql(dialect: str, n_seeds: int = N_SEEDS) -> str:
    """ANN search through the TRAINED coarse quantizer: each query
    vector probes its own trained cell and ranks cell-mates by exact
    cosine — the serving-side complement of ann_ivf_kmeans (which
    only trains/assigns) and the trained twin of ann_ivf_topk (which
    probes raw seed cells). This is the standard IVF deployment
    shape: train the codebook offline, assign the corpus once, probe
    k cells at query time (here nprobe=1; multiprobe composes the
    same way as ivf_multiprobe_sql).

    Scale: the Lloyd chain is the training cost (see kmeans_sql);
    search adds one cell-keyed equi-join of queries to cell-mates
    (never corpus²) and a per-query rank window."""
    return f"""{_kmeans_ctes(dialect, n_seeds)}
        , vv AS (
            SELECT vec_id, embedding, {_norm('embedding', dialect)} AS nrm
            FROM embeddings)
        , cellmap AS (SELECT vec_id, cid AS cell FROM asg{KM_ITERS})
        , qq AS (
            SELECT m.vec_id AS query_id, m.cell, v.embedding AS qe,
                   v.nrm AS qn
            FROM cellmap m JOIN vv v ON v.vec_id = m.vec_id
            WHERE m.vec_id < {N_QUERIES})
        , cand AS (
            SELECT q.query_id, c.vec_id AS neighbor_id,
                   ({_dot('c.embedding', 'q.qe', dialect)})
                       / (c.nrm * q.qn) AS cos
            FROM qq q
            JOIN cellmap m ON m.cell = q.cell AND m.vec_id <> q.query_id
            JOIN vv c ON c.vec_id = m.vec_id)
        , rankedq AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id ASC) AS rnk
            FROM cand)
        SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS nn_rank,
               CAST(FLOOR(cos * 1000000) AS BIGINT) AS cos_e6
        FROM rankedq WHERE rnk <= {TOPK}
    """


def kmeans_topk(
    spark: SparkSession, sf_dir: str, n_seeds: int = N_SEEDS
) -> DataFrame:
    return _run(spark, sf_dir, kmeans_topk_sql("spark", n_seeds))


def kmeans_multiprobe_sql(
    dialect: str, n_seeds: int = N_SEEDS, nprobe: int = 2
) -> str:
    """nprobe-cell search through the trained quantizer: each query
    probes its ``nprobe`` nearest trained centroids (ranked by the
    SAME integer L2² the training loop uses — d{KM_ITERS} already
    holds every query×centroid distance, so probing costs nothing
    extra) and exact-cosine ranks the union of cell-mates. Recall is
    monotone in nprobe: a candidate that displaces a true top-k
    neighbor has higher cosine, hence is itself in the exact top-k —
    pinned in pytest like the seed-cell multiprobe."""
    return f"""{_kmeans_ctes(dialect, n_seeds)}
        , vv AS (
            SELECT vec_id, embedding, {_norm('embedding', dialect)} AS nrm
            FROM embeddings)
        , cellmap AS (SELECT vec_id, cid AS cell FROM asg{KM_ITERS})
        , qcells AS (
            SELECT vec_id AS query_id, cid AS cell FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY vec_id
                    ORDER BY dist2 ASC, cid ASC) AS pr
                FROM d{KM_ITERS} WHERE vec_id < {N_QUERIES}) p
            WHERE pr <= {nprobe})
        , qq AS (
            SELECT q.query_id, q.cell, v.embedding AS qe, v.nrm AS qn
            FROM qcells q JOIN vv v ON v.vec_id = q.query_id)
        , cand AS (
            SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id,
                   ({_dot('c.embedding', 'q.qe', dialect)})
                       / (c.nrm * q.qn) AS cos
            FROM qq q
            JOIN cellmap m ON m.cell = q.cell AND m.vec_id <> q.query_id
            JOIN vv c ON c.vec_id = m.vec_id)
        , rankedq AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id ASC) AS rnk
            FROM cand)
        SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS nn_rank,
               CAST(FLOOR(cos * 1000000) AS BIGINT) AS cos_e6
        FROM rankedq WHERE rnk <= {TOPK}
    """


def kmeans_multiprobe(
    spark: SparkSession, sf_dir: str, n_seeds: int = N_SEEDS
) -> DataFrame:
    return _run(spark, sf_dir, kmeans_multiprobe_sql("spark", n_seeds))


def kmeans_qdist_sql(n_seeds: int = N_SEEDS) -> str:
    """Index build (r6 verdict item 4): the query→centroid integer
    L2² distance table from the trained chain — the probe-ranking
    input every multiprobe arm shares — restricted to the N_QUERIES
    query rows so the materialized view is |Q|×KM_K."""
    return f"""{_kmeans_ctes('spark', n_seeds)}
        SELECT vec_id, cid, dist2 FROM d{KM_ITERS}
        WHERE vec_id < {N_QUERIES}
    """


def kmeans_vv_sql() -> str:
    """Index build: (vec_id, embedding, nrm) — the exact-cosine
    side table trained-IVF serving probes. Same expression text as
    the inline arms, so serving floats are bit-identical to the
    composed-chain oracle."""
    return f"""
        SELECT vec_id, embedding, {_norm('embedding', 'spark')} AS nrm
        FROM embeddings
    """


def kmeans_multiprobe_serve_sql(
    nprobe: int,
    cellmap_view: str = "km_cellmap_mat",
    qdist_view: str = "km_qdist_mat",
    vv_view: str = "km_vv_mat",
) -> str:
    """Serve the nprobe-cell trained-IVF search from MATERIALIZED
    index views (r6 verdict item 4): the search tail is copied
    verbatim from kmeans_multiprobe_sql — only the Lloyd training
    chain is replaced by view reads, so each arm's answer is
    bit-equal to the inline-chain oracle while the sweep trains
    exactly once per session. Written WITH-free (nested subqueries)
    so arms embed directly as CTE bodies."""
    return f"""
        SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS nn_rank,
               CAST(FLOOR(cos * 1000000) AS BIGINT) AS cos_e6
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id ASC) AS rnk
            FROM (
                SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id,
                       ({_dot('c.embedding', 'q.qe', 'spark')})
                           / (c.nrm * q.qn) AS cos
                FROM (
                    SELECT qc.query_id, qc.cell, v.embedding AS qe,
                           v.nrm AS qn
                    FROM (
                        SELECT vec_id AS query_id, cid AS cell FROM (
                            SELECT *, row_number() OVER (
                                PARTITION BY vec_id
                                ORDER BY dist2 ASC, cid ASC) AS pr
                            FROM {qdist_view}) p
                        WHERE pr <= {nprobe}) qc
                    JOIN {vv_view} v ON v.vec_id = qc.query_id) q
                JOIN {cellmap_view} m ON m.cell = q.cell
                                     AND m.vec_id <> q.query_id
                JOIN {vv_view} c ON c.vec_id = m.vec_id) cand) r
        WHERE rnk <= {TOPK}
    """


# ---------------------------------------------------------------------------
# Binary (sign-bit) quantization + Hamming-distance ANN with exact
# rerank — the 1-bit compression point of the quantization ladder
# (float32 -> int8 -> PQ -> sign bits: 256x smaller than the raw
# vectors, 32x smaller than int8).
# ---------------------------------------------------------------------------

SIGN_CAND = 50  # Hamming candidates reranked per query (10x topk)


def _sign_word(col: str, lo: int, dialect: str) -> str:
    """Bits for dims lo..lo+31 packed little-endian into one BIGINT.

    The sign rule is a float comparison (> 0), exact and identical
    across engines; the weights are integer literals, so the packed
    word is integer-exact on both sides."""
    terms = [
        f"(CASE WHEN {_elem(col, i, dialect)} > 0 "
        f"THEN CAST({1 << (i - lo)} AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END)"
        for i in range(lo, lo + 32)
    ]
    return "(" + " + ".join(terms) + ")"


def _xor(a: str, b: str, dialect: str) -> str:
    return f"({a} ^ {b})" if dialect == "spark" else f"xor({a}, {b})"


def sign_hamming_sql(
    dialect: str,
    topk: int = TOPK,
    n_queries: int = N_QUERIES,
    cand: int = SIGN_CAND,
) -> str:
    """Sign-bit ANN: quantize each 64-dim vector to 2 packed BIGINT
    words (one sign bit per dimension), scan by Hamming distance
    (``bit_count(xor)`` — two integer ops per comparison instead of
    64 multiply-adds), keep the ``cand`` closest codes per query,
    exact-cosine rerank only those, emit top-``topk``.

    Scale (100 TB): the packed-code table is 16 bytes/vector — a
    1e9-vector corpus is 16 GB of codes, scannable from memory on a
    modest executor fleet, while the float vectors (256 GB) are
    touched only for the ``n_queries * cand`` rerank rows. The query
    set is a bounded broadcast; the corpus is never shuffled (the
    only exchange carries |Q| * cand candidate rows to the rerank
    window). Ties in Hamming break on neighbor_id, rerank ties on
    exact cosine then neighbor_id — fully deterministic both sides.
    Recall vs the exact scan (embed_cosine_topk) is pinned in
    tests/test_similarity.py."""
    ham = (
        f"CAST(bit_count({_xor('q.qw1', 'v.w1', dialect)}) "
        f"+ bit_count({_xor('q.qw2', 'v.w2', dialect)}) AS BIGINT)"
    )
    return f"""
        WITH v AS (
            SELECT vec_id, embedding, {_norm('embedding', dialect)} AS nrm,
                   {_sign_word('embedding', 1, dialect)} AS w1,
                   {_sign_word('embedding', 33, dialect)} AS w2
            FROM embeddings)
        , q AS (
            SELECT vec_id AS query_id, embedding AS qe, nrm AS qn,
                   w1 AS qw1, w2 AS qw2
            FROM v WHERE vec_id < {n_queries})
        , ham AS (
            SELECT q.query_id, v.vec_id AS neighbor_id,
                   q.qe, q.qn, v.embedding AS ve, v.nrm AS vn,
                   {ham} AS hamming
            FROM q CROSS JOIN v WHERE v.vec_id <> q.query_id)
        , hranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY hamming ASC, neighbor_id ASC) AS hrn
            FROM ham)
        , rer AS (
            SELECT query_id, neighbor_id, hamming,
                   ({_dot('qe', 've', dialect)}) / (qn * vn) AS cos
            FROM hranked WHERE hrn <= {cand})
        , ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id ASC) AS rn
            FROM rer)
        SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS nn_rank,
               hamming, ROUND(cos, 6) AS cosine
        FROM ranked WHERE rn <= {topk}
    """


def sign_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, sf_dir, sign_hamming_sql("spark"))


# ---------------------------------------------------------------------------
# Community structure over the KNN graph: synchronous label
# propagation (Raghavan et al. 2007) and triangle counting /
# clustering coefficient — the neighborhood-structure diagnostics a
# curation pipeline runs beside PageRank (#121): LPA finds the dense
# semantic communities to balance, the clustering coefficient tells
# how "clumped" each vector's neighborhood is (high cc + high rank =
# an over-represented region).
# ---------------------------------------------------------------------------

LP_ITERS = 3


def _uedges_cte(mat: str) -> str:
    """Symmetrized (undirected) KNN edge relation: UNION of both
    directions dedups, so every neighbor pair appears exactly once
    per direction. Bounded by 2*KNN_K per node."""
    return f"""
        , uedges AS {mat}(
            SELECT src, dst FROM edges
            UNION
            SELECT dst AS src, src AS dst FROM edges)"""


def _lp_rounds(edges_rel: str, nodes_rel: str, div: str) -> str:
    """Unrolled synchronous LPA rounds. Each node's next label is the
    most frequent label among its neighbors AND itself (the self-vote
    keeps singletons stable); ties break to the smallest label —
    integer counts + total tie order make every round deterministic
    on both engines. Per round: one shuffle keyed by dst (label
    fan-out bounded by 2*KNN_K per node) + one count + one window."""
    ctes = f"""
        , l0 AS (SELECT vec_id, vec_id AS lbl FROM {nodes_rel})"""
    prev = "l0"
    for i in range(1, LP_ITERS + 1):
        ctes += f"""
        , nb{i} AS (
            SELECT e.dst AS vec_id, l.lbl
            FROM {edges_rel} e JOIN {prev} l ON l.vec_id = e.src
            UNION ALL
            SELECT vec_id, lbl FROM {prev})
        , cnt{i} AS (
            SELECT vec_id, lbl, CAST(COUNT(*) AS BIGINT) AS c
            FROM nb{i} GROUP BY vec_id, lbl)
        , l{i} AS (
            SELECT vec_id, lbl FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY vec_id
                    ORDER BY c DESC, lbl ASC) AS rn
                FROM cnt{i}) t
            WHERE rn = 1)"""
        prev = f"l{i}"
    return ctes, prev


def label_prop_sql(dialect: str, n_seeds: int | None = None) -> str:
    """Single-statement oracle form: KNN chain -> undirected edges ->
    unrolled LPA -> community sizes. MATERIALIZED on DuckDB for the
    same reason as pagerank_sql (CTE inlining re-evaluates the cell
    self-join per reference)."""
    div = "div" if dialect == "spark" else "//"
    mat = "MATERIALIZED " if dialect != "spark" else ""
    rounds, prev = _lp_rounds("uedges", "v", div)
    return f"""{_graph_edge_head(dialect, n_seeds)}
        {_uedges_cte(mat)}
        {rounds}
        , sizes AS (
            SELECT lbl, CAST(COUNT(*) AS BIGINT) AS community_size
            FROM {prev} GROUP BY lbl)
        SELECT p.vec_id, p.lbl AS community_id, s.community_size
        FROM {prev} p JOIN sizes s ON s.lbl = p.lbl
    """


def label_prop_iter_sql(edges_view: str, nodes_view: str) -> str:
    """Spark-side LPA over an ALREADY-MATERIALIZED undirected edge
    relation (same materialize-once pattern as pagerank_iter_sql:
    without the checkpoint every round's UNION ALL re-runs the KNN
    cell self-join)."""
    rounds, prev = _lp_rounds(edges_view, f"(SELECT vec_id FROM {nodes_view})", "div")
    return f"""
        WITH _dummy AS (SELECT 1)
        {rounds}
        , sizes AS (
            SELECT lbl, CAST(COUNT(*) AS BIGINT) AS community_size
            FROM {prev} GROUP BY lbl)
        SELECT p.vec_id, p.lbl AS community_id, s.community_size
        FROM {prev} p JOIN sizes s ON s.lbl = p.lbl
    """


def triangle_sql(dialect: str, n_seeds: int | None = None) -> str:
    """Triangle count + clustering coefficient per node over the
    undirected KNN graph. DEGREE-ORDERED orientation (the
    Schank/Wagner "forward" algorithm): each undirected edge points
    from its (degree, id)-smaller endpoint to the larger, a triangle
    a->b, a->c, b->c is found exactly once at its apex via a
    common-src two-path closed by the third directed edge. cc is the
    floor-bp of 2*T / (deg*(deg-1)) — integer-exact both engines.

    Scale: KNN OUT-degree is KNN_K-bounded but IN-degree is not
    (hub vectors sit in many top-k lists), so a naive id-ordered
    two-path join fans quadratically on hubs. Degree ordering bounds
    every node's oriented out-degree by O(sqrt(E)) regardless of
    skew — the standard distributed-triangle plan. Three linear
    shuffles keyed on edge endpoints; degrees are node-sized."""
    mat = "MATERIALIZED " if dialect != "spark" else ""
    div = "div" if dialect == "spark" else "//"
    return f"""{_graph_edge_head(dialect, n_seeds)}
        {_uedges_cte(mat)}
        {_tri_body("uedges", div, mat)}
    """


def _tri_body(uedges: str, div: str, mat: str = "") -> str:
    """Shared triangle-count tail over an undirected edge relation:
    degree table -> degree-ordered directed edges (carrying each
    endpoint's (degree, id) order key) -> apex two-path join ->
    corner credit -> cc."""
    return f"""
        , deg AS {mat}(
            SELECT src AS vec_id, CAST(COUNT(*) AS BIGINT) AS degree
            FROM {uedges} GROUP BY src)
        , de AS {mat}(
            SELECT u.src, u.dst, ds.degree AS sdeg, dd.degree AS ddeg
            FROM {uedges} u
            JOIN deg ds ON ds.vec_id = u.src
            JOIN deg dd ON dd.vec_id = u.dst
            WHERE ds.degree < dd.degree
               OR (ds.degree = dd.degree AND u.src < u.dst))
        , tri AS (
            SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
            FROM de e1
            JOIN de e2 ON e2.src = e1.src
                AND (e1.ddeg < e2.ddeg
                     OR (e1.ddeg = e2.ddeg AND e1.dst < e2.dst))
            JOIN de e3 ON e3.src = e1.dst AND e3.dst = e2.dst)
        , corner AS (
            SELECT a AS vec_id FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri)
        , tcount AS (
            SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS triangles
            FROM corner GROUP BY vec_id)
        SELECT d.vec_id, d.degree,
               CAST(COALESCE(t.triangles, 0) AS BIGINT) AS triangles,
               CASE WHEN d.degree >= 2 THEN
                   (20000 * COALESCE(t.triangles, 0))
                       {div} (d.degree * (d.degree - 1))
               ELSE CAST(0 AS BIGINT) END AS clustering_bp
        FROM deg d LEFT JOIN tcount t ON t.vec_id = d.vec_id"""


def triangle_iter_sql(edges_view: str) -> str:
    """Spark-side triangle count over the materialized undirected
    edges (the directed relation is referenced three times — the
    checkpoint keeps each reference a cached-block scan instead of a
    KNN-chain re-run)."""
    return f"""
        WITH _dummy AS (SELECT 1)
        {_tri_body(edges_view, "div")}
    """


# ---------------------------------------------------------------------------
# Link prediction on the KNN graph: common-neighbor Jaccard for
# NON-adjacent pairs — the "suggest merge" review list a curation
# pipeline ranks after community detection (two docs that share many
# graph neighbors but missed each other's top-k are likely the same
# cluster split by the k cutoff).
# ---------------------------------------------------------------------------

LP_WITNESS_CAP = 64  # hub nodes above this degree don't serve as witnesses
LP_MIN_COMMON = 2


def _link_pred_body(uedges: str, div: str, mat: str = "") -> str:
    """Shared tail: common-neighbor enumeration is inherently
    Θ(Σ deg(w)²) over witness nodes w — the SAME hub hazard the
    triangle counter dodges with degree ordering, but here both
    orientations of every two-hop path are needed, so the standard
    mitigation is a WITNESS CAP (precedent: dedup_containment's
    shingle df-cap): nodes above LP_WITNESS_CAP degree are excluded
    as witnesses, making hub fan-out bounded and the reported common
    count a documented lower bound for hub-adjacent pairs (exact on
    this data — asserted in pytest). Denominator uses TRUE degrees,
    so the score is conservative. Non-adjacency enforced with a LEFT
    ANTI join against the edge list."""
    return f"""
        , deg AS {mat}(
            SELECT src AS vec_id, CAST(COUNT(*) AS BIGINT) AS degree
            FROM {uedges} GROUP BY src)
        , we AS {mat}(
            SELECT u.src, u.dst FROM {uedges} u
            JOIN deg d ON d.vec_id = u.src
            WHERE d.degree <= {LP_WITNESS_CAP})
        , two_hop AS (
            SELECT e1.dst AS u, e2.dst AS v,
                   CAST(COUNT(*) AS BIGINT) AS common
            FROM we e1 JOIN we e2
                 ON e1.src = e2.src AND e1.dst < e2.dst
            GROUP BY e1.dst, e2.dst)
        , nonadj AS (
            SELECT t.u, t.v, t.common
            FROM two_hop t
            LEFT JOIN {uedges} e ON e.src = t.u AND e.dst = t.v
            WHERE e.src IS NULL AND t.common >= {LP_MIN_COMMON})
        SELECT n.u AS vec_a, n.v AS vec_b, n.common AS common_neighbors,
               (10000 * n.common) {div} (da.degree + db.degree - n.common)
                   AS jaccard_bp
        FROM nonadj n
        JOIN deg da ON da.vec_id = n.u
        JOIN deg db ON db.vec_id = n.v"""


def link_pred_sql(dialect: str, n_seeds: int | None = None) -> str:
    """Single-statement oracle form (KNN chain -> undirected edges ->
    link scores); MATERIALIZED on DuckDB as usual."""
    div = "div" if dialect == "spark" else "//"
    mat = "MATERIALIZED " if dialect != "spark" else ""
    return f"""{_graph_edge_head(dialect, n_seeds)}
        {_uedges_cte(mat)}
        {_link_pred_body("uedges", div, mat)}
    """


def link_pred_iter_sql(edges_view: str) -> str:
    return f"""
        WITH _dummy AS (SELECT 1)
        {_link_pred_body(edges_view, "div")}
    """


# ---------------------------------------------------------------------------
# Greedy k-center (farthest-point traversal, Gonzalez 1985): the
# classic 2-approximation coreset selector — pick the point farthest
# from the chosen set, repeat. The diversity-sampling complement of
# sample_embed_diversity (quota by cell) and sample_importance_hash
# (weight-biased): k-center OPTIMIZES coverage of embedding space.
# ---------------------------------------------------------------------------

KC_CENTERS = 4
KC_SCALE = 1_000_000


def kcenter_sql(dialect: str, k: int = KC_CENTERS) -> str:
    """Unrolled greedy k-center. Distance = floor-e6 of cosine
    distance (1 - cos), computed by the same left-associated double
    chain as every cosine here, so both engines floor the identical
    IEEE value. Seed = min vec_id; each argmax breaks ties on min
    vec_id — fully deterministic.

    Scale: each round is ONE corpus pass against a 1-row broadcast
    (the newly chosen center) + a TakeOrdered argmax; min-dists fold
    via LEAST, so round t's pass costs the same as round 1 (the
    running min is carried as a column, not recomputed against all
    centers). k rounds = k linear passes, the textbook distributed
    k-center plan. Output is k rows (round, center, covering radius);
    radius monotonicity pinned in pytest."""
    mat = "MATERIALIZED " if dialect != "spark" else ""
    ctes = f"""
        WITH v AS {mat}(
            SELECT vec_id, embedding, {_norm('embedding', dialect)} AS nrm
            FROM embeddings)
        , c1 AS (
            SELECT vec_id, embedding, nrm FROM v
            WHERE vec_id = (SELECT MIN(vec_id) FROM v))
        , d1 AS {mat}(
            SELECT v.vec_id,
                   CAST(FLOOR((1 - ({_dot('v.embedding', 'c.embedding', dialect)})
                        / (v.nrm * c.nrm)) * {KC_SCALE}) AS BIGINT) AS d
            FROM v CROSS JOIN c1 c
            WHERE v.vec_id <> c.vec_id)"""
    for i in range(2, k + 1):
        ctes += f"""
        , s{i} AS (
            SELECT vec_id FROM d{i - 1}
            ORDER BY d DESC, vec_id ASC LIMIT 1)
        , c{i} AS (
            SELECT v.vec_id, v.embedding, v.nrm
            FROM v JOIN s{i} ON s{i}.vec_id = v.vec_id)
        , d{i} AS {mat}(
            SELECT p.vec_id,
                   LEAST(p.d,
                       CAST(FLOOR((1 - ({_dot('vv.embedding', 'c.embedding', dialect)})
                            / (vv.nrm * c.nrm)) * {KC_SCALE}) AS BIGINT))
                       AS d
            FROM d{i - 1} p
            JOIN v vv ON vv.vec_id = p.vec_id
            CROSS JOIN c{i} c
            WHERE p.vec_id <> c.vec_id)"""
    rows = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS sel_round, "
        f"(SELECT vec_id FROM c{i}) AS center_id, "
        f"(SELECT MAX(d) FROM d{i}) AS covering_radius_e6"
        for i in range(1, k + 1)
    )
    return f"""{ctes}
        {rows}
    """


def kcenter_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, sf_dir, kcenter_sql("spark"))


# ---------------------------------------------------------------------------
# MMR (Maximal Marginal Relevance, Carbonell & Goldstein 1998):
# diversified re-rank of an ANN shortlist — the serving-time
# complement of the offline diversity samplers (#131 quota, k-center
# coreset). score(c) = lambda*rel(c) - (1-lambda)*max sim(c, sel).
#
# Scale shape: the corpus is touched ONCE (the shortlist top-N, same
# plan as brute topk / an IVF probe at scale); every greedy round
# after that runs on |Q| x MMR_SHORTLIST rows with a join against
# the <= r-1 selected rows per query — all bounded by constants, so
# round t costs the same at any corpus size. Floats are the exact
# left-associated double chains shared with topk_sql, so argmax
# ties (broken by neighbor_id) agree across engines.
# ---------------------------------------------------------------------------

MMR_SHORTLIST = 8
MMR_SELECT = 3
MMR_LAMBDA_NUM = 7  # lambda = 0.7 as the exact rational 7/10
MMR_DEN = 10


def mmr_sql(dialect: str) -> str:
    """Unrolled greedy MMR over the cosine shortlist.

    score = (7*rel - 3*maxsim) / 10 computed in doubles from
    bit-identical cosines (exact small-integer scaling keeps the
    float ops identically associated in both dialects)."""
    ctes = f"""
        WITH v AS (
            SELECT vec_id, embedding, {_norm('embedding', dialect)} AS nrm
            FROM embeddings)
        , q AS (
            SELECT vec_id AS query_id, embedding AS qe, nrm AS qn
            FROM v WHERE vec_id < {N_QUERIES})
        , scored AS (
            SELECT q.query_id, v.vec_id AS neighbor_id, v.embedding, v.nrm,
                   ({_dot('q.qe', 'v.embedding', dialect)}) / (q.qn * v.nrm)
                       AS rel
            FROM q CROSS JOIN v WHERE v.vec_id <> q.query_id)
        , short AS (
            SELECT * FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY rel DESC, neighbor_id ASC) AS rn
                FROM scored) t
            WHERE rn <= {MMR_SHORTLIST})
        , pair AS (
            SELECT a.query_id, a.neighbor_id AS cand, b.neighbor_id AS sel,
                   ({_dot('a.embedding', 'b.embedding', dialect)})
                       / (a.nrm * b.nrm) AS sim
            FROM short a JOIN short b
              ON a.query_id = b.query_id
             AND a.neighbor_id <> b.neighbor_id)
        , sel1 AS (
            SELECT query_id, neighbor_id, rel,
                   rel AS score
            FROM short WHERE rn = 1)"""
    prev_sels = ["sel1"]
    for r in range(2, MMR_SELECT + 1):
        sel_union = " UNION ALL ".join(
            f"SELECT query_id, neighbor_id FROM {s}" for s in prev_sels
        )
        ctes += f"""
        , selset{r} AS ({sel_union})
        , cand{r} AS (
            SELECT s.query_id, s.neighbor_id, s.rel,
                   MAX(p.sim) AS maxsim
            FROM short s
            JOIN pair p ON p.query_id = s.query_id
                       AND p.cand = s.neighbor_id
            JOIN selset{r} ss ON ss.query_id = p.query_id
                             AND ss.neighbor_id = p.sel
            WHERE NOT EXISTS (
                SELECT 1 FROM selset{r} x
                WHERE x.query_id = s.query_id
                  AND x.neighbor_id = s.neighbor_id)
            GROUP BY s.query_id, s.neighbor_id, s.rel)
        , sel{r} AS (
            SELECT query_id, neighbor_id, rel,
                   ({MMR_LAMBDA_NUM} * rel - ({MMR_DEN} - {MMR_LAMBDA_NUM}) * maxsim)
                       / {MMR_DEN} AS score
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY ({MMR_LAMBDA_NUM} * rel
                              - ({MMR_DEN} - {MMR_LAMBDA_NUM}) * maxsim) DESC,
                             neighbor_id ASC) AS rr
                FROM cand{r}) t
            WHERE rr = 1)"""
        prev_sels.append(f"sel{r}")
    rows = " UNION ALL ".join(
        f"SELECT query_id, neighbor_id, CAST({i} AS BIGINT) AS mmr_rank, "
        f"ROUND(rel, 6) AS relevance, ROUND(score, 6) AS mmr_score "
        f"FROM sel{i}"
        for i in range(1, MMR_SELECT + 1)
    )
    return f"""{ctes}
        {rows}
    """


def mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, sf_dir, mmr_sql("spark"))


# ---------------------------------------------------------------------------
# Embedding-distribution drift: per-label centroid displacement
# between the first and second half of the corpus (vec_id order as
# ingestion time) — the training-data distribution monitor run
# between pipeline epochs. Integer-exact: components are floored to
# e6 BEFORE any aggregation, centroids use floor division, the
# displacement is an integer L2^2 — no float accumulation anywhere.
#
# Scale shape: one explode to (label, dim) keyed rows, one hash
# aggregate with map-side partials (2*DIMS*|labels| output rows),
# then a DIMS-bounded join — no corpus-scale shuffle beyond the
# aggregate, nothing broadcast but the label-bounded result.
# ---------------------------------------------------------------------------

DRIFT_SCALE = 1_000_000


def label_drift_sql(dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    if dialect == "spark":
        ex = f"""
            SELECT label,
                   CASE WHEN vec_id < (SELECT (MAX(vec_id) + 1) {div} 2
                                       FROM embeddings)
                        THEN 0 ELSE 1 END AS half,
                   pos, CAST(FLOOR(CAST(comp AS DOUBLE) * {DRIFT_SCALE})
                             AS BIGINT) AS c_e6
            FROM (
                SELECT label, vec_id, posexplode(embedding) AS (pos, comp)
                FROM embeddings)"""
    else:
        ex = f"""
            SELECT label,
                   CASE WHEN vec_id < (SELECT (MAX(vec_id) + 1) {div} 2
                                       FROM embeddings)
                        THEN 0 ELSE 1 END AS half,
                   generate_subscripts(embedding, 1) - 1 AS pos,
                   CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE)
                              * {DRIFT_SCALE}) AS BIGINT) AS c_e6
            FROM embeddings"""
    return f"""
        WITH comps AS ({ex})
        , cent AS (
            SELECT label, half, pos,
                   CAST(SUM(c_e6) AS BIGINT) {div}
                       CAST(COUNT(*) AS BIGINT) AS c,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM comps GROUP BY label, half, pos)
        , paired AS (
            SELECT a.label, a.pos, a.c AS ca, b.c AS cb,
                   a.n AS n_first, b.n AS n_second
            FROM cent a JOIN cent b
              ON a.label = b.label AND a.pos = b.pos
            WHERE a.half = 0 AND b.half = 1)
        SELECT label,
               MIN(n_first) AS n_first,
               MIN(n_second) AS n_second,
               CAST(SUM((ca - cb) * (ca - cb)) AS BIGINT) AS drift_l2sq_e12
        FROM paired
        GROUP BY label
    """


def label_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, sf_dir, label_drift_sql("spark"))


# ---------------------------------------------------------------------------
# ANN recall observability: every approximate serving path scored
# against the exact top-k in ONE report — the index-quality dashboard
# a serving stack watches after each re-index. Re-uses the method
# SQL verbatim (composition, not reimplementation), so the report
# can never drift from the operators it audits.
#
# Scale shape: each method keeps its own plan (see each generator);
# the report adds only |methods| x |Q| x TOPK bounded rows, a
# (query, neighbor) equi-join against the exact top-k, and a
# |methods|x|Q|-bounded aggregate. At production SF the exact arm is
# the expensive one — it is already the documented correctness
# baseline (sampled queries in practice), and the report is
# explicitly the SAMPLED-query audit, never a full-corpus pass.
# ---------------------------------------------------------------------------


def recall_report_sql(dialect: str) -> str:
    # the graph-walk arm: single-statement form for the oracle
    # (MATERIALIZED KNN ctes), materialized-view form for Spark —
    # recall_report() registers greedy_edges_mat before running, so
    # the hop rounds never re-run the cell self-join inside the
    # report plan.
    if dialect == "spark":
        greedy = _greedy_view_sql()
    else:
        greedy = graph_greedy_topk_sql(dialect)
    methods = [
        ("ivf_seed", ivf_topk_sql(dialect)),
        ("ivf_kmeans", kmeans_topk_sql(dialect)),
        ("pq_adc", pq_topk_sql(dialect)),
        ("pq_rerank", pq_rerank_topk_sql(dialect)),
        ("sign_hamming", sign_hamming_sql(dialect)),
        ("graph_greedy", greedy),
    ]
    ctes = ",\n".join(
        f"m_{name} AS ({sql})" for name, sql in methods
    )
    union = "\nUNION ALL ".join(
        f"SELECT '{name}' AS method, query_id, neighbor_id FROM m_{name}"
        for name, _ in methods
    )
    return f"""
        WITH exact AS ({topk_sql(dialect)}),
        {ctes},
        methods AS ({union})
        SELECT m.method, m.query_id,
               CAST(COUNT(e.neighbor_id) AS BIGINT) AS hits,
               CAST((10000 * COUNT(e.neighbor_id)) {'div' if dialect == 'spark' else '//'} {TOPK}
                    AS BIGINT) AS recall_bp
        FROM methods m LEFT JOIN exact e
          ON e.query_id = m.query_id AND e.neighbor_id = m.neighbor_id
        GROUP BY m.method, m.query_id
    """


# (the Spark-side report now composes the arm QUERIES' gate-mapped
# results in registry.py — r6 verdict item 4; recall_report_sql
# remains the oracle generator)


# ---------------------------------------------------------------------------
# nprobe recall curve through the TRAINED quantizer: the
# quality-vs-cost dial of IVF serving, measured (recall is monotone
# in nprobe — each added cell only widens the candidate set, and a
# displacing candidate must itself be in the exact top-k).
# Scale: at production the trained cell map is materialized once
# offline; here each nprobe arm re-derives the bounded Lloyd chain
# (documented re-derivation, |probes| configs).
# ---------------------------------------------------------------------------

NPROBE_MAX = 4


def kmeans_scored_probe_build_sql(
    nprobe_max: int = None,
    cellmap_view: str = "km_cellmap_mat",
    qdist_view: str = "km_qdist_mat",
    vv_view: str = "km_vv_mat",
) -> str:
    """ONE scored candidate table for the whole nprobe sweep (r9,
    guide §2.1): the serve chain at nprobe = NPROBE_MAX with each
    candidate's probe rank kept. A corpus vector lives in exactly
    one cell (the cellmap is the trained assignment), so candidate
    (q, v) has a unique probe rank pr = rank of cell(v) among q's
    probed cells — arm p's candidate set is exactly `pr <= p`, and
    the sweep's four corpus joins collapse to this one build.
    Callers _gate_map the result; each arm is then a query-
    partitioned row_number over the (tiny) materialized table."""
    nprobe_max = NPROBE_MAX if nprobe_max is None else nprobe_max
    return f"""
        SELECT DISTINCT q.query_id, m.vec_id AS neighbor_id, q.pr,
               ({_dot('c.embedding', 'q.qe', 'spark')})
                   / (c.nrm * q.qn) AS cos
        FROM (
            SELECT qc.query_id, qc.cell, qc.pr, v.embedding AS qe,
                   v.nrm AS qn
            FROM (
                SELECT vec_id AS query_id, cid AS cell, pr FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY vec_id
                        ORDER BY dist2 ASC, cid ASC) AS pr
                    FROM {qdist_view}) p
                WHERE pr <= {nprobe_max}) qc
            JOIN {vv_view} v ON v.vec_id = qc.query_id) q
        JOIN {cellmap_view} m ON m.cell = q.cell
                             AND m.vec_id <> q.query_id
        JOIN {vv_view} c ON c.vec_id = m.vec_id
    """


def kmeans_multiprobe_from_scored_sql(
    nprobe: int, scored_view: str = "km_scored_mat"
) -> str:
    """Arm p of the sweep served from the materialized scored table:
    identical rows to kmeans_multiprobe_serve_sql(p) — same candidate
    set (pr <= p), same rank order (cos DESC, neighbor_id ASC)."""
    return f"""
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id, row_number() OVER (
                PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id ASC) AS rnk
            FROM {scored_view} WHERE pr <= {nprobe}) r
        WHERE rnk <= {TOPK}
    """


def nprobe_curve_sql(dialect: str) -> str:
    arms = ",\n".join(
        f"mp{p} AS ({kmeans_multiprobe_sql(dialect, nprobe=p)})"
        for p in range(1, NPROBE_MAX + 1)
    )
    union = "\nUNION ALL ".join(
        f"SELECT CAST({p} AS BIGINT) AS nprobe, query_id, neighbor_id "
        f"FROM mp{p}"
        for p in range(1, NPROBE_MAX + 1)
    )
    idiv = "div" if dialect == "spark" else "//"
    return f"""
        WITH exact AS ({topk_sql(dialect)}),
        {arms},
        probes AS ({union})
        SELECT p.nprobe,
               CAST(COUNT(e.neighbor_id) AS BIGINT) AS hits,
               CAST((10000 * COUNT(e.neighbor_id))
                    {idiv} {N_QUERIES * TOPK} AS BIGINT)
                   AS mean_recall_bp
        FROM probes p LEFT JOIN exact e
          ON e.query_id = p.query_id AND e.neighbor_id = p.neighbor_id
        GROUP BY p.nprobe
    """


# (the Spark-side curve serves from the _km_index views in
# registry.py — r6 verdict item 4; nprobe_curve_sql remains the
# oracle generator)


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection audit: project 64-dim
# vectors to RP_DIMS with a FIXED ±1 matrix (signs derived offline
# from md5(i_j) parity — data-independent constants inlined as
# literals, so both engines run the identical arithmetic; no
# per-row hashing). The report is the norm-distortion ratio
# ||Px||²/(RP_DIMS·||x||²) per vector — E[ratio]=1 for ±1 JL
# matrices, and the concentration is what makes RP a legitimate
# pre-LSH compression rung.
#
# Scale: shuffle-free codegen projection (literal sign folds per
# output dim), one narrow output row per vector — the same
# per-row-projection shape as simhash/sign quantization.
# ---------------------------------------------------------------------------

RP_DIMS = 16


def _rp_signs() -> list[list[float]]:
    import hashlib

    return [
        [
            1.0
            if int(
                hashlib.md5(f"{i}_{j}".encode()).hexdigest()[:2], 16
            )
            % 2
            == 0
            else -1.0
            for i in range(DIMS)
        ]
        for j in range(RP_DIMS)
    ]


def rp_distortion_sql(dialect: str) -> str:
    signs = _rp_signs()
    if dialect == "spark":
        projs = []
        for j in range(RP_DIMS):
            arr = ", ".join(
                f"CAST({signs[j][i]} AS DOUBLE)" for i in range(DIMS)
            )
            projs.append(
                f"aggregate(zip_with(embedding, array({arr}), "
                "(x, s) -> CAST(x AS DOUBLE) * s), "
                f"CAST(0 AS DOUBLE), (acc, v) -> acc + v) AS p{j}"
            )
        proj_sql = ",\n                   ".join(projs)
    else:
        projs = []
        for j in range(RP_DIMS):
            terms = " + ".join(
                f"({signs[j][i]} * {_elem('embedding', i + 1, dialect)})"
                for i in range(DIMS)
            )
            projs.append(f"({terms}) AS p{j}")
        proj_sql = ",\n                   ".join(projs)
    psq = " + ".join(f"(p{j} * p{j})" for j in range(RP_DIMS))
    return f"""
        WITH proj AS (
            SELECT vec_id, label,
                   {_dot('embedding', 'embedding', dialect)} AS n64,
                   {proj_sql}
            FROM embeddings)
        SELECT vec_id, label,
               CAST(FLOOR(1000000 * ({psq}) / ({RP_DIMS} * n64))
                    AS BIGINT) AS ratio_e6
        FROM proj WHERE n64 > 0
    """


def rp_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, sf_dir, rp_distortion_sql("spark"))


# ---------------------------------------------------------------------------
# SemDeDup tau sensitivity: the drop-rate-vs-threshold table from
# ONE cell-bounded pair computation (the same discipline as
# dedup_lsh_tuning / dedup_threshold_sweep on the embedding side) —
# Abbas et al. tune tau per corpus; this is the table they read.
# ---------------------------------------------------------------------------

SEMDEDUP_TAUS = ("0.3", "0.4", "0.5", "0.6", "0.7")


def semdedup_tau_sweep_sql(
    dialect: str, n_seeds: int | None = None
) -> str:
    idiv = "div" if dialect == "spark" else "//"
    # DuckDB inlines CTEs: the 5 UNION arms referencing agg/nn would
    # re-instantiate the whole cells->pairc chain per arm (x32
    # threads) — materialize once. Spark SQL has no MATERIALIZED
    # keyword; its arms read the tiny agg/nn subtrees repeatedly,
    # which ReuseExchange covers.
    mat = "MATERIALIZED " if dialect == "duck" else ""
    cols = ", ".join(
        f"CAST(COUNT(CASE WHEN maxcos >= {t} THEN 1 END) "
        f"AS BIGINT) AS d{int(float(t) * 100)}"
        for t in SEMDEDUP_TAUS
    )
    arms = " UNION ALL ".join(
        f"""SELECT CAST({int(float(t) * 100)} AS BIGINT) AS tau_e2,
               a.d{int(float(t) * 100)} AS n_dropped,
               n.n - a.d{int(float(t) * 100)} AS n_kept,
               (10000 * a.d{int(float(t) * 100)}) {idiv} n.n AS drop_bp
            FROM agg a CROSS JOIN nn n"""
        for t in SEMDEDUP_TAUS
    )
    return f"""
        WITH v AS (
            SELECT vec_id, embedding, {_norm('embedding', dialect)} AS nrm
            FROM embeddings)
        , seeds AS (
            SELECT vec_id AS seed_id, embedding AS se, nrm AS snrm
            FROM v WHERE {_seed_pred(n_seeds)})
        , assign AS (
            SELECT v.vec_id, v.embedding, v.nrm, s.seed_id,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY ({_dot('v.embedding', 's.se', dialect)})
                                / (v.nrm * s.snrm) DESC,
                                s.seed_id ASC) AS rn
            FROM v CROSS JOIN seeds s)
        , cells AS (
            SELECT vec_id, embedding, nrm, seed_id AS cell
            FROM assign WHERE rn = 1)
        , pairc AS (
            SELECT b.vec_id AS b_id,
                   ({_dot('a.embedding', 'b.embedding', dialect)})
                       / (a.nrm * b.nrm) AS cos
            FROM cells a JOIN cells b
              ON a.cell = b.cell AND a.vec_id < b.vec_id)
        , bmax AS (
            SELECT b_id, MAX(cos) AS maxcos FROM pairc GROUP BY b_id)
        , agg AS {mat}(SELECT {cols} FROM bmax)
        , nn AS {mat}(SELECT CAST(COUNT(*) AS BIGINT) AS n FROM cells)
        SELECT * FROM ({arms}) t
    """


def semdedup_tau_sweep_from_mats_sql(
    cells_view: str, bmax_view: str
) -> str:
    """The tau sweep served from the SAME materialized cell/bmax
    tables the semdedup verdict reads (r10, guide §2.1): dropped at
    tau ⟺ maxcos >= tau, so all five arms are conditional counts
    over one bounded scan — the sweep's own copy of the
    cells→pairc→bmax chain exists nowhere in the plan. The oracle
    keeps the single-statement form."""
    idiv = "div"
    cols = ", ".join(
        f"CAST(COUNT(CASE WHEN maxcos >= {t} THEN 1 END) "
        f"AS BIGINT) AS d{int(float(t) * 100)}"
        for t in SEMDEDUP_TAUS
    )
    arms = " UNION ALL ".join(
        f"""SELECT CAST({int(float(t) * 100)} AS BIGINT) AS tau_e2,
               a.d{int(float(t) * 100)} AS n_dropped,
               n.n - a.d{int(float(t) * 100)} AS n_kept,
               (10000 * a.d{int(float(t) * 100)}) {idiv} n.n AS drop_bp
            FROM agg a CROSS JOIN nn n"""
        for t in SEMDEDUP_TAUS
    )
    return f"""
        WITH agg AS (SELECT {cols} FROM {bmax_view})
        , nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM {cells_view})
        SELECT * FROM ({arms}) t
    """


# ---------------------------------------------------------------------------
# Cosine calibration histogram over the LSH candidate pairs — the
# continuous view behind the NEAR_DUP_THRESHOLD choice (the Jaccard
# threshold sweep's embedding twin): decile-bucketed cosine counts
# of banded candidates, never all-pairs.
# ---------------------------------------------------------------------------


def cos_histogram_sql(
    dialect: str,
    r_bits: int | None = None,
    prefix_planes: bool = False,
) -> str:
    div = "div" if dialect == "spark" else "//"
    return f"""
        WITH {_lsh_band_ctes(dialect, r_bits, N_BANDS, prefix_planes)}
        , scored AS (
            SELECT cand.vec_a, cand.vec_b,
                   ({_dot('va.embedding', 'vb.embedding', dialect)})
                       / (va.nrm * vb.nrm) AS cos
            FROM cand
            JOIN lshv va ON va.vec_id = cand.vec_a
            JOIN lshv vb ON vb.vec_id = cand.vec_b)
        SELECT CAST(FLOOR(cos * 10) AS BIGINT) AS cos_decile,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(FLOOR(MIN(cos) * 1000000) AS BIGINT) AS min_cos_e6,
               CAST(FLOOR(MAX(cos) * 1000000) AS BIGINT) AS max_cos_e6
        FROM scored GROUP BY 1
    """


def cos_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    bits = auto_r_bits(spark, sf_dir)
    return _run(
        spark, sf_dir,
        cos_histogram_sql("spark", r_bits=bits, prefix_planes=True),
    )


# ---------------------------------------------------------------------------
# PageRank convergence series: per-round L1 residual + total mass —
# the is-3-rounds-enough certificate for the fixed unroll depth
# (the iteration-observability twin of the UniMax fixpoint
# certificate). Residual arms reference every round's rank table,
# so the duck dialect MATERIALIZES each r_i (CTE inlining would
# re-instantiate the KNN chain per arm) and the Spark path iterates
# over the checkpointed edge view.
# ---------------------------------------------------------------------------


def pagerank_convergence_sql(dialect: str, edges_view: str | None = None,
                             n_seeds: int | None = None) -> str:
    div = "div" if dialect == "spark" else "//"
    mat = "MATERIALIZED " if dialect != "spark" else ""
    if dialect == "spark":
        assert edges_view is not None
        ctes = f"""
        WITH edges AS (SELECT src, dst FROM {edges_view})
        , nodes AS (SELECT vec_id FROM embeddings)"""
    else:
        ctes = f"""
        {_graph_edge_head(dialect, n_seeds)}
        , nodes AS (SELECT vec_id FROM v)"""
    ctes += f"""
        , nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM nodes)
        , outdeg AS {mat}(
            SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
            FROM edges GROUP BY src)
        , r0 AS {mat}(
            SELECT vec_id, CAST({PR_SCALE} {div} n_nodes AS BIGINT) AS r
            FROM nodes CROSS JOIN nn)"""
    prev = "r0"
    for i in range(1, PR_ITERS + 1):
        ctes += f"""
        , c{i} AS (
            SELECT e.dst AS vec_id,
                   CAST(SUM(p.r {div} d.deg) AS BIGINT) AS contrib
            FROM edges e
            JOIN {prev} p ON p.vec_id = e.src
            JOIN outdeg d ON d.src = e.src
            GROUP BY e.dst)
        , r{i} AS {mat}(
            SELECT n.vec_id,
                   CAST((15 * ({PR_SCALE} {div} nn.n_nodes)) {div} 100
                        + (85 * COALESCE(c.contrib, 0)) {div} 100
                        AS BIGINT) AS r
            FROM nodes n CROSS JOIN nn
            LEFT JOIN c{i} c ON c.vec_id = n.vec_id)"""
        prev = f"r{i}"
    arms = " UNION ALL ".join(
        f"""SELECT CAST({i} AS BIGINT) AS round,
               (SELECT CAST(SUM(ABS(a.r - b.r)) AS BIGINT)
                FROM r{i} a JOIN r{i - 1} b ON b.vec_id = a.vec_id)
                   AS residual_e9,
               (SELECT CAST(SUM(r) AS BIGINT) FROM r{i}) AS mass_e9"""
        for i in range(1, PR_ITERS + 1)
    )
    return f"""{ctes}
        SELECT * FROM ({arms}) t
    """


def quant_distortion_sql(dialect: str) -> str:
    """Squared-L2 reconstruction distortion of the two sketch-side
    quantizers on the SAME normalized vectors — the cause-side
    complement of the recall dashboard (#172, which compares the
    END metric): PQ's error is the sum of its winning per-subspace
    assignment distances (exactly the d{s} minima the code
    assignment already ranks on), the sign sketch's error against
    its ±1/√64 reconstruction is 2 − Σ|e_i|/4 (√64 = 8 exactly, so
    the expression is rational in the normalized components — no
    irrational constant enters). Both are LEFT-ASSOCIATED double
    folds identical on both engines (the PQ ADC discipline), floored
    to e9 only at the output boundary. One corpus scan per method
    arm; the PQ arm reuses the broadcast codebook cross join
    (#138), the sign arm is a scan-only projection."""
    mins = ",\n                   ".join(
        f"MIN(d{s}) AS md{s}" for s in range(PQ_M)
    )
    tot = " + ".join(f"md{s}" for s in range(PQ_M))
    if dialect == "spark":
        absfold = (
            "aggregate(transform(e, x -> ABS(x)), CAST(0 AS DOUBLE),"
            " (acc, v) -> acc + v)"
        )
    else:
        absfold = " + ".join(f"ABS(e[{i}])" for i in range(1, DIMS + 1))
    return f"""{_pq_base_ctes(dialect)}
        , pq_err AS (
            SELECT vec_id,
                   {mins}
            FROM dist GROUP BY vec_id)
        , pq_e AS (
            SELECT vec_id,
                   CAST(FLOOR(({tot}) * 1000000000) AS BIGINT)
                       AS sqerr_e9
            FROM pq_err)
        , sign_e AS (
            SELECT vec_id,
                   CAST(FLOOR((2 - ({absfold}) / 4) * 1000000000)
                        AS BIGINT) AS sqerr_e9
            FROM v)
        SELECT 'pq' AS method,
               CAST(COUNT(*) AS BIGINT) AS n_vecs,
               CAST(SUM(sqerr_e9) {'//' if dialect != 'spark' else 'div'}
                    COUNT(*) AS BIGINT) AS mean_sqerr_e9,
               CAST(MAX(sqerr_e9) AS BIGINT) AS max_sqerr_e9
        FROM pq_e
        UNION ALL
        SELECT 'sign',
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(sqerr_e9) {'//' if dialect != 'spark' else 'div'}
                    COUNT(*) AS BIGINT),
               CAST(MAX(sqerr_e9) AS BIGINT)
        FROM sign_e
    """


# ---------------------------------------------------------------------------
# Graph-walk ANN: HNSW-style greedy search over the KNN graph
# ---------------------------------------------------------------------------

GREEDY_HOPS = 3


def _greedy_chain_sql(dialect: str, edges_rel: str, hops: int = GREEDY_HOPS) -> str:
    """Hop CTE chain for the greedy graph walk (requires ``v``,
    ``seeds`` and the edge relation ``edges_rel`` to be in scope).

    gq = the probe vectors; f0 = the ENTRY point per probe (best
    seed by exact cosine — the coarse quantizer plays the role of
    HNSW's upper layers); each hop scores the KNN-neighbors of the
    current frontier against the probe and keeps the argmax of
    {current} ∪ {neighbors} (greedy best-first, ties by vec_id, so
    a stalled walk is a fixpoint by construction); ``visited``
    accumulates every node the walk ever scored — the ef-search
    candidate pool the final exact rerank runs over."""
    mat = "MATERIALIZED " if dialect != "spark" else ""
    sql = f"""
        , gq AS {mat}(
            SELECT vec_id AS query_id, embedding AS qe, nrm AS qn
            FROM v WHERE vec_id < {N_QUERIES})
        , f0 AS (
            SELECT query_id, node, cos FROM (
                SELECT gq.query_id, s.seed_id AS node,
                       ({_dot('gq.qe', 's.se', dialect)})
                           / (gq.qn * s.snrm) AS cos,
                       row_number() OVER (
                           PARTITION BY gq.query_id
                           ORDER BY ({_dot('gq.qe', 's.se', dialect)})
                                    / (gq.qn * s.snrm) DESC,
                                    s.seed_id ASC) AS rn
                FROM gq CROSS JOIN seeds s) t0
            WHERE rn = 1)"""
    for h in range(1, hops + 1):
        sql += f"""
        , n{h} AS (
            SELECT f.query_id, e.dst AS node,
                   ({_dot('g.qe', 'nb.embedding', dialect)})
                       / (g.qn * nb.nrm) AS cos
            FROM f{h - 1} f
            JOIN {edges_rel} e ON e.src = f.node
            JOIN v nb ON nb.vec_id = e.dst
            JOIN gq g ON g.query_id = f.query_id)
        , f{h} AS (
            SELECT query_id, node, cos FROM (
                SELECT query_id, node, cos,
                       row_number() OVER (
                           PARTITION BY query_id
                           ORDER BY cos DESC, node ASC) AS rn
                FROM (SELECT query_id, node, cos FROM f{h - 1}
                      UNION ALL
                      SELECT query_id, node, cos FROM n{h}) u{h}) t{h}
            WHERE rn = 1)"""
    pool = "\n                  UNION ALL ".join(
        [f"SELECT query_id, node, cos FROM f0"]
        + [f"SELECT query_id, node, cos FROM n{h}" for h in range(1, hops + 1)]
    )
    sql += f"""
        , visited AS (
            SELECT query_id, node, MAX(cos) AS cos
            FROM ({pool}) pool
            GROUP BY query_id, node)"""
    return sql


_GREEDY_FINAL_SQL = f"""
        SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS nn_rank,
               cos_e6
        FROM (
            SELECT query_id, node AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY cos DESC, node ASC) AS rn,
                   CAST(FLOOR(cos * 1000000) AS BIGINT) AS cos_e6
            FROM visited WHERE node <> query_id) fin
        WHERE rn <= {TOPK}
    """


def graph_greedy_topk_sql(
    dialect: str, n_seeds: int | None = None, hops: int = GREEDY_HOPS
) -> str:
    """Single-statement form (the DuckDB oracle twin): KNN chain →
    edge list → greedy hop chain → exact rerank of the visited
    pool."""
    mat = "MATERIALIZED " if dialect != "spark" else ""
    return f"""{_graph_edge_head(dialect, n_seeds)}
        {_greedy_chain_sql(dialect, 'edges', hops)}
        {_GREEDY_FINAL_SQL}"""


def _greedy_view_sql(
    n_seeds: int | None = None,
    hops: int = GREEDY_HOPS,
    edges_view: str = "greedy_edges_mat",
) -> str:
    """Spark hop chain over an ALREADY-MATERIALIZED edge view;
    ``v``/``seeds`` are re-derived row-wise from the embeddings scan
    (no join, cheap) rather than checkpointed."""
    return f"""
        WITH v AS (
            SELECT vec_id, embedding,
                   {_norm('embedding', 'spark')} AS nrm
            FROM embeddings)
        , seeds AS (
            SELECT vec_id AS seed_id, embedding AS se, nrm AS snrm
            FROM v WHERE {_seed_pred(n_seeds)})
        {_greedy_chain_sql('spark', edges_view, hops)}
        {_GREEDY_FINAL_SQL}"""


def _materialize_greedy_edges(
    spark: SparkSession,
    sf_dir: str,
    n_seeds: int | None = None,
    checkpoint_mode: str = "local",
) -> None:
    """Build the KNN edge list ONCE and checkpoint it into the
    ``greedy_edges_mat`` view (same local/reliable split as
    pagerank_knn — the hop rounds must not re-run the cell
    self-join)."""
    from ..tables import load_table

    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView(
        "embeddings"
    )
    edges = _edges_df(spark, sf_dir, n_seeds)
    if checkpoint_mode == "reliable":
        edges = edges.checkpoint(eager=True)
    elif checkpoint_mode == "local":
        edges = edges.localCheckpoint()
    else:
        raise ValueError(f"unknown checkpoint_mode: {checkpoint_mode!r}")
    edges.createOrReplaceTempView("greedy_edges_mat")


def graph_greedy_topk(
    spark: SparkSession,
    sf_dir: str,
    n_seeds: int | None = None,
    hops: int = GREEDY_HOPS,
    checkpoint_mode: str = "local",
) -> DataFrame:
    """Spark side of the greedy graph-walk ANN: materialized edge
    list + hop chain over the cached edge blocks."""
    _materialize_greedy_edges(spark, sf_dir, n_seeds, checkpoint_mode)
    return spark.sql(_greedy_view_sql(n_seeds, hops))


# ---------------------------------------------------------------------------
# Seed-reach layers: multi-source BFS census over the KNN graph —
# the coverage certificate for the greedy graph walk
# ---------------------------------------------------------------------------


def seed_reach_sql(
    dialect: str, n_seeds: int | None = None, hops: int = GREEDY_HOPS
) -> str:
    """Single-statement (oracle) form: multi-source BFS from the
    quantizer seeds over the DIRECTED KNN edge list, unrolled
    ``hops`` rounds. Census output: n_nodes first reached at each
    layer (layer 0 = the seeds), plus layer −1 = nodes the walk can
    NEVER visit within ``hops`` hops — the hard upper bound on
    what graph_greedy_topk (#293) can return, making this the
    index-coverage diagnostic for the graph-walk serving path.
    Reached sets are MATERIALIZED in the duck dialect (each round
    references the previous twice: expansion + census)."""
    mat = "MATERIALIZED " if dialect != "spark" else ""
    ctes = f"""{_graph_edge_head(dialect, n_seeds)}
        , r0 AS {mat}(
            SELECT seed_id AS vec_id FROM seeds)"""
    for h in range(1, hops + 1):
        ctes += f"""
        , r{h} AS {mat}(
            SELECT DISTINCT vec_id FROM (
                SELECT vec_id FROM r{h - 1}
                UNION ALL
                SELECT e.dst AS vec_id
                FROM edges e JOIN r{h - 1} p ON p.vec_id = e.src) u{h})"""
    arms = [
        "SELECT CAST(0 AS BIGINT) AS layer,"
        " CAST((SELECT COUNT(*) FROM r0) AS BIGINT) AS n_nodes"
    ]
    for h in range(1, hops + 1):
        arms.append(
            f"SELECT CAST({h} AS BIGINT),"
            f" CAST((SELECT COUNT(*) FROM r{h})"
            f" - (SELECT COUNT(*) FROM r{h - 1}) AS BIGINT)"
        )
    arms.append(
        f"SELECT CAST(-1 AS BIGINT),"
        f" CAST((SELECT COUNT(*) FROM v)"
        f" - (SELECT COUNT(*) FROM r{hops}) AS BIGINT)"
    )
    return f"""{ctes}
        {" UNION ALL ".join(arms)}
    """


def seed_reach_layers(
    spark: SparkSession,
    sf_dir: str,
    n_seeds: int | None = None,
    hops: int = GREEDY_HOPS,
    checkpoint_mode: str = "local",
    edges_view: str | None = None,
) -> DataFrame:
    """Spark side: the shared greedy edge list is checkpoint-
    materialized once (or passed in already-materialized via
    edges_view), then each round's reached set is itself eagerly
    materialized before the next round references it twice
    (expansion + census) — the multiplicative-CTE lesson; the
    census is scalar counts over the tiny cached sets."""
    if edges_view is None:
        _materialize_greedy_edges(spark, sf_dir, n_seeds, checkpoint_mode)
        edges_view = "greedy_edges_mat"
    reached = spark.sql(
        "SELECT vec_id FROM embeddings WHERE "
        + _seed_pred(n_seeds)
    ).localCheckpoint()
    reached.createOrReplaceTempView("reach_0")
    for h in range(1, hops + 1):
        nxt = spark.sql(
            f"""
            SELECT DISTINCT vec_id FROM (
                SELECT vec_id FROM reach_{h - 1}
                UNION ALL
                SELECT e.dst AS vec_id
                FROM {edges_view} e
                JOIN reach_{h - 1} p ON p.vec_id = e.src) u
            """
        ).localCheckpoint()
        nxt.createOrReplaceTempView(f"reach_{h}")
    arms = [
        "SELECT CAST(0 AS BIGINT) AS layer,"
        " CAST((SELECT COUNT(*) FROM reach_0) AS BIGINT) AS n_nodes"
    ]
    for h in range(1, hops + 1):
        arms.append(
            f"SELECT CAST({h} AS BIGINT),"
            f" CAST((SELECT COUNT(*) FROM reach_{h})"
            f" - (SELECT COUNT(*) FROM reach_{h - 1}) AS BIGINT)"
        )
    arms.append(
        f"SELECT CAST(-1 AS BIGINT),"
        f" CAST((SELECT COUNT(*) FROM embeddings)"
        f" - (SELECT COUNT(*) FROM reach_{hops}) AS BIGINT)"
    )
    return spark.sql(" UNION ALL ".join(arms))


# ---------------------------------------------------------------------------
# Residual IVF-PQ (Jégou et al.'s actual IVFADC construction): PQ
# codes the RESIDUAL v − centroid(cell), not the raw vector — the
# residual's energy is what remains AFTER the coarse quantizer, so
# the same PQ bit budget spends on a tighter distribution and ADC
# error drops. The serving identity dot(q, v) ≈ dot(q, c_cell) +
# dot(q, r̂) splits into one N_SEEDS-bounded cell LUT + the standard
# per-subspace codeword LUTs.
# ---------------------------------------------------------------------------


def _vec_sub(a: str, b: str, dialect: str) -> str:
    if dialect == "spark":
        return f"zip_with({a}, {b}, (x, y) -> x - y)"
    return f"list_transform(list_zip({a}, {b}), x -> x[1] - x[2])"


def _ivfpq_cent_cols(dialect: str) -> str:
    # per-cell MEAN centroid (not the seed vector): the mean is the
    # Σ||v−c||²-minimizer, so residual energy ≤ raw energy by the
    # variance decomposition — on a near-isotropic corpus a unit-norm
    # seed centroid would INCREASE residual energy (measured: 755 vs
    # 500 before this construction), which is exactly why IVFADC
    # quantizes against cell means.
    # DETERMINISTIC cell mean: a double AVG is summation-order
    # dependent across partitions (observed flaky rank flips at
    # sf0.01) — so each element is rounded to an e9 integer first
    # (BIGINT sums are associative-exact) and the mean is a posrem
    # floor division (negative sums) cast back to double
    elem = (
        (lambda i: f"element_at(e, {i})")
        if dialect == "spark"
        else (lambda i: f"e[{i}]")
    )
    dv = "div" if dialect == "spark" else "//"

    def cent(i):
        ssum = (
            f"SUM(CAST(ROUND({elem(i)} * 1000000000) AS BIGINT))"
        )
        return (
            f"CAST((({ssum} - ((({ssum} % COUNT(*)) + COUNT(*))"
            f" % COUNT(*))) {dv} COUNT(*)) AS DOUBLE) / 1000000000"
        )

    return ", ".join(cent(i) for i in range(1, DIMS + 1))


def _ivfpq_assign_select(vrel: str, dialect: str,
                         n_seeds: int = N_SEEDS) -> str:
    """Coarse assignment (vec_id, e, cell) from a normalized-vector
    relation — the one corpus × seeds scan of the index build."""
    return f"""SELECT vec_id, e, cell FROM (
                SELECT v.vec_id, v.e, s.cell,
                       row_number() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY {_dot('v.e', 's.se', dialect)} DESC,
                                    s.cell ASC) AS arn
                FROM {vrel} v CROSS JOIN (
                    SELECT vec_id AS cell, e AS se FROM {vrel}
                    WHERE vec_id < {n_seeds}) s) a
            WHERE arn = 1"""


def _ivfpq_cents_select(assign_rel: str, dialect: str) -> str:
    arr = "array" if dialect == "spark" else "list_value"
    return (
        f"SELECT cell, {arr}({_ivfpq_cent_cols(dialect)}) AS ce\n"
        f"            FROM {assign_rel} GROUP BY cell"
    )


def _ivfpq_rcb_select(assign_rel: str, cents_rel: str,
                      dialect: str) -> str:
    return f"""SELECT a.vec_id AS cw,
                   {_vec_sub('a.e', 'c.ce', dialect)} AS rce
            FROM {assign_rel} a JOIN {cents_rel} c ON c.cell = a.cell
            WHERE a.vec_id < {PQ_K}"""


def _ivfpq_codes_ctes(assign_rel: str, cents_rel: str, rcb_rel: str,
                      dialect: str) -> str:
    """resid → dist → ranked → codes chain (the corpus-linear code
    build: one residual join + one cross join against the PQ_K-row
    residual codebook)."""
    dists = ",\n                   ".join(
        f"{_sub_fold('r.r', 'rcb.rce', s, dialect, 'l2')} AS d{s}"
        for s in range(PQ_M)
    )
    ranks = ",\n                   ".join(
        f"row_number() OVER (PARTITION BY vec_id "
        f"ORDER BY d{s} ASC, cw ASC) AS r{s}"
        for s in range(PQ_M)
    )
    code_cols = ",\n                   ".join(
        f"CAST(MAX(CASE WHEN r{s} = 1 THEN cw END) AS BIGINT) AS c{s}"
        for s in range(PQ_M)
    )
    mat = "MATERIALIZED " if dialect != "spark" else ""
    return f"""resid AS (
            SELECT a.vec_id, a.cell,
                   {_vec_sub('a.e', 'c.ce', dialect)} AS r
            FROM {assign_rel} a JOIN {cents_rel} c ON c.cell = a.cell)
        , dist AS (
            SELECT r.vec_id, r.cell, rcb.cw,
                   {dists}
            FROM resid r CROSS JOIN {rcb_rel} rcb)
        , ranked AS (
            SELECT vec_id, cell, cw,
                   {ranks}
            FROM dist)
        , codes AS {mat}(
            SELECT vec_id, MAX(cell) AS cell,
                   {code_cols}
            FROM ranked GROUP BY vec_id)
    """


def _ivfpq_base_ctes(dialect: str, n_seeds: int = N_SEEDS) -> str:
    mat = "MATERIALIZED " if dialect != "spark" else ""
    return f"""
        WITH raw AS (
            SELECT vec_id, embedding, {_norm('embedding', dialect)} AS nrm
            FROM embeddings)
        , v AS {mat}(
            SELECT vec_id, {_normalized(dialect)} AS e FROM raw)
        , assign AS {mat}(
            {_ivfpq_assign_select('v', dialect, n_seeds)})
        , cents AS {mat}(
            {_ivfpq_cents_select('assign', dialect)})
        , rcb AS {mat}(
            {_ivfpq_rcb_select('assign', 'cents', dialect)})
        , {_ivfpq_codes_ctes('assign', 'cents', 'rcb', dialect)}
    """


def _ivfpq_serve_tail(vrel: str, cents_rel: str, rcb_rel: str,
                      codes_rel: str, dialect: str) -> str:
    """q/cell_lut/lut/scored/out serving chain — shared verbatim by
    the composed oracle form and the materialized serving split."""
    luts = ",\n                   ".join(
        f"{_sub_fold('q.qe', 'rcb.rce', s, dialect, 'dot')} AS p{s}"
        for s in range(PQ_M)
    )
    joins = "\n            ".join(
        f"JOIN lut l{s} ON l{s}.query_id = l0.query_id "
        f"AND l{s}.cw = c.c{s}"
        for s in range(1, PQ_M)
    )
    adc = "cl.cell_dot"
    for s in range(PQ_M):
        adc = f"({adc} + l{s}.p{s})"
    return f"""q AS (
            SELECT vec_id AS query_id, e AS qe FROM {vrel}
            WHERE vec_id < {N_QUERIES})
        , cell_lut AS (
            SELECT q.query_id, c.cell,
                   {_dot('q.qe', 'c.ce', dialect)} AS cell_dot
            FROM q CROSS JOIN {cents_rel} c)
        , lut AS (
            SELECT q.query_id, rcb.cw,
                   {luts}
            FROM q CROSS JOIN {rcb_rel} rcb)
        , scored AS (
            SELECT {_lut_broadcast_hint(dialect)}l0.query_id,
                   c.vec_id AS neighbor_id,
                   {adc} AS adc
            FROM {codes_rel} c
            JOIN cell_lut cl
              ON cl.cell = c.cell
            JOIN lut l0 ON l0.query_id = cl.query_id AND l0.cw = c.c0
            {joins}
            WHERE c.vec_id <> cl.query_id)
        , out AS (
            SELECT query_id, neighbor_id, adc,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY adc DESC, neighbor_id ASC) AS rn
            FROM scored)
        SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS ivfpq_rank,
               ROUND(adc, 6) AS adc_score
        FROM out WHERE rn <= {TOPK}
    """


def ivfpq_residual_topk_sql(dialect: str) -> str:
    return f"""{_ivfpq_base_ctes(dialect)}
        , {_ivfpq_serve_tail('v', 'cents', 'rcb', 'codes', dialect)}"""


def ivfpq_assign_build_sql(v_table: str) -> str:
    """r9 (guide §2.2): coarse argmax-dot assignment as
    min(struct(-dot, cell, e)) — one hash aggregate with map-side
    partials (shuffle: one pre-reduced row per vector instead of
    the corpus×N_SEEDS window sort). Negation is order-reversing,
    so (-dot ASC, cell ASC) is exactly the window's
    (dot DESC, cell ASC); e rides in the struct (functionally
    dependent on vec_id — the comparator never reaches it because
    cell differs first). Oracle keeps the window form."""
    return f"""SELECT vec_id, m.e AS e, m.cell AS cell FROM (
                SELECT v.vec_id,
                       min(struct(
                           -({_dot('v.e', 's.se', 'spark')}) AS nd,
                           s.cell AS cell, v.e AS e)) AS m
                FROM {v_table} v CROSS JOIN (
                    SELECT vec_id AS cell, e AS se FROM {v_table}
                    WHERE vec_id < {N_SEEDS}) s
                GROUP BY v.vec_id) a"""


def ivfpq_cents_build_sql(assign_table: str) -> str:
    return _ivfpq_cents_select(assign_table, "spark")


def ivfpq_rcb_build_sql(assign_table: str, cents_table: str) -> str:
    return _ivfpq_rcb_select(assign_table, cents_table, "spark")


def ivfpq_codes_build_sql(assign_table: str, cents_table: str,
                          rcb_table: str) -> str:
    """r9 (guide §2.2): same min-struct argmin as
    pq_codes_build_sql — the eight residual-subspace row_number
    windows (eight corpus×PQ_K sorts) become conditional
    min(struct(d_s, cw)) aggregates in one map-side-combined pass.
    Oracle keeps the window chain; hash gate pins equality."""
    dists = ",\n                   ".join(
        f"{_sub_fold('r.r', 'rcb.rce', s, 'spark', 'l2')} AS d{s}"
        for s in range(PQ_M)
    )
    code_cols = ",\n                   ".join(
        f"CAST(min(struct(d{s}, cw)).cw AS BIGINT) AS c{s}"
        for s in range(PQ_M)
    )
    return f"""
        WITH resid AS (
            SELECT a.vec_id, a.cell,
                   {_vec_sub('a.e', 'c.ce', 'spark')} AS r
            FROM {assign_table} a
            JOIN {cents_table} c ON c.cell = a.cell)
        , dist AS (
            SELECT r.vec_id, r.cell, rcb.cw,
                   {dists}
            FROM resid r CROSS JOIN {rcb_table} rcb)
        SELECT vec_id, MAX(cell) AS cell,
               {code_cols}
        FROM dist GROUP BY vec_id
    """


def ivfpq_serve_sql(v_table: str, cents_table: str, rcb_table: str,
                    codes_table: str) -> str:
    """Serve residual-ADC top-k from the materialized index: LUTs
    against the bounded cents/rcb views, one probe of the narrow
    codes view; no raw vectors touched at serving time."""
    return f"""
        WITH {_ivfpq_serve_tail(v_table, cents_table, rcb_table,
                                codes_table, 'spark')}"""


# ---------------------------------------------------------------------------
# HITS hubs/authorities over the KNN graph
# ---------------------------------------------------------------------------

HITS_ITERS = 3
HITS_SCALE = 1_000_000_000


def _hits_rounds(div: str, edges: str, iters: int = HITS_ITERS) -> str:
    """Unrolled mutually-recursive HITS rounds over an edge relation.
    Overflow discipline: with L1 mass pinned to HITS_SCALE per round,
    every per-node raw sum is <= the GLOBAL mass (each neighbor's
    score enters a node's sum at most once), so raw * HITS_SCALE
    <= 1e18 stays inside BIGINT — the explicit-normalization sibling
    of the Markov chain's inline row-normalization."""
    ctes = ""
    prev_h = "h0"
    for i in range(1, iters + 1):
        ctes += f"""
        , araw{i} AS (
            SELECT e.dst AS vec_id, CAST(SUM(p.s) AS BIGINT) AS raw
            FROM {edges} e JOIN {prev_h} p ON p.vec_id = e.src
            GROUP BY e.dst)
        , atot{i} AS (
            SELECT GREATEST(CAST(1 AS BIGINT),
                            CAST(SUM(raw) AS BIGINT)) AS tot
            FROM araw{i})
        , a{i} AS (
            SELECT n.vec_id,
                   CAST((COALESCE(r.raw, 0) * {HITS_SCALE}) {div} t.tot
                       AS BIGINT) AS s
            FROM nodes n CROSS JOIN atot{i} t
            LEFT JOIN araw{i} r ON r.vec_id = n.vec_id)
        , hraw{i} AS (
            SELECT e.src AS vec_id, CAST(SUM(a.s) AS BIGINT) AS raw
            FROM {edges} e JOIN a{i} a ON a.vec_id = e.dst
            GROUP BY e.src)
        , htot{i} AS (
            SELECT GREATEST(CAST(1 AS BIGINT),
                            CAST(SUM(raw) AS BIGINT)) AS tot
            FROM hraw{i})
        , h{i} AS (
            SELECT n.vec_id,
                   CAST((COALESCE(r.raw, 0) * {HITS_SCALE}) {div} t.tot
                       AS BIGINT) AS s
            FROM nodes n CROSS JOIN htot{i} t
            LEFT JOIN hraw{i} r ON r.vec_id = n.vec_id)"""
        prev_h = f"h{i}"
    return ctes


_HITS_SELECT = f"""
        SELECT h.vec_id, h.s AS hub_e9, a.s AS auth_e9,
               CAST(COALESCE(ind.deg, 0) AS BIGINT) AS in_degree,
               CAST(COALESCE(outd.deg, 0) AS BIGINT) AS out_degree
        FROM h{HITS_ITERS} h
        JOIN a{HITS_ITERS} a ON a.vec_id = h.vec_id
        LEFT JOIN outdeg outd ON outd.src = h.vec_id
        LEFT JOIN indeg ind ON ind.dst = h.vec_id
    """


def hits_sql(dialect: str, n_seeds: int | None = None) -> str:
    """Single-statement HITS twin (DuckDB oracle keeps the
    MATERIALIZED-CTE spelling of materialize-once)."""
    div = "div" if dialect == "spark" else "//"
    mat = "MATERIALIZED " if dialect != "spark" else ""
    head = f"""{_graph_edge_head(dialect, n_seeds)}
        , nodes AS (SELECT vec_id FROM v)
        , nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM nodes)
        , outdeg AS {mat}(
            SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
            FROM edges GROUP BY src)
        , indeg AS {mat}(
            SELECT dst, CAST(COUNT(*) AS BIGINT) AS deg
            FROM edges GROUP BY dst)
        , h0 AS (
            SELECT vec_id,
                   CAST({HITS_SCALE} {div} n_nodes AS BIGINT) AS s
            FROM nodes CROSS JOIN nn)"""
    return head + _hits_rounds(div, "edges") + _HITS_SELECT


def _hits_half_sql(edges: str, nodes: str, prev_view: str,
                   from_col: str, to_col: str) -> str:
    """One HITS half-step over materialized relations — identical
    algebra to one araw{i}/a{i} (or hraw{i}/h{i}) pair of the
    unrolled oracle: edge-keyed integer sum, global-mass GREATEST
    guard, floor-div renormalization to HITS_SCALE."""
    return f"""
        WITH raw AS (
            SELECT e.{to_col} AS vec_id,
                   CAST(SUM(p.s) AS BIGINT) AS raw
            FROM {edges} e JOIN {prev_view} p ON p.vec_id = e.{from_col}
            GROUP BY e.{to_col})
        , tot AS (
            SELECT GREATEST(CAST(1 AS BIGINT),
                            CAST(SUM(raw) AS BIGINT)) AS tot
            FROM raw)
        SELECT n.vec_id,
               CAST((COALESCE(r.raw, 0) * {HITS_SCALE}) div t.tot
                   AS BIGINT) AS s
        FROM {nodes} n CROSS JOIN tot t
        LEFT JOIN raw r ON r.vec_id = n.vec_id
    """


def hits_knn(
    spark: SparkSession,
    sf_dir: str,
    n_seeds: int | None = None,
    checkpoint_mode: str = "local",
) -> DataFrame:
    """Materialize the KNN edge list once (local/reliable checkpoint
    split, same as pagerank_knn), then run HITS as a DRIVER LOOP
    with each half-step checkpointed (r6): the single-statement
    unrolled form re-derives every h{i}/a{i} subtree multiplicatively
    (566 exchanges in the r5 plan audit — the verify-gotcha class the
    12-round HNSW descent first exposed); the loop's composed final
    plan joins two cached score maps to two degree aggregates.
    Round count is HITS_ITERS — bounded control flow, the Pregel
    exception; per-half-step checkpoints are node-sized maps."""
    from ..tables import load_table

    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView(
        "embeddings"
    )
    edges = _edges_df(spark, sf_dir, n_seeds)
    if checkpoint_mode == "reliable":
        edges = edges.checkpoint(eager=True)
    elif checkpoint_mode == "local":
        edges = edges.localCheckpoint()
    else:
        raise ValueError(f"unknown checkpoint_mode: {checkpoint_mode!r}")
    edges.createOrReplaceTempView("hits_edges_mat")
    nodes = spark.sql(
        "SELECT vec_id FROM embeddings"
    ).localCheckpoint()
    nodes.createOrReplaceTempView("hits_nodes_mat")
    return hits_loop(spark, "hits_edges_mat", "hits_nodes_mat")


def hits_loop(
    spark: SparkSession, edges_view: str, nodes_view: str
) -> DataFrame:
    """The driver-loop HITS rounds over already-materialized edge and
    node views (see hits_knn for the semantics and the loop-vs-unroll
    rationale)."""
    h = spark.sql(
        f"""SELECT vec_id,
               CAST({HITS_SCALE} div nn.n_nodes AS BIGINT) AS s
        FROM {nodes_view} CROSS JOIN (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes
            FROM {nodes_view}) nn"""
    ).localCheckpoint()
    a = None
    for _ in range(HITS_ITERS):
        h.createOrReplaceTempView("hits_h_prev")
        a = spark.sql(
            _hits_half_sql(
                edges_view, nodes_view, "hits_h_prev",
                "src", "dst",
            )
        ).localCheckpoint()
        a.createOrReplaceTempView("hits_a_cur")
        h = spark.sql(
            _hits_half_sql(
                edges_view, nodes_view, "hits_a_cur",
                "dst", "src",
            )
        ).localCheckpoint()
    h.createOrReplaceTempView("hits_h_final")
    a.createOrReplaceTempView("hits_a_final")
    return spark.sql(
        f"""
        WITH outdeg AS (
            SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
            FROM {edges_view} GROUP BY src)
        , indeg AS (
            SELECT dst, CAST(COUNT(*) AS BIGINT) AS deg
            FROM {edges_view} GROUP BY dst)
        SELECT h.vec_id, h.s AS hub_e9, a.s AS auth_e9,
               CAST(COALESCE(ind.deg, 0) AS BIGINT) AS in_degree,
               CAST(COALESCE(outd.deg, 0) AS BIGINT) AS out_degree
        FROM hits_h_final h
        JOIN hits_a_final a ON a.vec_id = h.vec_id
        LEFT JOIN outdeg outd ON outd.src = h.vec_id
        LEFT JOIN indeg ind ON ind.dst = h.vec_id
        """
    )


# ---------------------------------------------------------------------------
# HNSW layered descent: geometric layer assignment + per-layer
# greedy descent feeding the layer-0 walk
# ---------------------------------------------------------------------------

HNSW_LMAX = 3
HNSW_LAYER_HOPS = 3
HNSW_EF = 8  # layer-0 beam width (ef-search)
HNSW_M = 8  # upper-layer out-degree (HNSW's M, vs layer-0 KNN_K)
HNSW_DESCENT_BEAM = 2  # frontier width during the upper-layer descent


def _hnsw_lvl_expr(dialect: str) -> str:
    """Geometric layer via trailing-zero bits of a 32-bit md5 hash:
    P(lvl >= k) = 2^-k — the integer spelling of HNSW's
    floor(-ln(u)·mL) draw, no logs, no RNG."""
    if dialect == "spark":
        h = (
            "CAST(conv(substring(md5(CAST(vec_id AS STRING)), 1, 8),"
            " 16, 10) AS BIGINT)"
        )
    else:
        h = (
            "CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)"
            " AS BIGINT)"
        )
    return (
        f"CASE WHEN {h} % 8 = 0 THEN 3"
        f" WHEN {h} % 4 = 0 THEN 2"
        f" WHEN {h} % 2 = 0 THEN 1 ELSE 0 END"
    )


def _hnsw_layer_edges_ctes(dialect: str, n_seeds: int) -> str:
    """Per-layer KNN edge lists: layer l keeps nodes with lvl >= l
    (≈ 2^-l of the corpus), assigns them to the same coarse seed
    cells, and ranks KNN_K cell-mate neighbors — the upper-layer
    graphs of the HNSW index."""
    mat = "MATERIALIZED " if dialect != "spark" else ""
    if dialect == "spark":
        ring_h = (
            "CAST(conv(substring(md5(concat('ring:',"
            " CAST(vec_id AS STRING))), 1, 8), 16, 10) AS BIGINT)"
        )
    else:
        ring_h = (
            "CAST('0x' || substr(md5('ring:' ||"
            " CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT)"
        )
    sql = f"""
        , lvl AS {mat}(
            SELECT vec_id, {_hnsw_lvl_expr(dialect)} AS lvl FROM v)"""
    for lv in range(1, HNSW_LMAX + 1):
        sql += f"""
        , nodes{lv} AS {mat}(
            SELECT v.vec_id, v.embedding, v.nrm
            FROM v JOIN lvl ON lvl.vec_id = v.vec_id
            WHERE lvl.lvl >= {lv})
        , cells{lv} AS {mat}(
            SELECT vec_id, cell FROM (
                SELECT n.vec_id, s.seed_id AS cell,
                       row_number() OVER (
                           PARTITION BY n.vec_id
                           ORDER BY ({_dot('n.embedding', 's.se', dialect)})
                                    / (n.nrm * s.snrm) DESC,
                                    s.seed_id ASC) AS rn
                FROM nodes{lv} n CROSS JOIN seeds s) t
            WHERE rn = 1)
        , ring{lv} AS {mat}(
            SELECT vec_id,
                   row_number() OVER (ORDER BY {ring_h}, vec_id ASC)
                       - 1 AS pos,
                   CAST(COUNT(*) OVER () AS BIGINT) AS n
            FROM nodes{lv})
        , edges{lv} AS {mat}(
            SELECT src, dst FROM (
                SELECT a.vec_id AS src, b.vec_id AS dst,
                       row_number() OVER (
                           PARTITION BY a.vec_id
                           ORDER BY ({_dot('av.embedding', 'bv.embedding',
                                           dialect)})
                                    / (av.nrm * bv.nrm) DESC,
                                    b.vec_id ASC) AS rn
                FROM cells{lv} a
                JOIN cells{lv} b ON b.cell = a.cell
                                AND b.vec_id <> a.vec_id
                JOIN nodes{lv} av ON av.vec_id = a.vec_id
                JOIN nodes{lv} bv ON bv.vec_id = b.vec_id) t
            WHERE rn <= {HNSW_M}
            UNION
            SELECT ra.vec_id AS src, rb.vec_id AS dst
            FROM ring{lv} ra
            JOIN ring{lv} rb
              ON rb.pos = (ra.pos + 1) % ra.n
              OR rb.pos = (ra.pos + 2) % ra.n)"""
    return sql


def _hnsw_descent_ctes(dialect: str, edges_fmt: str) -> str:
    """Descent chain: global entry (max layer, min id) scored per
    probe, then HNSW_LAYER_HOPS greedy hops per layer from LMAX
    down to 1, each keeping argmax of {current} ∪ {neighbors}.
    ``edges_fmt`` formats a layer number into its edge relation.
    Every round CTE is MATERIALIZED in the duck dialect: each round
    references its predecessor twice (neighbor expansion + union),
    so an inlined chain re-instantiates MULTIPLICATIVELY (2^rounds —
    the unrolled-iteration rule)."""
    mat = "MATERIALIZED " if dialect != "spark" else ""
    sql = f"""
        , entry AS (
            SELECT vec_id AS node FROM lvl
            ORDER BY lvl DESC, vec_id ASC LIMIT 1)
        , dstart AS (
            SELECT gq.query_id, en.node,
                   ({_dot('gq.qe', 'ev.embedding', dialect)})
                       / (gq.qn * ev.nrm) AS cos
            FROM gq CROSS JOIN entry en
            JOIN v ev ON ev.vec_id = en.node)"""
    prev = "dstart"
    cands = ["dstart"]
    for lv in range(HNSW_LMAX, 0, -1):
        edges = edges_fmt.format(lv)
        for h in range(1, HNSW_LAYER_HOPS + 1):
            cur = f"d{lv}_{h}"
            cands.append(f"{cur}n")
            sql += f"""
        , {cur}n AS {mat}(
            SELECT f.query_id, e.dst AS node,
                   ({_dot('g.qe', 'nb.embedding', dialect)})
                       / (g.qn * nb.nrm) AS cos
            FROM {prev} f
            JOIN {edges} e ON e.src = f.node
            JOIN v nb ON nb.vec_id = e.dst
            JOIN gq g ON g.query_id = f.query_id)
        , {cur} AS {mat}(
            SELECT query_id, node, cos FROM (
                SELECT query_id, node, cos,
                       row_number() OVER (
                           PARTITION BY query_id
                           ORDER BY cos DESC, node ASC) AS rn
                FROM (SELECT query_id, node, MAX(cos) AS cos
                      FROM (SELECT query_id, node, cos FROM {prev}
                            UNION ALL
                            SELECT query_id, node, cos FROM {cur}n) u
                      GROUP BY query_id, node) du) t
            WHERE rn <= {HNSW_DESCENT_BEAM})"""
            prev = cur
    return sql, prev, cands


def hnsw_topk_sql(dialect: str, n_seeds: int | None = None) -> str:
    """Single-statement HNSW descent + layer-0 walk (oracle twin)."""
    mat = "MATERIALIZED " if dialect != "spark" else ""
    descent, last, cands = _hnsw_descent_ctes(dialect, "edges{}")
    head = f"""{_knn_ctes(dialect, n_seeds)}
        , edges0 AS {mat}(
            SELECT vec_id AS src, neighbor_id AS dst
            FROM ranked WHERE rnk <= {KNN_K})
        , gq AS {mat}(
            SELECT vec_id AS query_id, embedding AS qe, nrm AS qn
            FROM v WHERE vec_id < {N_QUERIES})"""
    head += _hnsw_layer_edges_ctes(dialect, n_seeds)
    head += descent
    # layer-0 walk seeded by the descent result
    prev = last
    for h in range(1, GREEDY_HOPS + 1):
        head += f"""
        , z{h}n AS {mat}(
            SELECT f.query_id, e.dst AS node,
                   ({_dot('g.qe', 'nb.embedding', dialect)})
                       / (g.qn * nb.nrm) AS cos
            FROM {prev} f
            JOIN edges0 e ON e.src = f.node
            JOIN v nb ON nb.vec_id = e.dst
            JOIN gq g ON g.query_id = f.query_id)
        , z{h} AS {mat}(
            SELECT query_id, node, cos FROM (
                SELECT query_id, node, cos,
                       row_number() OVER (
                           PARTITION BY query_id
                           ORDER BY cos DESC, node ASC) AS rn
                FROM (SELECT query_id, node, MAX(cos) AS cos
                      FROM (SELECT query_id, node, cos FROM {prev}
                            UNION ALL
                            SELECT query_id, node, cos FROM z{h}n) u
                      GROUP BY query_id, node) du) t
            WHERE rn <= {HNSW_EF})"""
        prev = f"z{h}"
    pool = "\n                  UNION ALL ".join(
        [f"SELECT query_id, node, cos FROM {c}" for c in cands]
        + [f"SELECT query_id, node, cos FROM {last}"]
        + [
            f"SELECT query_id, node, cos FROM z{h}n"
            for h in range(1, GREEDY_HOPS + 1)
        ]
    )
    return f"""{head}
        , visited AS (
            SELECT query_id, node, MAX(cos) AS cos
            FROM ({pool}) pool
            GROUP BY query_id, node)
        {_GREEDY_FINAL_SQL}"""


def hnsw_topk(
    spark: SparkSession,
    sf_dir: str,
    n_seeds: int | None = None,
    checkpoint_mode: str = "local",
) -> DataFrame:
    """Spark side: per-layer edge lists, the level map, the probe
    table, and EVERY hop frontier are materialized eagerly in a
    DRIVER LOOP (localCheckpoint locally / reliable checkpoint on a
    cluster). A single unrolled SQL statement is NOT an option here:
    each hop references its predecessor twice (neighbor expansion +
    union), so the inlined tree re-instantiates 2^rounds times —
    at 3 layers × 3 hops + 3 beamed layer-0 hops that is 2^12
    subtrees (observed as a multi-minute hang before this loop).
    Each materialized frontier is ≤ HNSW_EF rows per probe, so the
    per-hop job is a broadcast-sized join against the cached edge
    blocks — the logarithmic-routing cost HNSW promises."""
    from ..tables import load_table

    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView(
        "embeddings"
    )

    def ckpt(df):
        if checkpoint_mode == "reliable":
            return df.checkpoint(eager=True)
        if checkpoint_mode == "local":
            return df.localCheckpoint()
        raise ValueError(f"unknown checkpoint_mode: {checkpoint_mode!r}")

    v_sql = f"""
        WITH v AS (
            SELECT vec_id, embedding,
                   {_norm('embedding', 'spark')} AS nrm
            FROM embeddings)
        , seeds AS (
            SELECT vec_id AS seed_id, embedding AS se, nrm AS snrm
            FROM v WHERE {_seed_pred(n_seeds)})
        {{body}}"""

    # layer-0 KNN edges + upper-layer graphs, materialized once
    edges0 = spark.sql(
        f"""{_knn_ctes('spark', n_seeds)}
        SELECT vec_id AS src, neighbor_id AS dst
        FROM ranked WHERE rnk <= {KNN_K}
        """
    )
    ckpt(edges0).createOrReplaceTempView("hnsw_edges0_mat")
    layers_body = _hnsw_layer_edges_ctes("spark", n_seeds)
    for lv in range(1, HNSW_LMAX + 1):
        df = spark.sql(
            v_sql.format(body=f"{layers_body} SELECT src, dst FROM edges{lv}")
        )
        ckpt(df).createOrReplaceTempView(f"hnsw_edges{lv}_mat")
    lvl_df = spark.sql(
        "SELECT vec_id, "
        + _hnsw_lvl_expr("spark")
        + " AS lvl FROM embeddings"
    )
    ckpt(lvl_df).createOrReplaceTempView("hnsw_lvl_mat")

    # probes + entry frontier (descent start), materialized.
    # Hops use the DataFrame API against the cached edge/embedding
    # frames — no temp-view swapping inside the loop.
    v_df = spark.sql(
        f"""
        SELECT vec_id, embedding,
               {_norm('embedding', 'spark')} AS nrm
        FROM embeddings
        """
    )
    gq = ckpt(
        v_df.where(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            F.col("nrm").alias("qn"),
        )
    )
    entry = spark.sql(
        """
        SELECT vec_id AS node FROM hnsw_lvl_mat
        ORDER BY lvl DESC, vec_id ASC LIMIT 1
        """
    )
    cos_expr = (
        F.expr(_dot("qe", "embedding", "spark"))
        / (F.col("qn") * F.col("nrm"))
    ).alias("cos")
    frontier = ckpt(
        gq.crossJoin(entry)
        .join(v_df, F.col("vec_id") == F.col("node"))
        .select("query_id", "node", cos_expr)
    )
    pool = [frontier]

    def hop(frontier_df, edges_view, keep):
        edges = spark.table(edges_view)
        cand = ckpt(
            frontier_df.select("query_id", "node")
            .join(edges, F.col("src") == F.col("node"))
            .select("query_id", F.col("dst"))
            .join(gq, "query_id")
            .join(v_df, F.col("vec_id") == F.col("dst"))
            .select(
                "query_id", F.col("dst").alias("node"), cos_expr
            )
        )
        merged = (
            frontier_df.unionAll(cand)
            .groupBy("query_id", "node")
            .agg(F.max("cos").alias("cos"))
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cos").desc(), F.col("node").asc()
        )
        nxt = ckpt(
            merged.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= keep)
            .select("query_id", "node", "cos")
        )
        return nxt, cand

    for lv in range(HNSW_LMAX, 0, -1):
        for _ in range(HNSW_LAYER_HOPS):
            frontier, cand = hop(
                frontier, f"hnsw_edges{lv}_mat", HNSW_DESCENT_BEAM
            )
            pool.append(cand)
    for _ in range(GREEDY_HOPS):
        frontier, cand = hop(frontier, "hnsw_edges0_mat", HNSW_EF)
        pool.append(cand)

    allc = pool[0]
    for p in pool[1:]:
        allc = allc.unionAll(p)
    ckpt(allc).createOrReplaceTempView("hnsw_pool")
    return spark.sql(
        f"""
        WITH visited AS (
            SELECT query_id, node, MAX(cos) AS cos
            FROM hnsw_pool GROUP BY query_id, node)
        {_GREEDY_FINAL_SQL}
        """
    )


# ---------------------------------------------------------------------------
# Personalized PageRank (random walk with restart) from probe seeds
# ---------------------------------------------------------------------------

PPR_ITERS = 3
PPR_SCALE = 1_000_000_000


def _ppr_rounds(div: str, edges: str, iters: int = PPR_ITERS) -> str:
    """Unrolled RWR rounds over (seed_id, vec_id) mass tables:
    r_{t+1} = 0.15·e_seed + 0.85·Σ_in r_t/outdeg — PageRank's
    algebra with the teleport pinned to THE SEED instead of the
    uniform vector, run for all probe seeds at once (seed_id rides
    the key). Same integer discipline as pagerank_sql."""
    ctes = ""
    prev = "p0"
    for i in range(1, iters + 1):
        ctes += f"""
        , c{i} AS (
            SELECT p.seed_id, e.dst AS vec_id,
                   CAST(SUM((p.r {div} d.deg) * 85) {div} 100
                       AS BIGINT) AS contrib
            FROM {edges} e
            JOIN {prev} p ON p.vec_id = e.src
            JOIN outdeg d ON d.src = e.src
            GROUP BY p.seed_id, e.dst)
        , p{i} AS (
            SELECT b.seed_id, b.vec_id,
                   CAST(CASE WHEN b.vec_id = b.seed_id
                        THEN {PPR_SCALE * 15 // 100} ELSE 0 END
                        + COALESCE(c.contrib, 0) AS BIGINT) AS r
            FROM pbase b
            LEFT JOIN c{i} c ON c.seed_id = b.seed_id
                            AND c.vec_id = b.vec_id)"""
        prev = f"p{i}"
    return ctes


def ppr_seeds_sql(dialect: str, n_seeds: int | None = None) -> str:
    """Single-statement oracle twin (MATERIALIZED edges + rounds —
    each round references its predecessor once here, but the edge
    relation thrice across rounds)."""
    div = "div" if dialect == "spark" else "//"
    mat = "MATERIALIZED " if dialect != "spark" else ""
    head = f"""{_graph_edge_head(dialect, n_seeds)}
        , outdeg AS {mat}(
            SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
            FROM edges GROUP BY src)
        , probes AS (
            SELECT vec_id AS seed_id FROM v
            WHERE vec_id < {N_QUERIES})
        , pbase AS (
            SELECT p.seed_id, n.vec_id
            FROM probes p CROSS JOIN (SELECT vec_id FROM v) n)
        , p0 AS (
            SELECT seed_id, vec_id,
                   CAST(CASE WHEN vec_id = seed_id
                        THEN {PPR_SCALE} ELSE 0 END AS BIGINT) AS r
            FROM pbase)"""
    head += _ppr_rounds(div, "edges")
    return f"""{head}
        , ranked_out AS (
            SELECT seed_id, vec_id, r,
                   row_number() OVER (
                       PARTITION BY seed_id
                       ORDER BY r DESC, vec_id ASC) AS rn
            FROM p{PPR_ITERS} WHERE r > 0 AND vec_id <> seed_id)
        SELECT seed_id, vec_id AS neighbor_id,
               r AS ppr_e9, CAST(rn AS BIGINT) AS ppr_rank
        FROM ranked_out WHERE rn <= {TOPK}
    """


def ppr_seeds(
    spark: SparkSession,
    sf_dir: str,
    n_seeds: int | None = None,
    checkpoint_mode: str = "local",
    edges_view: str | None = None,
) -> DataFrame:
    """Spark side: edges checkpointed once (pagerank pattern; or an
    already-materialized view passed in via edges_view — the shared
    session gate map), then the unrolled rounds run over the cached
    blocks; the per-round mass table is (probes × touched
    nodes)-bounded."""
    from ..tables import load_table

    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView(
        "embeddings"
    )
    if edges_view is None:
        edges = _edges_df(spark, sf_dir, n_seeds)
        if checkpoint_mode == "reliable":
            edges = edges.checkpoint(eager=True)
        elif checkpoint_mode == "local":
            edges = edges.localCheckpoint()
        else:
            raise ValueError(
                f"unknown checkpoint_mode: {checkpoint_mode!r}"
            )
        edges.createOrReplaceTempView("ppr_edges_mat")
        edges_view = "ppr_edges_mat"
    div = "div"
    body = f"""
        WITH v AS (
            SELECT vec_id FROM embeddings)
        , outdeg AS (
            SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
            FROM {edges_view} GROUP BY src)
        , probes AS (
            SELECT vec_id AS seed_id FROM v
            WHERE vec_id < {N_QUERIES})
        , pbase AS (
            SELECT p.seed_id, n.vec_id
            FROM probes p CROSS JOIN (SELECT vec_id FROM v) n)
        , p0 AS (
            SELECT seed_id, vec_id,
                   CAST(CASE WHEN vec_id = seed_id
                        THEN {PPR_SCALE} ELSE 0 END AS BIGINT) AS r
            FROM pbase)"""
    body += _ppr_rounds(div, edges_view)
    return spark.sql(
        f"""{body}
        , ranked_out AS (
            SELECT seed_id, vec_id, r,
                   row_number() OVER (
                       PARTITION BY seed_id
                       ORDER BY r DESC, vec_id ASC) AS rn
            FROM p{PPR_ITERS} WHERE r > 0 AND vec_id <> seed_id)
        SELECT seed_id, vec_id AS neighbor_id,
               r AS ppr_e9, CAST(rn AS BIGINT) AS ppr_rank
        FROM ranked_out WHERE rn <= {TOPK}
    """
    )


# ---------------------------------------------------------------------------
# Symmetric int8-code ANN served by an Arrow/numpy GEMM
# ---------------------------------------------------------------------------


def int8_codes_ctes(dialect: str) -> str:
    """Shared CTE chain producing the per-(vec, dim) int8 code table
    (the #96 construction: e6-floored values, per-dim [lo, hi],
    256 uniform bins — pure integer after the one safe multiply)."""
    if dialect == "spark":
        explode = """
        e AS (
            SELECT vec_id, p + 1 AS dim, CAST(xe AS DOUBLE) AS x
            FROM embeddings
            LATERAL VIEW posexplode(embedding) AS p, xe)
        """
    else:
        explode = """
        e AS (
            SELECT vec_id, d.dim AS dim,
                   CAST(embedding[d.dim] AS DOUBLE) AS x
            FROM embeddings,
                 (SELECT CAST(unnest(range(1, 65)) AS BIGINT) AS dim) d)
        """
    idiv = "div" if dialect == "spark" else "//"
    return f"""{explode}
        , ei AS (
            SELECT vec_id, dim,
                   CAST(FLOOR(x * 1000000) AS BIGINT) AS xi
            FROM e)
        , stats AS (
            SELECT dim, MIN(xi) AS lo, MAX(xi) AS hi FROM ei GROUP BY dim)
        , codes AS (
            SELECT ei.vec_id, ei.dim,
                   CASE WHEN s.hi = s.lo THEN 0
                        ELSE ((ei.xi - s.lo) * 256)
                             {idiv} (s.hi - s.lo + 1)
                   END AS code
            FROM ei JOIN stats s ON ei.dim = s.dim)"""


def int8_gemm_sql(dialect: str) -> str:
    """Oracle twin of the GEMM serve: symmetric quantized dot
    score(q, v) = sum_d (cq_d - 128)(cv_d - 128) — int32-bounded
    (|64 * 128^2| ~ 1e6) so every engine (and numpy) is exact."""
    return f"""
        WITH {int8_codes_ctes(dialect)}
        , scored AS (
            SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
                   CAST(SUM((q.code - 128) * (v.code - 128))
                        AS BIGINT) AS dot_int8
            FROM codes q
            JOIN codes v ON v.dim = q.dim AND v.vec_id <> q.vec_id
            WHERE q.vec_id < {N_QUERIES}
            GROUP BY q.vec_id, v.vec_id)
        , ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY dot_int8 DESC, neighbor_id ASC) AS rn
            FROM scored)
        SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS nn_rank,
               dot_int8
        FROM ranked WHERE rn <= {TOPK}
    """


def int8_gemm_topk(spark: SparkSession, sf_dir: str, codes_arr) -> DataFrame:
    """Serve the symmetric int8 ANN through an Arrow mapInPandas
    numpy GEMM: each Arrow batch of packed code vectors multiplies
    the broadcast query-code matrix as ONE int64 matrix product
    ((C-128) @ (Q-128)^T — exact, values bounded by 64*128^2), and
    only the per-batch top-k per query survives to the JVM (safe:
    the global top-k under the total order (dot DESC, id ASC) is
    contained in the union of per-batch top-k under the same
    order). The JVM then takes the global top-k — so the Python
    boundary emits O(batches * queries * k) rows however large the
    corpus, and the GEMM is BLAS-shaped compute, the reason this
    boundary exists at all."""
    import numpy as np

    q_rows = sorted(
        (r["vec_id"], list(r["codes"]))
        for r in codes_arr.where(
            F.col("vec_id") < N_QUERIES
        ).collect()
    )
    qids = np.array([v for v, _ in q_rows], dtype=np.int64)
    qmat = np.array([c for _, c in q_rows], dtype=np.int64) - 128
    k = TOPK

    def gemm(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            vids = pdf["vec_id"].to_numpy(dtype=np.int64)
            cmat = (
                np.array(list(pdf["codes"]), dtype=np.int64) - 128
            )
            dots = cmat @ qmat.T  # (batch, queries) exact int64
            out_q, out_n, out_d = [], [], []
            for j, qid in enumerate(qids):
                col = dots[:, j]
                mask = vids != qid
                vv, dd = vids[mask], col[mask]
                order = np.lexsort((vv, -dd))[:k]
                out_q.extend([qid] * len(order))
                out_n.extend(vv[order])
                out_d.extend(dd[order])
            yield pd.DataFrame(
                {
                    "query_id": np.array(out_q, dtype=np.int64),
                    "neighbor_id": np.array(out_n, dtype=np.int64),
                    "dot_int8": np.array(out_d, dtype=np.int64),
                }
            )

    cand = codes_arr.mapInPandas(
        gemm, "query_id long, neighbor_id long, dot_int8 long"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot_int8").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("nn_rank", F.row_number().over(w).cast("long"))
        .where(F.col("nn_rank") <= k)
        .select("query_id", "neighbor_id", "nn_rank", "dot_int8")
    )
