"""Deduplication operators for a training-data pipeline: exact,
word-n-gram Jaccard, MinHash+LSH, SimHash.

Cross-engine determinism: the ONLY hash primitive is md5 (bit-exact
identical in Spark and DuckDB), so MinHash signatures, LSH band
buckets and SimHash bit votes agree exactly with the oracle SQL,
which mirrors the same algorithm.

Scale design (100 TB):
- exact: hash-groupBy on md5(normalized) — one shuffle, map-side
  partial agg.
- ngram Jaccard (the O(candidates) verifier): explode shingles →
  equi-join on shingle → count; at scale you never run it standalone
  (that's the quadratic baseline / oracle twin) — you run it AFTER
  LSH pruning.
- MinHash+LSH: shingle explode → groupBy doc with 12 partial mins
  (map-side combine) → 3 band keys → 3 equi-joins on band hash →
  verify only bucket-collision pairs. Work is O(docs + candidates).
- SimHash: 64-bit signature from md5 nibble votes; 4×16-bit band
  blocking guarantees NO false negatives for hamming <= 3
  (pigeonhole) while keeping the pair join equi-key.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

NGRAM_N = 3
NUM_MINHASH = 12
BAND_ROWS = 4  # -> 3 bands
JACCARD_THRESHOLD_BP = 5000  # jaccard >= 0.5, expressed in basis points
SIMHASH_MAX_HAMMING = 3  # 4 bands of 16 bits: exact for hamming <= 3


# ---------------------------------------------------------------------------
# shared building blocks
# ---------------------------------------------------------------------------


def shingles(docs: DataFrame, n: int = NGRAM_N) -> DataFrame:
    """Distinct word-n-gram shingles per doc: (doc_id, s).

    Built from n whole-array slices + zip_with concatenation (O(n)
    array copies per doc) instead of one slice per position (O(len)
    copies) — ~2× faster at sf0.1, identical output."""
    toks = F.split(F.col("text"), " ")
    m = F.size(toks) - (n - 1)  # number of shingles
    parts = [F.slice(toks, i + 1, m) for i in range(n)]
    grams = parts[0]
    for p in parts[1:]:
        grams = F.zip_with(grams, p, lambda x, y: F.concat(x, F.lit(" "), y))
    return (
        docs.where(F.size(toks) >= n)
        .select("doc_id", F.explode(F.array_distinct(grams)).alias("s"))
    )


_SHINGLES_SQL = f"""
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    , sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(t) - {NGRAM_N - 2}),
                                     i -> array_to_string(t[i:i+{NGRAM_N - 1}], ' '))) AS s
        FROM toks WHERE len(t) >= {NGRAM_N})
    , sc AS (SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY doc_id)
"""

# LSH_TUNING-only materialized twin: its 12 sh / 5 sig references
# re-inflate the shingle chain per reference x threads in DuckDB
# (observed OOM while a Spark JVM was resident). Global
# materialization is NOT safe — DuckDB hoists MATERIALIZED CTEs, so
# an oracle nesting another shingle-bearing oracle would collide on
# the alias; this variant is used only where no nesting occurs.
_SHINGLES_SQL_MAT = _SHINGLES_SQL.replace(
    ", sh AS (", ", sh AS MATERIALIZED ("
).replace(", sc AS (", ", sc AS MATERIALIZED (")


def _pair_jaccard(sh: DataFrame, pairs: DataFrame | None = None) -> DataFrame:
    """(doc_a, doc_b, jaccard) for pairs sharing >= 1 shingle; if
    ``pairs`` given, restrict to those candidates (the LSH path)."""
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("c"))
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("s_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("s_b"))
    if pairs is not None:
        a = a.join(pairs.select("doc_a").distinct(), "doc_a")
        b = b.join(pairs.select("doc_b").distinct(), "doc_b")
    inter = (
        a.join(b, (F.col("s_a") == F.col("s_b")) & (F.col("doc_a") < F.col("doc_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    if pairs is not None:
        inter = inter.join(pairs, ["doc_a", "doc_b"])
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("c").alias("ca"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("c").alias("cb"))
    # keep exact integers: |intersection| and |union| — callers
    # threshold and scale with integer arithmetic (cross-engine safe;
    # double round() flips at the half-boundaries these low-entropy
    # rationals land on)
    return (
        inter.join(ca, "doc_a")
        .join(cb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("inter").cast("long").alias("inter"),
            (F.col("ca") + F.col("cb") - F.col("inter")).cast("long").alias("uni"),
        )
    )


# ---------------------------------------------------------------------------
# 25. exact dedup
# ---------------------------------------------------------------------------


def dedup_exact(docs: DataFrame) -> DataFrame:
    from pyspark.sql import Window

    norm_md5 = F.md5(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    )
    w = Window.partitionBy("norm_md5")
    return (
        docs.select("doc_id", norm_md5.alias("norm_md5"))
        .withColumn("dup_group_size", F.count(F.lit(1)).over(w))
        .withColumn("is_canonical", F.col("doc_id") == F.min("doc_id").over(w))
    )


DEDUP_EXACT_SQL = r"""
    WITH h AS (
        SELECT doc_id,
               md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS norm_md5
        FROM documents)
    SELECT doc_id, norm_md5,
           COUNT(*) OVER (PARTITION BY norm_md5) AS dup_group_size,
           doc_id = MIN(doc_id) OVER (PARTITION BY norm_md5) AS is_canonical
    FROM h
"""


# ---------------------------------------------------------------------------
# 26. exact n-gram Jaccard pairs (quadratic baseline / oracle twin)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    docs: DataFrame, threshold_bp: int = JACCARD_THRESHOLD_BP,
    sh: DataFrame | None = None,
) -> DataFrame:
    sim = _pair_jaccard(sh if sh is not None else shingles(docs))
    return sim.where(
        F.lit(10000) * F.col("inter") >= F.lit(threshold_bp) * F.col("uni")
    ).select(
        "doc_a",
        "doc_b",
        F.expr("(10000 * inter) div uni").alias("jaccard_bp"),
    )


NGRAM_JACCARD_SQL = f"""
    WITH {_SHINGLES_SQL}
    , pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           (10000 * CAST(inter AS BIGINT)) // CAST(x.c + y.c - inter AS BIGINT)
               AS jaccard_bp
    FROM pairs p JOIN sc x ON p.doc_a = x.doc_id JOIN sc y ON p.doc_b = y.doc_id
    WHERE 10000 * inter >= {JACCARD_THRESHOLD_BP} * (x.c + y.c - inter)
"""


# ---------------------------------------------------------------------------
# 27. MinHash + LSH banding, exact-Jaccard verified
# ---------------------------------------------------------------------------


def minhash_signatures(sh: DataFrame) -> DataFrame:
    """12 minhashes per doc via Kirsch-Mitzenmacher double hashing:
    g_k(s) = (a + k*b) mod 2^32 where a, b are the first two 32-bit
    halves of md5(s).  One md5 per shingle occurrence instead of 12,
    and the per-doc aggregate takes mins over longs instead of
    32-char hex strings (~2x faster signature stage at sf0.1, same
    LSH guarantees — Kirsch & Mitzenmacher 2006 show double hashing
    preserves minwise-independence asymptotically).

    Cross-engine exact: DuckDB parses the same halves with
    CAST('0x' || substr(md5(s), ..) AS BIGINT); a + k*b < 2^36 so
    the mod-2^32 arithmetic never overflows either engine's int64.

    Perf note: hashing per occurrence beats a distinct-vocabulary
    broadcast join here (measured at sf0.1) — md5 in whole-stage
    codegen is cheaper than the extra shuffle+join; the map-side
    partial min keeps shuffle volume at one row per (doc, k)."""
    h = F.md5(F.col("s"))
    hashed = sh.select(
        "doc_id",
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("a"),
        F.conv(F.substring(h, 9, 8), 16, 10).cast("long").alias("b"),
    )
    return hashed.groupBy("doc_id").agg(
        *[
            F.min(
                (F.col("a") + F.lit(k) * F.col("b")) % F.lit(4294967296)
            ).alias(f"mh{k}")
            for k in range(NUM_MINHASH)
        ]
    )


def lsh_candidates(
    signatures: DataFrame, band_rows: int = BAND_ROWS
) -> DataFrame:
    """Band-bucket collision pairs via ONE self-join on
    (band_idx, band_key) over posexploded band rows — not one join
    per band.  A per-band union would repeat the signature subtree
    2×n_bands times in the plan (Catalyst analysis + codegen cost)
    and schedule n_bands separate shuffles; the stacked form scans
    signatures once, shuffles n_bands× (tiny) band rows once, and
    ReuseExchange shares the one exchange between both join sides."""
    n_bands = NUM_MINHASH // band_rows
    banded = signatures.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.md5(
                        F.concat_ws(
                            "|",
                            *[
                                F.col(f"mh{b * band_rows + r}")
                                for r in range(band_rows)
                            ],
                        )
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band", "bk"),
    )
    a = banded.select(F.col("doc_id").alias("doc_a"), "band", "bk")
    c = banded.select(F.col("doc_id").alias("doc_b"), "band", "bk")
    return (
        a.join(c, ["band", "bk"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_lsh_pairs(
    docs: DataFrame, threshold_bp: int = JACCARD_THRESHOLD_BP,
    sh: DataFrame | None = None, signatures: DataFrame | None = None,
) -> DataFrame:
    sh = sh if sh is not None else shingles(docs)
    cand = lsh_candidates(
        signatures if signatures is not None else minhash_signatures(sh)
    )
    sim = _pair_jaccard(sh, pairs=cand)
    return sim.where(
        F.lit(10000) * F.col("inter") >= F.lit(threshold_bp) * F.col("uni")
    ).select(
        "doc_a",
        "doc_b",
        F.expr("(10000 * inter) div uni").alias("jaccard_bp"),
    )


def lsh_verified_pairs_arrays(
    cand: DataFrame, sharr: DataFrame,
    threshold_bp: int = JACCARD_THRESHOLD_BP,
) -> DataFrame:
    """Exact-Jaccard verify of candidate pairs via the per-doc
    DISTINCT shingle-array view (r10, guide §3.4 — the same tail
    dedup_ppjoin_exact adopted in r9): shingles are a SET per doc,
    so |x∩y| = size(array_intersect) computed row-locally on a
    doc-keyed pair join; |x∪y| = ca + cb − inter. Replaces the
    postings-expansion verify (_pair_jaccard over candidates): two
    bounded doc-keyed joins instead of the Σ|x| exploded
    shingle-equality join + group-count + two count joins + the
    candidate re-join. Pairs with inter = 0 fall below any positive
    threshold in both tails, so the emitted rows are identical."""
    pa = sharr.select(
        F.col("doc_id").alias("doc_a"),
        F.col("arr").alias("arr_a"),
        F.col("c").alias("ca"),
    )
    pb = sharr.select(
        F.col("doc_id").alias("doc_b"),
        F.col("arr").alias("arr_b"),
        F.col("c").alias("cb"),
    )
    j = (
        cand.join(pa, "doc_a")
        .join(pb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr(
                "CAST(size(array_intersect(arr_a, arr_b)) AS BIGINT)"
            ).alias("inter"),
            (F.col("ca") + F.col("cb")).cast("long").alias("sumc"),
        )
    )
    return j.where(
        F.lit(10000) * F.col("inter")
        >= F.lit(threshold_bp) * (F.col("sumc") - F.col("inter"))
    ).select(
        "doc_a",
        "doc_b",
        F.expr("(10000 * inter) div (sumc - inter)").alias("jaccard_bp"),
    )


def _minhash_sql_cols() -> str:
    return ", ".join(
        f"min((a + {k} * b) % 4294967296) AS mh{k}" for k in range(NUM_MINHASH)
    )


def _band_sql_cols() -> str:
    n_bands = NUM_MINHASH // BAND_ROWS
    cols = []
    for b in range(n_bands):
        parts = " || '|' || ".join(
            f"CAST(mh{b * BAND_ROWS + r} AS VARCHAR)" for r in range(BAND_ROWS)
        )
        cols.append(f"md5({parts}) AS band{b}")
    return ", ".join(cols)


MINHASH_LSH_SQL = f"""
    WITH {_SHINGLES_SQL}
    , hashed AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) AS a,
               CAST('0x' || substr(md5(s), 9, 8) AS BIGINT) AS b
        FROM sh)
    , sig AS (SELECT doc_id, {_minhash_sql_cols()} FROM hashed GROUP BY doc_id)
    , bands AS (SELECT doc_id, {_band_sql_cols()} FROM sig)
    , cand AS (
        SELECT DISTINCT doc_a, doc_b FROM (
            {" UNION ALL ".join(
                f"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b "
                f"FROM bands a JOIN bands b "
                f"ON a.band{b} = b.band{b} AND a.doc_id < b.doc_id"
                for b in range(NUM_MINHASH // BAND_ROWS)
            )}))
    , inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
        FROM cand c
        JOIN sh x ON x.doc_id = c.doc_a
        JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
        GROUP BY 1, 2)
    SELECT i.doc_a, i.doc_b,
           (10000 * CAST(inter AS BIGINT)) // CAST(x.c + y.c - inter AS BIGINT)
               AS jaccard_bp
    FROM inter i JOIN sc x ON i.doc_a = x.doc_id JOIN sc y ON i.doc_b = y.doc_id
    WHERE 10000 * inter >= {JACCARD_THRESHOLD_BP} * (x.c + y.c - inter)
"""


def minhash_estimate(signatures: DataFrame, sharr: DataFrame) -> DataFrame:
    """Sketch calibration: for every LSH candidate pair, the
    MinHash-ESTIMATED Jaccard (matching minhashes / NUM_MINHASH)
    side by side with the exact shingle Jaccard — the view that
    tells a dedup deployment whether its sketch width (k=12) is
    adequate for its threshold, measured on its own corpus. Both
    values are integer-exact (floor bp), so the oracle compare is
    bit-for-bit; zero-overlap band collisions (pure hash accidents)
    appear with exact_bp = 0.

    Scale: candidates come from the banded equi-join (never
    all-pairs); the signature re-join is k integer columns per side;
    the exact side is a row-local array_intersect on the per-doc
    DISTINCT shingle-array view ``sharr`` (doc_id, arr, c), so it
    touches only candidate pairs (r10, guide §3.4)."""
    cand = lsh_candidates(signatures)
    sa = signatures.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{k}").alias(f"a{k}") for k in range(NUM_MINHASH)],
    )
    sb = signatures.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{k}").alias(f"b{k}") for k in range(NUM_MINHASH)],
    )
    matches = None
    for k in range(NUM_MINHASH):
        t = F.when(F.col(f"a{k}") == F.col(f"b{k}"), 1).otherwise(0)
        matches = t if matches is None else matches + t
    m = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", matches.cast("long").alias("matches"))
    )
    pa = sharr.select(
        F.col("doc_id").alias("doc_a"),
        F.col("arr").alias("arr_a"),
        F.col("c").alias("ca2"),
    )
    pb = sharr.select(
        F.col("doc_id").alias("doc_b"),
        F.col("arr").alias("arr_b"),
        F.col("c").alias("cb2"),
    )
    j = (
        m.join(pa, "doc_a")
        .join(pb, "doc_b")
        .withColumn(
            "inter0",
            F.expr("CAST(size(array_intersect(arr_a, arr_b)) AS BIGINT)"),
        )
        .withColumn(
            "uni0",
            (F.col("ca2") + F.col("cb2") - F.col("inter0")).cast("long"),
        )
    )
    return j.select(
        "doc_a",
        "doc_b",
        "matches",
        F.expr(f"(10000 * matches) div {NUM_MINHASH}").alias("est_jaccard_bp"),
        F.expr("(10000 * inter0) div uni0").alias("exact_jaccard_bp"),
    )


MINHASH_ESTIMATE_SQL = f"""
    WITH {_SHINGLES_SQL}
    , hashed AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) AS a,
               CAST('0x' || substr(md5(s), 9, 8) AS BIGINT) AS b
        FROM sh)
    , sig AS (SELECT doc_id, {_minhash_sql_cols()} FROM hashed GROUP BY doc_id)
    , bands AS (SELECT doc_id, {_band_sql_cols()} FROM sig)
    , cand AS (
        SELECT DISTINCT doc_a, doc_b FROM (
            {" UNION ALL ".join(
                f"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b "
                f"FROM bands a JOIN bands b "
                f"ON a.band{b} = b.band{b} AND a.doc_id < b.doc_id"
                for b in range(NUM_MINHASH // BAND_ROWS)
            )}))
    , m AS (
        SELECT c.doc_a, c.doc_b,
               CAST({" + ".join(
                   f"(CASE WHEN a.mh{k} = b.mh{k} THEN 1 ELSE 0 END)"
                   for k in range(NUM_MINHASH)
               )} AS BIGINT) AS matches
        FROM cand c
        JOIN sig a ON a.doc_id = c.doc_a
        JOIN sig b ON b.doc_id = c.doc_b)
    , inter AS (
        SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS inter
        FROM cand c
        JOIN sh x ON x.doc_id = c.doc_a
        JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
        GROUP BY 1, 2)
    SELECT m.doc_a, m.doc_b, m.matches,
           (10000 * m.matches) // {NUM_MINHASH} AS est_jaccard_bp,
           (10000 * CAST(COALESCE(i.inter, 0) AS BIGINT))
               // CAST(x.c + y.c - COALESCE(i.inter, 0) AS BIGINT)
               AS exact_jaccard_bp
    FROM m
    LEFT JOIN inter i ON m.doc_a = i.doc_a AND m.doc_b = i.doc_b
    JOIN sc x ON m.doc_a = x.doc_id
    JOIN sc y ON m.doc_b = y.doc_id
"""


# ---------------------------------------------------------------------------
# 28. SimHash near-dup pairs (frequency-weighted, 64-bit, banded)
# ---------------------------------------------------------------------------


def _nibble_spark(j: int) -> str:
    pos, shift = 1 + j // 4, 3 - (j % 4)
    return (
        f"(shiftright(instr('0123456789abcdef', substring(h, {pos}, 1)) - 1,"
        f" {shift}) & 1)"
    )


def _nibble_duck(j: int) -> str:
    pos, shift = 1 + j // 4, 3 - (j % 4)
    return (
        f"(((instr('0123456789abcdef', substr(h, {pos}, 1)) - 1) // {1 << shift}) % 2)"
    )


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """64-bit SimHash: token md5 nibble bits, frequency-weighted
    votes; packed into two 32-bit halves (h1=bits 0-31, h2=32-63).

    Perf: the per-bit md5/instr extraction runs once per DISTINCT
    token (vocabulary join), so the heavy string work is
    O(|vocab| * 64), and the per-doc aggregation is plain integer
    sums. Votes are identical to hashing every occurrence. The vocab
    join is UNHINTED: the distinct-token table (64 bit columns wide)
    grows with corpus size, so a forced broadcast would OOM at 100 TB
    — an equi shuffle join on `t` (or AQE's runtime broadcast when it
    happens to be small) is the scale-safe plan."""
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("t")
    )
    weighted = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("w"))
    vocab = (
        weighted.select("t")
        .distinct()
        .withColumn("h", F.md5(F.col("t")))
        .select(
            "t",
            *[
                F.expr(f"(2 * {_nibble_spark(j)} - 1)").alias(f"_b{j}")
                for j in range(64)
            ],
        )
    )
    votes = (
        weighted.join(vocab, "t")
        .groupBy("doc_id")
        .agg(*[F.sum(F.expr(f"w * _b{j}")).alias(f"v{j}") for j in range(64)])
    )
    h1 = reduce(
        lambda acc, j: acc
        + F.when(F.col(f"v{j}") >= 0, F.lit(1 << j)).otherwise(F.lit(0)),
        range(32),
        F.lit(0),
    ).cast("long")
    h2 = reduce(
        lambda acc, j: acc
        + F.when(F.col(f"v{j}") >= 0, F.lit(1 << (j - 32))).otherwise(F.lit(0)),
        range(32, 64),
        F.lit(0),
    ).cast("long")
    return votes.select("doc_id", h1.alias("h1"), h2.alias("h2"))


def simhash_pairs(
    docs: DataFrame, max_hamming: int = SIMHASH_MAX_HAMMING
) -> DataFrame:
    sig = simhash_signatures(docs)
    # one self-join on (band_idx, band_key) over posexploded 16-bit
    # bands — see lsh_candidates for why this beats a per-band union
    banded = sig.select(
        "doc_id",
        "h1",
        "h2",
        F.posexplode(
            F.array(
                F.col("h1") % 65536,
                (F.col("h1") / 65536).cast("long"),
                F.col("h2") % 65536,
                (F.col("h2") / 65536).cast("long"),
            )
        ).alias("band", "bk"),
    )
    a = banded.select(
        F.col("doc_id").alias("doc_a"),
        F.col("h1").alias("ah1"),
        F.col("h2").alias("ah2"),
        "band",
        "bk",
    )
    c = banded.select(
        F.col("doc_id").alias("doc_b"),
        F.col("h1").alias("bh1"),
        F.col("h2").alias("bh2"),
        "band",
        "bk",
    )
    cand = (
        a.join(c, ["band", "bk"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "ah1", "ah2", "bh1", "bh2")
        .distinct()
    )
    hamming = F.expr("bit_count(ah1 ^ bh1) + bit_count(ah2 ^ bh2)").cast("long")
    return (
        cand.withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def _simhash_votes_sql() -> str:
    return ", ".join(
        f"SUM(w * (2 * {_nibble_duck(j)} - 1)) AS v{j}" for j in range(64)
    )


def _simhash_half_sql(lo: int, hi: int, base: int) -> str:
    terms = " + ".join(
        f"(CASE WHEN v{j} >= 0 THEN {1 << (j - base)} ELSE 0 END)"
        for j in range(lo, hi)
    )
    return f"CAST({terms} AS BIGINT)"


SIMHASH_SQL = f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
    , weighted AS (
        SELECT doc_id, t, COUNT(*) AS w FROM tok GROUP BY doc_id, t)
    , hashed AS (SELECT doc_id, w, md5(t) AS h FROM weighted)
    , votes AS (SELECT doc_id, {_simhash_votes_sql()} FROM hashed GROUP BY doc_id)
    , sig AS (
        SELECT doc_id,
               {_simhash_half_sql(0, 32, 0)} AS h1,
               {_simhash_half_sql(32, 64, 32)} AS h2
        FROM votes)
    , banded AS (
        SELECT doc_id, h1, h2,
               h1 % 65536 AS b0, h1 // 65536 AS b1,
               h2 % 65536 AS b2, h2 // 65536 AS b3
        FROM sig)
    , cand AS (
        SELECT DISTINCT doc_a, doc_b, ah1, ah2, bh1, bh2 FROM (
            {" UNION ALL ".join(
                f"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
                f"a.h1 AS ah1, a.h2 AS ah2, b.h1 AS bh1, b.h2 AS bh2 "
                f"FROM banded a JOIN banded b "
                f"ON a.b{b} = b.b{b} AND a.doc_id < b.doc_id"
                for b in range(4)
            )}))
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(ah1, bh1)) + bit_count(xor(ah2, bh2)) AS BIGINT)
               AS hamming
    FROM cand
    WHERE bit_count(xor(ah1, bh1)) + bit_count(xor(ah2, bh2)) <= {SIMHASH_MAX_HAMMING}
"""


# ---------------------------------------------------------------------------
# dedup clusters: connected components over near-dup pairs
# ---------------------------------------------------------------------------


def dedup_clusters(
    docs: DataFrame, max_iter: int = 20,
    sh: DataFrame | None = None,
) -> DataFrame:
    """Connected components over the thresholded Jaccard pair graph:
    every doc labeled with the min doc_id reachable through near-dup
    edges (the canonical representative a dedup pipeline keeps).

    Pregel-style iterative min-label propagation: each round, every
    node takes the min of its own label and its neighbors' labels —
    one equi-join + groupBy per round, converging in O(component
    diameter) rounds (dup chains are short). The driver loop controls
    ITERATIONS only; all data movement is distributed joins. Lineage
    is truncated per round (localCheckpoint) so the plan doesn't grow
    with iterations. Oracle: DuckDB recursive CTE computing the same
    transitive closure.
    """
    from .graph import connected_components

    pairs = ngram_jaccard_pairs(docs, sh=sh).select("doc_a", "doc_b")
    return connected_components(
        docs.select("doc_id"), pairs, id_col="doc_id", max_iter=max_iter
    )


DEDUP_CLUSTERS_SQL = f"""
    WITH RECURSIVE {_SHINGLES_SQL}
    , inter AS (
        SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS inter
        FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
        GROUP BY 1, 2)
    , pairs AS (
        SELECT doc_a, doc_b
        FROM inter p
        JOIN sc cx ON p.doc_a = cx.doc_id
        JOIN sc cy ON p.doc_b = cy.doc_id
        WHERE 10000 * inter >= {JACCARD_THRESHOLD_BP} * (cx.c + cy.c - inter))
    , edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs)
    , reach(node, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.b, rr.r FROM reach rr JOIN edges e ON e.a = rr.node)
    SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node
"""


# ---------------------------------------------------------------------------
# Containment near-dup (asymmetric): catches a small doc swallowed by
# a larger one, which Jaccard (and hence MinHash-LSH) structurally
# misses — C(A,B) = |A∩B| / min(|A|,|B|) is high while J(A,B) is low
# whenever the sizes are lopsided (Broder 1997 distinguishes the two
# resemblance measures for exactly this case).
# ---------------------------------------------------------------------------

CONTAINMENT_THRESHOLD_BP = 8000  # containment >= 0.8
SHINGLE_DF_CAP = 50  # drop stop-shingles with postings longer than this


def containment_pairs(
    docs: DataFrame, sh: DataFrame | None = None
) -> DataFrame:
    """(doc_a, doc_b) pairs with shingle containment >= 0.8, plus
    the Jaccard view and a containment_only flag marking the pairs
    the symmetric dedup path would have missed.

    Scale: candidates come from the shingle POSTINGS equi-join —
    linear in total postings, quadratic only within one shingle's
    posting list, and the df cap removes stop-shingles before the
    join (the standard guard: a shingle seen in > cap docs carries
    no dedup signal but quadratic join cost). Work is
    O(sum_{s: df<=cap} df(s)^2) with the cap bounding each term —
    skew-safe without salting. Containment/Jaccard are computed on
    the SAME capped shingle sets in both engines (deterministic,
    documented approximation when the cap fires; at this corpus the
    max df is single-digit so the cap is pure insurance)."""
    sh = sh if sh is not None else shingles(docs)
    df = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    kept = sh.join(df.where(F.col("df") <= SHINGLE_DF_CAP), "s", "left_semi")
    counts = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("c"))
    a = kept.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("s_a"))
    b = kept.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("s_b"))
    inter = (
        a.join(
            b,
            (F.col("s_a") == F.col("s_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("c").alias("ca"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("c").alias("cb"))
    j = inter.join(ca, "doc_a").join(cb, "doc_b")
    return (
        j.where(
            F.lit(10000) * F.col("inter")
            >= F.lit(CONTAINMENT_THRESHOLD_BP) * F.least("ca", "cb")
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("inter").cast("long").alias("inter"),
            F.expr("(10000 * inter) div least(ca, cb)").alias(
                "containment_bp"
            ),
            F.expr("(10000 * inter) div (ca + cb - inter)").alias(
                "jaccard_bp"
            ),
            (
                F.lit(10000) * F.col("inter")
                < F.lit(JACCARD_THRESHOLD_BP)
                * (F.col("ca") + F.col("cb") - F.col("inter"))
            ).alias("containment_only"),
        )
    )


CONTAINMENT_SQL = f"""
    WITH {_SHINGLES_SQL}
    , df AS (SELECT s, COUNT(*) AS d FROM sh GROUP BY s)
    , kept AS (
        SELECT sh.doc_id, sh.s FROM sh
        JOIN df ON df.s = sh.s AND df.d <= {SHINGLE_DF_CAP})
    , kc AS (SELECT doc_id, COUNT(*) AS c FROM kept GROUP BY doc_id)
    , inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
    SELECT i.doc_a, i.doc_b,
           CAST(inter AS BIGINT) AS inter,
           CAST((10000 * inter) // least(x.c, y.c) AS BIGINT)
               AS containment_bp,
           CAST((10000 * inter) // (x.c + y.c - inter) AS BIGINT)
               AS jaccard_bp,
           10000 * inter < {JACCARD_THRESHOLD_BP} * (x.c + y.c - inter)
               AS containment_only
    FROM inter i
    JOIN kc x ON i.doc_a = x.doc_id
    JOIN kc y ON i.doc_b = y.doc_id
    WHERE 10000 * inter >= {CONTAINMENT_THRESHOLD_BP} * least(x.c, y.c)
"""


# ---------------------------------------------------------------------------
# Cross-corpus MinHash-LSH decontamination: flag TRAIN docs that
# near-duplicate a HELD-OUT benchmark doc. corpus_decontaminate (#85)
# catches verbatim 8-gram overlap; this catches paraphrase-level
# contamination (high Jaccard without a single shared 8-gram run
# needed) through the same banded-join machinery as dedup_minhash_lsh
# — no all-pairs compare, and the benchmark side of the band join is
# an eval-suite-bounded broadcast.
# ---------------------------------------------------------------------------


def _banded(signatures: DataFrame) -> DataFrame:
    """(doc_id, band, bk) stacked band keys — one posexplode, shared
    by the self-join (dedup) and cross-corpus (decontaminate) paths."""
    n_bands = NUM_MINHASH // BAND_ROWS
    return signatures.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.md5(
                        F.concat_ws(
                            "|",
                            *[
                                F.col(f"mh{b * BAND_ROWS + r}")
                                for r in range(BAND_ROWS)
                            ],
                        )
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band", "bk"),
    )


def decontaminate_lsh(
    docs: DataFrame,
    bench_max_id: int = 20,
    threshold_bp: int = JACCARD_THRESHOLD_BP,
    sh: DataFrame | None = None,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Per-train-doc contamination report: how many benchmark docs it
    near-duplicates (exact-Jaccard verified >= threshold) and the
    worst overlap. The band join keys on (band_idx, band_key) with
    the benchmark side BROADCAST (bounded by eval-suite size at any
    corpus SF); the train corpus streams through map-side — the only
    corpus-scale shuffle is the shingle->signature aggregate it
    shares with the dedup path."""
    sh = sh if sh is not None else shingles(docs)
    banded = _banded(
        signatures if signatures is not None else minhash_signatures(sh)
    )
    bench = (
        banded.where(F.col("doc_id") < bench_max_id)
        .select(F.col("doc_id").alias("doc_a"), "band", "bk")
    )
    train = (
        banded.where(F.col("doc_id") >= bench_max_id)
        .select(F.col("doc_id").alias("doc_b"), "band", "bk")
    )
    cand = (
        train.join(F.broadcast(bench), ["band", "bk"])
        .select("doc_a", "doc_b")
        .distinct()
    )
    sim = _pair_jaccard(sh, pairs=cand)
    return (
        sim.where(
            F.lit(10000) * F.col("inter")
            >= F.lit(threshold_bp) * F.col("uni")
        )
        .select(
            F.col("doc_b").alias("doc_id"),
            F.expr("(10000 * inter) div uni").alias("jaccard_bp"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bench_hits"),
            F.max("jaccard_bp").alias("max_jaccard_bp"),
        )
    )


def decontaminate_lsh_sql(
    bench_max_id: int = 20, threshold_bp: int = JACCARD_THRESHOLD_BP
) -> str:
    """DuckDB oracle: identical minhash/band/verify algebra, candidate
    join restricted to bench x train instead of the dedup self-join."""
    band_joins = " UNION ALL ".join(
        f"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b "
        f"FROM bands a JOIN bands b ON a.band{k} = b.band{k} "
        f"AND a.doc_id < {bench_max_id} AND b.doc_id >= {bench_max_id}"
        for k in range(NUM_MINHASH // BAND_ROWS)
    )
    return f"""
    WITH {_SHINGLES_SQL}
    , hashed AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) AS a,
               CAST('0x' || substr(md5(s), 9, 8) AS BIGINT) AS b
        FROM sh)
    , sig AS (SELECT doc_id, {_minhash_sql_cols()} FROM hashed GROUP BY doc_id)
    , bands AS (SELECT doc_id, {_band_sql_cols()} FROM sig)
    , cand AS (SELECT DISTINCT doc_a, doc_b FROM ({band_joins}))
    , inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
        FROM cand c
        JOIN sh x ON x.doc_id = c.doc_a
        JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
        GROUP BY 1, 2)
    , verified AS (
        SELECT i.doc_b AS doc_id,
               (10000 * CAST(inter AS BIGINT))
                   // CAST(x.c + y.c - inter AS BIGINT) AS jaccard_bp
        FROM inter i
        JOIN sc x ON i.doc_a = x.doc_id
        JOIN sc y ON i.doc_b = y.doc_id
        WHERE 10000 * inter >= {threshold_bp} * (x.c + y.c - inter))
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bench_hits,
           MAX(jaccard_bp) AS max_jaccard_bp
    FROM verified GROUP BY doc_id
    """


# ---------------------------------------------------------------------------
# LSH S-curve tuning report: the same 12 minhashes banded at every
# divisor row-width r (bands = 12/r), each config's candidate volume
# and exact-verified yield side by side — the
# precision/recall-vs-cost table an operator reads before fixing
# (b, r) for a 100 TB dedup run. Pigeonhole: cand(r) ⊆ cand(1)
# (an r-row band match implies each row matches), so r=1 (the most
# permissive config) is the recall reference.
#
# Scale: the signature table is computed once per config from the
# same shingle base (bounded re-derivation, 5 configs); every
# config's candidate join stays the banded equi-join — the report
# NEVER runs an all-pairs truth, recall is measured against the
# r=1 candidate set's verified pairs.
# ---------------------------------------------------------------------------

LSH_TUNING_ROWS = (1, 2, 3, 4, 6)


def lsh_tuning_pairs(sh: DataFrame, signatures: DataFrame) -> DataFrame:
    """The sweep's ONE pair table (r9, guide §2.1/§3.1): cand(r) ⊆
    cand(1) by pigeonhole, and band-collision at any row-width r is
    a pure function of the two signatures — so the whole S-curve
    needs only the r=1 candidate pairs carrying BOTH signature
    arrays and the shared exact verdict. Callers _gate_map this;
    every arm then reduces to conditional sums over one scan
    (lsh_tuning below) instead of its own posexplode + band-key
    self-join + DISTINCT shuffle (5 arm joins removed at sf0.1).

    The exact verdict is the postings-expansion verify: cand1 feeds
    both the verify join and the pair table, so it is checkpointed
    (the multiplicative-CTE rule). The row-local array_intersect
    verify lost here (r10, 9 of 14 interleaved rounds): the r=1
    superset is permissive, so most pairs share few shingles and the
    intersect pays O(|x|+|y|) where the postings join touches only
    shared shingles."""
    mharr = F.array(*[F.col(f"mh{k}") for k in range(NUM_MINHASH)])
    siga = signatures.select(
        F.col("doc_id").alias("doc_a"), mharr.alias("amh")
    )
    sigb = signatures.select(
        F.col("doc_id").alias("doc_b"), mharr.alias("bmh")
    )
    cand1 = lsh_candidates(signatures, band_rows=1).localCheckpoint()
    ver1 = (
        _pair_jaccard(sh, pairs=cand1)
        .where(
            F.lit(10000) * F.col("inter")
            >= F.lit(JACCARD_THRESHOLD_BP) * F.col("uni")
        )
        .select("doc_a", "doc_b", F.lit(True).alias("v"))
    )
    return (
        cand1.join(siga, "doc_a")
        .join(sigb, "doc_b")
        .join(ver1, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            "amh",
            "bmh",
            F.coalesce(F.col("v"), F.lit(False)).alias("verified"),
        )
    )


def _band_collides(r: int) -> Column:
    """True iff the pair collides in ≥1 aligned r-row band — the
    tuple-equality spelling of the md5 band-key equi-join (the
    '|'-joined decimal encoding is injective, so key equality ⟺
    tuple equality; parity with the md5-keyed oracle is re-proven
    by the rows+schema+hash gate at every SF)."""
    return reduce(
        lambda a, b: a | b,
        [
            reduce(
                lambda a, b: a & b,
                [
                    F.col("amh")[b * r + k] == F.col("bmh")[b * r + k]
                    for k in range(r)
                ],
            )
            for b in range(NUM_MINHASH // r)
        ],
    )


def lsh_tuning(pairs: DataFrame) -> DataFrame:
    """r9 shape: ONE aggregate over the materialized pair table
    (lsh_tuning_pairs) — per arm, n_candidates = Σ[collides_r],
    n_verified = Σ[collides_r ∧ verified] (verified ⇒ collides at
    r=1, and cand(r) ⊆ cand(1) makes the restriction exact). The
    5-arm banded self-joins of the previous shape are gone; the
    report rows unfold from the single aggregate row driver-free."""
    aggs = []
    for r in LSH_TUNING_ROWS:
        coll = _band_collides(r)
        aggs.append(
            F.coalesce(
                F.sum(coll.cast("long")), F.lit(0)
            ).cast("long").alias(f"c{r}")
        )
        aggs.append(
            F.coalesce(
                F.sum((coll & F.col("verified")).cast("long")), F.lit(0)
            ).cast("long").alias(f"v{r}")
        )
    one = pairs.agg(*aggs)
    arms = F.array(
        *[
            F.struct(
                F.lit(r).cast("long").alias("band_rows"),
                F.lit(NUM_MINHASH // r).cast("long").alias("n_bands"),
                F.col(f"c{r}").alias("n_candidates"),
                F.col(f"v{r}").alias("n_verified"),
            )
            for r in LSH_TUNING_ROWS
        ]
    )
    out = one.select(
        F.inline(arms), F.col("v1").alias("ref_verified")
    )
    return out.select(
        "band_rows",
        "n_bands",
        "n_candidates",
        "n_verified",
        F.expr(
            "CASE WHEN n_candidates = 0 THEN 0"
            " ELSE (10000 * n_verified) div n_candidates END"
        ).alias("precision_bp"),
        F.expr(
            "CASE WHEN ref_verified = 0 THEN 0"
            " ELSE (10000 * n_verified) div ref_verified END"
        ).alias("recall_vs_r1_bp"),
    )


def _tuning_band_list_sql(r: int) -> str:
    n_bands = NUM_MINHASH // r
    items = ", ".join(
        "md5("
        + " || '|' || ".join(
            f"CAST(mh{b * r + k} AS VARCHAR)" for k in range(r)
        )
        + ")"
        for b in range(n_bands)
    )
    return f"[{items}]"


def _lsh_tuning_config_ctes(r: int) -> str:
    return f"""
    , bands_{r} AS (
        SELECT doc_id, generate_subscripts(bl, 1) AS bi, unnest(bl) AS bk
        FROM (SELECT doc_id, {_tuning_band_list_sql(r)} AS bl FROM sig))
    , cand_{r} AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands_{r} a JOIN bands_{r} b
          ON a.bi = b.bi AND a.bk = b.bk AND a.doc_id < b.doc_id)
    , int_{r} AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
        FROM cand_{r} c
        JOIN sh x ON x.doc_id = c.doc_a
        JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
        GROUP BY 1, 2)
    , ver_{r} AS (
        SELECT i.doc_a FROM int_{r} i
        JOIN sc x ON i.doc_a = x.doc_id
        JOIN sc y ON i.doc_b = y.doc_id
        WHERE 10000 * inter >= {JACCARD_THRESHOLD_BP} * (x.c + y.c - inter))
"""


# Tuning-sample cap (r8, the sf10 catch): the sweep's r=1 candidate
# superset is ~quadratic in corpus size (every pair sharing ANY
# minhash), but an S-curve is a PAIR-PROBABILITY profile — a
# fixed-size sample estimates it; a parameter-tuning run never needs
# the full corpus. The tuning chain therefore runs on a
# deterministic md5 hash sample of docs, keep-rate 1/K with
# K = max(1, n div TUNE_SAMPLE_CAP) — NON-BINDING at the driver
# scales (sf0.01: 500 docs, sf0.1: 5000 = the cap), so every oracle
# hash at driver scale is unchanged; at sf1+ the sweep is flat in
# corpus size by construction. Both dialects compute K from the
# same COUNT and the same md5 predicate — twin-exact at every sf.
TUNE_SAMPLE_CAP = 5000


def _tune_sample_pred_duck() -> str:
    return (
        "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)"
        " AS BIGINT) % (SELECT k FROM tune_k) = 0"
    )


LSH_TUNING_SQL = (
    f"""
    WITH {_SHINGLES_SQL_MAT}
    , hashed AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) AS a,
               CAST('0x' || substr(md5(s), 9, 8) AS BIGINT) AS b
        FROM sh)
    , tune_k AS (
        SELECT GREATEST(1, COUNT(*) // {TUNE_SAMPLE_CAP}) AS k
        FROM documents)
    , sig AS MATERIALIZED (
        SELECT doc_id, {_minhash_sql_cols()} FROM hashed
        WHERE {_tune_sample_pred_duck()}
        GROUP BY doc_id)
"""
    + "".join(_lsh_tuning_config_ctes(r) for r in LSH_TUNING_ROWS)
    + f"""
    , summary AS ({" UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS band_rows, "
        f"CAST({NUM_MINHASH // r} AS BIGINT) AS n_bands, "
        f"(SELECT CAST(COUNT(*) AS BIGINT) FROM cand_{r}) AS n_candidates, "
        f"(SELECT CAST(COUNT(*) AS BIGINT) FROM ver_{r}) AS n_verified"
        for r in LSH_TUNING_ROWS
    )})
    , ref AS (SELECT n_verified AS ref_verified FROM summary
              WHERE band_rows = 1)
    SELECT s.band_rows, s.n_bands, s.n_candidates, s.n_verified,
           CASE WHEN s.n_candidates = 0 THEN 0
                ELSE (10000 * s.n_verified) // s.n_candidates END
               AS precision_bp,
           CASE WHEN r.ref_verified = 0 THEN 0
                ELSE (10000 * s.n_verified) // r.ref_verified END
               AS recall_vs_r1_bp
    FROM summary s CROSS JOIN ref r
"""
)


MINHASH_K_SWEEP = (4, 8, 12)


def minhash_k_sweep_sql(dialect: str) -> str:
    """Hash-count calibration for MinHash: the SAME candidate pairs
    scored with the first k of the 12 minhashes (a prefix of
    independent minhashes is itself a valid MinHash estimator), each
    k's estimate compared against exact shingle Jaccard — the
    measured accuracy/cost curve that justifies NUM_MINHASH, next to
    the band-shape sweep (lsh_tuning). Per k: candidate-pair count,
    mean and max absolute estimate error (bp). All the heavy
    relations (signatures, candidates, exact intersections) are
    computed ONCE; the three k-arms read the bounded per-pair
    table."""
    div = "div" if dialect == "spark" else "//"
    mat = "MATERIALIZED " if dialect != "spark" else ""
    match_k = {
        k: " + ".join(
            f"(CASE WHEN a.mh{j} = b.mh{j} THEN 1 ELSE 0 END)"
            for j in range(k)
        )
        for k in MINHASH_K_SWEEP
    }
    arms = " UNION ALL ".join(
        f"""
        SELECT CAST({k} AS BIGINT) AS k,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(ABS((10000 * m{k}) {div} {k} - exact_bp))
                    {div} COUNT(*) AS BIGINT) AS mean_abs_err_bp,
               CAST(MAX(ABS((10000 * m{k}) {div} {k} - exact_bp))
                    AS BIGINT) AS max_abs_err_bp
        FROM scored"""
        for k in MINHASH_K_SWEEP
    )
    return f"""
    WITH {_SHINGLES_SQL}
    , hashed AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) AS a,
               CAST('0x' || substr(md5(s), 9, 8) AS BIGINT) AS b
        FROM sh)
    , sig AS {mat}(SELECT doc_id, {_minhash_sql_cols()}
                   FROM hashed GROUP BY doc_id)
    , bands AS (SELECT doc_id, {_band_sql_cols()} FROM sig)
    , cand AS {mat}(
        SELECT DISTINCT doc_a, doc_b FROM (
            {" UNION ALL ".join(
                f"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b "
                f"FROM bands a JOIN bands b "
                f"ON a.band{b} = b.band{b} AND a.doc_id < b.doc_id"
                for b in range(NUM_MINHASH // BAND_ROWS)
            )}))
    , inter AS {mat}(
        SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS inter
        FROM cand c
        JOIN sh x ON x.doc_id = c.doc_a
        JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
        GROUP BY 1, 2)
    , scored AS {mat}(
        SELECT c.doc_a, c.doc_b,
               {", ".join(
                   f"CAST({expr} AS BIGINT) AS m{k}"
                   for k, expr in match_k.items())},
               (10000 * CAST(COALESCE(i.inter, 0) AS BIGINT))
                   {div} CAST(x.c + y.c - COALESCE(i.inter, 0) AS BIGINT)
                   AS exact_bp
        FROM cand c
        JOIN sig a ON a.doc_id = c.doc_a
        JOIN sig b ON b.doc_id = c.doc_b
        LEFT JOIN inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
        JOIN sc x ON c.doc_a = x.doc_id
        JOIN sc y ON c.doc_b = y.doc_id)
    {arms}
    """


# ---------------------------------------------------------------------------
# cross-method agreement: MinHash estimate vs SimHash distance
# ---------------------------------------------------------------------------


def method_agreement(docs: DataFrame) -> DataFrame:
    """Agreement audit between the two near-dup families ON THE SAME
    candidate pairs: every MinHash-LSH candidate is scored by (a) the
    12-hash MinHash Jaccard estimate, (b) exact shingle Jaccard, and
    (c) SimHash Hamming distance — then bucketed into the 2×2
    confusion grid (minhash-dup? × simhash-dup?) with per-cell mean
    exact Jaccard and mean Hamming. The mh_only cell is where bag-
    of-shingles similarity exists without bitwise profile agreement
    (reorderings); sh_only is the reverse (frequency-profile twins
    with low shingle overlap). Candidates, signatures, and exact
    intersections each compute once; the cells aggregate a bounded
    per-pair table — the same O(docs+candidates) scale shape as the
    tuning family (lsh_tuning / minhash_k_sweep)."""
    sh = shingles(docs)
    sig = minhash_signatures(sh)
    cand = lsh_candidates(sig)
    a = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{j}").alias(f"a{j}") for j in range(NUM_MINHASH)],
    )
    b = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{j}").alias(f"b{j}") for j in range(NUM_MINHASH)],
    )
    jac = _pair_jaccard(sh, pairs=cand).select(
        "doc_a", "doc_b", F.expr("(10000 * inter) div uni").alias("exact_bp")
    )
    ssig = simhash_signatures(docs)
    sa = ssig.select(
        F.col("doc_id").alias("doc_a"),
        F.col("h1").alias("ah1"),
        F.col("h2").alias("ah2"),
    )
    sb = ssig.select(
        F.col("doc_id").alias("doc_b"),
        F.col("h1").alias("bh1"),
        F.col("h2").alias("bh2"),
    )
    m12 = " + ".join(
        f"(CASE WHEN a{j} = b{j} THEN 1 ELSE 0 END)"
        for j in range(NUM_MINHASH)
    )
    scored = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .join(jac, ["doc_a", "doc_b"], "left")
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.expr(f"(10000 * ({m12})) div {NUM_MINHASH}")
            .cast("long")
            .alias("est_bp"),
            F.coalesce(F.col("exact_bp"), F.lit(0))
            .cast("long")
            .alias("exact_bp"),
            F.expr("bit_count(ah1 ^ bh1) + bit_count(ah2 ^ bh2)")
            .cast("long")
            .alias("hamming"),
        )
    )
    return scored.groupBy(
        (F.col("est_bp") >= JACCARD_THRESHOLD_BP).alias("mh_dup"),
        (F.col("hamming") <= SIMHASH_MAX_HAMMING).alias("sh_dup"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.expr("sum(exact_bp) div count(1)")
        .cast("long")
        .alias("mean_exact_bp"),
        F.expr("sum(hamming) div count(1)")
        .cast("long")
        .alias("mean_hamming"),
    )


def method_agreement_sql() -> str:
    """DuckDB twin of method_agreement: the MinHash chain reuses the
    k-sweep CTE shape (MATERIALIZED — DuckDB inlines CTEs), the
    SimHash signature chain reuses SIMHASH_SQL's vote/pack CTEs, and
    the two meet on the candidate pairs."""
    m12 = " + ".join(
        f"(CASE WHEN a.mh{j} = b.mh{j} THEN 1 ELSE 0 END)"
        for j in range(NUM_MINHASH)
    )
    return f"""
    WITH {_SHINGLES_SQL}
    , hashed AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) AS a,
               CAST('0x' || substr(md5(s), 9, 8) AS BIGINT) AS b
        FROM sh)
    , sig AS MATERIALIZED (SELECT doc_id, {_minhash_sql_cols()}
                           FROM hashed GROUP BY doc_id)
    , bands AS (SELECT doc_id, {_band_sql_cols()} FROM sig)
    , cand AS MATERIALIZED (
        SELECT DISTINCT doc_a, doc_b FROM (
            {" UNION ALL ".join(
                f"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b "
                f"FROM bands a JOIN bands b "
                f"ON a.band{b} = b.band{b} AND a.doc_id < b.doc_id"
                for b in range(NUM_MINHASH // BAND_ROWS)
            )}))
    , inter AS MATERIALIZED (
        SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS inter
        FROM cand c
        JOIN sh x ON x.doc_id = c.doc_a
        JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
        GROUP BY 1, 2)
    , tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t
        FROM documents)
    , weighted AS (
        SELECT doc_id, t, COUNT(*) AS w FROM tok GROUP BY doc_id, t)
    , shashed AS (SELECT doc_id, w, md5(t) AS h FROM weighted)
    , votes AS (SELECT doc_id, {_simhash_votes_sql()}
                FROM shashed GROUP BY doc_id)
    , ssig AS MATERIALIZED (
        SELECT doc_id,
               {_simhash_half_sql(0, 32, 0)} AS h1,
               {_simhash_half_sql(32, 64, 32)} AS h2
        FROM votes)
    , scored AS (
        SELECT (10000 * ({m12})) // {NUM_MINHASH} AS est_bp,
               (10000 * CAST(COALESCE(i.inter, 0) AS BIGINT))
                   // CAST(x.c + y.c - COALESCE(i.inter, 0) AS BIGINT)
                   AS exact_bp,
               CAST(bit_count(xor(sa.h1, sb.h1))
                    + bit_count(xor(sa.h2, sb.h2)) AS BIGINT) AS hamming
        FROM cand c
        JOIN sig a ON a.doc_id = c.doc_a
        JOIN sig b ON b.doc_id = c.doc_b
        LEFT JOIN inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
        JOIN sc x ON c.doc_a = x.doc_id
        JOIN sc y ON c.doc_b = y.doc_id
        JOIN ssig sa ON sa.doc_id = c.doc_a
        JOIN ssig sb ON sb.doc_id = c.doc_b)
    SELECT est_bp >= {JACCARD_THRESHOLD_BP} AS mh_dup,
           hamming <= {SIMHASH_MAX_HAMMING} AS sh_dup,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(exact_bp) // COUNT(*) AS BIGINT) AS mean_exact_bp,
           CAST(SUM(hamming) // COUNT(*) AS BIGINT) AS mean_hamming
    FROM scored
    GROUP BY 1, 2
    """


# ---------------------------------------------------------------------------
# b-bit minwise hashing (Li & Konig 2010): the storage-compressed
# sketch variant — keep only the lowest B_BIT bits of each minhash
# ---------------------------------------------------------------------------

B_BIT = 4  # bits kept per minhash; collision prob C = 2^-4 = 1/16


def bbit_minhash_estimate(
    docs: DataFrame,
    sh: DataFrame | None = None,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """b-bit minwise calibration: for every LSH candidate pair, the
    FULL-width MinHash Jaccard estimate next to the b-bit one —
    keeping only the lowest B_BIT=4 bits of each of the 12 minhashes
    (a 6-byte signature instead of 96 bytes: the 16× compression Li
    & Konig 2010 show loses almost no resolution at verification
    scale). A b-bit match can be a hash ACCIDENT with probability
    C = 2^-b, so the raw match fraction E overestimates J; the
    unbiased estimator J = (E - C)/(1 - C) becomes exact integer
    algebra: est_b4_bp = (10000·max(2^b·m − H, 0)) div ((2^b−1)·H)
    with H = NUM_MINHASH (the max() keeps the floor-division
    numerator non-negative — Spark div truncates toward zero while
    DuckDB // floors, so a negative numerator would disagree by
    one). matches_b4 ≥ matches_full per pair BY CONSTRUCTION (equal
    full words have equal low bits), pinned in tests/test_round10.

    Scale: identical shape to minhash_estimate — candidates from
    the banded equi-join (never all-pairs), the signature re-join
    is k small integer columns per side; at deployment the b-bit
    table is what ships to the verification cluster, cutting the
    signature shuffle 16×."""
    sh = sh if sh is not None else shingles(docs)
    sig = signatures if signatures is not None else minhash_signatures(sh)
    cand = lsh_candidates(sig)
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{k}").alias(f"a{k}") for k in range(NUM_MINHASH)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{k}").alias(f"b{k}") for k in range(NUM_MINHASH)],
    )
    full = None
    bbit = None
    mask = (1 << B_BIT) - 1
    for k in range(NUM_MINHASH):
        tf = F.when(F.col(f"a{k}") == F.col(f"b{k}"), 1).otherwise(0)
        tb = F.when(
            (F.col(f"a{k}") % (mask + 1)) == (F.col(f"b{k}") % (mask + 1)),
            1,
        ).otherwise(0)
        full = tf if full is None else full + tf
        bbit = tb if bbit is None else bbit + tb
    m = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            full.cast("long").alias("matches_full"),
            bbit.cast("long").alias("matches_b4"),
        )
    )
    ex = _pair_jaccard(sh, pairs=cand).select("doc_a", "doc_b", "inter", "uni")
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("c"))
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("c").alias("ca"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("c").alias("cb"))
    j = (
        m.join(ex, ["doc_a", "doc_b"], "left")
        .join(ca, "doc_a")
        .join(cb, "doc_b")
        .withColumn("inter0", F.coalesce(F.col("inter"), F.lit(0)))
        .withColumn(
            "uni0",
            F.coalesce(F.col("uni"), F.col("ca") + F.col("cb")).cast("long"),
        )
    )
    scale = mask + 1  # 2^b
    denom = mask * NUM_MINHASH  # (2^b - 1) * H
    return j.select(
        "doc_a",
        "doc_b",
        "matches_full",
        "matches_b4",
        F.expr(f"(10000 * matches_full) div {NUM_MINHASH}").alias(
            "est_full_bp"
        ),
        F.expr(
            f"(10000 * GREATEST({scale} * matches_b4"
            f" - {NUM_MINHASH}, 0)) div {denom}"
        ).alias("est_b4_bp"),
        F.expr("(10000 * inter0) div uni0").alias("exact_jaccard_bp"),
    )


def _bbit_sql() -> str:
    mask = (1 << B_BIT) - 1
    scale = mask + 1
    denom = mask * NUM_MINHASH
    return f"""
    WITH {_SHINGLES_SQL}
    , hashed AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) AS a,
               CAST('0x' || substr(md5(s), 9, 8) AS BIGINT) AS b
        FROM sh)
    , sig AS (SELECT doc_id, {_minhash_sql_cols()} FROM hashed GROUP BY doc_id)
    , bands AS (SELECT doc_id, {_band_sql_cols()} FROM sig)
    , cand AS (
        SELECT DISTINCT doc_a, doc_b FROM (
            {" UNION ALL ".join(
                f"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b "
                f"FROM bands a JOIN bands b "
                f"ON a.band{b} = b.band{b} AND a.doc_id < b.doc_id"
                for b in range(NUM_MINHASH // BAND_ROWS)
            )}))
    , m AS (
        SELECT c.doc_a, c.doc_b,
               CAST({" + ".join(
                   f"(CASE WHEN a.mh{k} = b.mh{k} THEN 1 ELSE 0 END)"
                   for k in range(NUM_MINHASH)
               )} AS BIGINT) AS matches_full,
               CAST({" + ".join(
                   f"(CASE WHEN a.mh{k} % {scale} = b.mh{k} % {scale}"
                   f" THEN 1 ELSE 0 END)"
                   for k in range(NUM_MINHASH)
               )} AS BIGINT) AS matches_b4
        FROM cand c
        JOIN sig a ON a.doc_id = c.doc_a
        JOIN sig b ON b.doc_id = c.doc_b)
    , inter AS (
        SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS inter
        FROM cand c
        JOIN sh x ON x.doc_id = c.doc_a
        JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
        GROUP BY 1, 2)
    SELECT m.doc_a, m.doc_b, m.matches_full, m.matches_b4,
           (10000 * m.matches_full) // {NUM_MINHASH} AS est_full_bp,
           (10000 * GREATEST({scale} * m.matches_b4
                - {NUM_MINHASH}, 0)) // {denom} AS est_b4_bp,
           (10000 * CAST(COALESCE(i.inter, 0) AS BIGINT))
               // CAST(x.c + y.c - COALESCE(i.inter, 0) AS BIGINT)
               AS exact_jaccard_bp
    FROM m
    LEFT JOIN inter i ON m.doc_a = i.doc_a AND m.doc_b = i.doc_b
    JOIN sc x ON m.doc_a = x.doc_id
    JOIN sc y ON m.doc_b = y.doc_id
"""


BBIT_MINHASH_SQL = _bbit_sql()
