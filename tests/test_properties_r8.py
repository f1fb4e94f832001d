"""Differential property tests for the R8 operators: a trusted
pure-Python reference implementation vs the distributed SQL, over
hypothesis-generated corpora. Catches semantic drift the oracle
can't (both engines could share a wrong reading of the spec; the
reference here is written independently from first principles)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from aurora_cdc_demo_spark.operators.text import (
    BPE_ROUNDS,
    LINE_TOKENS,
    bpe_merge_rounds_sql,
    line_dedup_sql,
)

WORD = st.text(alphabet="ab", min_size=1, max_size=6)


def _ref_bpe(words_freq: dict[str, int], k: int):
    """Reference BPE: count adjacent pairs over word types weighted
    by frequency, merge the (count DESC, pair ASC) winner greedily
    left-to-right, repeat."""
    seqs = {w: list(w) for w in words_freq}
    out = []
    for rnd in range(1, k + 1):
        counts: dict[str, int] = {}
        types: dict[str, int] = {}
        for w, syms in seqs.items():
            f = words_freq[w]
            for a, b in zip(syms, syms[1:]):
                p = a + b
                counts[p] = counts.get(p, 0) + f
                types[p] = types.get(p, 0) + 1
        if not counts:
            break
        pair, n_occ = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        for w, syms in seqs.items():
            new, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] + syms[i + 1] == pair:
                    new.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    new.append(syms[i])
                    i += 1
            seqs[w] = new
        tokens_after = sum(
            words_freq[w] * len(s) for w, s in seqs.items()
        )
        out.append((rnd, pair, n_occ, types[pair], tokens_after))
    return out


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    words=st.lists(WORD, min_size=1, max_size=5, unique=True),
    freqs=st.lists(st.integers(1, 4), min_size=5, max_size=5),
)
def test_bpe_rounds_match_reference(spark, words, freqs):
    wf = {
        w: f for w, f in zip(words, freqs) if len(w) >= 2
    }
    text = " ".join(w for w, f in wf.items() for _ in range(f))
    if not text:
        text = "x"  # no trainable words: SQL yields zero rounds
    spark.createDataFrame(
        [(1, text)], "doc_id long, text string"
    ).createOrReplaceTempView("documents")
    got = sorted(
        (
            r["round"],
            r["pair"],
            r["n_occurrences"],
            r["n_word_types"],
            r["corpus_tokens_after"],
        )
        for r in spark.sql(bpe_merge_rounds_sql("spark")).collect()
    )
    want = _ref_bpe(wf, BPE_ROUNDS)
    assert got == want


DOC = st.lists(
    st.sampled_from(["p", "q", "r"]), min_size=1, max_size=25
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=st.lists(DOC, min_size=1, max_size=6))
def test_line_dedup_matches_reference(spark, docs):
    """First-occurrence keep decisions match a dict-based reference
    over the same fixed-window segmentation."""
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    spark.createDataFrame(
        rows, "doc_id long, text string"
    ).createOrReplaceTempView("documents")
    got = {
        (r["doc_id"], r["line_no"]): r["keep"]
        for r in spark.sql(line_dedup_sql("spark")).collect()
    }
    seen: set[str] = set()
    want = {}
    for i, toks in enumerate(docs):
        for j in range(0, (len(toks) + LINE_TOKENS - 1) // LINE_TOKENS):
            line = " ".join(toks[j * LINE_TOKENS : (j + 1) * LINE_TOKENS])
            key = line.lower().strip()
            want[(i, j)] = key not in seen
            seen.add(key)
    assert got == want


def test_posrem_floor_division_cross_engine():
    """The _pca_fd posrem floor form must equal Python's floor
    division on BOTH engines for any sign combination (b > 0) —
    the primitive every centered-moment/deflation/residual query
    leans on (Spark div truncates, DuckDB // floors; the posrem
    rewrite removes the disagreement)."""
    import duckdb
    from hypothesis import example, given, settings
    from hypothesis import strategies as st

    from aurora_cdc_demo_spark.registry import _pca_fd

    con = duckdb.connect()

    @settings(max_examples=200, deadline=None)
    @example(a=-1_968_526_682, b=178_956_971)  # INT32 operands overflowed
    @given(
        a=st.integers(min_value=-(10**17), max_value=10**17),
        b=st.integers(min_value=1, max_value=10**12),
    )
    def check(a, b):
        expr = _pca_fd(str(a), str(b), "//")
        got = con.execute(f"SELECT {expr}").fetchone()[0]
        assert got == a // b, (a, b)

    check()


def test_posrem_floor_division_spark(spark):
    """Spark side of the same primitive, on a deterministic grid of
    sign/magnitude edge cases (hypothesis drives the DuckDB twin;
    one Spark round-trip checks the dialect translation)."""
    from aurora_cdc_demo_spark.registry import _pca_fd

    cases = [
        (7, 3), (-7, 3), (6, 3), (-6, 3), (0, 5), (-1, 10**9),
        (10**17, 7), (-(10**17), 7), (1, 1), (-1, 1),
        (-1_968_526_682, 178_956_971),  # INT32 operands overflowed
    ]
    exprs = ", ".join(
        f"{_pca_fd(str(a), str(b), 'div')} AS c{i}"
        for i, (a, b) in enumerate(cases)
    )
    row = spark.sql(f"SELECT {exprs}").collect()[0]
    for i, (a, b) in enumerate(cases):
        assert row[f"c{i}"] == a // b, (a, b)
