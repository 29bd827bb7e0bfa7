"""Property tests for the row-local kernels (hypothesis-generated
inputs, evaluated in one Spark job per property — not per example).

These pin the invariants the oracles lean on: hex parsing equals
Python's int(h, 16), n-gram counts follow the length algebra, and the
tokenizer never emits empties or uppercase.
"""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

HEX = st.text(alphabet="0123456789abcdef", min_size=16, max_size=16)
TEXT = st.text(
    alphabet=st.characters(
        whitelist_categories=("Lu", "Ll", "Nd", "Po", "Zs"), max_codepoint=0x2FF
    ),
    max_size=80,
)


def _jaro_winkler_py(s1: str, s2: str) -> float:
    """Jaro-Winkler similarity of two strings, one pair at a time — the
    plain-loop twin ``functions.text.jaro_winkler_batch`` is pinned
    against."""
    l1, l2 = len(s1), len(s2)
    # Empty-before-equal: DuckDB scores ('','') as 0.0, not 1.0.
    if l1 == 0 or l2 == 0:
        return 0.0
    if s1 == s2:
        return 1.0
    window = max(l1, l2) // 2 - 1
    m1 = [False] * l1
    m2 = [False] * l2
    matches = 0
    for i in range(l1):
        c = s1[i]
        lo = i - window if i > window else 0
        hi = i + window + 1
        if hi > l2:
            hi = l2
        for j in range(lo, hi):
            if not m2[j] and s2[j] == c:
                m1[i] = True
                m2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    transpositions = 0
    k = 0
    for i in range(l1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                transpositions += 1
            k += 1
    transpositions //= 2
    jaro = (
        matches / l1 + matches / l2 + (matches - transpositions) / matches
    ) / 3.0
    if jaro > 0.7:
        prefix = 0
        for a, b in zip(s1[:4], s2[:4]):
            if a != b:
                break
            prefix += 1
        jaro += prefix * 0.1 * (1.0 - jaro)
    return jaro


def _eval_batch(spark, rows, colexprs):
    df = spark.createDataFrame([(r,) for r in rows], ["s"])
    return df.select(*colexprs).collect()


@settings(max_examples=1, deadline=None)
@given(st.data())
def test_hex_long_matches_python_int(spark, data):
    from fuzzy_item_matching_spark.functions.text import hex_long

    rows = [data.draw(HEX) for _ in range(300)]
    got = _eval_batch(
        spark, rows,
        [F.col("s"), hex_long("s", 1).alias("hi"), hex_long("s", 9).alias("lo")],
    )
    for r in got:
        assert r["hi"] == int(r["s"][0:8], 16)
        assert r["lo"] == int(r["s"][8:16], 16)


@settings(max_examples=1, deadline=None)
@given(st.data())
def test_tokenizer_and_ngram_algebra(spark, data):
    from fuzzy_item_matching_spark.functions.text import (
        regex_tokenize,
        word_ngrams,
    )

    rows = [data.draw(TEXT) for _ in range(300)]
    got = _eval_batch(
        spark, rows,
        [
            regex_tokenize("s").alias("toks"),
            F.size(word_ngrams(regex_tokenize("s"), n=2)).alias("n2"),
        ],
    )
    for r in got:
        toks = r["toks"]
        assert all(t and t == t.lower() for t in toks)  # no empties, lowercased
        assert r["n2"] == max(len(toks) - 1, 0)


@settings(
    max_examples=1,
    deadline=None,
    suppress_health_check=[
        HealthCheck.large_base_example,
        HealthCheck.data_too_large,
    ],
)
@given(st.data())
def test_python_fold_matches_duckdb_and_spark_fold(spark, data):
    """The tri-engine dot-product contract PQ's driver-side ADC tables
    lean on: a left-associated Python float chain == DuckDB's list_sum
    fold == Spark's F.aggregate fold, BITWISE, on arbitrary doubles."""
    import duckdb

    from fuzzy_item_matching_spark.functions.vector import dot

    FL = st.floats(
        min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
    )
    pairs = [
        (
            [data.draw(FL) for _ in range(8)],
            [data.draw(FL) for _ in range(8)],
        )
        for _ in range(12)
    ]

    def py_fold(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    expect = [py_fold(a, b) for a, b in pairs]

    con = duckdb.connect()
    for (a, b), e in zip(pairs, expect):
        (got,) = con.execute(
            "SELECT list_sum(list_transform(list_zip(?::DOUBLE[],"
            " ?::DOUBLE[]), s -> s[1]*s[2]))",
            [a, b],
        ).fetchone()
        assert got == e and str(got) == str(e)
    con.close()

    df = spark.createDataFrame(pairs, ["a", "b"])
    got_spark = [r[0] for r in df.select(dot("a", "b")).collect()]
    assert got_spark == expect
    assert [str(g) for g in got_spark] == [str(e) for e in expect]


@settings(max_examples=1, deadline=None)
@given(st.data())
def test_jaro_winkler_matches_duckdb(spark, data):
    """The per-pair twin is bit-identical to DuckDB's
    jaro_winkler_similarity on generated string pairs (the exactness
    text_jaro_winkler_pairs' oracle and threshold both lean on)."""
    import duckdb

    pairs = data.draw(
        st.lists(st.tuples(TEXT, TEXT), min_size=1, max_size=200)
    )
    pairs += [
        ("martha", "marhta"),
        ("dixon", "dicksonx"),
        ("", ""),
        ("", "abc"),
        ("aaaa", "aaaa"),
        ("abcd", "abdc"),
    ]
    con = duckdb.connect()
    for a, b in pairs:
        want = con.execute(
            "SELECT jaro_winkler_similarity(?, ?)", [a, b]
        ).fetchone()[0]
        assert _jaro_winkler_py(a, b) == want, (a, b)
    con.close()


def test_jaro_winkler_batch_matches_py_kernel():
    """The numpy batch kernel is bit-identical to the per-pair Python
    oracle twin across random and adversarial cases (degenerate
    windows, empties, transposition-heavy pairs, embedded NULs)."""
    import random

    from fuzzy_item_matching_spark.functions.text import jaro_winkler_batch

    rng = random.Random(1234)
    alpha = "abcdef"
    cases = [
        ("", ""), ("a", ""), ("", "a"), ("a", "a"), ("a", "b"),
        ("abc", "abc"), ("martha", "marhta"), ("dixon", "dicksonx"),
        ("duane", "dwayne"), ("crate", "trace"),
        ("x" * 50, "x" * 49 + "y"), ("ab\0cd", "ab\0dc"),
    ]
    for _ in range(5000):
        l1, l2 = rng.randint(0, 12), rng.randint(0, 12)
        cases.append(
            (
                "".join(rng.choice(alpha) for _ in range(l1)),
                "".join(rng.choice(alpha) for _ in range(l2)),
            )
        )
    got = jaro_winkler_batch([a for a, _ in cases], [b for _, b in cases])
    for (a, b), g in zip(cases, got):
        assert _jaro_winkler_py(a, b) == g, (a, b)
