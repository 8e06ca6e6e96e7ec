"""lucenere.to_portable: Lucene RegExp dialect -> portable regex.

Covers (a) the translation table, (b) the RAISE contract for the
operators with no regex equivalent, and (c) three-dialect parity —
the same (pattern, candidate) grid fullmatched through Python re,
Spark rlike (Java regex) and DuckDB regexp_matches (RE2) must agree,
because the engine evaluates regexp leaves through rlike, evaluates
keyword-field regexp filters through BOTH rlike and querystring's
filter_mask (Python re), and the oracle suite re-states them in
DuckDB.
"""

import re

import pytest

from sparkbm25.lucenere import to_portable


def test_translation_table():
    cases = {
        # Lucene `.` includes newlines
        "us.r": "us[\\s\\S]r",
        # groups become non-capturing
        "(user|assistant)": "(?:user|assistant)",
        # backslash makes the next char LITERAL — even letters
        # (`\d` is the letter d in Lucene, a digit class in Java/re)
        "\\d+": "d+",
        "x\\/y": "x/y",
        # `^`/`$` are literal characters in Lucene
        "a$b^c": "a\\$b\\^c",
        # `@` any-string, `#` empty-language
        "w00@": "w00(?:[\\s\\S]*)",
        "a#b": "a[^\\s\\S]b",
        # quoted literal runs: every char literal
        '"a.b"': "(?:a\\.b)",
        # stacked quantifiers wrap so Java possessive `*+` / Python
        # lazy `??` readings can't arise
        "a**": "(?:a*)*",
        "a??": "(?:a?)?",
        "a{2,3}b": "a{2,3}b",
        # classes: `[`/`&` escaped so Java can't read nesting /
        # intersection; ranges survive
        "[a-z]*": "[a-z]*",
        "[^ab]": "[^ab]",
        "[a[b]": "[a\\[b]",
        "[a&b]": "[a\\&b]",
        "[a\\]b]": "[a\\]b]",
        # lone `}` is a literal in Lucene
        "a}b": "a\\}b",
    }
    for lucene, want in cases.items():
        assert to_portable(lucene) == want, lucene
        re.compile(to_portable(lucene))    # every output must compile


@pytest.mark.parametrize("bad,msg", [
    ("x~y", "complement"),
    ("a&b", "intersection"),
    ("<1-100>", "interval"),
    ("a{", "repetition"),
    ("a{3,1}", "max < min"),
    ("(x", "unbalanced"),
    ("x)", "unbalanced"),
    ("*a", "nothing to repeat"),
    ("[", "unterminated"),
    ("[]", "unterminated"),    # the leading `]` reads as a literal
    ("[^]", "unterminated"),
    ("\\", "dangling"),
    ('"ab', "unterminated quoted"),
])
def test_unsupported_raises(bad, msg):
    """Operators needing automaton arithmetic and malformed syntax
    RAISE — never silently re-read as literals (the engine grammar's
    ban on silent misparses)."""
    with pytest.raises(ValueError, match=msg):
        to_portable(bad)


# (pattern, candidate) grid for the parity check: exercises every
# translated construct against match and non-match candidates
_GRID_PATTERNS = [
    "us.r", "(user|assistant)", "\\d", "a$b", "w00@", "a#b",
    '"a.b"', "a**", "a??", "[a-z]{4}", "[a[b]", "to+l", "x|y{2}",
    "gr[ae]y", "s.a[rn][a-z]*",
]
_GRID_CANDIDATES = [
    "user", "useless", "assistant", "5", "d", "a$b", "w0001", "w00",
    "ab", "a.b", "axb", "aaa", "a", "", "tool", "tol", "x", "yy",
    "gray", "grey", "spark", "scan", "[",
]


def test_python_re_semantics():
    """The Lucene-semantics spot checks the translation table implies."""
    def m(pat, s):
        return re.fullmatch(to_portable(pat), s) is not None

    assert m("us.r", "user") and not m("us.r", "useless")
    assert m("\\d", "d") and not m("\\d", "5")      # literal d
    assert m("a$b", "a$b")                          # literal $
    assert m("w00@", "w0001") and m("w00@", "w00")  # any-string
    assert not m("a#b", "ab")                       # empty language
    assert m('"a.b"', "a.b") and not m('"a.b"', "axb")
    assert m("a**", "aaa") and m("a??", "") and m("a??", "a")
    assert m("[a[b]", "[") and m("[a[b]", "a")      # literal [ in class


def test_three_dialect_parity(spark):
    """Python re == Spark rlike (Java) == DuckDB regexp_matches (RE2)
    on the full grid — the portable-output guarantee the engine's
    three evaluation sites rely on."""
    import duckdb
    import pandas as pd

    rows = []
    for pat in _GRID_PATTERNS:
        port = to_portable(pat)
        for cand in _GRID_CANDIDATES:
            rows.append((pat, port, cand,
                         re.fullmatch(port, cand) is not None))
    pdf = pd.DataFrame(rows, columns=["lucene", "portable", "cand", "py"])

    con = duckdb.connect()
    duck = con.execute(
        "SELECT regexp_matches(cand, '^(?:' || portable || ')$') "
        "FROM pdf").fetchall()
    for (got,), (_, _, cand, want) in zip(duck, rows):
        assert got == want, ("duckdb", cand, want)

    import pyarrow as pa

    from sparkbm25.querystring import compile_filter, filter_mask

    cands = pa.table({"role": _GRID_CANDIDATES})
    for pat in _GRID_PATTERNS:
        got = filter_mask(compile_filter([("role", f"/{pat}/")]), cands)
        want = [py for p, _, _, py in rows if p == pat]
        assert got.tolist() == want, ("filter_mask", pat)

    sdf = spark.createDataFrame(pdf)
    from pyspark.sql import functions as F
    bad = (sdf.withColumn(
        "jvm", F.regexp_like(
            F.col("cand"),
            F.concat(F.lit("^(?:"), F.col("portable"), F.lit(")$"))))
        .where(F.col("jvm") != F.col("py")))
    assert bad.count() == 0, bad.collect()
