"""Regex dialect differential (VERDICT r1 #5 — the reference's own 'hardest
problem', /root/reference/NOTE.md): every pattern to_java_regex accepts must
produce EXACTLY re.search's verdicts when its transpiled form runs through
Spark's regexp_like. Patterns it rejects route to the Arrow interpreter
(Python re by construction), so rejection is always safe; acceptance is what
needs proof.
"""

import json
import random
import re

from pyspark.sql import functions as F

from json_schema_lean_spark.regex_dialect import to_java_regex

# (pattern, [strings]) — each pair a KNOWN Python/Java divergence or edge
DIVERGENCE_CORPUS = [
    # '.' : Java excludes \r \x85    ; Python only \n
    ("a.b", ["a\rb", "a\nb", "axb", "a\x85b", "a b"]),
    ("^x.$", ["x\r", "xa", "x\n"]),
    # '$' : Java matches before any final line terminator incl \r\n
    ("foo$", ["foo", "foo\n", "foo\r\n", "foo\r", "foo\n\n", "fooX"]),
    ("^ab$", ["ab", "ab\n", "ab\r"]),
    # \Z : Python absolute end; Java \Z allows final terminator
    (r"foo\Z", ["foo", "foo\n"]),
    # \d : Python Unicode Nd; Java ASCII
    (r"\d+", ["123", "٣٤٥", "1٣", "abc"]),
    (r"[\d]", ["٣", "7", "x"]),
    (r"\D", ["٣", "7", "x"]),
    # class with [ inside (Python literal, Java nested-class union)
    (r"[a[b]", ["a", "b", "[", "c"]),
    # class with && (Python literal, Java intersection)
    (r"[a&&b]", ["a", "&", "b", "c"]),
    # {,n} : Python {0,n}; Java literal
    (r"^a{,2}b", ["b", "ab", "aab", "aaab", "a{,2}b"]),
    # [\b] backspace in Python
    (r"[\b]", ["\x08", "b", "\\"]),
    # \v vertical tab in Python, vertical-whitespace class in Java
    (r"\v", ["\x0b", "\n", "x"]),
    # leading ] is literal in a Python class
    (r"[]a]", ["]", "a", "b"]),
    # escapes, anchors, quantifiers, groups, backrefs, lookarounds
    (r"^asset://", ["asset://x", "zasset://x", "asset:/x"]),
    (r"(ab)+\1", ["abab", "ababab", "ab"]),
    (r"(?=foo)fo", ["foo", "fob"]),
    (r"(?!foo)fo", ["foo", "fob"]),
    (r"(?<=a)b", ["ab", "cb"]),
    (r"(?<!a)b", ["ab", "cb"]),
    (r"a|b$", ["a", "b", "b\n", "c"]),
    (r"\x41B", ["AB", "ab"]),
    (r"[^\n]*", ["x\ny", ""]),
    (r"[a-fA-F0-9]{2}", ["3F", "zz", "a"]),
    (r"a{2,}", ["a", "aa", "aaa"]),
    (r"colou?r", ["color", "colour", "colr"]),
    (r"\U0001F4A9", ["\U0001F4A9", "x"]),
    (r"x$|y", ["x\n", "y", "z"]),
]

REJECT_EXPECTED = [
    r"\w+", r"\s", r"\bfoo\b", r"(?P<n>a)", r"(?#c)a", r"(?i)abc",
    r"a\0b", r"\N{BULLET}", r"(?>ab)", r"(?(1)a|b)",
]


def _spark_eval(spark, pairs):
    """pairs: [(java_pattern, string)] -> list[bool] via one Spark job."""
    rows = [(i, p, s) for i, (p, s) in enumerate(pairs)]
    df = spark.createDataFrame(rows, "i int, pat string, s string")
    got = df.select("i", F.regexp_like("s", F.col("pat")).alias("m")) \
            .collect()
    out = [None] * len(pairs)
    for r in got:
        out[r["i"]] = bool(r["m"])
    return out


def test_divergence_corpus_matches_python(spark):
    pairs, expected = [], []
    rejected = []
    for pat, strings in DIVERGENCE_CORPUS:
        jpat = to_java_regex(pat)
        if jpat is None:
            rejected.append(pat)
            continue
        for s in strings:
            pairs.append((jpat, s))
            expected.append(re.search(pat, s) is not None)
    # the corpus is built from transpilable constructs — only the Unicode
    # word/space escapes legitimately reject
    assert not rejected, rejected
    got = _spark_eval(spark, pairs)
    bad = [(pairs[i][0], pairs[i][1], expected[i], got[i])
           for i in range(len(pairs)) if got[i] != expected[i]]
    assert not bad, bad


def test_known_unsafe_constructs_reject():
    for pat in REJECT_EXPECTED:
        assert to_java_regex(pat) is None, pat


def test_fuzz_accepted_patterns_match_python(spark):
    """Seeded random pattern x string fuzz (500+ accepted pairs): transpiled
    Java verdicts must equal re.search bit-for-bit."""
    rng = random.Random(20260816)
    atoms = ["a", "b", "ab", "x", ".", r"\d", "[ab]", "[^ab]", "[a-f]",
             r"\.", "(a)", "(?:ab)", "a|b", r"[\d]", "[]x]", "[a&&b]",
             r"\x41", "é", "٣", r"\U0001F4A9", r"\n", r"\t",
             "(?:a|b)", r"(a)\1", "(?=a)a", "(?!b)a", "(?<=a)b", "(?<!a)b",
             r"[^a-c\d]", r"\$", "[.]", "[$]", "[~-]", r"x\-y"]
    quants = ["", "*", "+", "?", "{1,2}", "{2}", "{,2}", "*?", "+?"]
    anchors_pre = ["", "^"]
    anchors_post = ["", "$", r"\Z"]

    def gen_pattern():
        n = rng.randint(1, 4)
        body = "".join(rng.choice(atoms) + rng.choice(quants)
                       for _ in range(n))
        return rng.choice(anchors_pre) + body + rng.choice(anchors_post)

    alphabet = ["a", "b", "c", "f", "x", "é", "٣", "7", "\n", "\r", " ",
                "\U0001F4A9", ".", "[", "]", "&", "{", "}", "\x85",
                "\u2028", "$", "~", "-", "\x0b", "\x08", "\U00016AC3"]

    def gen_string():
        return "".join(rng.choice(alphabet)
                       for _ in range(rng.randint(0, 6)))

    pairs, expected = [], []
    accepted = 0
    for _ in range(700):
        pat = gen_pattern()
        jpat = to_java_regex(pat)
        if jpat is None:
            continue
        accepted += 1
        for _ in range(4):
            s = gen_string()
            pairs.append((jpat, s))
            expected.append(re.search(pat, s) is not None)
    assert accepted >= 150, accepted  # the accepted subset must stay broad
    got = _spark_eval(spark, pairs)
    bad = [(pairs[i][0], repr(pairs[i][1]), expected[i], got[i])
           for i in range(len(pairs)) if got[i] != expected[i]]
    assert not bad, bad[:20]


def test_unicode_digits_on_both_compiled_paths(spark):
    r"""``\d`` is Python's digit set on the VARIANT and columnar paths,
    including the Tangsa digits U+16AC0-U+16AC9 that the JVM's ``\p{Nd}``
    (OpenJDK 17) lacks; ``\D`` and class forms follow."""
    from json_schema_lean_spark.interpreter import CompiledValidator
    from json_schema_lean_spark.operators.validation import validate_dataframe
    from json_schema_lean_spark.variant import validate_json_column_variant

    strings = [chr(0x16AC0 + i) for i in range(10)] + ["7", "٣", "x", "\U0001F4A9"]
    df = spark.createDataFrame([(s, json.dumps(s)) for s in strings],
                               "s string, j string")
    for pat in [r"^\d$", r"^\D$", r"^[x\d]$", r"^[^\D]$", r"^[x\D]$"]:
        schema = {"pattern": pat}
        exp = [CompiledValidator(schema).is_valid(s) for s in strings]
        variant = validate_json_column_variant(df, "j", schema).collect()
        columnar = validate_dataframe(df, schema, doc_col="s").collect()
        assert [r["valid"] for r in variant] == exp, pat
        assert [r["valid"] for r in columnar] == exp, pat
