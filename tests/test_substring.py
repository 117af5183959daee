"""F7 — exact shared-substring pass: planted containments are all found,
nothing else (modulo legitimately-shared >=L-grams, which the LCS verifier
confirms are real)."""

from gaoya_spark.fixtures import substring_fixture_pdf
from gaoya_spark.operators.substring import (
    longest_common_substring_len,
    substring_pairs,
)


def test_lcs_exact():
    assert longest_common_substring_len("abcdef", "zzabczz") == 3
    assert longest_common_substring_len("abc", "abc") == 3
    assert longest_common_substring_len("abc", "xyz") == 0
    assert longest_common_substring_len("", "abc") == 0
    assert longest_common_substring_len("banana", "ananas") == 5


def test_planted_substrings_found(spark):
    docs_pdf, truth = substring_fixture_pdf(n=300, sub_len=30)
    docs = spark.createDataFrame(docs_pdf)
    pairs = substring_pairs(docs, "id", "text", min_len=24)
    got = {(min(r["src"], r["dst"]), max(r["src"], r["dst"])) for r in pairs.collect()}
    want = {(min(s, d), max(s, d)) for s, d in truth.itertuples(index=False)}
    assert want <= got, f"missing planted pairs: {want - got}"
    # every reported pair genuinely shares a >=24-char substring (verified
    # by the suffix-automaton LCS; re-check a sample in pure python)
    texts = dict(zip(docs_pdf["id"], docs_pdf["text"]))
    for s, d in list(got)[:20]:
        assert longest_common_substring_len(texts[s], texts[d]) >= 24
    # all three verify modes agree on the pair set
    got_grams = {
        (min(r["src"], r["dst"]), max(r["src"], r["dst"]))
        for r in substring_pairs(docs, "id", "text", min_len=24, verify="grams").collect()
    }
    got_lcs = {
        (min(r["src"], r["dst"]), max(r["src"], r["dst"]))
        for r in substring_pairs(docs, "id", "text", min_len=24, verify="lcs").collect()
    }
    assert got == got_grams == got_lcs
    # and verify="lcs" reports true lengths >= min_len
    rows = substring_pairs(docs, "id", "text", min_len=24, verify="lcs").collect()
    for r in rows[:20]:
        assert r["lcs_len"] >= 24
        assert r["lcs_len"] == longest_common_substring_len(
            texts[r["src"]], texts[r["dst"]]
        )


def test_short_texts_no_grams(spark):
    docs = spark.createDataFrame(
        [(1, "short"), (2, "short"), (3, "x" * 30), (4, "x" * 30)],
        "id long, text string",
    )
    pairs = substring_pairs(docs, "id", "text", min_len=24).collect()
    assert {(r["src"], r["dst"]) for r in pairs} == {(3, 4)}
