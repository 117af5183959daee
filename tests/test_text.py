"""Text-analysis operators over the documents table (JVM-side paths)."""

import pytest
from pyspark.sql import functions as F

from gaoya_spark.operators.text import (
    doc_fingerprint,
    lang_id,
    ngram_jaccard_pairs,
    quality_score,
    token_count,
)

from conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()
    d.count()
    return d


def test_token_count(spark, docs):
    rows = token_count(docs).select("doc_id", "text", "n_tokens").collect()
    for r in rows[:50]:
        assert r["n_tokens"] == len([t for t in r["text"].split(" ") if t])


def test_quality_score_ranges(spark, docs):
    q = quality_score(docs).collect()
    for r in q:
        assert 0 <= r["distinct_ratio"] <= 1
        assert 0 <= r["quality_score"] <= 1
        assert r["n_distinct_tokens"] <= r["n_tokens"]


def test_lang_id_deterministic(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house is a pet"),
            (2, "el perro y la casa de los gatos que ladran"),
            (3, "der hund und die katze das ist ein tier"),
            (4, "zzz qqq www"),
        ],
        "id long, text string",
    )
    got = {r["id"]: r["lang_pred"] for r in lang_id(df).collect()}
    assert got == {1: "en", 2: "es", 3: "de", 4: "und"}


def test_doc_fingerprint_stability(spark, docs):
    fp1 = {r["doc_id"]: (r["fp_min"], r["fp_max"]) for r in doc_fingerprint(docs).collect()}
    fp2 = {r["doc_id"]: (r["fp_min"], r["fp_max"]) for r in doc_fingerprint(docs).collect()}
    assert fp1 == fp2
    assert all(v[0] is not None for v in fp1.values())
    # identical docs share fingerprints; distinct docs mostly don't
    assert len({v for v in fp1.values()}) > len(fp1) * 0.9


def test_ngram_jaccard_pairs_exact(spark):
    df = spark.createDataFrame(
        [
            (1, "abcdefghij"),
            (2, "abcdefghij"),      # identical -> jaccard 1.0
            (3, "abcdefghiX"),      # near dup
            (4, "zzzzyyyyxxxx"),    # unrelated
        ],
        "id long, text string",
    )
    pairs = {(r["src"], r["dst"]): r["jaccard"]
             for r in ngram_jaccard_pairs(df, "id", "text", n=3, threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 4) not in pairs
    # doc1 has 8 distinct 3-grams, doc3 shares 7 of them: 7/(8+8-7)=7/9
    assert abs(pairs[(1, 3)] - 7 / 9) < 1e-6


def test_ngram_jaccard_duplicated_id_is_one_doc(spark):
    """An id held by several rows is one doc whose shingle set is the
    union of its rows' shingles. Id 1's rows are a text and a suffix of
    it, so its union is the text's own set: the pair (1, 2) comes once, at
    jaccard 1.0, for long and string ids alike."""
    text = "a quick brown fox jumps over the lazy dog"
    for dtype, one, two in (("long", 1, 2), ("string", "1", "2")):
        df = spark.createDataFrame(
            [(one, text), (one, "lazy dog"), (two, text)], f"id {dtype}, text string"
        )
        got = [tuple(r) for r in ngram_jaccard_pairs(df, "id", "text", threshold=0.5).collect()]
        assert got == [(one, two, 1.0)], got


def test_ngram_jaccard_pairs_on_documents(spark, docs):
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.9)
    # word-salad docs share vocabulary but not 90% of char 3-grams
    assert pairs.count() < 200


def test_ngram_jaccard_hot_shingle_tiers(spark, monkeypatch):
    """A shingle shared by thousands of docs must flow through the tiered
    bucket machinery (triangle block join), not a raw self-join — and the
    jaccard VALUES for true near-dup pairs that also share the hot shingle
    must stay exact (the old self-join undercounted `inter` whenever a hot
    shingle was dropped). Tier limits are shrunk so the 3k-member bucket
    exercises the triangle tier at test scale."""
    from gaoya_spark.operators import _bucket_pairs, text

    monkeypatch.setattr(text, "_ARRAY_LIMIT", 16)
    monkeypatch.setattr(_bucket_pairs, "_MEDIUM_LIMIT", 64)
    monkeypatch.setattr(_bucket_pairs, "_BLOCK_GROUPS", 4)
    base = "qwertyuiopasdfghjklzxcvbnm"  # shared hot prefix -> hot shingles
    rows = [(i, base + f"#{i:06d}") for i in range(3000)]
    # two planted near-dup pairs that ALSO contain the hot prefix
    rows.append((90001, base + "#dupA1"))
    rows.append((90002, base + "#dupA2"))
    df = spark.createDataFrame(rows, "id long, text string")
    got = {
        (r["src"], r["dst"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            df, "id", "text", n=3, threshold=0.5,
        ).collect()
    }

    def grams(t):
        return {t[i : i + 3] for i in range(len(t) - 2)}

    def jac(a, b):
        ga, gb = grams(a), grams(b)
        return round(len(ga & gb) / len(ga | gb), 6)

    texts = dict(rows)
    expect = jac(texts[90001], texts[90002])
    assert expect >= 0.5
    assert got[(90001, 90002)] == expect
    # spot-check background pairs against brute force: every reported pair
    # must carry the exact jaccard despite the hot shingles
    for (s, d), j in list(got.items())[:50]:
        assert j == jac(texts[s], texts[d])
    # and the dominant hot-bucket family (docs sharing only the prefix)
    # stays below threshold: prefix grams 24+hash ones -> ~24/(24+..)
    assert all(jac(texts[s], texts[d]) >= 0.5 for (s, d) in got)


def test_ngram_shingle_stats(spark, monkeypatch):
    from gaoya_spark.operators import text
    from gaoya_spark.operators.text import ngram_shingle_stats

    monkeypatch.setattr(text, "_BUCKET_CAP", 10)

    rows = [(i, "aaaa" + f"{i:04d}") for i in range(50)]
    df = spark.createDataFrame(rows, "id long, text string")
    st = ngram_shingle_stats(df, "id", "text", n=3).collect()[0]
    # 'aaa' (x2 positions, distinct per doc) + 'aa' prefix grams shared by
    # all 50 docs -> at least one bucket over the cap, recorded
    assert st["max_docs_per_shingle"] == 50
    assert st["n_dropped"] >= 1


def test_bpe_token_estimate(spark):
    from gaoya_spark.operators.text import bpe_token_estimate

    df = spark.createDataFrame(
        [
            (1, "hello world"),
            (2, "hello, world!!"),
            (3, "supercalifragilistic"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in bpe_token_estimate(df).collect()}
    assert rows[1]["n_word_tokens"] == 2 and rows[1]["n_symbol_tokens"] == 0
    assert rows[1]["bpe_token_estimate"] == 2.0
    # comma + two bangs count as symbol tokens
    assert rows[2]["n_symbol_tokens"] == 3
    assert rows[2]["bpe_token_estimate"] == 5.0
    # one long run gets the 0.3 subword surcharge
    assert rows[3]["bpe_token_estimate"] == 1.3
    assert rows[4]["bpe_token_estimate"] == 0.0


def test_lang_id_pluggable_model(spark):
    """The model hook swaps the stopword placeholder behind the same
    lang_pred contract (an Arrow-batched callable, e.g. fastText)."""
    from gaoya_spark.operators.text import lang_id

    df = spark.createDataFrame(
        [(1, "zz zz zz"), (2, "the cat and the hat")], "id long, text string"
    )

    def toy_model(texts):
        return ["xx" if "zz" in t else "en" for t in texts]

    got = {r["id"]: r["lang_pred"] for r in lang_id(df, model=toy_model).collect()}
    assert got == {1: "xx", 2: "en"}
    # default path unchanged
    base = {r["id"]: r["lang_pred"] for r in lang_id(df).collect()}
    assert base[2] == "en"
