"""The dedup facade's keep modes: the pair graph's components as labels,
the smallest id of each component as the surviving row."""

import pytest

from gaoya_spark.config import MinHashConfig, SimHashConfig, TokenizerSpec
from gaoya_spark.operators.dedup import minhash_dedup, simhash_dedup

WORD = TokenizerSpec(kind="word", n_from=1, n_to=1, lowercase=True)
TEXT = "the quick brown fox jumps over the lazy dog near the river bank today"
ROWS = [
    (3, TEXT),
    (1, TEXT),
    (2, "completely different words about database engines and query planners"),
    (5, TEXT),
]

DEDUPS = {
    "minhash": lambda df, keep: minhash_dedup(
        df, "id", "text", MinHashConfig(num_bands=42, band_width=3, threshold=0.5,
                                        tokenizer=WORD), keep=keep),
    "simhash": lambda df, keep: simhash_dedup(
        df, "id", "text", SimHashConfig(nbits=64, num_blocks=8, max_distance=4,
                                        tokenizer=WORD), keep=keep),
}


@pytest.mark.parametrize("name", sorted(DEDUPS))
def test_keep_labels_first_and_bad_mode(spark, name):
    dedup = DEDUPS[name]
    df = spark.createDataFrame(ROWS, "id long, text string")
    pairs = {(r["src"], r["dst"]) for r in dedup(df, "pairs").collect()}
    assert pairs == {(1, 3), (1, 5), (3, 5)}
    labels = {r["id"]: r["component"] for r in dedup(df, "labels").collect()}
    assert labels[1] == labels[3] == labels[5] != labels[2]
    assert set(labels) == {1, 2, 3, 5}
    first = sorted(r["id"] for r in dedup(df, "first").collect())
    assert first == [1, 2]
    with pytest.raises(ValueError, match="keep must be"):
        dedup(df, "bogus")
