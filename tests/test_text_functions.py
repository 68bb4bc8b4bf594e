"""Text-analysis operators: the corpus oracles cover the fixed test corpus
(which happens to contain no digits, and no image pair with short
captions), so the BPE-ish sub-word counter's boundary-splitting behavior and
the caption-agreement leg of the joint image+caption dedup are pinned here on
inputs where they actually diverge."""

from pyspark.sql import functions as F

from __spark_entry__ import caption_agreeing_pairs
from goribot_spark.functions.text import bpe_ish_token_count, token_count


def test_bpe_ish_diverges_on_letter_digit_boundaries(spark):
    rows = [
        (1, "AB12cd x9 hello"),  # ab|12|cd + x|9 + hello = 6 pieces, 3 words
        (2, "plain words only"),  # no boundaries: equals whitespace count
        (3, ""),  # empty → 0/0
        (4, "a1b"),  # adjacent transitions: a|1|b
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["ws"], r["bpe"])
        for r in df.select(
            "doc_id",
            token_count(F.col("text")).alias("ws"),
            bpe_ish_token_count(F.col("text")).alias("bpe"),
        ).collect()
    }
    assert got[1] == (3, 6)
    assert got[2] == (3, 3)
    assert got[3] == (0, 0)
    assert got[4] == (1, 3)


def test_caption_agreement_on_shared_image(spark):
    """Three image pairs sharing one fingerprint (hamming 0): a rewritten
    caption is excluded, agreeing long captions are kept, and equal
    captions too short to shingle (1 or 2 tokens) are kept with Jaccard
    1.0 instead of dividing an empty shingle union."""
    docs = spark.createDataFrame(
        [
            (1, "red barn at dawn over the quiet valley"),
            (2, "a photo of a blue car parked downtown"),  # rewritten
            (3, "the red barn at dawn over the quiet valley"),
            (4, "red barn at dawn over the quiet valley"),
            (5, "sunset"),
            (6, "Sunset"),
            (7, "two words"),
            (8, "two words"),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2, 0), (3, 4, 0), (5, 6, 0), (7, 8, 0)],
        "id_a long, id_b long, hamming int",
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in caption_agreeing_pairs(spark, pairs, docs).collect()
    }
    assert (1, 2) not in got
    assert 0.5 <= got[(3, 4)] < 1.0
    assert got[(5, 6)] == 1.0
    assert got[(7, 8)] == 1.0
