"""Wordpiece vocabulary build (reference A1/F3 semantics)."""

from sbb_ocr_postcorrection_spark.functions import wordpiece as wp


def test_build_vocab_counts_pieces(spark):
    df = spark.createDataFrame(
        [("wasser wasser der",), ("die wasser der die",)], "text string"
    )
    vocab_rows = wp.build_vocab_df(df, "text", k=50).collect()
    assert vocab_rows, "vocab must be non-empty"
    counts = {r["piece"]: r["cnt"] for r in vocab_rows}
    # 'der' appears as a full-token 3-gram twice and inside nothing else
    assert counts["der"] == 2
    assert counts["was"] == 3  # once per 'wasser'
