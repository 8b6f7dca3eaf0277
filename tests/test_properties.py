"""Property-based tests (hypothesis) for the scalar expression layer.

These pin cross-engine/semantic invariants on arbitrary inputs, not
just fixtures: the portable hash always equals hashlib's, clean_text
output is always normalized, minhash estimates stay in [0,1]."""

from __future__ import annotations

import hashlib
import re

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), min_size=0, max_size=200
)


@settings(max_examples=12, deadline=None)
@given(st.lists(_text, min_size=1, max_size=8))
def test_portable_hash_always_matches_hashlib(spark, strings):
    from reddit_can_bigdata_spark.functions.text import portable_hash32

    df = spark.createDataFrame([(s,) for s in strings], "s string")
    got = [
        r["h"]
        for r in df.select(portable_hash32(F.col("s")).alias("h")).collect()
    ]
    expected = [int(hashlib.md5(s.encode()).hexdigest()[:8], 16) for s in strings]
    assert got == expected


@settings(max_examples=12, deadline=None)
@given(st.lists(_text, min_size=1, max_size=8))
def test_clean_text_output_is_normalized(spark, strings):
    from reddit_can_bigdata_spark.functions.text import clean_text_expr

    import unicodedata

    df = spark.createDataFrame([(s,) for s in strings], "s string")
    for r in df.select(clean_text_expr(F.col("s")).alias("c")).collect():
        c = r["c"]
        assert c == c.lower()
        # keep class is unicode letters + COMBINING MARKS (load-bearing
        # in Indic/Arabic scripts — kept since the round-6 İ-only
        # case-fold fix; a bare mark can therefore survive alone) +
        # digits + single spaces
        for ch in c:
            assert (
                ch == " "
                or ch.isdigit()
                or ch.isalpha()
                or unicodedata.category(ch).startswith("M")
            ), repr(c)
        assert "  " not in c
        assert c == c.strip()


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abcd efg", min_size=10, max_size=60), min_size=2, max_size=6
    )
)
def test_lexicon_score_bounded(spark, texts):
    from reddit_can_bigdata_spark.ml.sentiment import lexicon_score

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    for r in lexicon_score(df).collect():
        assert -1.0 <= r["lex_score"] <= 1.0
        assert r["lex_label"] in ("positive", "negative", "neutral")
