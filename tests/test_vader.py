"""VADER compound sentiment: expression path vs golden Python reference
vs broadcast-join path, plus EXACT parity with published vaderSentiment
outputs (Hutto & Gilbert 2014).

`test_published_readme_ground_truth` pins the twelve canonical README
compound scores to 4 decimals — the full rule set (ALL-CAPS, boosters
with decay and lexicon gating, stacked negation, idioms, "least",
"never so/this", "no" specials, but-clause, punctuation) must fire
exactly for those to land. The vendored lexicon is still a subset of
the 7.5k-entry file (no network in this container); the full MIT file
drops in via `load_vader_lexicon` into either scoring path."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from reddit_can_bigdata_spark.functions.vader import (
    ALPHA,
    B_INCR,
    BOOSTER_DICT,
    C_INCR,
    EP_AMP,
    LEXICON,
    N_SCALAR,
    vader_compound_expr,
    vader_compound_join,
    vader_compound_py,
)

SENTENCES = [
    "the match was good",
    "the match was very good",
    "the match was VERY good!!!",
    "the match was not good",
    "the food here is great, but the service is horrible",
    "the food here is horrible, but the service is great",
    "this is terrible",
    "this is absolutely terrible",
    "this is slightly terrible",
    "no sentiment words here at all",
    "",
    "great great great awful",
    "is it good? is it bad?? who knows???",
    "don't love it",
    "never a failure, always a lesson",
    "utterly and completely broken garbage!!!!",
    # double-'but': the clause split must anchor to the FIRST 'but'
    # in every path (a max-anchored join path diverges here)
    "good but bad but good",
    "the food was great but the wait was awful but the price was fair",
]


def _spark_scores(spark, texts):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, text string")
    rows = df.select("i", vader_compound_expr("text").alias("c")).collect()
    return {r["i"]: r["c"] for r in rows}


def test_expr_matches_python_reference(spark):
    got = _spark_scores(spark, SENTENCES)
    for i, s in enumerate(SENTENCES):
        want = vader_compound_py(s)
        assert got[i] == pytest.approx(want, abs=1e-12), (s, got[i], want)


def test_join_path_bit_identical_to_expr(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(SENTENCES)], "doc_id long, text string"
    )
    expr = {
        r["doc_id"]: r["c"]
        for r in df.select("doc_id", vader_compound_expr("text").alias("c")).collect()
    }
    join = {
        r["doc_id"]: r["compound"] for r in vader_compound_join(df).collect()
    }
    assert set(expr) == set(join)
    for k in expr:
        # same fold order => bit-identical doubles, not just approx
        assert expr[k] == join[k], (SENTENCES[k], expr[k], join[k])


def test_published_rule_constants_fire_exactly():
    """Each rule in isolation reproduces the closed-form number from
    the published constants."""

    def norm(x):
        return x / math.sqrt(x * x + ALPHA)

    g = LEXICON["good"]
    assert vader_compound_py("good") == pytest.approx(norm(g))
    # booster: +0.293 at distance 1
    assert vader_compound_py("very good") == pytest.approx(norm(g + B_INCR))
    # booster decay at distance 2 (0.95x)
    assert vader_compound_py("very very good") == pytest.approx(
        norm(g + B_INCR + B_INCR * 0.95)
    )
    # negation: x -0.74
    assert vader_compound_py("not good") == pytest.approx(norm(g * N_SCALAR))
    # negated-and-boosted: 'very' boosts at distance 1, 'not' negates
    # from distance 2 => (g + B) * -0.74
    assert vader_compound_py("not very good") == pytest.approx(
        norm((g + B_INCR) * N_SCALAR)
    )
    # exclamation emphasis: +0.292 each, along the sign
    assert vader_compound_py("good!") == pytest.approx(norm(g + EP_AMP))
    assert vader_compound_py("good!!!!!") == pytest.approx(norm(g + 4 * EP_AMP))
    b = LEXICON["bad"]
    assert vader_compound_py("bad!") == pytest.approx(norm(b - EP_AMP))
    # but-clause: before x0.5, after x1.5
    assert vader_compound_py("good but bad") == pytest.approx(
        norm(0.5 * g + 1.5 * b)
    )


def test_directional_parity_with_published_vader_behavior():
    """The canonical README progression: added emphasis strictly
    increases the compound magnitude; negation flips; but-clause
    shifts weight to the second clause."""
    c = vader_compound_py
    # emphasis ladder (README: smart/handsome/funny ladder shape)
    ladder = [
        c("the match was good"),
        c("the match was good!"),
        c("the match was very good!"),
        c("the match was very good!!!"),
    ]
    assert ladder == sorted(ladder) and len(set(ladder)) == 4, ladder
    assert c("the match was good") > 0 > c("the match was bad")
    assert c("the match was not good") < 0 < c("the match was not bad")
    # but-clause: sentiment follows the post-'but' clause
    assert c("the food is great, but the service is horrible") < 0
    assert c("the food is horrible, but the service is great") > 0
    # dampener weakens
    assert abs(c("slightly terrible")) < abs(c("terrible"))
    # amplifier strengthens
    assert abs(c("absolutely terrible")) > abs(c("terrible"))
    # neutral text scores exactly 0
    assert c("sentiment words are absent from this sentence") == 0.0
    assert c("") == 0.0 and c(None) == 0.0
    # bounded
    assert -1 <= c("utterly amazing awesome best great!!!!") <= 1


def test_custom_lexicon_roundtrip(tmp_path):
    """load_vader_lexicon parses the published tab-separated format and
    the join path accepts the loaded dict."""
    from reddit_can_bigdata_spark.functions.vader import load_vader_lexicon

    p = tmp_path / "vader_lexicon.txt"
    p.write_text(
        "good\t1.9\t0.9947\t[2, 2, 1, 2, 2, 2, 2, 2, 2, 2]\n"
        "bad\t-2.5\t0.67082\t[-3, -3, -2, -2, -2, -2, -3, -3, -2, -3]\n",
        encoding="utf-8",
    )
    lex = load_vader_lexicon(str(p))
    assert lex == {"good": 1.9, "bad": -2.5}
    assert vader_compound_py("good", lex) == vader_compound_py("good", {"good": 1.9})
    # words outside the custom lexicon score 0
    assert vader_compound_py("great", lex) == 0.0


def test_randomized_sentences_expr_matches_python(spark):
    """200 seeded random sentences mixing lexicon words, boosters,
    negations, 'but', unknown words and punctuation — the rule
    interactions a hand-picked list misses. One Spark pass, exact
    float equality against the Python reference."""
    import random

    rng = random.Random(42)
    lex_words = list(LEXICON)
    vocab = (
        lex_words
        + list(BOOSTER_DICT)
        + ["not", "never", "don't", "but", "the", "a", "zzz", "match", "team"]
    )
    sentences = []
    for _ in range(200):
        n = rng.randint(0, 12)
        words = [rng.choice(vocab) for _ in range(n)]
        tail = rng.choice(["", "!", "!!", "???", ".", "?!"])
        sentences.append(" ".join(words) + tail)
    got = _spark_scores(spark, sentences)
    bad = []
    for i, s in enumerate(sentences):
        want = vader_compound_py(s)
        if abs(got[i] - want) > 1e-12:
            bad.append((s, got[i], want))
    assert not bad, bad[:5]


def test_randomized_sentences_join_path_bit_identical(spark):
    """The SAME 200 seeded random sentences through the broadcast-join
    path: bit-identical to the expression path (the randomized pool
    includes multi-'but' sentences, so a wrong but-anchor cannot
    hide here the way it can in a hand-picked list)."""
    import random

    rng = random.Random(42)
    lex_words = list(LEXICON)
    vocab = (
        lex_words
        + list(BOOSTER_DICT)
        + ["not", "never", "don't", "but", "the", "a", "zzz", "match", "team"]
    )
    sentences = []
    for _ in range(200):
        n = rng.randint(0, 12)
        words = [rng.choice(vocab) for _ in range(n)]
        tail = rng.choice(["", "!", "!!", "???", ".", "?!"])
        sentences.append(" ".join(words) + tail)
    # guarantee multi-'but' coverage: splice 20 sentences with 2-3
    # 'but's around random lexicon words
    for _ in range(20):
        parts = [rng.choice(lex_words) for _ in range(4)]
        sentences.append(
            f"{parts[0]} but {parts[1]} but {parts[2]} but {parts[3]}"
        )
    assert any(s.split().count("but") >= 2 for s in sentences)
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(sentences)], "doc_id long, text string"
    )
    expr = {
        r["doc_id"]: r["c"]
        for r in df.select(
            "doc_id", vader_compound_expr("text").alias("c")
        ).collect()
    }
    join = {
        r["doc_id"]: r["compound"] for r in vader_compound_join(df).collect()
    }
    bad = [
        (sentences[k], expr[k], join[k]) for k in expr if expr[k] != join[k]
    ]
    assert not bad, bad[:5]


PUBLISHED_README_SCORES = [
    # (sentence, compound) — from the vaderSentiment README example
    # output (Hutto & Gilbert 2014, MIT). Exact to 4 decimals.
    ("VADER is smart, handsome, and funny.", 0.8316),
    ("VADER is smart, handsome, and funny!", 0.8439),
    ("VADER is very smart, handsome, and funny.", 0.8545),
    ("VADER is VERY SMART, handsome, and FUNNY.", 0.9227),
    ("VADER is VERY SMART, handsome, and FUNNY!!!", 0.9342),
    ("VADER is VERY SMART, uber handsome, and FRIGGIN FUNNY!!!", 0.9469),
    ("VADER is not smart, handsome, nor funny.", -0.7424),
    ("The book was good.", 0.4404),
    ("At least it isn't a horrible book.", 0.431),
    ("The book was only kind of good.", 0.3832),
    ("Today SUX!", -0.5461),
    ("Not bad at all", 0.431),
]


def test_published_readme_ground_truth(spark):
    """EXACT parity with published vaderSentiment outputs — not just
    directional. These twelve sentences jointly exercise ALL-CAPS
    emphasis (+-0.733 on words and boosters), booster decay with the
    per-distance lexicon gate, stacked negation, the at-least
    exemption, the 'kind of' idiom dampener, and punctuation
    emphasis; a wrong constant or mis-ordered rule shifts at least
    one of them. Checked on the Python golden AND the Spark
    expression path."""
    got_spark = _spark_scores(spark, [s for s, _ in PUBLISHED_README_SCORES])
    for k, (sentence, want) in enumerate(PUBLISHED_README_SCORES):
        assert round(vader_compound_py(sentence), 4) == want, sentence
        assert round(got_spark[k], 4) == want, sentence


def test_published_rule_set_extras():
    """The rules beyond the README set, each against a hand-derived
    closed form from the published constants."""
    c = vader_compound_py

    def norm(x):
        return x / math.sqrt(x * x + ALPHA)

    g = LEXICON["good"]
    # special-case idiom overrides the unigram valence ('the shit'=3.0).
    # Published gate: idioms are only checked for LEXICON words, so the
    # target word must be an entry (here via a custom lexicon — the
    # override discards its unigram value anyway).
    assert c("it was just the shit", {**LEXICON, "shit": -2.6}) == pytest.approx(
        norm(3.0)
    )
    # 'never so good': the 'so' booster applies at distance 1, the
    # proper distance-2 'never so' x1.25, AND the published distance-3
    # precedence quirk fires a second x1.25 (bare 'so' at distance 1
    # satisfies the mis-parenthesized condition) — (g + B) * 1.25^2
    assert c("it is never so good") == pytest.approx(
        norm((g + B_INCR) * 1.25 * 1.25)
    )
    # the quirk in isolation: no 'never' anywhere, yet 'so X' with >=3
    # prior tokens gets x1.25 (the published source's `a and b or c`)
    assert c("the movie was so good") == pytest.approx(
        norm((g + B_INCR) * 1.25)
    )
    # ...but not when the word sits too early for the distance-3 gate
    assert c("so good") == pytest.approx(norm(g + B_INCR))
    # 'without doubt excellent': negation exemption
    e = LEXICON["excellent"]
    assert c("it is without doubt excellent") == pytest.approx(norm(e))
    # 'least' negates...
    assert c("he is the least good person") == pytest.approx(
        norm(g * N_SCALAR)
    )
    # ...except after 'at'
    assert c("they were at least good people") == pytest.approx(norm(g))
    # ALL-CAPS emphasis gated on cap differential: an all-caps DOC has
    # no differential, so no boost
    assert c("GOOD GOOD") == pytest.approx(norm(g + g))
    assert c("GOOD is good") == pytest.approx(norm((g + C_INCR) + g))
    # 'no' before a lexicon word: lexicon * N_SCALAR, and 'no' itself
    # zeroes when adjacent to a lexicon word
    assert c("no good") == pytest.approx(norm(g * N_SCALAR))
    # stand-alone 'no' keeps its own (negative) lexicon valence
    assert c("no it is not") == pytest.approx(norm(LEXICON["no"]))
    # stacked negators multiply (published quirk: one check per
    # distance): "not not good" => g * (-0.74)^2
    assert c("it is not not good") == pytest.approx(
        norm(g * N_SCALAR * N_SCALAR)
    )


def test_cincr_constant():
    assert C_INCR == 0.733


def test_full_size_lexicon_through_join_path(spark, tmp_path):
    """The production path at REAL lexicon size: a 7,500-entry
    synthetic lexicon (the full vader_lexicon.txt's scale, on its
    rating range and tab-separated format) loaded via
    load_vader_lexicon and scored through the broadcast-join path,
    exact-equal to the Python golden on sentences drawing from it.
    This is the configuration a deployment with the MIT file runs —
    the CASE-expression path is the one that's size-limited, the join
    path must not be."""
    import random

    from reddit_can_bigdata_spark.functions.vader import (
        load_vader_lexicon,
        vader_compound_join,
        vader_compound_py,
    )

    rng = random.Random(7)
    words = [f"synthword{i}" for i in range(7_500 - len(LEXICON))]
    lines = [
        f"{w}\t{round(rng.uniform(-4.0, 4.0), 1)}\t0.5\t[0]" for w in words
    ] + [f"{w}\t{v}\t0.5\t[0]" for w, v in LEXICON.items()]
    p = tmp_path / "vader_lexicon.txt"
    p.write_text("\n".join(lines), encoding="utf-8")
    lex = load_vader_lexicon(str(p))
    assert len(lex) == 7_500

    vocab = words[:400] + list(LEXICON)[:100] + [
        "not", "very", "but", "never", "so", "the", "a", "kind", "of",
    ]
    sentences = []
    for _ in range(60):
        n = rng.randint(0, 12)
        sentences.append(
            " ".join(rng.choice(vocab) for _ in range(n))
            + rng.choice(["", "!", "??", "."])
        )
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(sentences)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["compound"]
        for r in vader_compound_join(df, lexicon=lex).collect()
    }
    bad = [
        (sentences[k], got[k], vader_compound_py(sentences[k], lex))
        for k in got
        if abs(got[k] - vader_compound_py(sentences[k], lex)) > 1e-12
    ]
    assert not bad, bad[:5]


COLLISION_SENTENCES = [
    # 'winning' (2.4) halves to 1.2 == 'clear' — the aliasing bite
    "winning but clear",
    "winning stuff but clear",
    "clear but winning",
    # duplicates on one side
    "good good but good",
    "good but good good",
]


def test_but_check_index_aliasing_quirk(spark):
    """The published _but_check scales sentiments[sentiments.index(s)]
    — when a pre-'but' value halves into an existing value, the FIRST
    slot holding it gets rescaled again and the visited slot is left
    alone. 'winning' (2.4) halves to 1.2 == 'clear': the buggy result
    is [0.6, 0, 1.2] (sum 1.8), NOT the positional [1.2, 0, 1.8]
    (sum 3.0). Exact-library parity requires the bug — pinned on the
    Python golden AND every SQL path (the seeded fuzz corpora contain
    no collision sentences, so without this test a positional
    regression in _but_fold's SQL would pass the whole suite)."""
    import duckdb

    from reddit_can_bigdata_spark.functions.vader import vader_sql

    c = vader_compound_py

    def norm(x):
        return x / math.sqrt(x * x + ALPHA)

    assert LEXICON["winning"] * 0.5 == LEXICON["clear"]  # the collision
    assert c("winning but clear") == pytest.approx(norm(1.8))
    assert c("winning but clear") != pytest.approx(norm(3.0))
    # no collision => quirk invisible, plain 0.5/1.5 weighting
    g, b = LEXICON["good"], LEXICON["bad"]
    assert c("good but bad") == pytest.approx(norm(0.5 * g + 1.5 * b))

    # every SQL path must reproduce the quirk bit-for-bit
    golden = {i: c(s) for i, s in enumerate(COLLISION_SENTENCES)}
    got_expr = _spark_scores(spark, COLLISION_SENTENCES)
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(COLLISION_SENTENCES)],
        "doc_id long, text string",
    )
    got_join = {
        r["doc_id"]: r["compound"] for r in vader_compound_join(df).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, ?)" for i in range(len(COLLISION_SENTENCES)))
        + ") v(i, text)",
        COLLISION_SENTENCES,
    )
    got_duck = dict(con.execute(f"SELECT i, {vader_sql('text')} FROM t").fetchall())
    for i, s in enumerate(COLLISION_SENTENCES):
        assert got_expr[i] == pytest.approx(golden[i], abs=1e-15), ("expr", s)
        assert got_join[i] == got_expr[i], ("join", s)
        assert got_duck[i] == got_expr[i], ("duck", s)


def test_expr_path_rejects_oversized_lexicon():
    """The inline per-token CASE path becomes a multi-MB expression
    tree past ~1k entries (planner slowdown, codegen 64KB limit); full
    7.5k-entry lexicons must go through vader_compound_join."""
    from reddit_can_bigdata_spark.functions.vader import (
        EXPR_LEXICON_MAX,
        vader_compound_expr,
        vader_sql,
    )

    big = {f"w{i}": 1.0 for i in range(EXPR_LEXICON_MAX + 1)}
    with pytest.raises(ValueError, match="vader_compound_join"):
        vader_compound_expr("text", big)
    with pytest.raises(ValueError, match="vader_compound_join"):
        vader_sql("text", big)
