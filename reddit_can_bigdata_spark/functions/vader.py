"""VADER compound sentiment, Spark-first (SURVEY §2.8 F13).

The reference labels posts with the VADER library behind a row-at-a-time
Python UDF (`spark-ml-sentiment/spark_ml_sentiment.py:108-138`). This
module re-implements the published VADER *algorithm* (Hutto & Gilbert,
ICWSM 2014 — MIT licensed; every constant, rule, and evaluation order
below is from the public paper/source) as set-oriented Spark:

- ``vader_compound_expr`` — ONE Catalyst expression chain (tokenize →
  per-token valence with the full published rule set → but-clause
  reweight → punctuation emphasis → alpha-normalization). Stays
  JVM-side; no Python in the hot path.
- ``vader_compound_join`` — the 100 TB shape: tokens exploded and
  broadcast-joined against a LEXICON TABLE (any size — the full 7.5k
  entry vader_lexicon.txt drops in via ``load_vader_lexicon``),
  context via lag/lead windows, deterministic sequential re-summation.
  Bit-identical to the expression path on the same lexicon (asserted
  in tests/test_vader.py) because both are generated from the SAME
  per-token valence builder (`_pos_valence`) over different accessor
  environments.
- ``vader_compound_py`` — pure-Python reference of the same published
  algorithm for golden tests.
- ``vader_sql`` — the DuckDB twin of the expression path, generated
  from the same builder so engine and oracle are structurally
  identical (same literals, same left-to-right float operations).

Published rules implemented (the COMPLETE sentiment_valence rule set):

- tokenization: whitespace split; leading/trailing ASCII punctuation
  stripped unless the stripped form is <= 2 chars (which preserves
  emoticons like ":)" and, published quirk, keeps "no." un-stripped);
- lexicon valence on the [-4, 4] scale; booster words themselves are
  skipped ("very" scores 0 even if a lexicon entry exists), as is
  "kind" when followed by "of";
- the "no" special cases: "no" before a lexicon word scores 0 itself,
  and a lexicon word preceded by "no" (1-2 back, or 3 back with
  or/nor between) takes lexicon * N_SCALAR;
- ALL-CAPS emphasis (+-C_INCR = 0.733) on sentiment words AND on
  boosters, gated on the document mixing cases (cap differential);
- booster/dampener scaling (+-0.293) over a 3-token window with
  0.95 / 0.9 distance decay, each distance gated on the intervening
  word NOT being a lexicon entry;
- negation flip (x -0.74) checked independently at each of the three
  distances (so stacked negators multiply), with the published NEGATE
  list plus the "n't" substring rule, the "never so/this" x1.25
  intensification — including the published source's distance-3
  precedence quirk, where a bare "so"/"this" right before the word
  triggers the boost without "never" — and the "without doubt"
  exemption;
- multi-word idioms: SPECIAL_CASES n-grams override the valence
  (first match among the five look-back windows, then the look-ahead
  bigram/trigram), and trailing booster idioms ("kind of", "sort of",
  "just enough") add their dampener — all inside the published
  distance-3 gate;
- the "least" special case (negates, except after "at"/"very");
- but-clause reweighting (0.5 before / 1.5 after the FIRST "but");
- exclamation (+0.292 each, max 4) and question-mark (2-3: 0.18 each,
  >3: 0.96) emphasis added along the sign of the sum;
- compound = x / sqrt(x^2 + 15), labeled at +-0.05.

The published implementation QUIRKS are reproduced deliberately, since
exact library parity is the goal: the ``_negation_check`` distance-3
precedence bug (bare "so"/"this" triggers x1.25 — see ``_pos_valence``)
and the ``_but_check`` ``list.index(value)`` aliasing bug (duplicate
float values mis-target the rescale — see ``_but_fold``).

Remaining divergences from the vaderSentiment *package* (documented,
environmental): (1) the vendored unigram lexicon is a subset — the
container has no network access to fetch the 7,5xx-entry file; the
full MIT file drops in unmodified via ``load_vader_lexicon`` and both
scoring paths accept it. (2) The emoji-description preprocessing step
(which needs the package's emoji_utf8_lexicon.txt) is not applied;
text emoticons like ":)" work through the lexicon as published.
``tests/test_vader.py`` pins exact equality with twelve published
README outputs.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F

from reddit_can_bigdata_spark.operators.common import shared

# ---------------------------------------------------------------- constants
# All from the published VADER source (MIT).
B_INCR = 0.293
B_DECR = -0.293
C_INCR = 0.733  # ALL-CAPS emphasis
N_SCALAR = -0.74
NEVER_SO = 1.25  # "never so/this" intensification
ALPHA = 15.0
EP_AMP = 0.292  # per '!', capped at 4
QM_SOME = 0.18  # per '?' when 2-3 of them
QM_MANY = 0.96  # 4+ '?'
POS_THRESHOLD = 0.05
NEG_THRESHOLD = -0.05

# Vendored unigram lexicon SUBSET with the published mean ratings on
# VADER's [-4, 4] scale. Production swaps in the full MIT-licensed
# vader_lexicon.txt (load_vader_lexicon) through either path.
LEXICON: dict[str, float] = {
    # positive
    "good": 1.9, "great": 3.1, "excellent": 2.7, "amazing": 2.8,
    "awesome": 3.1, "fantastic": 2.6, "wonderful": 2.7, "love": 3.2,
    "loved": 2.9, "loves": 2.7, "like": 1.5, "liked": 1.8, "best": 3.2,
    "better": 1.9, "win": 2.8, "winner": 2.8, "winning": 2.4, "won": 2.7,
    "happy": 2.7, "joy": 2.8, "glad": 2.0, "beautiful": 2.9,
    "brilliant": 2.8, "perfect": 2.7, "nice": 1.8, "superb": 3.0,
    "outstanding": 3.1, "impressive": 2.3, "positive": 2.3,
    "success": 2.7, "successful": 2.6, "strong": 2.3, "smooth": 1.5,
    "easy": 1.9, "helpful": 1.9, "friendly": 2.2, "fun": 2.3,
    "enjoy": 2.2, "enjoyed": 2.3, "excited": 2.2, "exciting": 2.4,
    "incredible": 2.8, "favorite": 2.0, "reliable": 1.9,
    "efficient": 1.8, "improved": 1.8, "improvement": 1.6, "gain": 1.6,
    "value": 1.4, "valuable": 2.1, "useful": 1.9, "clean": 1.7,
    "clear": 1.2, "correct": 1.8, "stable": 1.2, "secure": 1.6,
    "elegant": 2.1, "simple": 1.1, "powerful": 1.9, "champion": 2.4,
    "victory": 2.4, "celebrate": 2.7, "proud": 2.1, "thanks": 1.9,
    "thank": 2.0, "delight": 2.9, "delightful": 2.8, "pleasant": 2.3,
    "bravo": 2.7, "smart": 1.7, "handsome": 2.2, "funny": 1.9,
    "hope": 1.9, "hopeful": 2.0, "super": 2.9, "top": 2.0, "magic": 2.1,
    "free": 2.3, "safe": 1.9, "support": 1.7, "trust": 2.3,
    # negative
    "bad": -2.5, "terrible": -2.1, "awful": -2.0, "horrible": -2.5,
    "worst": -3.1, "worse": -2.1, "hate": -2.7, "hated": -3.2,
    "hates": -1.9, "sad": -2.1, "angry": -2.3, "mad": -2.2,
    "fail": -2.5, "failed": -2.3, "failure": -2.4, "failing": -2.2,
    "broken": -1.5, "bug": -1.3, "error": -1.7, "errors": -1.8,
    "crash": -1.5, "crashed": -1.6, "slow": -1.2, "lag": -1.0,
    "problem": -1.7, "problems": -1.7, "issue": -1.1, "issues": -1.3,
    "wrong": -2.1, "poor": -2.1, "weak": -1.9, "ugly": -2.6,
    "annoying": -1.8, "frustrating": -2.1, "frustrated": -2.0,
    "useless": -1.8, "waste": -1.8, "wasted": -2.0, "difficult": -1.5,
    "confusing": -1.3, "confused": -1.4, "unstable": -1.6,
    "unreliable": -1.6, "messy": -1.5, "dirty": -1.8, "defeat": -2.0,
    "loss": -1.9, "lose": -1.9, "losing": -1.9, "lost": -1.6,
    "pain": -2.0, "painful": -2.3, "disappointing": -2.2,
    "disappointed": -2.0, "complain": -1.6, "complaint": -1.6,
    "negative": -2.1, "disaster": -3.1, "mess": -1.6, "mediocre": -1.2,
    "boring": -1.3, "noisy": -1.1, "garbage": -2.2, "trash": -2.0,
    "scam": -2.4, "fraud": -2.9, "worthless": -2.6, "fear": -2.2,
    "afraid": -2.0, "scared": -1.9, "crisis": -2.4, "threat": -2.2,
    "danger": -2.4, "dangerous": -2.1, "hurt": -2.0, "cry": -2.0,
    "kill": -3.1, "dead": -3.3, "death": -2.9, "war": -2.9,
    # entries the special rules reference
    "no": -1.2, "sux": -1.5,
}

# The COMPLETE published BOOSTER_DICT (single- and multi-word keys).
BOOSTER_DICT: dict[str, float] = {
    **{w: B_INCR for w in (
        "absolutely", "amazingly", "awfully", "completely",
        "considerable", "considerably", "decidedly", "deeply", "effing",
        "enormous", "enormously", "entirely", "especially",
        "exceptional", "exceptionally", "extreme", "extremely",
        "fabulously", "flipping", "flippin", "frackin", "fracking",
        "fricking", "frickin", "frigging", "friggin", "fully", "fuckin",
        "fucking", "fuggin", "fugging", "greatly", "hella", "highly",
        "hugely", "incredible", "incredibly", "intensely", "major",
        "majorly", "more", "most", "particularly", "purely", "quite",
        "really", "remarkably", "so", "substantially", "thoroughly",
        "total", "totally", "tremendous", "tremendously", "uber",
        "unbelievably", "unusually", "utter", "utterly", "very",
    )},
    **{w: B_DECR for w in (
        "almost", "barely", "hardly", "just enough", "kind of", "kinda",
        "kindof", "kind-of", "less", "little", "marginal", "marginally",
        "occasional", "occasionally", "partly", "scarce", "scarcely",
        "slight", "slightly", "somewhat", "sort of", "sorta", "sortof",
        "sort-of",
    )},
}

# Multi-word booster keys are the only ones an n-gram can match.
_MULTIWORD_BOOSTERS = {k: v for k, v in BOOSTER_DICT.items() if " " in k}

# The published NEGATE list (note: "no" is NOT here — it has its own
# rules above; the "n't" substring check rides alongside).
NEGATE: tuple[str, ...] = (
    "aint", "arent", "cannot", "cant", "couldnt", "darent", "didnt",
    "doesnt", "ain't", "aren't", "can't", "couldn't", "daren't",
    "didn't", "doesn't", "dont", "hadnt", "hasnt", "havent", "isnt",
    "mightnt", "mustnt", "neither", "don't", "hadn't", "hasn't",
    "haven't", "isn't", "mightn't", "mustn't", "neednt", "needn't",
    "never", "none", "nope", "nor", "not", "nothing", "nowhere",
    "oughtnt", "shant", "shouldnt", "uhuh", "wasnt", "werent",
    "oughtn't", "shan't", "shouldn't", "uh-uh", "wasn't", "weren't",
    "without", "wont", "wouldnt", "won't", "wouldn't", "rarely",
    "seldom", "despite",
)

# Published sentiment-laden idioms (override the unigram valence).
SPECIAL_CASES: dict[str, float] = {
    "the shit": 3.0, "the bomb": 3.0, "bad ass": 1.5, "badass": 1.5,
    "bus stop": 0.0, "yeah right": -2.0, "kiss of death": -1.5,
    "to die for": 3.0, "beating heart": 3.1, "broken heart": -2.9,
}

# Published tokenizer punctuation set (Python string.punctuation), as a
# regex character-class body. "-" last; "]", "\" escaped.
_PUNCT_CLASS = r"""!"#$%&'()*+,./:;<=>?@\[\\\]^_`{|}~-"""
_STRIP_RE = rf"^[{_PUNCT_CLASS}]+|[{_PUNCT_CLASS}]+$"

# The published tokenizer splits with str.split() — UNICODE whitespace.
# Java \s and RE2 \s disagree with it AND with each other (\x0B is \s
# in Java but not RE2; NBSP/U+2028 are .split() separators in neither),
# so each engine gets an EXPLICIT class of exactly the characters
# Python's isspace() accepts — the three paths tokenize identically,
# including on scraped text full of NBSP/thin-space.
_WS_CHARS = "".join(chr(c) for c in range(0x3001) if chr(c).isspace())


def _ws_split_pattern(engine: str) -> str:
    """The whitespace class as a regex each engine parses to the same
    set: Spark (Java) via \\uXXXX escapes (survives the SQL string
    unescape as regex-level escapes), DuckDB (RE2) via \\x{XXXX}."""
    if engine == "spark":
        body = "".join(f"\\\\u{ord(c):04X}" for c in _WS_CHARS)
    else:
        body = "".join(f"\\x{{{ord(c):04X}}}" for c in _WS_CHARS)
    return f"[{body}]+"


def _lit(v: float) -> str:
    """Float literal that parses as DOUBLE in both Spark SQL and DuckDB
    (bare decimals parse as DECIMAL in both; exponent form does not)."""
    return f"{v!r}e0"


def _sq(w: str) -> str:
    return "'" + w.replace("'", "''") + "'"


def _case_valence(var: str, mapping: dict[str, float]) -> str:
    """Simple-CASE lookup returning NULL when absent (NULL == "not in
    the lexicon", which the published gates test via membership)."""
    branches = " ".join(f"WHEN {_sq(w)} THEN {_lit(v)}" for w, v in mapping.items())
    return f"(CASE {var} {branches} END)"


def _in_list(var: str, words: tuple[str, ...]) -> str:
    return f"({var} IN ({', '.join(_sq(w) for w in words)}))"


def _neg_expr(var: str) -> str:
    """negated(): published NEGATE membership OR the "n't" substring."""
    return f"({_in_list(var, NEGATE)} OR instr({var}, {_sq(chr(110) + chr(39) + chr(116))}) > 0)"


_SP = "' '"  # the SQL literal for the idiom separator space


# ----------------------------------------------------- accessor environments
class _Env:
    """Accessor environment the shared valence builder is generated
    over. Three instances: Spark arrays, DuckDB lists, Spark lag/lead
    columns (the join path) — one builder, three bit-identical plans."""

    def __init__(self, *, cur, back, fwd, bind, n, cap, i="i"):
        self.cur = cur    # cur(field) -> SQL for token i's field
        self.back = back  # back(field, d) -> SQL, NULL when i <= d
        self.fwd = fwd    # fwd(field, k) -> SQL, NULL when i + k > n
        self.bind = bind  # bind(var, val_sql, body_sql) -> SQL
        self.n = n        # token count SQL
        self.cap = cap    # cap-differential boolean SQL
        self.i = i        # 1-based position var


def _spark_bind(var: str, val: str, body: str) -> str:
    return f"element_at(transform(array({val}), {var} -> {body}), 1)"


def _duck_bind(var: str, val: str, body: str) -> str:
    return f"list_transform([{val}], {var} -> {body})[1]"


def _array_env(elem, bind) -> _Env:
    """Environment over per-token arrays in struct ``s`` with position
    var ``i`` (used by both the Spark and DuckDB expression paths)."""
    return _Env(
        cur=lambda f: elem(f, "i"),
        back=lambda f, d: f"(CASE WHEN i > {d} THEN {elem(f, f'i-{d}')} END)",
        fwd=lambda f, k: f"(CASE WHEN i + {k} <= {elem.n} THEN {elem(f, f'i+{k}')} END)",
        bind=bind,
        n=elem.n,
        cap=elem.cap,
    )


class _SparkElem:
    n = "s.n"
    cap = "s.c"
    butx = "s.x"  # consumed by the callers' _but_fold, not _pos_valence

    def __call__(self, field: str, idx: str) -> str:
        return f"element_at(s.{field}, cast({idx} as int))"


class _DuckElem:
    n = "struct_extract(s, 'n')"
    cap = "struct_extract(s, 'c')"
    butx = "struct_extract(s, 'x')"

    def __call__(self, field: str, idx: str) -> str:
        return f"struct_extract(s, '{field}')[CAST({idx} AS BIGINT)]"


# -------------------------------------------------- the shared rule builder
def _pos_valence(E: _Env) -> str:
    """Published ``sentiment_valence`` for the token at 1-based
    position ``i``, as one SQL scalar. Fields: 'l' lowercase token,
    'v' lexicon valence (NULL absent), 'b' booster value (NULL
    absent), 'u' isupper, 'g' negated-word flag. The sequential
    valence mutation (caps -> distance-1 -> distance-2 -> distance-3
    with idioms -> least) unrolls as nested single-element-array
    bindings so each intermediate is evaluated exactly once."""
    Z, C, NS = _lit(0.0), _lit(C_INCR), _lit(N_SCALAR)
    L = lambda d: E.back("l", d)
    V = lambda d: E.back("v", d)
    B = lambda d: E.back("b", d)
    U = lambda d: E.back("u", d)
    G = lambda d: E.back("g", d)
    l_i, v_i, b_i, u_i = E.cur("l"), E.cur("v"), E.cur("b"), E.cur("u")
    lf1, lf2, vf1 = E.fwd("l", 1), E.fwd("l", 2), E.fwd("v", 1)
    i, N = E.i, E.n

    sp = lambda s_expr: _case_valence(s_expr, SPECIAL_CASES)
    bm = lambda s_expr: f"coalesce({_case_valence(s_expr, _MULTIWORD_BOOSTERS)}, {Z})"

    # polarity_scores preamble: boosters and "kind of" score 0 outright
    skip = f"(({b_i}) IS NOT NULL OR ({l_i} = 'kind' AND {lf1} = 'of'))"

    # base + the "no" special cases + ALL-CAPS emphasis
    no_neg = (
        f"(({L(1)} = 'no') OR ({L(2)} = 'no') OR "
        f"({L(3)} = 'no' AND {L(1)} IN ('or', 'nor')))"
    )
    no_zero = f"({l_i} = 'no' AND {vf1} IS NOT NULL)"
    v0 = E.bind(
        "nv",
        f"(CASE WHEN {no_neg} THEN {v_i} * {NS} "
        f"WHEN {no_zero} THEN {Z} ELSE {v_i} END)",
        f"(CASE WHEN {u_i} AND {E.cap} THEN "
        f"(CASE WHEN nv > {Z} THEN nv + {C} ELSE nv - {C} END) "
        f"ELSE nv END)",
    )

    def step(d: int, vvar: str) -> str:
        """One distance of the published loop: booster scalar (with
        caps and decay), then the distance's negation rules, then (at
        distance 3) the idiom checks — all gated on the intervening
        word not being a lexicon entry."""
        decay = {1: None, 2: 0.95, 3: 0.9}[d]
        mul = "" if decay is None else f" * {_lit(decay)}"
        app = f"(i > {d} AND ({V(d)}) IS NULL)"
        sc = (
            f"(CASE WHEN ({B(d)}) IS NULL THEN {Z} ELSE "
            f"((CASE WHEN {vvar} < {Z} THEN -({B(d)}) ELSE {B(d)} END) + "
            f"(CASE WHEN {U(d)} AND {E.cap} THEN "
            f"(CASE WHEN {vvar} > {Z} THEN {C} ELSE -{C} END) "
            f"ELSE {Z} END)){mul} END)"
        )
        if d == 1:
            vb = f"(CASE WHEN {G(1)} THEN va{d} * {NS} ELSE va{d} END)"
        elif d == 2:
            vb = (
                f"(CASE WHEN {L(2)} = 'never' AND {L(1)} IN ('so', 'this') "
                f"THEN va{d} * {_lit(NEVER_SO)} "
                f"WHEN {L(2)} = 'without' AND {L(1)} = 'doubt' THEN va{d} "
                f"WHEN {G(2)} THEN va{d} * {NS} ELSE va{d} END)"
            )
        else:
            # published distance-3 condition REPRODUCED WITH ITS
            # PRECEDENCE QUIRK: the source's `a and b or c` parses as
            # (never@3 AND so/this@2) OR (so/this@1) — so ANY token
            # with "so"/"this" directly before it gets the x1.25 here
            # (given the i>3 + not-in-lexicon gate), never required or
            # not. Exact-library parity demands the quirk.
            vb = (
                f"(CASE WHEN ({L(3)} = 'never' AND {L(2)} IN ('so', 'this')) "
                f"OR ({L(1)} IN ('so', 'this')) "
                f"THEN va{d} * {_lit(NEVER_SO)} "
                f"WHEN {L(3)} = 'without' AND "
                f"({L(2)} = 'doubt' OR {L(1)} = 'doubt') THEN va{d} "
                f"WHEN {G(3)} THEN va{d} * {NS} ELSE va{d} END)"
            )
        if d == 3:
            onezero = f"concat({L(1)}, ' ', {l_i})"
            twoonezero = f"concat({L(2)}, ' ', {L(1)}, ' ', {l_i})"
            twoone = f"concat({L(2)}, ' ', {L(1)})"
            threetwoone = f"concat({L(3)}, ' ', {L(2)}, ' ', {L(1)})"
            threetwo = f"concat({L(3)}, ' ', {L(2)})"
            zeroone = (
                f"(CASE WHEN i < {N} THEN "
                f"{sp(f'concat({l_i}, {_SP}, {lf1})')} END)"
            )
            zeroonetwo = (
                f"(CASE WHEN i + 1 < {N} THEN "
                f"{sp(f'concat({l_i}, {_SP}, {lf1}, {_SP}, {lf2})')} END)"
            )
            # first matching look-back idiom wins; the look-ahead
            # trigram overrides the bigram overrides those (published
            # sequential assignment order)
            vc = (
                f"coalesce({zeroonetwo}, {zeroone}, "
                f"{sp(onezero)}, {sp(twoonezero)}, {sp(twoone)}, "
                f"{sp(threetwoone)}, {sp(threetwo)}, vb{d})"
            )
            body = (
                f"((({vc}) + {bm(threetwoone)}) + {bm(threetwo)}) + {bm(twoone)}"
            )
        else:
            body = f"vb{d}"
        inner = E.bind(
            f"sc{d}", sc,
            E.bind(f"va{d}", f"({vvar} + sc{d})", E.bind(f"vb{d}", vb, body)),
        )
        return f"(CASE WHEN {app} THEN {inner} ELSE {vvar} END)"

    least = (
        f"(CASE WHEN i > 2 AND ({V(1)}) IS NULL AND {L(1)} = 'least' THEN "
        f"(CASE WHEN {L(2)} <> 'at' AND {L(2)} <> 'very' "
        f"THEN v3 * {NS} ELSE v3 END) "
        f"WHEN i = 2 AND ({V(1)}) IS NULL AND {L(1)} = 'least' "
        f"THEN v3 * {NS} ELSE v3 END)"
    )
    core = E.bind(
        "v0", v0,
        E.bind(
            "v1", step(1, "v0"),
            E.bind("v2", step(2, "v1"), E.bind("v3", step(3, "v2"), least)),
        ),
    )
    body = (
        f"(CASE WHEN {skip} THEN {Z} WHEN ({v_i}) IS NULL THEN {Z} "
        f"ELSE {core} END)"
    )
    # the builder emits the position var as literal ``i``; environments
    # whose position lives elsewhere (the join path's _pos column) bind
    # it via one outer single-element-array lambda.  NOTE: the value is
    # the UNSCALED per-token sentiment — the but-clause reweighting is
    # a LIST mutation in the published source (with an index() aliasing
    # quirk), applied afterwards over the whole array by ``_but_fold``.
    if i != "i":
        body = E.bind("i", i, body)
    return body


def _but_fold(engine: str, v: str, bx: str) -> str:
    """The published ``_but_check`` REPRODUCED EXACTLY, including its
    ``list.index(value)`` aliasing quirk: the source iterates the live
    sentiments list and scales ``sentiments[sentiments.index(s)]`` —
    so when two entries carry the SAME float value, the FIRST one is
    scaled again and the visited one is left untouched. That genuinely
    fires on real lexicon values (e.g. 2.4 halved == 1.2: "winning but
    clear"), so exact-library parity requires the quirk, not the
    positional form.

    Expressed as a sequential fold over positions k = 1..n whose
    accumulator is the WHOLE array: read s = A[k] (the live value),
    find si = first index equal to s, rescale that slot (0.5 before
    the first 'but', 1.5 after), rebuild. O(n^2) per document in
    sentence-length n — negligible, and embarrassingly parallel
    across documents. ``v`` is a bound array variable; ``bx`` the
    1-based index of the first 'but' (0 = absent, fold skipped)."""
    half, sesq = _lit(0.5), _lit(1.5)
    if engine == "spark":
        upd = (
            f"element_at(transform(array(element_at(A, k)), sk -> "
            f"element_at(transform(array(array_position(A, sk)), si -> "
            f"transform(sequence(1, size(A)), j -> "
            f"CASE WHEN j = si AND si < {bx} THEN sk * {half} "
            f"WHEN j = si AND si > {bx} THEN sk * {sesq} "
            f"ELSE element_at(A, cast(j as int)) END)), 1)), 1)"
        )
        return (
            f"(CASE WHEN {bx} = 0 THEN {v} ELSE "
            f"aggregate(sequence(1, size({v})), {v}, (A, k) -> {upd}) END)"
        )
    upd = (
        f"list_transform([A[CAST(KL[1] AS BIGINT)]], sk -> "
        f"list_transform([list_position(A, sk)], si -> "
        f"list_transform(range(1, len(A) + 1), j -> "
        f"CASE WHEN j = si AND si < {bx} THEN sk * {half} "
        f"WHEN j = si AND si > {bx} THEN sk * {sesq} "
        f"ELSE A[j] END))[1])[1]"
    )
    return (
        f"(CASE WHEN {bx} = 0 THEN {v} ELSE "
        f"list_reduce(list_prepend({v}, list_transform("
        f"range(1, len({v}) + 1), k -> [CAST(k AS DOUBLE)])), "
        f"(A, KL) -> {upd}) END)"
    )


def _punct_norm(raw: str, ep: str, qm: str) -> str:
    """Sign-following punctuation emphasis + alpha normalization,
    engine-neutral SQL over bound vars raw/ep/qm."""
    z = _lit(0.0)
    tot = (
        f"(CASE WHEN {raw} > {z} THEN {raw} + ({ep} + {qm}) "
        f"WHEN {raw} < {z} THEN {raw} - ({ep} + {qm}) ELSE {z} END)"
    )
    return f"(tot_v / sqrt(tot_v * tot_v + {_lit(ALPHA)}))".replace("tot_v", tot)


def _punct_parts(text: str) -> tuple[str, str]:
    ep = f"(least(length({text}) - length(replace({text}, '!', '')), 4) * {_lit(EP_AMP)})"
    q = f"(length({text}) - length(replace({text}, '?', '')))"
    qm = (
        f"(CASE WHEN {q} > 3 THEN {_lit(QM_MANY)} "
        f"WHEN {q} > 1 THEN {q} * {_lit(QM_SOME)} ELSE {_lit(0.0)} END)"
    )
    return ep, qm


def _isup(t: str) -> str:
    """str.isupper(): >=1 cased char, all cased chars upper."""
    return f"(upper({t}) = {t} AND lower({t}) <> {t})"


def _strip_sql(t: str, engine: str) -> str:
    """Published token cleanup: strip edge punctuation, but keep the
    ORIGINAL token when the stripped form is <= 2 chars."""
    if engine == "spark":
        pat = _sq(_STRIP_RE.replace("\\", "\\\\"))
        rep = f"regexp_replace({t}, {pat}, '')"
    else:
        pat = _sq(_STRIP_RE)
        rep = f"regexp_replace({t}, {pat}, '', 'g')"
    return rep


def _struct_fields(toks: str, engine: str, lexicon: dict[str, float]) -> dict[str, str]:
    """The per-token lookup arrays + document scalars, each built ONCE
    from the bound token array (the CollapseProject re-evaluation
    pitfall — see pretrain._gram_expr)."""
    if engine == "spark":
        tr = lambda body: f"transform({toks}, t -> {body})"
        low_arr = f"transform({toks}, t -> lower(t))"
        butx = f"coalesce(array_position({low_arr}, 'but'), 0)"
        nup = (
            f"aggregate(transform({toks}, t -> CASE WHEN {_isup('t')} "
            f"THEN 1 ELSE 0 END), 0, (a, x) -> a + x)"
        )
        cap = (
            f"element_at(transform(array({nup}), nup -> "
            f"(nup > 0 AND nup < size({toks}))), 1)"
        )
        n = f"size({toks})"
    else:
        tr = lambda body: f"list_transform({toks}, t -> {body})"
        low_arr = f"list_transform({toks}, t -> lower(t))"
        butx = f"coalesce(list_position({low_arr}, 'but'), 0)"
        nup = (
            f"list_reduce(list_prepend(0, list_transform({toks}, "
            f"t -> CASE WHEN {_isup('t')} THEN 1 ELSE 0 END)), (a, x) -> a + x)"
        )
        cap = (
            f"list_transform([{nup}], nup -> "
            f"(nup > 0 AND nup < len({toks})))[1]"
        )
        n = f"len({toks})"
    return {
        "v": tr(_case_valence("lower(t)", lexicon)),
        "b": tr(_case_valence("lower(t)", BOOSTER_DICT)),
        "u": tr(_isup("t")),
        "l": low_arr,
        "g": tr(_neg_expr("lower(t)")),
        "x": butx,
        "n": n,
        "c": cap,
    }


# Above this many lexicon entries the inlined per-token CASE is a
# multi-MB expression tree: Catalyst planning slows superlinearly and
# codegen falls back / can exceed the 64KB method limit. The full 7.5k
# vaderSentiment lexicon belongs on the broadcast-join path.
EXPR_LEXICON_MAX = 1000


def _check_expr_lexicon(lexicon: dict[str, float], fn: str) -> None:
    if len(lexicon) > EXPR_LEXICON_MAX:
        raise ValueError(
            f"{fn}: lexicon has {len(lexicon)} entries; the inline "
            f"CASE expression path is only sane up to "
            f"{EXPR_LEXICON_MAX}. Use vader_compound_join (broadcast "
            f"lexicon join) for full-size lexicons."
        )


def vader_compound_expr(
    text_col: str, lexicon: dict[str, float] | None = None
) -> Column:
    """Compound score as ONE Catalyst expression chain."""
    lexicon = lexicon or LEXICON
    _check_expr_lexicon(lexicon, "vader_compound_expr")
    text = f"coalesce({text_col}, '')"
    rawtoks = f"filter(split({text}, '{_ws_split_pattern('spark')}'), t -> t <> '')"
    toks = (
        f"transform({rawtoks}, t -> element_at(transform("
        f"array({_strip_sql('t', 'spark')}), st -> "
        f"CASE WHEN length(st) > 2 THEN st ELSE t END), 1))"
    )
    fields = _struct_fields("toks", "spark", lexicon)
    lookups = "named_struct(" + ", ".join(
        f"'{k}', {v}" for k, v in fields.items()
    ) + ")"
    val = _pos_valence(_array_env(_SparkElem(), _spark_bind))
    vals = f"transform(sequence(1, s.n), i -> {val})"
    raw = (
        f"CASE WHEN s.n = 0 THEN {_lit(0.0)} ELSE "
        f"element_at(transform(array({vals}), V -> "
        f"aggregate({_but_fold('spark', 'V', _SparkElem.butx)},"
        f" cast(0.0 as double), (a, v) -> a + v)), 1) END"
    )
    ep, qm = _punct_parts(text)
    body = _punct_norm("raw", ep, qm)
    expr = (
        f"element_at(transform(array({toks}), toks -> "
        f"element_at(transform(array({lookups}), s -> "
        f"element_at(transform(array({raw}), raw -> {body}), 1)"
        f"), 1)), 1)"
    )
    return F.expr(expr)


def vader_label_expr(compound: Column) -> Column:
    return (
        F.when(compound >= POS_THRESHOLD, "positive")
        .when(compound <= NEG_THRESHOLD, "negative")
        .otherwise("neutral")
    )


def vader_sql(text_col: str, lexicon: dict[str, float] | None = None) -> str:
    """DuckDB twin of ``vader_compound_expr``: same builder, same
    constants, same left-to-right summation => bit-identical compound.
    Returns a scalar SQL expression over ``text_col``."""
    lexicon = lexicon or LEXICON
    _check_expr_lexicon(lexicon, "vader_sql")
    text = f"coalesce({text_col}, '')"
    rawtoks = (
        f"list_filter(regexp_split_to_array({text},"
        f" '{_ws_split_pattern('duck')}'), t -> t <> '')"
    )
    toks = (
        f"list_transform({rawtoks}, t -> list_transform("
        f"[{_strip_sql('t', 'duck')}], st -> "
        f"CASE WHEN length(st) > 2 THEN st ELSE t END)[1])"
    )
    fields = _struct_fields("toks", "duck", lexicon)
    lookups = "{" + ", ".join(f"'{k}': {v}" for k, v in fields.items()) + "}"
    val = _pos_valence(_array_env(_DuckElem(), _duck_bind))
    # list_reduce errors on empty input — prepend the 0.0 accumulator;
    # ((0+v1)+v2)... matches Spark's aggregate fold exactly.
    nn = "struct_extract(s, 'n')"
    vals = f"list_transform(range(1, {nn} + 1), i -> {val})"
    bxd = _DuckElem.butx
    raw = (
        f"CASE WHEN {nn} = 0 THEN {_lit(0.0)} ELSE "
        f"list_transform([{vals}], V -> "
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        f" {_but_fold('duck', 'V', bxd)}),"
        f" (a, v) -> a + v))[1] END"
    )
    ep, qm = _punct_parts(text)
    body = _punct_norm("raw_v", ep, qm)
    return (
        f"list_transform([{toks}], toks -> "
        f"list_transform([{lookups}], s -> "
        f"list_transform([{raw}], raw_v -> {body})[1]"
        f")[1])[1]"
    )


# -------------------------------------------------------------- golden ref
def _tokenize_py(text: str) -> list[str]:
    import string

    out = []
    for t in text.split():
        st = t.strip(string.punctuation)
        out.append(st if len(st) > 2 else t)
    return out


def vader_compound_py(
    text: str | None, lexicon: dict[str, float] | None = None
) -> float:
    """Pure-Python reference of the published algorithm — the same
    rules, constants, and float-operation order as the SQL builders."""
    lexicon = lexicon or LEXICON
    text = text or ""
    toks = _tokenize_py(text)
    low = [t.lower() for t in toks]
    n = len(toks)
    isup = [t.isupper() for t in toks]
    cap_diff = 0 < sum(isup) < n

    def negated(w: str) -> bool:
        return w in NEGATE or "n't" in w

    sentiments: list[float] = []
    for i in range(n):
        if low[i] in BOOSTER_DICT:
            sentiments.append(0.0)
            continue
        if i < n - 1 and low[i] == "kind" and low[i + 1] == "of":
            sentiments.append(0.0)
            continue
        if low[i] not in lexicon:
            sentiments.append(0.0)
            continue
        v = lexicon[low[i]]
        if low[i] == "no" and i != n - 1 and low[i + 1] in lexicon:
            v = 0.0
        if (
            (i > 0 and low[i - 1] == "no")
            or (i > 1 and low[i - 2] == "no")
            or (i > 2 and low[i - 3] == "no" and low[i - 1] in ("or", "nor"))
        ):
            v = lexicon[low[i]] * N_SCALAR
        if isup[i] and cap_diff:
            v = v + C_INCR if v > 0 else v - C_INCR
        for start_i in range(3):
            j = i - (start_i + 1)
            if i > start_i and low[j] not in lexicon:
                sc = 0.0
                if low[j] in BOOSTER_DICT:
                    sc = BOOSTER_DICT[low[j]]
                    if v < 0:
                        sc = -sc
                    if isup[j] and cap_diff:
                        sc = sc + C_INCR if v > 0 else sc - C_INCR
                if start_i == 1 and sc != 0:
                    sc *= 0.95
                if start_i == 2 and sc != 0:
                    sc *= 0.9
                v = v + sc
                if start_i == 0:
                    if negated(low[j]):
                        v *= N_SCALAR
                elif start_i == 1:
                    if low[i - 2] == "never" and low[i - 1] in ("so", "this"):
                        v *= NEVER_SO
                    elif low[i - 2] == "without" and low[i - 1] == "doubt":
                        pass
                    elif negated(low[i - 2]):
                        v *= N_SCALAR
                else:
                    # published precedence quirk reproduced — see the
                    # SQL builder's distance-3 comment
                    if (low[i - 3] == "never" and low[i - 2] in ("so", "this")) or (
                        low[i - 1] in ("so", "this")
                    ):
                        v *= NEVER_SO
                    elif low[i - 3] == "without" and (
                        low[i - 2] == "doubt" or low[i - 1] == "doubt"
                    ):
                        pass
                    elif negated(low[i - 3]):
                        v *= N_SCALAR
                    onezero = f"{low[i - 1]} {low[i]}"
                    twoonezero = f"{low[i - 2]} {low[i - 1]} {low[i]}"
                    twoone = f"{low[i - 2]} {low[i - 1]}"
                    threetwoone = f"{low[i - 3]} {low[i - 2]} {low[i - 1]}"
                    threetwo = f"{low[i - 3]} {low[i - 2]}"
                    for seq in (onezero, twoonezero, twoone, threetwoone, threetwo):
                        if seq in SPECIAL_CASES:
                            v = SPECIAL_CASES[seq]
                            break
                    if n - 1 > i:
                        zeroone = f"{low[i]} {low[i + 1]}"
                        if zeroone in SPECIAL_CASES:
                            v = SPECIAL_CASES[zeroone]
                    if n - 1 > i + 1:
                        zeroonetwo = f"{low[i]} {low[i + 1]} {low[i + 2]}"
                        if zeroonetwo in SPECIAL_CASES:
                            v = SPECIAL_CASES[zeroonetwo]
                    for g in (threetwoone, threetwo, twoone):
                        if g in BOOSTER_DICT:
                            v += BOOSTER_DICT[g]
        if i > 1 and low[i - 1] not in lexicon and low[i - 1] == "least":
            if low[i - 2] != "at" and low[i - 2] != "very":
                v *= N_SCALAR
        elif i > 0 and low[i - 1] not in lexicon and low[i - 1] == "least":
            v *= N_SCALAR
        sentiments.append(v)
    if "but" in low:
        # the published loop VERBATIM, including the index() aliasing
        # quirk (scales the FIRST slot holding the visited value, which
        # mis-targets on duplicate floats) — see _but_fold
        bi = low.index("but")
        for sentiment in sentiments:
            si = sentiments.index(sentiment)
            if si < bi:
                sentiments[si] = sentiment * 0.5
            elif si > bi:
                sentiments[si] = sentiment * 1.5
    total = 0.0
    for s in sentiments:
        total += s
    ep = min(text.count("!"), 4) * EP_AMP
    q = text.count("?")
    qm = QM_MANY if q > 3 else (q * QM_SOME if q > 1 else 0.0)
    if total > 0:
        total += ep + qm
    elif total < 0:
        total -= ep + qm
    else:
        return 0.0
    return total / math.sqrt(total * total + ALPHA)


# ------------------------------------------------------------- join path
def load_vader_lexicon(path: str) -> dict[str, float]:
    """Parse the real MIT-licensed vader_lexicon.txt (token\\tmean\\t
    stddev\\traw_ratings) for either path. Multi-word and non-ascii
    entries are kept as-is; the tokenizer only matches unigrams."""
    out: dict[str, float] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            parts = line.rstrip("\n").split("\t")
            if len(parts) >= 2:
                out[parts[0]] = float(parts[1])
    return out


def vader_compound_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lexicon: dict[str, float] | None = None,
) -> DataFrame:
    """The 100 TB shape: lexicon as a BROADCAST DIMENSION TABLE instead
    of an inlined CASE — required once the lexicon outgrows a codegen
    expression (the full VADER file, domain lexicons, multilingual).

    Plan: posexplode tokens -> broadcast-join (token -> valence,
    booster) -> lag/lead windows over (doc, pos) for the published
    3-token context -> the SAME ``_pos_valence`` rule expression over
    those columns -> per-doc sequential re-sum via
    sort_array(collect_list(struct(pos, val))): the fold order is
    exactly the expression path's left-to-right order, so the result
    is BIT-IDENTICAL to ``vader_compound_expr`` on the same lexicon
    (asserted in tests). One shuffle (the window + groupBy share the
    hash(_id) partitioning, so AQE runs them in one exchange); the
    explode is corpus-linear.

    Honest cost note: the per-token rule expression evaluates in
    Catalyst's interpreted mode, not whole-stage codegen — the
    single-element-array lambda bindings are higher-order functions,
    which are CodegenFallback. The alternative (inlining every
    intermediate) duplicates subtrees ~4000x and blows the 64KB
    codegen method limit anyway. Interpreted eval is a constant
    factor on a data-parallel, JVM-side map — still linear and
    shuffle-free at 100 TB (measured ~3.6s for sf0.1's corpus).

    Inside a ``operators.common.shared_inputs`` scope (one
    dashboard render) the plan is built once per (frame, columns,
    lexicon) and its callers share the lazy handle."""
    lexicon = lexicon or LEXICON
    return shared(
        ("vader_join", id(df), text_col, id_col, id(lexicon)),
        lambda: _vader_join_plan(df, text_col, id_col, lexicon),
        df,
        lexicon,
    )


def _vader_join_plan(
    df: DataFrame, text_col: str, id_col: str, lexicon: dict[str, float]
) -> DataFrame:
    """The plan :func:`vader_compound_join` describes."""
    from pyspark.sql import Window

    spark = df.sparkSession
    # dimension tables from pandas, not Python lists: the list form
    # parallelizes into defaultParallelism PICKLED-RDD slices, i.e.
    # 2x32 Python-worker tasks of pure startup latency per query
    # (measured ~0.5s each of blocked run time at sf0.1); the pandas
    # form arrives through Arrow as a driver-local table with zero
    # Python tasks (guide §4: keep the boundary out of the hot path).
    import pandas as pd

    lex_df = spark.createDataFrame(
        pd.DataFrame(list(lexicon.items()), columns=["tok", "valence"]),
        "tok string, valence double",
    )
    boost_df = spark.createDataFrame(
        pd.DataFrame(list(BOOSTER_DICT.items()), columns=["tok", "bval"]),
        "tok string, bval double",
    )
    text = f"coalesce({text_col}, '')"
    rawtoks = f"filter(split({text}, '{_ws_split_pattern('spark')}'), t -> t <> '')"
    toks = (
        f"transform({rawtoks}, t -> element_at(transform("
        f"array({_strip_sql('t', 'spark')}), st -> "
        f"CASE WHEN length(st) > 2 THEN st ELSE t END), 1))"
    )
    ep, qm = _punct_parts(text)
    # Size-aware KEYED repartition before the heavy per-token map
    # (optimization round 11): the single-row-group test input plans a
    # 1-task scan, serializing the tokenize/strip/cap scalars and the
    # posexplode (~1s of CPU at sf0.1 in one task), and the window's
    # own exchange was then AQE-coalesced to ~3 partitions because the
    # shuffled BYTES are small — while the per-row cost here is
    # interpreted-eval heavy, not byte-bound. hash(_id) partitioning
    # established HERE satisfies the lag/lead windows' and the final
    # groupBy's ClusteredDistribution, so the plan keeps ONE exchange
    # and every stage after the scan runs at the size-derived
    # parallelism AQE may not shrink (user-specified partitioning).
    from reddit_can_bigdata_spark.operators.common import spread_parts

    # scale=2 (optimization round 12): this map's per-task fixed cost
    # is the INTERPRETED build of the ~4000-node rule expression, far
    # above the fan-out tier's per-task constant, so the partition
    # target doubles (fewer, larger tasks). Round-12 sweep at sf0.1
    # (n=4, same session): 13 parts wall 1.27 / cpu 4.03; 8 parts 0.98
    # / 2.15; 6 parts 1.00 / 2.11; 4 parts 1.04 / 1.86; 1 part 2.33 /
    # 1.79 — the 6-8 band is the wall optimum and recovers the
    # round-11 cpu regression (r10 cpu ~3.1). At 100 TB the
    # defaultParallelism cap dominates and nothing changes.
    df = df.repartition(spread_parts(df, scale=2.0), id_col)
    # document-level scalars computed ONCE from the token array — no
    # extra window passes for n / cap-diff / but-index
    base = df.select(
        F.col(id_col).alias("_id"),
        F.expr(toks).alias("_toks"),
        F.expr(ep).alias("_ep"),
        F.expr(qm).alias("_qm"),
    ).select(
        "_id",
        "_toks",
        "_ep",
        "_qm",
        F.expr("size(_toks)").alias("_n"),
        F.expr(
            "element_at(transform(array(aggregate(transform(_toks, "
            f"t -> CASE WHEN {_isup('t')} THEN 1 ELSE 0 END), 0, "
            "(a, x) -> a + x)), nup -> (nup > 0 AND nup < size(_toks))), 1)"
        ).alias("_cap"),
        F.expr(
            "coalesce(array_position(transform(_toks, t -> lower(t)), 'but'), 0)"
        ).alias("_bx"),
    )
    tok = base.select(
        "_id", "_ep", "_qm", "_n", "_cap", "_bx",
        F.posexplode_outer("_toks").alias("_pos", "_tok"),
    ).withColumn("_pos", F.col("_pos") + 1)  # 1-based like the expr path
    tok = tok.withColumns({"_low": F.lower("_tok"), "_up": F.expr(_isup("_tok"))})
    tok = (
        tok.join(lex_df, tok["_low"] == lex_df["tok"], "left")
        .drop("tok")
        .join(boost_df, tok["_low"] == boost_df["tok"], "left")
        .drop("tok")
    )
    tok = tok.withColumn("_ng", F.expr(_neg_expr("_low")))
    w = Window.partitionBy("_id").orderBy("_pos")
    lag_src = {"l": "_low", "v": "valence", "b": "bval", "u": "_up", "g": "_ng"}
    # one projection for the 18 window columns: a withColumn per
    # column would analyse the growing plan once per column
    tok = tok.withColumns({
        **{
            f"_{f}b{d}": F.lag(col, d).over(w)
            for f, col in lag_src.items()
            for d in (1, 2, 3)
        },
        "_lf1": F.lead("_low", 1).over(w),
        "_lf2": F.lead("_low", 2).over(w),
        "_vf1": F.lead("valence", 1).over(w),
    })
    env = _Env(
        cur=lambda f: lag_src[f],
        back=lambda f, d: f"_{f}b{d}",
        fwd=lambda f, k: {"l": {1: "_lf1", 2: "_lf2"}, "v": {1: "_vf1"}}[f][k],
        bind=_spark_bind,
        n="_n",
        cap="_cap",
        i="_pos",
    )
    # Measured and kept NESTED (optimization round 12): flattening the
    # let-bindings into per-step columns (one withColumn per bind, all
    # plain CASE expressions) was implemented and A/B'd — cpu 4.5 ->
    # 15.8 s at sf0.1, 3.5x WORSE. The nested form's outer CASE gates
    # ("skip"/valence-NULL) mean only lexicon-hit tokens (~5-10% of
    # rows) ever evaluate the rule tree, while materialized step
    # columns evaluate it for EVERY token and add a row-copy per
    # unfused Project. Lazy evaluation beats codegen here.
    tok = tok.withColumn("_val", F.expr(_pos_valence(env)))
    per_doc = (
        tok.groupBy("_id")
        .agg(
            F.first("_ep").alias("_ep"),
            F.first("_qm").alias("_qm"),
            F.first("_bx").alias("_bxd"),
            # deterministic sequence: sort by pos — same order as the
            # expression path's position array
            F.expr(
                "transform(sort_array(collect_list(struct(_pos, _val))),"
                " s -> s._val)"
            ).alias("_vals"),
        )
    )
    per_doc = per_doc.withColumn(
        "_raw",
        F.expr(
            f"aggregate({_but_fold('spark', '_vals', '_bxd')},"
            " cast(0.0 as double), (a, v) -> a + v)"
        ),
    )
    tot = (
        F.when(F.col("_raw") > 0, F.col("_raw") + (F.col("_ep") + F.col("_qm")))
        .when(F.col("_raw") < 0, F.col("_raw") - (F.col("_ep") + F.col("_qm")))
        .otherwise(F.lit(0.0))
    )
    compound = tot / F.sqrt(tot * tot + F.lit(ALPHA))
    return per_doc.select(F.col("_id").alias(id_col), compound.alias("compound"))
