"""Containment decontamination pinned against a pure-Python golden.
The registered query's oracle parity runs in test_oracle_parity.py."""

from __future__ import annotations

from reddit_can_bigdata_spark.operators.common import tables
from reddit_can_bigdata_spark.operators.pretrain import (
    CONTAIN_N,
    CONTAIN_THRESHOLD,
    DECONTAM_EVAL_MOD,
    pretrain_eval_containment,
)


def _py_tokens(text: str) -> list[str]:
    return [t for t in text.split(" ") if t]


def test_containment_matches_python_golden(spark, sf_dir):
    rows = pretrain_eval_containment(spark, sf_dir).collect()
    docs = tables(spark, sf_dir)["documents"].select("doc_id", "text").collect()
    shingles = {}
    for r in docs:
        toks = _py_tokens(r.text)
        shingles[r.doc_id] = {
            " ".join(toks[i : i + CONTAIN_N])
            for i in range(len(toks) - CONTAIN_N + 1)
        }
    evals = {d for d in shingles if d % DECONTAM_EVAL_MOD == 0}
    expect = {}
    for e in evals:
        for c in shingles:
            if c in evals:
                continue
            common = len(shingles[c] & shingles[e])
            ratio = common / len(shingles[e])
            if ratio >= CONTAIN_THRESHOLD:
                expect[(c, e)] = (common, len(shingles[e]))
    got = {(r.doc_id, r.eval_id): (r.n_common, r.n_eval) for r in rows}
    assert got == expect
    assert rows, "threshold produced no pairs; test is vacuous"
    for r in rows:
        assert abs(r.containment - r.n_common / r.n_eval) < 1e-6
        assert r.containment >= CONTAIN_THRESHOLD
