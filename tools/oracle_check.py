"""Differential oracle check: every registered query against its DuckDB
oracle on a table tree, or against itself across an execution knob.

Axes (one per run):

- ``exact``: a real SF dir (``--sf-dir``, default sf0.01).
- ``empty``, ``limit1``, ``limit3``: LIMIT-n copies of the sf0.001
  tables. n=0 exercises the empty-relation identities (grouping sets,
  outer joins, scalar aggregates); n=1 the single-sample edge
  (stddev/variance NULL, percentile-of-one, degenerate normalization
  ranges); n=3 broken-FK sparsity (slices keep the first rows of each
  table, so most joins go dark).
- ``nulls``: NULL in every 5th row of each non-key column: default null
  ordering under LIMIT, NULL group keys, NULL-propagating expressions,
  Python paths that assume collected scalars are non-None.
- ``textfuzz``: every second ``documents.text`` row replaced by a
  hostile-Unicode string, where Java and DuckDB string/regex semantics
  are most likely to diverge.
- ``partitions`` (``spark.sql.shuffle.partitions`` 3 vs 32) and ``aqe``
  (``spark.sql.adaptive.enabled`` false vs true): each query runs once
  per value in one session (both confs are read at plan time) and the
  results are compared with each other. At cluster scale these are ops
  knobs, and float accumulation order, unstable window tiebreaks or
  LIMIT-without-ORDER would each make results depend on them.

On a tree both engines read the same files, so a failure is an
expression-semantics divergence, not a data difference. Results are
compared repr-exact: sorted column names, row count, then the sorted
rows. A Spark error is a failure, and so is an oracle error when Spark
succeeds. A query with no oracle is checked on its rows only; one over
its ``oracle_max_sf`` is skipped.

Usage: python tools/oracle_check.py AXIS [--sf-dir DIR] [name ...]
Writes nothing but the derived trees' cache dirs; exits 1 on any failure.
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from reddit_can_bigdata_spark import registry  # noqa: E402
from reddit_can_bigdata_spark.session import DEFAULT_SF_DIR, get_spark  # noqa: E402
from reddit_can_bigdata_spark.tables import TABLE_NAMES  # noqa: E402

#: the testdata scales sit side by side; the derived trees come from
#: the smallest
_TESTDATA = os.path.dirname(DEFAULT_SF_DIR.rstrip("/"))
SRC_SF = os.path.join(_TESTDATA, "sf0.001")

# Join/identity keys stay non-null so the injected tables keep their
# relational structure; every OTHER column gets NULL on every 5th row.
_KEY_COLS = {
    "r_regionkey", "n_nationkey", "n_regionkey", "c_custkey",
    "c_nationkey", "s_suppkey", "s_nationkey", "p_partkey",
    "o_orderkey", "o_custkey", "l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "event_id", "user_id", "doc_id", "vec_id",
}

# Adversarial corpus for the text stack: the Unicode shapes web scrapes
# actually contain, where Java (Spark) and DuckDB string/regex
# semantics are most likely to diverge — exotic whitespace, CJK/RTL,
# emoji (surrogate pairs), combining marks, fullwidth forms, control
# and NUL bytes, pathological token lengths.
ADVERSARIAL_TEXTS = [
    "",
    " ",
    "\t\n\r",
    "\u00a0\u2028\u2029 nbsp and line separators",
    "héllo wörld café straße",
    "ｆｕｌｌｗｉｄｔｈ text",
    "日本語のテキストです。",
    "مرحبا بالعالم",
    "\U0001f44d\U0001f525\U0001f4af emoji storm \U0001f680 end",
    "éclair naïve combining marks",
    "a" * 5000,
    "word " * 500,
    "Mixed123Numbers456 and UPPER lower",
    "ALL CAPS SHOUTING TEXT HERE",
    "punct!!! ??? ;;; ,,, ... ---",
    "tab\tseparated\tvalues here",
    "quote \"double\" and 'single' marks",
    "back\\slash and /forward/ slash",
    "null\x00byte embedded",
    "control\x01\x02\x03chars",
    "İstanbul Iı turkish dotted",
    "<html><b>markup &amp; entities</b></html>",
]


def _slice(n: int):
    return lambda table, src: f"SELECT * FROM '{src}' LIMIT {int(n)}"


def _nulls(table: str, src: str, every: int = 5) -> str:
    import pyarrow.parquet as pq

    exprs = ", ".join(
        f'"{c}"' if c in _KEY_COLS
        else f'CASE WHEN __rn % {every} = 0 THEN NULL ELSE "{c}" END AS "{c}"'
        for c in (f.name for f in pq.read_schema(src))
    )
    return (
        f"SELECT {exprs} FROM (SELECT *, row_number() OVER () "
        f"AS __rn FROM '{src}')"
    )


def _textfuzz(table: str, src: str):
    """Every SECOND documents.text row cycles ADVERSARIAL_TEXTS; the
    rows between keep real text so df/idf-style statistics stay
    meaningful. Every other table passes through."""
    if table != "documents":
        return f"SELECT * FROM '{src}'"
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pq.read_table(src)
    pdf = tbl.to_pandas()
    texts = list(pdf["text"])
    for i in range(0, len(texts), 2):
        texts[i] = ADVERSARIAL_TEXTS[(i // 2) % len(ADVERSARIAL_TEXTS)]
    pdf["text"] = pd.Series(texts, dtype="object")
    return pa.Table.from_pandas(pdf, schema=tbl.schema, preserve_index=False)


#: derived tree -> (cache dir prefix, per-table transform, cache key
#: salt). A transform returns a DuckDB SELECT over the source file, or
#: the table itself.
TREES = {
    "empty": ("sf_slice0", _slice(0), ""),
    "limit1": ("sf_slice1", _slice(1), ""),
    "limit3": ("sf_slice3", _slice(3), ""),
    "nulls": ("sf_nulls5", _nulls, ""),
    "textfuzz": ("sf_textfuzz", _textfuzz, repr(ADVERSARIAL_TEXTS)),
}

#: knob axis -> (conf key, the values compared)
KNOBS = {
    "partitions": ("spark.sql.shuffle.partitions", ("3", "32")),
    "aqe": ("spark.sql.adaptive.enabled", ("false", "true")),
}


def tree_dir(kind: str) -> str:
    """Materialize a derived tree of the sf0.001 tables and return its
    directory. The cache dir is keyed by a fingerprint of the source
    schemas, so a column added or renamed in the testdata makes a new
    tree instead of fuzzing against a stale schema. Each file is
    written under a temporary name and renamed into place, so an
    interrupted run leaves no truncated table behind."""
    import hashlib

    import duckdb
    import pyarrow.parquet as pq

    prefix, transform, salt = TREES[kind]
    sig = hashlib.md5()
    for t in TABLE_NAMES:
        sig.update(t.encode())
        sig.update(str(pq.read_schema(os.path.join(SRC_SF, f"{t}.parquet"))).encode())
    sig.update(salt.encode())
    out = os.path.join(tempfile.gettempdir(), f"{prefix}_{sig.hexdigest()[:12]}")
    os.makedirs(out, exist_ok=True)
    duck = duckdb.connect()
    for t in TABLE_NAMES:
        dst = os.path.join(out, f"{t}.parquet")
        if os.path.exists(dst):
            continue
        body = transform(t, os.path.join(SRC_SF, f"{t}.parquet"))
        part = f"{dst}.part"
        if isinstance(body, str):
            duck.execute(f"COPY ({body}) TO '{part}' (FORMAT PARQUET)")
        else:
            pq.write_table(body, part)
        os.replace(part, dst)
    duck.close()
    return out


def duck_views(sf_dir: str):
    """A DuckDB connection with one view per table file in ``sf_dir``,
    named after the table, as the oracles expect."""
    import duckdb

    con = duckdb.connect()
    for t in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def norm(cols, rows) -> tuple:
    """Repr-exact, order-insensitive normal form: the sorted column
    names, and the sorted rows with their cells in column-name order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return (
        tuple(cols[i] for i in order),
        sorted(tuple(repr(row[i]) for i in order) for row in rows),
    )


def _diff(got, want) -> str | None:
    (gcols, grows), (wcols, wrows) = got, want
    if gcols != wcols:
        return f"columns {list(gcols)} vs {list(wcols)}"
    if len(grows) != len(wrows):
        return f"row count {len(grows)} vs {len(wrows)}"
    bad = [(a, b) for a, b in zip(grows, wrows) if a != b]
    if bad:
        return f"{len(bad)} mismatched rows; first: {bad[0]}"
    return None


def _sf(sf_dir: str) -> float | None:
    try:
        return float(Path(sf_dir).name.replace("sf", ""))
    except ValueError:
        return None


def check(spark, name: str, sf_dir: str, duck=None, knob: str | None = None) -> tuple[str, str]:
    """Check one registered query; returns ``(status, detail)`` with
    status OK, FAIL or SKIP. With ``knob`` the query runs once per value
    of that knob axis and the results must agree (the conf is restored
    afterwards); with ``duck`` its result must agree with its oracle;
    with neither it only has to run."""
    registry._ensure_loaded()
    spec = registry.REGISTRY[name]
    cap, sf = spec.oracle_max_sf, _sf(sf_dir)
    if duck is not None and cap is not None and sf is not None and sf > cap:
        return "SKIP", f"oracle declared tractable only up to sf{cap}"

    def run():
        sdf = spec.fn(spark, sf_dir)
        return norm(sdf.columns, [tuple(r) for r in sdf.collect()])

    runs = []
    try:
        if knob is None:
            runs.append(run())
        else:
            key, values = KNOBS[knob]
            before = spark.conf.get(key)
            try:
                for v in values:
                    spark.conf.set(key, v)
                    runs.append(run())
            finally:
                spark.conf.set(key, before)
    except Exception as e:  # noqa: BLE001
        return "FAIL", f"spark raised: {type(e).__name__}: {e}"
    rows = len(runs[0][1])
    if knob is not None:
        diff = _diff(*runs)
        key, values = KNOBS[knob]
        if diff:
            return "FAIL", f"differs across {key}={values}: {diff}"
        return "OK", f"{rows} rows invariant"
    if duck is None or spec.oracle is None:
        return "OK", f"{rows} rows (no oracle)"
    try:
        res = duck.execute(spec.oracle)
        want = norm([c[0] for c in res.description], res.fetchall())
    except Exception as e:  # noqa: BLE001
        return "FAIL", f"oracle raised (spark fine): {type(e).__name__}: {e}"
    diff = _diff(runs[0], want)
    return ("FAIL", diff) if diff else ("OK", f"{rows} rows")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(
        description="Run registered queries against their DuckDB oracles "
        "on a table tree, or against themselves across an execution knob."
    )
    ap.add_argument("axis", choices=["exact", *TREES, *KNOBS])
    ap.add_argument(
        "names",
        nargs="*",
        help="registered queries (default: the whole registry)",
    )
    ap.add_argument(
        "--sf-dir",
        help="table tree for exact (default: sf0.01) and the knob axes "
        "(default: $TEST_SF_DIR or sf0.001)",
    )
    args = ap.parse_args(argv)

    registry._ensure_loaded()
    unknown = [n for n in args.names if n not in registry.REGISTRY]
    if unknown:
        ap.error(f"unknown queries: {unknown}")
    names = args.names or list(registry.REGISTRY)
    if args.axis in TREES:
        if args.sf_dir:
            ap.error(f"{args.axis} derives its tree from sf0.001; --sf-dir does not apply")
        sf_dir = tree_dir(args.axis)
    elif args.axis == "exact":
        sf_dir = args.sf_dir or os.path.join(_TESTDATA, "sf0.01")
    else:
        sf_dir = args.sf_dir or os.environ.get("TEST_SF_DIR", SRC_SF)

    spark = get_spark("oracle-check", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    knob = args.axis if args.axis in KNOBS else None
    duck = None if knob else duck_views(sf_dir)

    failures, skipped = [], 0
    for name in names:
        status, detail = check(spark, name, sf_dir, duck=duck, knob=knob)
        print(f"{status:4s} {name}: {detail[:200]}", flush=True)
        skipped += status == "SKIP"
        if status == "FAIL":
            failures.append((name, detail))

    print(f"\n{len(failures)} failures / {len(names) - skipped} checked ({skipped} skipped)")
    for n, msg in failures:
        print(f"  {n}: {msg[:300]}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
