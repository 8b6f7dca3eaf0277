"""Output checks against the registered DuckDB oracles.

Rows are compared the way the repo's oracle-parity tests compare them:
same column names, same row count, and the same multiset of rows with
floats rounded to nine significant digits.
"""

from __future__ import annotations

import math
import os
import tempfile

import duckdb

from reddit_can_bigdata_spark.tables import TABLE_NAMES


def _cell(v):
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return 0.0 if v == 0 else float(f"{v:.9g}")
    return str(v)


def normalize(columns, rows) -> tuple:
    """Order-insensitive canonical form of a result."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = sorted(
        (tuple(_cell(row[i]) for i in order) for row in rows),
        key=lambda t: tuple(str(x) for x in t),
    )
    return tuple(columns[i] for i in order), tuple(out)


class Oracle:
    """A DuckDB database over one table tree. Every query opens its own
    cursor, so checks may run on several threads at once; each query
    runs on one DuckDB thread, because the slowest oracles (VADER) do
    not get faster with more, and running them side by side does."""

    def __init__(self, sf_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        self.con.execute(f"SET temp_directory = '{tempfile.gettempdir()}'")
        for name in TABLE_NAMES:
            path = os.path.join(sf_dir, f"{name}.parquet")
            if os.path.exists(path):
                self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")

    def matches(self, sql: str, columns, rows) -> bool:
        res = self.con.cursor().execute(sql)
        want = normalize([c[0] for c in res.description], res.fetchall())
        return normalize(list(columns), rows) == want

    def row(self, sql: str) -> dict:
        res = self.con.cursor().execute(sql)
        return dict(zip([c[0] for c in res.description], res.fetchone()))

    def ingest_mismatches(self, etl_sql: str, src_dir: str, sink_dir: str, rows_per_file: int) -> set[int]:
        """Landed files whose fresh ids are not in the sink exactly as the
        batch ETL SQL computes them over the de-duplicated landed rows.
        A file's fresh ids are ``[k * rows_per_file, (k + 1) * rows_per_file)``."""
        landed = f"read_parquet('{src_dir}/*.parquet')"
        expected = etl_sql.replace(
            "FROM documents", f"FROM (SELECT DISTINCT doc_id, text FROM {landed})"
        )
        digest = (
            "SELECT doc_id // {n} AS k, count(*) AS n, "
            "bit_xor(hash(doc_id::BIGINT, cleaned_text, text_length::BIGINT, "
            "word_count::BIGINT)) AS h FROM ({q}) GROUP BY k"
        )
        cur = self.con.cursor()
        want = dict(
            ((k, (n, h)) for k, n, h in cur.execute(
                digest.format(n=rows_per_file, q=expected)).fetchall())
        )
        if os.path.isdir(sink_dir):
            sink = f"SELECT * FROM read_parquet('{sink_dir}/*.parquet')"
            got = dict(
                ((k, (n, h)) for k, n, h in cur.execute(
                    digest.format(n=rows_per_file, q=sink)).fetchall())
            )
        else:
            got = {}
        return {k for k in set(want) | set(got) if want.get(k) != got.get(k)}

    def close(self) -> None:
        self.con.close()
