"""Seeded inputs for the benchmark.

``make_tables`` writes an sf-shaped table tree with the recipe
``tools/make_sf1.py`` documents (same schema, cardinalities and
marginals), driven by the benchmark seed instead of a fixed one.
``ingest_batch`` builds one Reddit-shaped file for the ingest
workload: ``doc_id``, ``ts`` and ``text`` with URLs, @mentions and
#hashtags, about 5% replays of recent ids (at-least-once delivery) and
event times shuffled within a few minutes.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
#: share of an ingest file's rows that replay ids of the previous file
REPLAY = 0.05

VOCAB = np.array([
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "the",
    "row", "agg", "key", "query", "a", "scan", "batch",
])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PTYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
ADJ = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
NOUN = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
#: first day of the events window; the dashboard's date widget draws
#: its ranges inside [EVENTS_START, EVENTS_START + EVENTS_DAYS)
EVENTS_START = "2024-01-01"
EVENTS_DAYS = 30

#: ingest text pieces: French Reddit-style words plus the tokens the
#: ETL cleaner strips or rewrites
INGEST_WORDS = np.array([
    "match", "équipe", "coupe", "afrique", "maroc", "but", "gardien",
    "supporters", "stade", "victoire", "défaite", "arbitre", "finale",
    "joueur", "entraîneur", "public", "ambiance", "super", "nul", "génial",
])
INGEST_EXTRAS = np.array([
    "https://redd.it/abc", "www.example.com/x", "@fan_club", "@admin",
    "#CAN2025", "#Maroc", "!!!", "...", "😀", "🔥",
])


def _ts_day(rng, n: int, lo: str, hi: str) -> pa.Array:
    lo_us = np.datetime64(lo, "us").astype("int64")
    hi_us = np.datetime64(hi, "us").astype("int64")
    days = rng.integers(0, (hi_us - lo_us) // DAY_US + 1, n)
    return pa.array(lo_us + days * DAY_US, type=pa.timestamp("us"))


def _documents(rng, n_doc: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n_doc):
        r = rng.random()
        if i > 0 and r < 0.05:  # near-duplicate twin, the LSH signal
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 0 and r < 0.0516:  # exact twin
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(VOCAB[rng.integers(0, 30, rng.integers(10, 101))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": pa.array(LANGS[rng.choice(5, n_doc, p=LANG_P)]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def make_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write every table of an sf-shaped tree to ``out_dir``. The same
    seed and sf give the same rows."""
    rng = np.random.default_rng(seed)
    tmp = out_dir + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(tmp, f"{name}.parquet"))

    write("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    write("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
    })

    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1_000, 10_000, n_cust), 2),
        "c_mktsegment": pa.array(SEGMENTS[rng.integers(0, 5, n_cust)]),
    })
    write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-1_000, 10_000, n_supp), 2),
    })
    pk = np.arange(n_part)
    write("part", {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": pa.array(np.char.add(
            np.char.add(ADJ[rng.integers(0, 8, n_part)], " "),
            NOUN[rng.integers(0, 8, n_part)],
        )),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
        "p_type": pa.array(PTYPES[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0,
    })
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": np.round(rng.uniform(1_000, 500_000, n_ord), 2),
        "o_orderdate": _ts_day(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": pa.array(PRIORITIES[rng.integers(0, 5, n_ord)]),
    })

    mult = np.clip(rng.poisson(4.0, n_ord), 1, None)
    okey = np.repeat(np.arange(n_ord), mult)
    n_li = okey.size
    within = np.arange(n_li) - np.repeat(np.concatenate(([0], np.cumsum(mult)[:-1])), mult)
    write("lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array((within % 7 + 1).astype("int32")),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
        "l_discount": np.round(rng.uniform(0, 0.1, n_li), 4),
        "l_tax": np.round(rng.uniform(0, 0.08, n_li), 4),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts_day(rng, n_li, "1995-01-02", "2001-11-04"),
    })

    ev_lo = np.datetime64(EVENTS_START, "us").astype("int64")
    write("events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.sort(ev_lo + rng.integers(0, EVENTS_DAYS * DAY_US, n_ev)),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev), pa.int64()),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n_ev)]),
        "value": np.round(np.minimum(rng.exponential(50.0, n_ev), 999.0), 2),
        "props": pa.array(np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}")),
    })
    pq.write_table(_documents(rng, n_doc), os.path.join(tmp, "documents.parquet"))

    vecs = rng.standard_normal((n_emb, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), 64).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)


class IngestStream:
    """The ingest workload's source: file ``k`` holds ``rows`` fresh ids
    plus ``REPLAY`` times as many replays of the previous file's ids,
    with event times that advance one minute per file and are shuffled
    within a few minutes. The whole
    stream spans far less than the pipeline's one-hour watermark, so
    every replay is dropped by the in-stream dedup and no row is late."""

    def __init__(self, seed: int, rows: int):
        self._rng = np.random.default_rng([seed, 7])
        self.rows = rows
        self._next_id = 0
        self._t0 = np.datetime64("2025-01-10T12:00:00", "us").astype("int64")
        self._recent: pa.Table | None = None

    def batch(self, k: int) -> pa.Table:
        rng, n = self._rng, self.rows
        ids = np.arange(self._next_id, self._next_id + n)
        self._next_id += n
        words = INGEST_WORDS[rng.integers(0, len(INGEST_WORDS), (n, 12))]
        extras = INGEST_EXTRAS[rng.integers(0, len(INGEST_EXTRAS), (n, 3))]
        n_words = rng.integers(2, 13, n)  # short posts fall under the ETL length filter
        texts = [
            " ".join(list(words[i, : n_words[i]]) + list(extras[i, : rng.integers(0, 4)]))
            for i in range(n)
        ]
        minute = 60_000_000
        ts = self._t0 + k * minute + rng.integers(-3 * minute, 3 * minute, n)
        fresh = pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "text": texts,
        })
        parts = [fresh]
        if self._recent is not None:
            n_rep = int(n * REPLAY)
            parts.append(self._recent.take(rng.choice(self._recent.num_rows, n_rep, replace=False)))
        self._recent = fresh
        out = pa.concat_tables(parts)
        return out.take(rng.permutation(out.num_rows))
