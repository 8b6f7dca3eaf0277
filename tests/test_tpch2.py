"""Randomized semantic checks for the TPC-H completion queries.

The oracle-parity suite already pins every tpch2 query against DuckDB
on the fixtures; these tests attack the DECORRELATION REWRITES with
adversarial random data (ties, single-supplier orders, empty groups)
where the fixture's distribution might never exercise the edge."""

from __future__ import annotations

import datetime
import random
from collections import Counter

import pytest

from reddit_can_bigdata_spark.registry import REGISTRY, _ensure_loaded

_ensure_loaded()


def _write_minimal_tables(spark, tmp_path, lineitem, orders, suppliers):
    """Write just the three tables Q21 touches; load_tables skips
    missing files, so the registered query runs on this dir as-is."""
    d = str(tmp_path)
    spark.createDataFrame(
        lineitem, "l_orderkey bigint, l_suppkey bigint, l_shipdate timestamp"
    ).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    spark.createDataFrame(
        orders, "o_orderkey bigint, o_orderstatus string"
    ).write.mode("overwrite").parquet(f"{d}/orders.parquet")
    spark.createDataFrame(
        suppliers, "s_suppkey bigint, s_name string"
    ).write.mode("overwrite").parquet(f"{d}/supplier.parquet")
    return d


def _blamed_reference(lineitem, orders):
    """Pure-Python Q21 semantics: in each finished multi-supplier
    order, blame the supplier whose last shipment is STRICTLY latest."""
    fstatus = {ok for ok, st in orders if st == "F"}
    smax: dict[tuple[int, int], datetime.datetime] = {}
    for ok, sk, ship in lineitem:
        if ok in fstatus:
            key = (ok, sk)
            if key not in smax or ship > smax[key]:
                smax[key] = ship
    per_order: dict[int, list[tuple[int, datetime.datetime]]] = {}
    for (ok, sk), mx in smax.items():
        per_order.setdefault(ok, []).append((sk, mx))
    blamed = Counter()
    for ok, rows in per_order.items():
        if len(rows) < 2:
            continue
        mx = max(m for _, m in rows)
        at_max = [sk for sk, m in rows if m == mx]
        if len(at_max) == 1:
            blamed[at_max[0]] += 1
    return blamed


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_q21_window_rewrite_matches_reference_on_random_data(
    spark, tmp_path, seed
):
    """The single-window rewrite of Q21's EXISTS + NOT EXISTS must
    reproduce the correlated semantics on adversarial random data —
    especially shipdate TIES at the order maximum (NOT EXISTS kills
    the blame) and single-supplier orders (EXISTS kills it)."""
    rng = random.Random(seed)
    base = datetime.datetime(1997, 1, 1)
    # few distinct days => plenty of exact smax ties across suppliers
    lineitem = [
        (
            rng.randrange(1, 15),
            rng.randrange(1, 6),
            base + datetime.timedelta(days=rng.randrange(0, 4)),
        )
        for _ in range(rng.randrange(30, 60))
    ]
    orders = [(ok, rng.choice(["F", "O", "P"])) for ok in range(1, 15)]
    suppliers = [(sk, f"Supplier#{sk:09d}") for sk in range(1, 6)]
    d = _write_minimal_tables(spark, tmp_path, lineitem, orders, suppliers)

    got = {
        r["s_name"]: r["numwait"]
        for r in REGISTRY["tpch_q21_waiting_suppliers"].fn(spark, d).collect()
    }
    expected = {
        f"Supplier#{sk:09d}": n
        for sk, n in _blamed_reference(lineitem, orders).items()
    }
    assert got == expected


def test_q13_counts_customers_with_zero_matching_orders(spark, tmp_path):
    """Q13's outer join must emit the c_count=0 bucket for customers
    whose orders ALL fail the in-join filter — the case a WHERE-based
    rewrite silently drops. Constructed: customer 1 has only
    '4-NOT SPECIFIED' orders, customer 2 has none, customer 3 has two
    qualifying ones."""
    d = str(tmp_path)
    spark.createDataFrame(
        [(1,), (2,), (3,)], "c_custkey bigint"
    ).write.mode("overwrite").parquet(f"{d}/customer.parquet")
    spark.createDataFrame(
        [
            (10, 1, "4-NOT SPECIFIED"),
            (11, 1, "4-NOT SPECIFIED"),
            (12, 3, "1-URGENT"),
            (13, 3, "5-LOW"),
        ],
        "o_orderkey bigint, o_custkey bigint, o_orderpriority string",
    ).write.mode("overwrite").parquet(f"{d}/orders.parquet")

    got = {
        r["c_count"]: r["custdist"]
        for r in REGISTRY["tpch_q13_customer_distribution"].fn(spark, d).collect()
    }
    assert got == {0: 2, 2: 1}


def test_q2_and_q15_surface_all_tied_rows(spark, tmp_path):
    """Q2 (min-cost supplier) and Q15 (top supplier) must return EVERY
    row tied at the extreme — the spec semantics an ORDER BY + LIMIT 1
    argmax rewrite silently breaks. Constructed: two EUROPE suppliers
    sell part 1 at the identical min price (Q2 -> both rows); two
    suppliers have identical maximal quarterly revenue (Q15 -> both)."""
    d = str(tmp_path)
    ts = "timestamp"
    spark.createDataFrame(
        [
            # part 1: suppliers 1 and 2 tie at 10.0; supplier 3 higher
            (1, 1, 1, 1, 10.0, 10.0, 0.0, 0.0, "1997-03-01"),
            (2, 1, 2, 1, 10.0, 10.0, 0.0, 0.0, "1997-03-02"),
            (3, 1, 3, 1, 10.0, 99.0, 0.0, 0.0, "1997-03-03"),
        ],
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint,"
        " l_linenumber int, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_shipdate string",
    ).selectExpr(
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax",
        f"cast(l_shipdate as {ts}) as l_shipdate",
    ).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    spark.createDataFrame(
        [(1, "p1", "Brand#1", "STANDARD", 15, 1.0)],
        "p_partkey bigint, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    ).write.mode("overwrite").parquet(f"{d}/part.parquet")
    spark.createDataFrame(
        [(1, "S1", 0, 5.0), (2, "S2", 0, 7.0), (3, "S3", 0, 9.0)],
        "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
    ).write.mode("overwrite").parquet(f"{d}/supplier.parquet")
    spark.createDataFrame(
        [(0, "NATION_0", 0)], "n_nationkey int, n_name string, n_regionkey int"
    ).write.mode("overwrite").parquet(f"{d}/nation.parquet")
    spark.createDataFrame(
        [(0, "EUROPE")], "r_regionkey int, r_name string"
    ).write.mode("overwrite").parquet(f"{d}/region.parquet")

    q2 = REGISTRY["tpch_q2_min_cost_supplier"].fn(spark, d).collect()
    assert sorted(r["s_name"] for r in q2) == ["S1", "S2"], q2

    q15 = REGISTRY["tpch_q15_top_supplier"].fn(spark, d).collect()
    # rev: S1 = S2 = 10.0 (ties), S3 = 99.0 -> wait, S3 is the max alone
    # use the decimal-exact revenue: S3's single 99.0 line wins alone;
    # instead check ties by dropping S3's line via a variant table
    assert [r["s_name"] for r in q15] == ["S3"], q15
    spark.read.parquet(f"{d}/lineitem.parquet").where(
        "l_suppkey <> 3"
    ).write.mode("overwrite").parquet(f"{d}/lineitem2.parquet")
    import shutil

    shutil.rmtree(f"{d}/lineitem.parquet")
    shutil.move(f"{d}/lineitem2.parquet", f"{d}/lineitem.parquet")
    q15b = REGISTRY["tpch_q15_top_supplier"].fn(spark, d).collect()
    assert sorted(r["s_name"] for r in q15b) == ["S1", "S2"], q15b
    assert all(r["total_revenue"] == 10.0 for r in q15b)


def test_topk_ties_keeps_every_row_at_the_boundary(spark, tmp_path):
    """Constructed k-th-place tie: with k=3 and three orders tied at
    the 3rd-highest price, ALL of them must be kept (5 rows out, not
    3) — the rank() semantics a row_number cap would break."""
    from reddit_can_bigdata_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    d = str(tmp_path)
    spark.createDataFrame(
        [
            (1, "1-URGENT", 100.0),
            (2, "1-URGENT", 90.0),
            (3, "1-URGENT", 80.0),
            (4, "1-URGENT", 80.0),
            (5, "1-URGENT", 80.0),
            (6, "1-URGENT", 10.0),
        ],
        "o_orderkey bigint, o_orderpriority string, o_totalprice double",
    ).write.mode("overwrite").parquet(f"{d}/orders.parquet")
    rows = REGISTRY["topk_per_group_ties"].fn(spark, d).collect()
    assert sorted(r["o_orderkey"] for r in rows) == [1, 2, 3, 4, 5], rows
