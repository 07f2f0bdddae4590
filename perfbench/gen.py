"""Seeded input generation: the star-schema tables every workload reads, and
the serve-wire statement pool with a DuckDB twin for each statement.

The tables copy the shapes of the engine's fixture schema (TPC-H-like star
plus `events`, `documents`, `embeddings`): same column names, types and value
domains, so `graft.Tables.registerAll` registers every one of them.
Row counts scale with `sf` exactly as the fixtures do (lineitem = 6e6 * sf).
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

_WORDS = ("a the spark scan filter join agg group sort order merge hash key "
          "value row column table query data batch stream window vector part "
          "line customer fast slow big small").split()
_COLORS = "blue red green hot cold large small dark light pale misty rose tan".split()
_NOUNS = "ring bolt anvil widget gear".split()
_EPOCH = dt.datetime(1970, 1, 1)


def _days(d: dt.date) -> int:
    return (d - dt.date(1970, 1, 1)).days


def _ts_days(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def _n(base: int, sf: float) -> int:
    return max(1, int(round(base * sf)))


def tables(seed: int, sf: float) -> dict:
    """Every fixture table as a pyarrow Table, deterministic in (seed, sf)."""
    r = np.random.default_rng(seed)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})

    nc = _n(150_000, sf)
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(r.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": segs[r.integers(0, 5, nc)]})

    ns = _n(10_000, sf)
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(r.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, ns), 2)})

    npart = _n(200_000, sf)
    names = np.array([f"{c} {n}" for c in _COLORS for n in _NOUNS])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": names[r.integers(0, len(names), npart)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[r.integers(0, 25, npart)],
        "p_type": types[r.integers(0, len(types), npart)],
        "p_size": pa.array(r.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1)})

    no = _n(1_500_000, sf)
    d0, d1 = _days(dt.date(1995, 1, 1)), _days(dt.date(2001, 8, 1))
    odays = r.integers(d0, d1 + 1, no)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(r.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, no)],
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": _ts_days(odays),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[r.integers(0, 5, no)]})

    nl = _n(6_000_000, sf)
    lok = r.integers(0, no, nl)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(r.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, nl), pa.int32()),
        "l_quantity": r.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": np.round(r.uniform(900.0, 105000.0, nl), 2),
        "l_discount": r.integers(0, 11, nl) / 100.0,
        "l_tax": r.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, nl)],
        "l_shipdate": _ts_days(odays[lok] + r.integers(1, 96, nl))})

    ne = _n(1_000_000, sf)
    nu = _n(15_000, sf)
    secs = np.sort(r.uniform(0, 30 * 86400, ne))
    t0 = int((dt.datetime(2024, 1, 1) - _EPOCH).total_seconds()) * 1_000_000
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(t0 + (secs * 1e6).astype("int64"), pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, nu, ne), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            r.integers(0, 5, ne)],
        "value": np.round(r.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, ne)]})

    nd = _n(50_000, sf)
    words = np.array(_WORDS)
    texts = [" ".join(words[r.integers(0, len(words), k)])
             for k in r.integers(8, 90, nd)]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": np.array(["de", "en", "es", "fr", "zh"])[r.integers(0, 5, nd)],
        "source": np.array([f"src{i}" for i in range(20)])[r.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    nv = _n(20_000, sf)
    v = r.standard_normal((nv, 64)).astype("float32")
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, nv), pa.int32())})
    return out


def write_tables(seed: int, sf: float, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed, sf).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


# --- serve-wire statement pool --------------------------------------------
#
# Each shape is (name, CH-dialect text, DuckDB twin). Both are format strings
# over the same drawn literals. Tables live in database `sw` on the engine
# side and are views over the generated parquet on the DuckDB side; the
# engine tables are built at set-up by `ServeWire.build` in the JVM harness:
#   sw.orders    MergeTree ORDER BY o_orderkey
#   sw.lineitem  MergeTree PARTITION BY toYYYYMM(l_shipdate) ORDER BY l_orderkey
#   sw.customer, sw.nation    plain MergeTree dimensions
#   sw.part_ver  ReplacingMergeTree(ver): every part at ver 1, every third
#                part again at ver 2 with its price raised by 1
#   nation_dict               dictionary over sw.nation
#   big_orders                plain VIEW over sw.orders
# The engine keeps plain VIEWs and dictionaries as session state that a
# native-protocol connection's session never restores, so a native client
# cannot read either; the two shapes that do run over HTTP only (`HTTP_ONLY`).

SW_TABLES = ["customer", "lineitem", "nation", "orders", "part_ver"]
HTTP_ONLY = {"dict_get", "view_read"}

DUCK_VIEWS = {
    "part_ver": "SELECT p_partkey, p_brand, p_retailprice, 1 AS ver FROM part "
                "UNION ALL SELECT p_partkey, p_brand, p_retailprice + 1, 2 "
                "FROM part WHERE p_partkey % 3 = 0",
}

_SHAPES = [
    ("point_order",
     "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM sw.orders "
     "WHERE o_orderkey = {ok}",
     "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders "
     "WHERE o_orderkey = {ok}"),
    ("range_orders",
     "SELECT o_orderstatus, count() AS n, round(sum(o_totalprice), 2) AS s "
     "FROM sw.orders WHERE o_orderkey BETWEEN {ok} AND {ok2} "
     "GROUP BY o_orderstatus ORDER BY o_orderstatus",
     "SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS s "
     "FROM orders WHERE o_orderkey BETWEEN {ok} AND {ok2} "
     "GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    ("month_prune",
     "SELECT l_returnflag, count() AS n, round(sum(l_extendedprice), 2) AS s "
     "FROM sw.lineitem WHERE l_shipdate >= toDate('{d0}') "
     "AND l_shipdate < toDate('{d1}') GROUP BY l_returnflag ORDER BY l_returnflag",
     "SELECT l_returnflag, count(*) AS n, round(sum(l_extendedprice), 2) AS s "
     "FROM lineitem WHERE l_shipdate >= DATE '{d0}' AND l_shipdate < DATE '{d1}' "
     "GROUP BY l_returnflag ORDER BY l_returnflag"),
    ("civil_pred",
     "SELECT toDayOfMonth(l_shipdate) AS dom, count() AS n FROM sw.lineitem "
     "WHERE toYear(l_shipdate) = {y} AND toMonth(l_shipdate) = {m} "
     "GROUP BY dom ORDER BY dom",
     "SELECT day(l_shipdate) AS dom, count(*) AS n FROM lineitem "
     "WHERE year(l_shipdate) = {y} AND month(l_shipdate) = {m} "
     "GROUP BY dom ORDER BY dom"),
    ("yyyymm_in",
     "SELECT toYYYYMM(l_shipdate) AS ym, count() AS n, round(avg(l_quantity), 4) AS q "
     "FROM sw.lineitem WHERE toYYYYMM(l_shipdate) IN ({ym}, {ym2}) "
     "GROUP BY ym ORDER BY ym",
     "SELECT year(l_shipdate) * 100 + month(l_shipdate) AS ym, count(*) AS n, "
     "round(avg(l_quantity), 4) AS q FROM lineitem "
     "WHERE year(l_shipdate) * 100 + month(l_shipdate) IN ({ym}, {ym2}) "
     "GROUP BY ym ORDER BY ym"),
    ("range_qty",
     "SELECT count() AS n, round(sum(l_extendedprice * (1 - l_discount)), 2) AS rev "
     "FROM sw.lineitem WHERE l_shipdate >= toDate('{d0}') "
     "AND l_shipdate < toDate('{d2}') AND l_quantity < {q}",
     "SELECT count(*) AS n, round(sum(l_extendedprice * (1 - l_discount)), 2) AS rev "
     "FROM lineitem WHERE l_shipdate >= DATE '{d0}' AND l_shipdate < DATE '{d2}' "
     "AND l_quantity < {q}"),
    ("cust_point",
     "SELECT c_custkey, c_name, c_mktsegment FROM sw.customer WHERE c_custkey = {ck}",
     "SELECT c_custkey, c_name, c_mktsegment FROM customer WHERE c_custkey = {ck}"),
    ("cust_orders_join",
     "SELECT c.c_mktsegment AS seg, count() AS n, round(sum(o.o_totalprice), 2) AS s "
     "FROM sw.orders AS o JOIN sw.customer AS c ON o.o_custkey = c.c_custkey "
     "WHERE o.o_orderkey BETWEEN {ok} AND {ok2} GROUP BY seg ORDER BY seg",
     "SELECT c.c_mktsegment AS seg, count(*) AS n, round(sum(o.o_totalprice), 2) AS s "
     "FROM orders AS o JOIN customer AS c ON o.o_custkey = c.c_custkey "
     "WHERE o.o_orderkey BETWEEN {ok} AND {ok2} GROUP BY seg ORDER BY seg"),
    ("three_way_join",
     "SELECT n.n_name AS nation, count() AS n FROM sw.lineitem AS l "
     "JOIN sw.orders AS o ON l.l_orderkey = o.o_orderkey "
     "JOIN sw.customer AS c ON o.o_custkey = c.c_custkey "
     "JOIN sw.nation AS n ON c.c_nationkey = n.n_nationkey "
     "WHERE l.l_shipdate >= toDate('{d0}') AND l.l_shipdate < toDate('{d1}') "
     "GROUP BY nation ORDER BY n DESC, nation LIMIT 5",
     "SELECT n.n_name AS nation, count(*) AS n FROM lineitem AS l "
     "JOIN orders AS o ON l.l_orderkey = o.o_orderkey "
     "JOIN customer AS c ON o.o_custkey = c.c_custkey "
     "JOIN nation AS n ON c.c_nationkey = n.n_nationkey "
     "WHERE l.l_shipdate >= DATE '{d0}' AND l.l_shipdate < DATE '{d1}' "
     "GROUP BY nation ORDER BY n DESC, nation LIMIT 5"),
    ("limit_by",
     "SELECT o_orderstatus, o_orderkey, o_totalprice FROM sw.orders "
     "WHERE o_orderkey BETWEEN {ok} AND {ok2} "
     "ORDER BY o_totalprice DESC, o_orderkey LIMIT 2 BY o_orderstatus",
     "SELECT o_orderstatus, o_orderkey, o_totalprice FROM (SELECT *, row_number() "
     "OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey) AS rn "
     "FROM orders WHERE o_orderkey BETWEEN {ok} AND {ok2}) WHERE rn <= 2"),
    ("with_totals",
     "SELECT o_orderpriority AS p, count() AS n FROM sw.orders "
     "WHERE o_orderkey BETWEEN {ok} AND {ok2} GROUP BY p WITH TOTALS ORDER BY p",
     "SELECT o_orderpriority AS p, count(*) AS n FROM orders "
     "WHERE o_orderkey BETWEEN {ok} AND {ok2} GROUP BY ROLLUP (p)"),
    ("prewhere",
     "SELECT l_linestatus, count() AS n FROM sw.lineitem PREWHERE l_discount = {disc} "
     "WHERE l_quantity > {q} GROUP BY l_linestatus ORDER BY l_linestatus",
     "SELECT l_linestatus, count(*) AS n FROM lineitem WHERE l_discount = {disc} "
     "AND l_quantity > {q} GROUP BY l_linestatus ORDER BY l_linestatus"),
    ("final",
     "SELECT p_brand, count() AS n, round(sum(p_retailprice), 1) AS s "
     "FROM sw.part_ver FINAL WHERE p_partkey < {pk} GROUP BY p_brand "
     "ORDER BY p_brand",
     "SELECT p_brand, count(*) AS n, round(sum(p_retailprice), 1) AS s FROM "
     "(SELECT arg_max(p_brand, ver) AS p_brand, arg_max(p_retailprice, ver) AS "
     "p_retailprice FROM part_ver WHERE p_partkey < {pk} GROUP BY p_partkey) "
     "GROUP BY p_brand ORDER BY p_brand"),
    ("dict_get",
     "SELECT dictGet('nation_dict', 'n_name', c_nationkey) AS nation, "
     "count() AS n FROM sw.customer WHERE c_custkey < {ck} "
     "GROUP BY nation ORDER BY nation",
     "SELECT n.n_name AS nation, count(*) AS n FROM customer AS c JOIN nation AS n "
     "ON c.c_nationkey = n.n_nationkey WHERE c.c_custkey < {ck} "
     "GROUP BY nation ORDER BY nation"),
    ("view_read",
     "SELECT o_orderstatus, count() AS n FROM big_orders "
     "WHERE o_custkey < {ck} GROUP BY o_orderstatus ORDER BY o_orderstatus",
     "SELECT o_orderstatus, count(*) AS n FROM orders WHERE o_totalprice > 400000 "
     "AND o_custkey < {ck} GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    ("top_parts",
     "SELECT l_partkey, count() AS n FROM sw.lineitem WHERE l_shipdate >= toDate('{d0}') "
     "AND l_shipdate < toDate('{d2}') GROUP BY l_partkey "
     "ORDER BY n DESC, l_partkey LIMIT 3",
     "SELECT l_partkey, count(*) AS n FROM lineitem WHERE l_shipdate >= DATE '{d0}' "
     "AND l_shipdate < DATE '{d2}' GROUP BY l_partkey "
     "ORDER BY n DESC, l_partkey LIMIT 3"),
    ("having",
     "SELECT o_custkey, count() AS n FROM sw.orders WHERE o_custkey < {ck} "
     "GROUP BY o_custkey HAVING n >= 2 ORDER BY o_custkey LIMIT 10",
     "SELECT o_custkey, count(*) AS n FROM orders WHERE o_custkey < {ck} "
     "GROUP BY o_custkey HAVING count(*) >= 2 ORDER BY o_custkey LIMIT 10"),
    ("desc", "DESC sw.orders", None),
    ("system_tables",
     "SELECT name FROM system.tables WHERE database = 'sw' ORDER BY name", None),
]

# Expected first column of the metadata shapes, which DuckDB cannot answer.
_META_EXPECTED = {
    "desc": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
             "o_orderdate", "o_orderpriority"],
    "system_tables": SW_TABLES,
}


def statement_pool(seed: int, sf: float, per_shape: int) -> list:
    """`per_shape` instances of every shape with fresh literals each.

    Returns dicts {id, shape, ch, protos, duck, expect_first_col}; `duck` is
    None for
    metadata shapes, whose expected first column is given instead.
    """
    r = np.random.default_rng(seed ^ 0x5EED)
    no, nc, npart = _n(1_500_000, sf), _n(150_000, sf), _n(200_000, sf)
    pool = []
    for k in range(per_shape):
        for name, ch, duck in _SHAPES:
            y = int(r.integers(1995, 2001))
            m = int(r.integers(1, 13))
            d0 = dt.date(y, m, 1)
            d1 = dt.date(y + (m == 12), m % 12 + 1, 1)
            d2 = d0 + dt.timedelta(days=int(r.integers(7, 60)))
            ok = int(r.integers(0, no))
            ym2 = d1.year * 100 + d1.month
            lit = dict(ok=ok, ok2=min(no - 1, ok + int(r.integers(500, 5000))),
                       ck=int(r.integers(1, nc)), pk=int(r.integers(10, npart)),
                       d0=d0.isoformat(), d1=d1.isoformat(), d2=d2.isoformat(),
                       y=y, m=m, ym=y * 100 + m, ym2=ym2,
                       q=int(r.integers(5, 45)), disc=int(r.integers(0, 11)) / 100)
            pool.append({
                "id": len(pool), "shape": name, "ch": ch.format(**lit),
                "protos": "http" if name in HTTP_ONLY else "any",
                "duck": duck.format(**lit) if duck else None,
                "expect_first_col": _META_EXPECTED.get(name)})
    return pool
