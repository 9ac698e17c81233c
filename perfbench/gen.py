"""Seeded inputs for every workload.

One seed drives everything: the TPC-H-shaped tables behind ``serve``
and ``federate``, the statement sequence of each client connection,
the COPY FROM batches and the curate corpus. The program under test
receives only what these functions write; the same seed gives
byte-identical files and statements.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: sf0.1 row counts of the repo's fixtures (FIXTURES.md scales them by sf)
N_ORDERS = 150_000
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EPOCH = dt.date(1992, 1, 1)
_DAYS = 2405  # 1992-01-01 .. 1998-08-02, the TPC-H date range

# The serve_mix statement deck: each connection runs whole decks, every
# deck holding each kind in these counts in a seeded order, so the
# proportions hold exactly however long the loop runs.
DECK = {
    "point": 2,
    "agg": 1,
    "join": 1,
    "catalog": 1,
    "scan": 1,
    "copy_out": 1,
    "copy_in": 1,
}
#: keys per scan / copy_out range (about 4 lineitem rows per order key)
SCAN_ORDER_KEYS = 2_500
COPY_OUT_ORDER_KEYS = 10_000
COPY_IN_ROWS = 2_000

AGG_CUTOFFS = ["1998-08-02", "1998-06-01", "1997-12-31", "1996-06-30"]
JOIN_DATE = "1995-03-15"  # one cut-off: the segments alone vary the join's keys

#: the federate_scan deck, per connection
FED_DECK = {"fed_filter": 1, "fed_agg": 1}
#: the federated table: sf0.01 ``orders`` split over two shards, so a
#: statement that ships every shard row to the gather (no pushdown
#: today) still fits several in a run
FED_TABLE = "orders"
N_FED_ORDERS = 15_000
FED_FILTER_KEYS = 150  # 1% of N_FED_ORDERS


def _rng(seed: int, stream: str) -> np.random.Generator:
    # independent streams per purpose, so adding a statement kind does
    # not shift the tables a seed produces
    return np.random.default_rng([seed, sum(map(ord, stream)) * 7919 + len(stream)])


def _dates(days: np.ndarray) -> pa.Array:
    return pa.array(np.datetime64(_EPOCH, "D") + days.astype("int64"))


def tpch_tables(seed: int, n_orders: int = N_ORDERS) -> dict[str, pa.Table]:
    """region, nation, customer, orders and lineitem with TPC-H key
    relations; prices carry two decimals and quantities are whole."""
    r = _rng(seed, "tables")
    n_cust = max(1, n_orders // 10)
    region = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION{i:02d}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    customer = pa.table(
        {
            "c_custkey": np.arange(1, n_cust + 1, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
            "c_nationkey": r.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)],
        }
    )
    okeys = np.arange(1, n_orders + 1, dtype="int64")
    odays = r.integers(0, _DAYS - 151, n_orders)
    nlines = r.integers(1, 8, n_orders)
    n_li = int(nlines.sum())
    l_okey = np.repeat(okeys, nlines)
    l_line = (
        np.arange(n_li) - np.repeat(np.cumsum(nlines) - nlines, nlines) + 1
    ).astype("int32")
    qty = r.integers(1, 51, n_li).astype("float64")
    price = np.round(qty * r.uniform(900.0, 2000.0, n_li), 2)
    disc = r.integers(0, 11, n_li) / 100.0
    tax = r.integers(0, 9, n_li) / 100.0
    ship = np.repeat(odays, nlines) + r.integers(1, 122, n_li)
    flag = np.where(ship <= _DAYS - 1270, np.array(["R", "A"])[r.integers(0, 2, n_li)], "N")
    status = np.where(ship > _DAYS - 1300, "O", "F")
    lineitem = pa.table(
        {
            "l_orderkey": l_okey,
            "l_partkey": r.integers(1, 20_001, n_li).astype("int64"),
            "l_suppkey": r.integers(1, 1_001, n_li).astype("int64"),
            "l_linenumber": l_line,
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": disc,
            "l_tax": tax,
            "l_returnflag": flag,
            "l_linestatus": status,
            "l_shipdate": _dates(ship),
        }
    )
    per_order = np.bincount(
        np.repeat(np.arange(n_orders), nlines),
        weights=price * (1 + tax) * (1 - disc),
        minlength=n_orders,
    )
    orders = pa.table(
        {
            "o_orderkey": okeys,
            "o_custkey": r.integers(1, n_cust + 1, n_orders).astype("int64"),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_orders)],
            "o_totalprice": np.round(per_order, 2),
            "o_orderdate": _dates(odays),
            "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_orders)],
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "orders": orders,
        "lineitem": lineitem,
    }


def write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", row_group_size=64 * 1024)


def shard_split(seed: int, orders: pa.Table, n_shards: int) -> list[pa.Table]:
    """A seeded disjoint split of ``orders`` into ``n_shards`` halves
    of equal size (row order kept inside each shard)."""
    perm = _rng(seed, "shards").permutation(orders.num_rows)
    parts = np.array_split(perm, n_shards)
    return [orders.take(pa.array(np.sort(p))) for p in parts]


@dataclass(frozen=True)
class Stmt:
    """One client statement. ``key`` names the distinct statement for
    answer checking; ``sql`` is what goes on the wire; ``params`` are
    the Bind values of a prepared statement; ``copy_data`` is the COPY
    FROM payload and ``copy_rows`` its row count."""

    kind: str
    key: str
    sql: str
    params: tuple[str, ...] = ()
    copy_data: bytes | None = None
    copy_rows: int = 0


PSQL_DT_SQL = """SELECT n.nspname as "Schema",
  c.relname as "Name",
  CASE c.relkind WHEN 'r' THEN 'table' WHEN 'v' THEN 'view' WHEN 'm' THEN 'materialized view' WHEN 'i' THEN 'index' WHEN 'S' THEN 'sequence' WHEN 't' THEN 'TOAST table' WHEN 'f' THEN 'foreign table' WHEN 'p' THEN 'partitioned table' WHEN 'I' THEN 'partitioned index' END as "Type",
  pg_catalog.pg_get_userbyid(c.relowner) as "Owner"
FROM pg_catalog.pg_class c
     LEFT JOIN pg_catalog.pg_namespace n ON n.oid = c.relnamespace
     LEFT JOIN pg_catalog.pg_am am ON am.oid = c.relam
WHERE c.relkind IN ('r','p','')
      AND n.nspname <> 'pg_catalog'
      AND n.nspname !~ '^pg_toast'
      AND n.nspname <> 'information_schema'
  AND pg_catalog.pg_table_is_visible(c.oid)
ORDER BY 1,2"""

POINT_SQL = (
    "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
    "o_orderpriority FROM orders WHERE o_orderkey = $1"
)


def copy_in_table(conn_idx: int) -> str:
    return f"bench_in_{conn_idx}"


COPY_IN_DDL = "CREATE TABLE {name} (k BIGINT, v DOUBLE, s STRING) USING parquet"


def _copy_batch(r: np.random.Generator, rows: int) -> bytes:
    k = r.integers(0, 1 << 40, rows)
    v = np.round(r.uniform(0, 1000, rows), 3)
    s = r.integers(0, 1 << 30, rows)
    return "".join(f"{a}\t{b!r}\tx{c:x}\n" for a, b, c in zip(k, v.tolist(), s)).encode()


def wide_ranges(seed: int, n_orders: int = N_ORDERS) -> dict[str, list[int]]:
    """The first order key of each ``scan`` and ``copy_out`` range: two
    per kind and seed, shared by all connections. A repeated statement
    is checked by its digest, so each run compares only a few wide
    answers with DuckDB."""
    r = _rng(seed, "ranges")
    return {
        "scan": [int(x) for x in r.integers(1, n_orders - SCAN_ORDER_KEYS + 2, 2)],
        "copy_out": [int(x) for x in r.integers(1, n_orders - COPY_OUT_ORDER_KEYS + 2, 2)],
    }


def _make(kind: str, r: np.random.Generator, conn_idx: int, n_orders: int,
          ranges: dict[str, list[int]]) -> Stmt:
    if kind == "point":
        key = int(r.integers(1, n_orders + 1))
        return Stmt(kind, f"point:{key}", POINT_SQL, params=(str(key),))
    if kind == "agg":
        d = AGG_CUTOFFS[int(r.integers(len(AGG_CUTOFFS)))]
        sql = (
            "SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, "
            "SUM(l_extendedprice) AS sum_base_price, "
            "SUM(l_extendedprice * (1 - l_discount)) AS sum_disc_price, "
            "SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge, "
            "AVG(l_quantity) AS avg_qty, AVG(l_discount) AS avg_disc, "
            "COUNT(*) AS count_order FROM lineitem "
            f"WHERE l_shipdate <= DATE '{d}' "
            "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"
        )
        return Stmt(kind, f"agg:{d}", sql)
    if kind == "join":
        seg = SEGMENTS[int(r.integers(len(SEGMENTS)))]
        d = JOIN_DATE
        sql = (
            "SELECT l_orderkey, SUM(l_extendedprice * (1 - l_discount)) AS revenue, "
            "o_orderdate, o_orderpriority "
            "FROM customer JOIN orders ON c_custkey = o_custkey "
            "JOIN lineitem ON l_orderkey = o_orderkey "
            f"WHERE c_mktsegment = '{seg}' AND o_orderdate < DATE '{d}' "
            f"AND l_shipdate > DATE '{d}' "
            "GROUP BY l_orderkey, o_orderdate, o_orderpriority "
            "ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10"
        )
        return Stmt(kind, f"join:{seg}:{d}", sql)
    if kind == "catalog":
        return Stmt(kind, "catalog", PSQL_DT_SQL)
    if kind == "scan":
        lo = ranges["scan"][int(r.integers(2))]
        hi = lo + SCAN_ORDER_KEYS - 1
        sql = (
            "SELECT * FROM lineitem "
            f"WHERE l_orderkey BETWEEN {lo} AND {hi}"
        )
        return Stmt(kind, f"scan:{lo}", sql)
    if kind == "copy_out":
        lo = ranges["copy_out"][int(r.integers(2))]
        hi = lo + COPY_OUT_ORDER_KEYS - 1
        sql = (
            "COPY (SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate, "
            f"o_orderpriority FROM orders WHERE o_orderkey BETWEEN {lo} AND {hi}) "
            "TO STDOUT"
        )
        return Stmt(kind, f"copy_out:{lo}", sql)
    if kind == "fed_filter":
        lo = int(r.integers(1, N_FED_ORDERS - FED_FILTER_KEYS + 2))
        hi = lo + FED_FILTER_KEYS - 1
        sql = (
            f"SELECT o_orderkey, o_totalprice FROM {FED_TABLE} "
            f"WHERE o_orderkey BETWEEN {lo} AND {hi}"
        )
        return Stmt(kind, f"fed_filter:{lo}", sql)
    if kind == "fed_agg":
        col = ["o_orderstatus", "o_orderpriority"][int(r.integers(2))]
        sql = (
            f"SELECT {col}, COUNT(*) AS n, SUM(o_custkey) AS sum_cust "
            f"FROM {FED_TABLE} GROUP BY {col} ORDER BY {col}"
        )
        return Stmt(kind, f"fed_agg:{col}", sql)
    if kind == "copy_in":
        data = _copy_batch(r, COPY_IN_ROWS)
        name = copy_in_table(conn_idx)
        return Stmt(
            kind, f"copy_in:{name}", f"COPY {name} FROM STDIN",
            copy_data=data, copy_rows=COPY_IN_ROWS,
        )
    raise ValueError(f"unknown statement kind {kind!r}")


def _deal(deck: dict[str, int], r: np.random.Generator, n: int) -> list[str]:
    block = [k for k, c in deck.items() for _ in range(c)]
    out: list[str] = []
    while len(out) < n:
        out.extend(block[i] for i in r.permutation(len(block)))
    return out[:n]


def _deck_stmts(deck: dict[str, int], seed: int, stream: str, conn_idx: int, n: int,
                warm: bool, n_orders: int) -> list[Stmt]:
    r = _rng(seed, f"{'warm' if warm else ''}{stream}{conn_idx}")
    kinds = list(deck) if warm else _deal(deck, r, n)
    ranges = wide_ranges(seed, n_orders)
    return [_make(k, r, conn_idx, n_orders, ranges) for k in kinds[:n]]


def serve_statements(
    seed: int, conn_idx: int, n: int, n_orders: int = N_ORDERS, warm: bool = False
) -> list[Stmt]:
    """The first ``n`` statements (whole decks) of connection
    ``conn_idx``; ``warm`` selects the separate stream of the untimed
    warm pass, which deals one statement of each kind."""
    return _deck_stmts(DECK, seed, "serve", conn_idx, n, warm, n_orders)


def federate_statements(seed: int, conn_idx: int, n: int, warm: bool = False) -> list[Stmt]:
    """Like ``serve_statements``, with the federate_scan deck over the
    federated table."""
    return _deck_stmts(FED_DECK, seed, "fed", conn_idx, n, warm, N_ORDERS)


# --- curate corpus -------------------------------------------------------------

_WORDS = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query key window row table stream merge data join vector "
    "customer big the a data lake shard index page token model train split "
    "dedup score label corpus clean text word count sample"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
N_SOURCES = 5


@dataclass(frozen=True)
class Corpus:
    table: pa.Table
    n_base: int
    n_exact: int
    n_near: int

    @property
    def n_docs(self) -> int:
        return self.table.num_rows

    @property
    def n_bytes(self) -> int:
        return int(pc.sum(pc.binary_length(self.table["text"])).as_py())


def corpus(
    seed: int, n_base: int = 20_000, exact_share: float = 0.10, near_share: float = 0.10
) -> Corpus:
    """``n_base`` distinct single-line documents, plus planted exact
    copies (``exact_share`` of the base, text identical, higher
    doc_id) and near copies (``near_share``, one word of a long
    document replaced). doc_ids are a seeded permutation, so copies
    are not adjacent to their originals; every planted copy's doc_id
    is above its original's, which makes the original the
    exact-dedup keeper."""
    r = _rng(seed, "corpus")
    words = np.array(_WORDS)
    n_exact = int(round(n_base * exact_share))
    n_near = int(round(n_base * near_share))
    lengths = r.integers(12, 90, n_base)
    texts = []
    for i, ln in enumerate(lengths):
        body = " ".join(words[r.integers(0, len(words), ln)])
        texts.append(f"{body} n{i}")  # the suffix keeps base texts distinct
    langs = np.array(LANGS)[r.integers(0, len(LANGS), n_base)]
    sources = np.array([f"src{i}" for i in range(N_SOURCES)])[
        r.integers(0, N_SOURCES, n_base)
    ]
    ex_src = r.choice(n_base, n_exact, replace=False)
    near_pool = np.flatnonzero(lengths >= 60)
    nr_src = r.choice(near_pool, min(n_near, len(near_pool)), replace=False)
    near_texts = []
    for i in nr_src:
        toks = texts[i].split(" ")
        j = int(r.integers(0, len(toks) - 1))
        toks[j] = "near"
        near_texts.append(" ".join(toks))
    all_texts = texts + [texts[i] for i in ex_src] + near_texts
    all_langs = np.concatenate([langs, langs[ex_src], langs[nr_src]])
    all_src = np.concatenate([sources, sources[ex_src], sources[nr_src]])
    n = len(all_texts)
    # base docs get the lowest ids in a shuffled order; copies above
    ids = np.concatenate(
        [r.permutation(n_base), n_base + r.permutation(n - n_base)]
    ).astype("int64")
    table = pa.table(
        {
            "doc_id": ids,
            "text": all_texts,
            "lang": all_langs,
            "source": all_src,
            "n_chars": np.array([len(t) for t in all_texts], dtype="int64"),
        }
    )
    order = np.argsort(r.permutation(n))
    return Corpus(table.take(pa.array(order)), n_base, n_exact, len(nr_src))
