"""Self-tests of the benchmark harness (no Spark needed):

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os
import struct
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402
from layers import CATALOGUE  # noqa: E402
from loop import Op  # noqa: E402
from report import attach, op_numbers  # noqa: E402
from spans import Span, self_ms, union_ms  # noqa: E402


# --- percentiles and the sample-count rule ---------------------------------------


def test_nearest_rank_percentile():
    v = list(range(1, 101))  # 1..100
    assert stats.percentile(v, 50) == 50
    assert stats.percentile(v, 90) == 90
    assert stats.percentile(v, 99) == 99
    assert stats.percentile([7.0], 90) == 7.0
    assert stats.percentile([3, 1, 2], 50) == 2


def test_percentile_needs_ten_samples_beyond_it():
    assert not stats.reportable(99, 90)
    assert stats.reportable(100, 90)
    assert stats.samples_beyond(100, 90) == 10
    assert not stats.reportable(999, 99)
    assert stats.reportable(1000, 99)
    assert stats.reportable(3, 50)  # the median is always reported
    assert stats.highest_percentile(40) is None
    assert stats.highest_percentile(150) == 90
    assert stats.highest_percentile(1000) == 99


def test_geomean():
    assert stats.geomean([2.0, 8.0]) == pytest.approx(4.0)


def test_busy_rate_counts_only_the_window_where_every_connection_runs():
    # connection 0: two 2 s ops ending at 4 s; connection 1: one op over
    # 0..3 s, then one over 3..8 s that is 1/5 inside the window [0, 4]
    ops = [(0, 0.0, 2.0), (0, 2.0, 4.0), (1, 0.0, 3.0), (1, 3.0, 8.0)]
    assert stats.busy_rate(ops, 0.0) == pytest.approx((2 + 1 + 0.2) / 4.0)
    # one connection: completed operations over the time to the last reply
    assert stats.busy_rate([(0, 0.0, 1.0), (0, 1.5, 2.0)], 0.0) == pytest.approx(1.0)
    assert stats.busy_rate([], 0.0) == 0.0


# --- span self time --------------------------------------------------------------


def _sp(name, start, end, sid, parent=None, pid=1, **attrs):
    return Span(name, start, end, sid, parent, pid, attrs)


def test_self_time_subtracts_covered_child_time_once():
    root = _sp("sql.execute_sql", 0.0, 10.0, 1)
    kids = [
        _sp("a", 1.0, 3.0, 2, 1),
        _sp("b", 2.0, 5.0, 3, 1),  # overlaps a: [1, 5] counted once
        _sp("c", 8.0, 12.0, 4, 1),  # runs past the parent: only [8, 10]
        _sp("d", 20.0, 21.0, 5, 1),  # outside the parent: ignored
    ]
    assert self_ms(root, kids) == pytest.approx(4000.0)
    assert self_ms(root, []) == pytest.approx(10000.0)


def test_union_of_spans():
    spans = [_sp("x", 0.0, 1.0, 1), _sp("y", 0.5, 2.0, 2), _sp("z", 3.0, 4.0, 3)]
    assert union_ms(spans) == pytest.approx(3000.0)
    assert union_ms([]) == 0.0


def test_spans_join_their_request_by_pid_and_window():
    op = Op("point", "point:1", 0, pid=77, ordinal=3, t0=100.0, t1=101.0)
    other = Op("point", "point:2", 1, pid=88, ordinal=0, t0=100.0, t1=101.0)
    spans = [
        _sp("sql.execute_sql", 100.1, 100.3, 1, pid=77, job_group="g1"),
        _sp("translate.translate_sql", 100.15, 100.2, 2, 1, pid=77),
        _sp("spark.iter", 100.3, 100.9, 3, pid=77, job_group="g2", rows=1,
            cols=6, first_row_ms=500.0, fetch_ms=0.0, between_ms=20.0),
        _sp("sql.execute_sql", 100.1, 100.2, 4, pid=88),  # another connection
        _sp("sql.execute_sql", 102.0, 102.1, 5, pid=77),  # a later statement
    ]
    att = attach([op, other], spans)
    assert [s.span_id for s in att[id(op)]] == [1, 2, 3]
    assert op.request_id == "77.3"
    jobs = {"g1": {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0},
            "g2": {"jobs": 2, "stages": 3, "tasks": 5, "failed_tasks": 0}}
    n = op_numbers(op, att[id(op)], jobs)
    assert n["exec_self"] == pytest.approx(150.0)
    assert n["translate"] == pytest.approx(50.0)
    assert n["first_row"] == 500.0 and n["encode"] == 20.0
    assert n["wait"] == pytest.approx(1000.0 - 800.0)
    assert (n["jobs"], n["stages"], n["tasks"]) == (2, 3, 5)


# --- the answer checker ----------------------------------------------------------


def _data_row(vals):
    body = struct.pack("!h", len(vals))
    for v in vals:
        if v is None:
            body += struct.pack("!i", -1)
        else:
            b = str(v).encode()
            body += struct.pack("!i", len(b)) + b
    return body


def _expect(o, sql):
    tbl = o.expect(sql)
    return tbl.column_names, [tuple(r.values()) for r in tbl.to_pylist()]


@pytest.fixture(scope="module")
def oracle(tmp_path_factory):
    tables = gen.tpch_tables(5, n_orders=300)
    d = tmp_path_factory.mktemp("tables")
    paths = {}
    for name in ("orders", "lineitem"):
        paths[name] = str(d / f"{name}.parquet")
        gen.write_parquet(tables[name], paths[name])
    return check.Oracle(paths), tables


def test_checker_accepts_the_right_answer_and_rejects_a_planted_wrong_row(oracle):
    o, tables = oracle
    stmt = gen.Stmt("scan", "scan:1", "SELECT l_orderkey, l_linenumber, l_extendedprice, "
                    "l_shipdate FROM lineitem WHERE l_orderkey BETWEEN 10 AND 20")
    cols, rows = _expect(o, stmt.sql)
    columns = [(c, 0) for c in cols]
    good = [_data_row([r[0], r[1], repr(r[2]), r[3].isoformat()]) for r in rows]
    assert len(good) > 5
    assert o.matches(stmt, columns, list(reversed(good)))  # row order is free
    bad = list(good)
    r = rows[2]
    bad[2] = _data_row([r[0], r[1], repr(r[2] + 0.01), r[3].isoformat()])
    assert not o.matches(stmt, columns, bad)
    assert not o.matches(stmt, columns, good[:-1])  # a missing row
    assert not o.matches(stmt, [("x", 0)] + columns[1:], good)  # a wrong column name


def test_checker_float_tolerance_and_copy_text(oracle):
    o, _ = oracle
    stmt = gen.Stmt("agg", "agg:x", "SELECT l_returnflag, SUM(l_extendedprice) AS s "
                    "FROM lineitem GROUP BY l_returnflag")
    cols, rows = _expect(o, stmt.sql)
    columns = [(c, 0) for c in cols]
    # another summation order moves the last bits only
    near = [_data_row([f, repr(s * (1 + 1e-13))]) for f, s in rows]
    assert o.matches(stmt, columns, near)
    far = [_data_row([f, repr(s * (1 + 1e-6))]) for f, s in rows]
    assert not o.matches(stmt, columns, far)
    copy = gen.Stmt("copy_out", "copy_out:1", "COPY (SELECT o_orderkey, o_orderpriority "
                    "FROM orders WHERE o_orderkey <= 5) TO STDOUT")
    _, rows = _expect(o, copy.sql)
    lines = [f"{k}\t{p}\n".encode() for k, p in rows]
    assert o.matches(copy, [], lines)
    lines[0] = lines[0].replace(b"\t", b"\tX")
    assert not o.matches(copy, [], lines)
    assert not o.matches(copy, [], [b"1\n"] + lines[1:])  # a short row


def test_digest_is_order_insensitive():
    a = [b"1", b"22", b"333"]
    assert check.digest(a) == check.digest(list(reversed(a)))
    assert check.digest(a) != check.digest(a[:2])


# --- seeded generator ------------------------------------------------------------


def _file_digest(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _inputs(seed, d):
    out = {}
    for name, t in gen.tpch_tables(seed, n_orders=2_000).items():
        p = os.path.join(d, f"{name}.parquet")
        gen.write_parquet(t, p)
        out[name] = _file_digest(p)
    c = gen.corpus(seed, n_base=300)
    p = os.path.join(d, "corpus.parquet")
    gen.write_parquet(c.table, p)
    out["corpus"] = _file_digest(p)
    stmts = [gen.serve_statements(seed, i, 30) for i in range(4)]
    stmts += [gen.federate_statements(seed, i, 8) for i in range(2)]
    out["stmts"] = hashlib.sha256(repr(stmts).encode()).hexdigest()
    return out


def test_one_seed_gives_byte_identical_inputs(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    for d in (a, b, c):
        d.mkdir()
    first, again, other = _inputs(11, str(a)), _inputs(11, str(b)), _inputs(12, str(c))
    assert first == again
    assert all(first[k] != other[k] for k in first if k not in ("region", "nation"))


def test_deck_proportions_hold_in_every_deck():
    deck = sum(gen.DECK.values())
    s = gen.serve_statements(3, 0, deck * 5)
    for i in range(0, len(s), deck):
        kinds = [x.kind for x in s[i:i + deck]]
        assert {k: kinds.count(k) for k in gen.DECK} == gen.DECK


def test_corpus_plants_what_it_reports():
    c = gen.corpus(4, n_base=400, exact_share=0.1, near_share=0.1)
    t = c.table.to_pydict()
    assert c.n_docs == 400 + c.n_exact + c.n_near
    assert len(set(t["doc_id"])) == c.n_docs
    by_text = {}
    for i, text in zip(t["doc_id"], t["text"]):
        by_text.setdefault(text, []).append(i)
    dup_groups = [ids for ids in by_text.values() if len(ids) > 1]
    assert sum(len(g) - 1 for g in dup_groups) == c.n_exact
    # the original (kept by exact dedup's min-id rule) is a base document
    assert all(min(g) < c.n_base for g in dup_groups)


# --- the benchmark's declared metrics ----------------------------------------------


def test_benchmark_json_lists_the_harness_metrics():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    import run

    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == [
        (name, unit) for name, unit, *_ in CATALOGUE
    ]
    assert {w["name"] for w in spec["workloads"]} == {
        "serve_mix", "federate_scan", "curate_batch"}
