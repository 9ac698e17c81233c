"""The three workloads. Each builds its inputs from the seed, starts its
processes, runs the untimed warm pass (part of set-up), the timed closed
loop, and the answer checks; in a traced run the timed loop is split
into an untraced half and a traced half in the same processes, so the
difference between the two is the tracing overhead.

Why each workload exists, and which layers it exercises, is in
README.md.
"""

from __future__ import annotations

import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import gen
import wire
from check import Oracle
from loop import Answers, Session, run_fixed, run_timed
from procs import Worker

GIB = 1 << 30
SERVE_CONNS = 4
FED_CONNS = 2
CURATE_BASE_DOCS = 9_000
CURATE_WARM_DOCS = 250


@dataclass
class Ctx:
    """What run.py hands a workload: where to write, the seed, the
    timed seconds, whether to trace, and the list to register every
    started process in (run.py stops them all)."""

    tmp: str
    out_dir: str
    seed: int
    seconds: float
    trace: bool
    workers: list = field(default_factory=list)


@dataclass
class Outcome:
    """What a workload hands back to run.py."""

    setup_s: float = 0.0
    inputs: dict = field(default_factory=dict)
    warm_ops: list = field(default_factory=list)  # untimed, but checked and counted
    phases: list = field(default_factory=list)  # {"name", "ops", "start"}
    problems: list = field(default_factory=list)  # failed checks beyond single ops
    layer: dict = field(default_factory=dict)  # per-layer metrics (traced run)
    layer_rows: list = field(default_factory=list)  # per statement / pass split
    peak_rss_mb: float = 0.0


def _write(tmp: str, sub: str, tables: dict) -> dict[str, str]:
    d = os.path.join(tmp, sub)
    os.makedirs(d, exist_ok=True)
    out = {}
    for name, t in tables.items():
        out[name] = os.path.join(d, f"{name}.parquet")
        gen.write_parquet(t, out[name])
    return out


def _peak_rss(workers: list[Worker]) -> float:
    from stats import peak_rss_mb

    return peak_rss_mb([p for w in workers for p in w.pids()])


def _mark_wrong(oracle: Oracle, answers: Answers, ops, special=None) -> None:
    """Compare each distinct statement's first answer with DuckDB (or
    ``special``), then every answer that differed from its first."""
    ok: dict[str, bool] = {}
    for key, (stmt, cols, rows, _) in answers.first.items():
        check = special(stmt) if special else None
        ok[key] = check(cols, rows) if check else oracle.matches(stmt, cols, rows)
    odd = {id(op): (stmt, cols, rows) for op, stmt, cols, rows in answers.odd}
    for op in ops:
        if op.failed or op.kind == "copy_in":
            continue
        if id(op) in odd:
            stmt, cols, rows = odd[id(op)]
            check = special(stmt) if special else None
            op.wrong = not (check(cols, rows) if check else oracle.matches(stmt, cols, rows))
        elif not ok.get(op.key, False):
            op.wrong = True


def _n_stmts(deck: dict, seconds: float, min_deck_s: float) -> int:
    """Statements to generate per connection: more whole decks than a
    connection can finish in ``seconds`` when a deck takes at least
    ``min_deck_s``."""
    return sum(deck.values()) * (int(seconds / min_deck_s) + 2)


def _timed_phases(out: Outcome, sessions, seconds: float, answers: Answers,
                  deck: int, trace_on) -> None:
    if trace_on is None:
        ops, start = run_timed(sessions, seconds, answers, deck)
        out.phases.append({"name": "untraced", "ops": ops, "start": start})
        return
    half = seconds / 2.0
    ops, start = run_timed(sessions, half, answers, deck)
    out.phases.append({"name": "untraced", "ops": ops, "start": start})
    trace_on()
    ops, start = run_timed(sessions, half, answers, deck)
    out.phases.append({"name": "traced", "ops": ops, "start": start})


# --- serve_mix -----------------------------------------------------------------------


def serve_mix(ctx: Ctx) -> Outcome:
    tmp, seed = ctx.tmp, ctx.seed
    out = Outcome()
    tables = gen.tpch_tables(seed)
    paths = _write(tmp, "data", tables)
    n = _n_stmts(gen.DECK, ctx.seconds, 5.0)
    seqs = [gen.serve_statements(seed, i, n) for i in range(SERVE_CONNS)]
    # warm pass: each kind once, spread over the connections
    warm = [gen.serve_statements(seed, i, len(gen.DECK), warm=True)[i::SERVE_CONNS]
            for i in range(SERVE_CONNS)]
    out.inputs = {
        "rows": {k: t.num_rows for k, t in tables.items()},
        "parquet_bytes": sum(os.path.getsize(p) for p in paths.values()),
        "connections": SERVE_CONNS,
        "deck": gen.DECK,
        "copy_in_rows": gen.COPY_IN_ROWS,
    }

    t0 = time.monotonic()
    srv = Worker(tmp, "serve", {"role": "serve", "cores": 3, "mem_bytes": 2 * GIB,
                                "tables": paths})
    ctx.workers.append(srv)
    srv.wait_ready()
    conns = [wire.Connection("127.0.0.1", srv.ready["port"]) for _ in range(SERVE_CONNS)]
    for i, c in enumerate(conns):
        res = c.query(gen.COPY_IN_DDL.format(name=gen.copy_in_table(i)))
        if res.error:
            raise RuntimeError(f"CREATE TABLE failed: {res.error}")
    sessions = [Session(i, c, s) for i, (c, s) in enumerate(zip(conns, seqs))]
    answers = Answers()
    out.warm_ops = warm_ops = run_fixed(sessions, warm, answers)
    out.setup_s = time.monotonic() - t0

    def trace_on():
        srv.call(cmd="trace")

    _timed_phases(out, sessions, ctx.seconds, answers, sum(gen.DECK.values()),
                  trace_on if ctx.trace else None)
    out.peak_rss_mb = _peak_rss(ctx.workers)

    expected_tables = set(paths) | {gen.copy_in_table(i) for i in range(SERVE_CONNS)}

    def special(stmt):
        if stmt.kind != "catalog":
            return None

        def check(cols, rows):
            vals = [wire.decode_data_row(r) for r in rows]
            return ({v[1] for v in vals} == expected_tables
                    and len(vals) == len(expected_tables)
                    and all(v[2] == "table" for v in vals))
        return check

    all_ops = warm_ops + [o for p in out.phases for o in p["ops"]]
    _mark_wrong(Oracle(paths), answers, all_ops, special)
    # each table must hold exactly the batches its COPY FROM statements sent
    def table_problem(i: int) -> str | None:
        want_rows, want_k, want_v = 0, 0, 0.0
        for op in all_ops:
            if op.kind != "copy_in" or op.conn != i or op.failed:
                continue
            for ln in op.stmt.copy_data.decode().splitlines():
                k, v, _ = ln.split("\t")
                want_rows, want_k, want_v = want_rows + 1, want_k + int(k), want_v + float(v)
        name = gen.copy_in_table(i)
        res = conns[i].query(f"SELECT COUNT(*), SUM(k), SUM(v) FROM {name}")
        got = wire.decode_data_row(res.rows[0]) if res.rows else None
        if (res.error or got is None or int(got[0]) != want_rows
                or int(got[1] or 0) != want_k
                or not np.isclose(float(got[2] or 0.0), want_v, rtol=1e-9)):
            return f"copy_in table {name}: got {got or res.error}, want {(want_rows, want_k, want_v)}"
        return None

    with ThreadPoolExecutor(SERVE_CONNS) as ex:
        table_problems = list(ex.map(table_problem, range(SERVE_CONNS)))
    for i, p in enumerate(table_problems):
        if p:  # the connection's COPY FROM statements did not do their work
            out.problems.append(p)
            for op in all_ops:
                if op.kind == "copy_in" and op.conn == i:
                    op.wrong = True
    for c in conns:
        c.close()
    if ctx.trace:
        from report import serve_layers

        out.layer, out.layer_rows = serve_layers(
            srv, [], [], out.phases[-1]["ops"], ctx.out_dir)
    return out


# --- federate_scan --------------------------------------------------------------------


def federate_scan(ctx: Ctx) -> Outcome:
    tmp, seed = ctx.tmp, ctx.seed
    out = Outcome()
    orders = gen.tpch_tables(seed, n_orders=gen.N_FED_ORDERS)["orders"]
    shards = gen.shard_split(seed, orders, 2)
    full = _write(tmp, "full", {gen.FED_TABLE: orders})
    shard_paths = [_write(tmp, f"shard{i}", {gen.FED_TABLE: t})
                   for i, t in enumerate(shards)]
    n = _n_stmts(gen.FED_DECK, ctx.seconds, 2.0)
    seqs = [gen.federate_statements(seed, i, n) for i in range(FED_CONNS)]
    warm = [gen.federate_statements(seed, i, len(gen.FED_DECK), warm=True)[i::FED_CONNS]
            for i in range(FED_CONNS)]
    out.inputs = {
        "rows": {gen.FED_TABLE: orders.num_rows, "per_shard": [t.num_rows for t in shards]},
        "parquet_bytes": sum(os.path.getsize(p[gen.FED_TABLE]) for p in shard_paths),
        "connections": FED_CONNS,
        "deck": gen.FED_DECK,
    }

    t0 = time.monotonic()
    shard_ws = [Worker(tmp, f"shard{i}", {"role": "serve", "cores": 1,
                                          "mem_bytes": GIB, "tables": p})
                for i, p in enumerate(shard_paths)]
    # the gather's JVM boots beside the shards'; it registers the
    # federated table once they listen
    gather = Worker(tmp, "gather", {"role": "serve", "cores": 2, "mem_bytes": 2 * GIB,
                                    "tables": {}})
    ctx.workers.extend(shard_ws + [gather])
    for w in shard_ws + [gather]:
        w.wait_ready()
    addrs = [f"postgres://bench@127.0.0.1:{w.ready['port']}/bench" for w in shard_ws]
    gather.ready.update(gather.call(cmd="federate", table=gen.FED_TABLE, shards=addrs))
    conns = [wire.Connection("127.0.0.1", gather.ready["port"]) for _ in range(FED_CONNS)]
    sessions = [Session(i, c, s) for i, (c, s) in enumerate(zip(conns, seqs))]
    answers = Answers()
    out.warm_ops = warm_ops = run_fixed(sessions, warm, answers)
    out.setup_s = time.monotonic() - t0

    def trace_on():
        for w in shard_ws + [gather]:
            w.call(cmd="trace")

    _timed_phases(out, sessions, ctx.seconds, answers, sum(gen.FED_DECK.values()),
                  trace_on if ctx.trace else None)
    out.peak_rss_mb = _peak_rss(ctx.workers)
    all_ops = warm_ops + [o for p in out.phases for o in p["ops"]]
    # federated answers against the unsharded table
    _mark_wrong(Oracle(full), answers, all_ops)
    for c in conns:
        c.close()
    if ctx.trace:
        from report import serve_layers

        out.layer, out.layer_rows = serve_layers(
            gather, shard_ws, addrs, out.phases[-1]["ops"], ctx.out_dir)
    return out


# --- curate_batch ----------------------------------------------------------------------


def check_curated(path: str, corpus: gen.Corpus, report: list) -> tuple[list[str], int]:
    """What the generator planted must hold in the committed output;
    returns the problems found and the number of curated rows."""
    problems = []
    t = pq.read_table(path, columns=["doc_id", "text", "split"])
    ids = t["doc_id"].to_numpy()
    if len(np.unique(ids)) != len(ids):
        problems.append("curate: doc_id not unique in the output")
    splits = set(t["split"].to_pylist())
    if not splits <= {"train", "val", "test"} or t["split"].null_count:
        problems.append(f"curate: split values {sorted(map(str, splits))}")
    texts = t["text"].to_pylist()
    if len(set(texts)) != len(texts):
        problems.append("curate: exact duplicate texts survive")
    in_ids = set(corpus.table["doc_id"].to_pylist())
    if not set(ids.tolist()) <= in_ids:
        problems.append("curate: output holds doc_ids not in the input")
    stages = {s: (a, b) for s, a, b in report}
    c4 = stages.get("c4_filter")
    if c4 is None or c4[0] != c4[1]:
        problems.append(f"curate: c4_filter dropped planted-clean docs {c4}")
    ex = stages.get("exact_dedup")
    if ex is None or ex[0] - ex[1] != corpus.n_exact:
        problems.append(
            f"curate: exact_dedup dropped {None if ex is None else ex[0] - ex[1]}, "
            f"planted {corpus.n_exact}")
    return problems, t.num_rows


def curate_batch(ctx: Ctx) -> Outcome:
    from loop import Op

    tmp, seed = ctx.tmp, ctx.seed
    out = Outcome()
    corpus = gen.corpus(seed, n_base=CURATE_BASE_DOCS)
    warm_corpus = gen.corpus(seed + 1, n_base=CURATE_WARM_DOCS)
    data = _write(tmp, "data", {"docs": corpus.table, "warm": warm_corpus.table})
    out.inputs = {
        "docs": corpus.n_docs,
        "text_bytes": corpus.n_bytes,
        "base_docs": corpus.n_base,
        "planted_exact": corpus.n_exact,
        "planted_near": corpus.n_near,
        "exact_share": corpus.n_exact / corpus.n_docs,
        "near_share": corpus.n_near / corpus.n_docs,
        "warm_docs": warm_corpus.n_docs,
    }
    t0 = time.monotonic()
    w = Worker(tmp, "curate", {"role": "curate", "cores": 4, "mem_bytes": 3 * GIB},
               timeout=170)
    ctx.workers.append(w)
    w.wait_ready()
    results: list[dict] = []
    to_check: list[tuple] = []  # checked after the timed loop, off the clock

    def one(src: str, planted: gen.Corpus, phase: str) -> Op:
        dest = os.path.join(tmp, f"out{len(results)}")
        a = time.monotonic()
        try:
            r, err = w.call(cmd="curate", input=src, output=dest, timeout=170), None
        except RuntimeError as e:
            r, err = {}, str(e)[:300]
        op = Op("curate", "curate", 0, 0, len(results), a, time.monotonic(), error=err)
        if err is None:
            # time the pass from input read to committed parquet, on the
            # worker's clock (the same system-wide monotonic clock)
            op.t0, op.t1 = r["t0"], r["t1"]
            to_check.append((op, dest, planted, r["report"]))
        results.append(dict(r, phase=phase))
        return op

    out.warm_ops = [one(data["warm"], warm_corpus, "warm")]
    out.setup_s = time.monotonic() - t0

    def loop(seconds: float, phase: str) -> None:
        ops = []
        start = time.monotonic()
        while not ops or time.monotonic() < start + seconds:
            ops.append(one(data["docs"], corpus, phase))
        out.phases.append({"name": phase, "ops": ops, "start": start})

    if ctx.trace:
        loop(ctx.seconds / 2.0, "untraced")
        w.call(cmd="trace")
        loop(ctx.seconds / 2.0, "traced")
    else:
        loop(ctx.seconds, "untraced")
    out.peak_rss_mb = _peak_rss(ctx.workers)
    for op, dest, planted, report in to_check:
        problems, op.rows = check_curated(dest, planted, report)
        op.wrong = bool(problems)
        out.problems.extend(problems)
        shutil.rmtree(dest, ignore_errors=True)
    if ctx.trace:
        from report import curate_layers

        out.layer, out.layer_rows = curate_layers(w, results, ctx.out_dir)
    return out


WORKLOADS = {
    "serve_mix": serve_mix,
    "federate_scan": federate_scan,
    "curate_batch": curate_batch,
}
