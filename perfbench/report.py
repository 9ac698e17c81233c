"""Per-layer numbers of a traced run.

Server spans are joined to client statements by BackendKeyData pid and
time window (both sides read the system-wide monotonic clock), which
gives every span the request id ``<pid>.<ordinal>`` of the statement it
served. Per statement: the self time of ``sql.execute_sql``, the time in
translate and catalog refreshes, Spark's first row and fetch time inside
the row iterator's ``next()``, pgwire's encode time between ``next()``
calls, the writer, the Spark jobs/stages/tasks of the statement's job
groups, and the wait — client latency minus the union of the server's
top-level spans. Each per-kind metric is the median over the traced
statements of that kind.
"""

from __future__ import annotations

import bisect
import json
import os
import statistics
import sys
import time
from collections import defaultdict

from layers import CATALOGUE, CURATE_STAGES, FED_KINDS, KEPT_STAGES, SERVE_KINDS
from spans import Span, self_ms, union_ms

_EPS = 0.002  # s: a span may start a hair before the client's send returns


def load_spans(worker, path: str) -> tuple[list[Span], dict]:
    worker.call(cmd="spans", path=path)
    with open(path) as f:
        data = json.load(f)
    return [Span(**s) for s in data["spans"]], data["jobs"]


def attach(ops, spans: list[Span]) -> dict[int, list[Span]]:
    """Spans served on each op's connection within its window, by op id
    (the request id is the op's ``pid.ordinal``)."""
    by_pid: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        by_pid[s.pid].append(s)
    for v in by_pid.values():
        v.sort(key=lambda s: s.start)
    out: dict[int, list[Span]] = {}
    for op in ops:
        lst = by_pid.get(op.pid, [])
        starts = [s.start for s in lst]
        i = bisect.bisect_left(starts, op.t0 - _EPS)
        j = bisect.bisect_right(starts, op.t1)
        out[id(op)] = lst[i:j]
    return out


def op_numbers(op, spans: list[Span], jobs: dict) -> dict[str, float]:
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)

    def total(name: str) -> float:
        return sum((s.end - s.start) * 1000.0 for s in spans if s.name == name)

    iters = [s for s in spans if s.name == "spark.iter"]
    top = [s for s in spans if s.parent is None]
    groups = {s.attrs.get("job_group") for s in top} - {None}
    counts = defaultdict(int)
    for g in groups:
        for k, v in jobs.get(g, {}).items():
            counts[k] += v
    return {
        "exec_self": sum(self_ms(s, children[s.span_id])
                         for s in spans if s.name == "sql.execute_sql"),
        "translate": total("translate.translate_sql"),
        "catalog_refresh": total("pg_catalog.refresh"),
        "info_schema": total("sql.info_schema_refresh"),
        "first_row": sum(s.attrs["first_row_ms"] for s in iters),
        "fetch": sum(s.attrs["fetch_ms"] for s in iters),
        "encode": sum(s.attrs["between_ms"] for s in iters),
        "write": total("spark.write"),
        "wait": op.ms - union_ms(top),
        "jobs": counts["jobs"],
        "stages": counts["stages"],
        "tasks": counts["tasks"],
        "failed_tasks": counts["failed_tasks"],
    }


def _median(v: list[float]) -> float:
    return float(statistics.median(v)) if v else 0.0


def statement_layers(ops, spans: list[Span], jobs: dict) -> tuple[dict, list[dict]]:
    """Per-layer metrics over the traced statements, and one row per
    statement (its request id, kind, latency and layer split)."""
    ops = [o for o in ops if not o.failed]
    att = attach(ops, spans)
    rows, by_kind = [], defaultdict(list)
    for op in ops:
        n = op_numbers(op, att[id(op)], jobs)
        by_kind[op.kind].append(n)
        rows.append({"request_id": op.request_id, "kind": op.kind, "ms": op.ms, **n})

    def med(kind: str, field: str) -> float:
        return _median([n[field] for n in by_kind.get(kind, [])])

    m: dict[str, float] = {}
    for k in ("point", "agg", "join", "catalog"):
        m[f"sql.execute_sql.self_ms.{k}"] = med(k, "exec_self")
    for k in ("point", "agg", "join"):
        m[f"translate.translate_sql.ms.{k}"] = med(k, "translate")
    m["pg_catalog.refresh.ms"] = med("catalog", "catalog_refresh")
    m["sql.info_schema_refresh.ms"] = med("catalog", "info_schema")
    for k in ("point", "agg", "join", "catalog", "scan", "copy_out") + FED_KINDS:
        m[f"spark.first_row_ms.{k}"] = med(k, "first_row")
    for k in ("scan", "copy_out") + FED_KINDS:
        m[f"spark.fetch_ms.{k}"] = med(k, "fetch")
    for k in SERVE_KINDS + FED_KINDS:
        m[f"spark.jobs.{k}"] = med(k, "jobs")
        m[f"spark.tasks.{k}"] = med(k, "tasks")
        m[f"pgwire.wait_ms.{k}"] = med(k, "wait")
    m["spark.stages"] = sum(r["stages"] for r in rows)
    m["spark.failed_tasks"] = sum(r["failed_tasks"] for r in rows)
    m["spark.write_ms.copy_in"] = med("copy_in", "write")
    for k in ("scan", "copy_out", "fed_filter"):
        m[f"pgwire.encode_ms.{k}"] = med(k, "encode")
    m["pgwire.rows_out"] = sum(o.rows for o in ops if o.kind != "copy_in")
    m["pgwire.bytes_out"] = sum(o.bytes_in for o in ops)
    return m, rows


def pgclient_probe(addrs: list[str], sql: str, repeat: int = 2) -> tuple[float, float]:
    """Time ``sources.pgclient``'s ``pg_simple_query`` and
    ``rows_to_pandas`` directly on each shard with the SQL the gather
    shipped: inside the gather they run in executor Python workers,
    which the launcher's wrappers cannot reach. Medians over shards and
    repeats, in ms."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if root not in sys.path:
        sys.path.insert(0, root)
    from csvb_spark.sources.federation import parse_postgres_conn_str
    from csvb_spark.sources.pgclient import pg_simple_query, rows_to_pandas

    q_ms, d_ms = [], []
    for addr in addrs:
        p = parse_postgres_conn_str(addr)
        for _ in range(repeat):
            a = time.monotonic()
            cols, rows = pg_simple_query(p["host"], int(p["port"]), sql,
                                         user=p.get("user", "csvb"),
                                         database=p.get("db", "csvb"))
            b = time.monotonic()
            rows_to_pandas(rows, [c for c, _ in cols], [o for _, o in cols])
            c = time.monotonic()
            q_ms.append((b - a) * 1000.0)
            d_ms.append((c - b) * 1000.0)
    return _median(q_ms), _median(d_ms)


def serve_layers(srv, shards, addrs, ops, span_dir: str) -> tuple[dict, list[dict]]:
    """Per-layer metrics of a traced serve_mix or federate_scan run: the
    split of each statement on the process the clients talk to, plus,
    with shards, what they shipped to it and a direct
    ``sources.pgclient`` probe."""
    spans, jobs = load_spans(srv, os.path.join(span_dir, "spans-serve.json"))
    m, rows = statement_layers(ops, spans, jobs)
    shard_spans: list[Span] = []
    for i, w in enumerate(shards):
        shard_spans += load_spans(w, os.path.join(span_dir, f"spans-shard{i}.json"))[0]
    fed = [o for o in ops if o.kind in FED_KINDS and not o.failed]
    iters = [s for s in shard_spans if s.name == "spark.iter"]
    cells = sum(s.attrs["rows"] * s.attrs["cols"] for s in iters)
    n = max(1, len(fed))
    m["federation.cells_shipped"] = cells / n
    m["federation.useful_ratio"] = sum(o.rows * o.cols for o in fed) / cells if cells else 0.0
    m["pgwire.encode_ms.shard"] = sum(s.attrs["between_ms"] for s in iters) / n
    shipped = [s.attrs["sql"] for s in shard_spans if s.name == "sql.execute_sql"]
    if shipped:
        sql = max(set(shipped), key=shipped.count)
        m["pgclient.query_ms"], m["pgclient.decode_ms"] = pgclient_probe(addrs, sql)
    m["session.boot_s"] = max(w.ready["boot_s"] for w in [srv] + shards)
    m["csv_source.register_s"] = max(w.ready["register_s"] for w in [srv] + shards)
    m["federation.register_s"] = srv.ready.get("federate_s", 0.0)
    return m, rows


def curate_spans(results: list[dict]) -> list[dict]:
    """One span per curate pass and per stage (a stage runs from the end
    of the one before it), plus the parquet commit."""
    spans, sid = [], 0
    for i, r in enumerate(results):
        sid += 1
        root = sid
        spans.append(Span("curate", r["t0"], r["t1"], root, None, 0,
                          {"pass": i, "phase": r["phase"]}).to_json())
        start = r["t0"]
        for name, end in r["stage_ends"] + [("write", r["t1"])]:
            sid += 1
            spans.append(Span(f"curate.{name}", start, end, sid, root, 0,
                              {"pass": i}).to_json())
            start = end
    return spans


def curate_layers(worker, results: list[dict], span_dir: str) -> tuple[dict, list[dict]]:
    done = [r for r in results if "report" in r]
    with open(os.path.join(span_dir, "spans-curate.json"), "w") as f:
        json.dump({"spans": curate_spans(done),
                   "jobs": {r["phase"] + str(i): r.get("stage_jobs", {})
                            for i, r in enumerate(done)}}, f)
    traced = [r for r in done if r["phase"] == "traced"]
    m: dict[str, float] = {"session.boot_s": worker.ready["boot_s"]}
    if not traced:
        return m, []
    for s in CURATE_STAGES:
        m[f"curate.stage.{s}_s"] = _median([r["stage_seconds"].get(s, 0.0) for r in traced])
        m[f"spark.jobs.curate.{s}"] = _median(
            [r["stage_jobs"].get(s, {}).get("jobs", 0) for r in traced])
        m[f"spark.tasks.curate.{s}"] = _median(
            [r["stage_jobs"].get(s, {}).get("tasks", 0) for r in traced])
    m["spark.jobs.curate.write"] = _median([r["write_jobs"]["jobs"] for r in traced])
    m["spark.tasks.curate.write"] = _median([r["write_jobs"]["tasks"] for r in traced])
    m["spark.write_ms.curate"] = _median([r["write_ms"] for r in traced])
    m["spark.stages"] = sum(
        j["stages"] for r in traced for j in list(r["stage_jobs"].values()) + [r["write_jobs"]])
    m["spark.failed_tasks"] = sum(
        j["failed_tasks"] for r in traced
        for j in list(r["stage_jobs"].values()) + [r["write_jobs"]])
    last = {s: (a, b) for s, a, b in traced[-1]["report"]}
    for s in KEPT_STAGES:
        a, b = last.get(s, (0, 0))
        m[f"curate.kept.{s}"] = b / a if a else 0.0
    rows = [{"pass": i, "seconds": r["seconds"], **r["stage_seconds"]}
            for i, r in enumerate(traced)]
    return m, rows


def layer_table(metrics: dict[str, float], workload: str) -> str:
    """Markdown: every per-layer metric with the layer it measures and
    the end-to-end metric and workload it should move."""
    lines = [
        f"# Per-layer metrics — {workload}",
        "",
        "| metric | value | unit | layer | moves | on |",
        "|---|---:|---|---|---|---|",
    ]
    for name, unit, layer, moves, on in CATALOGUE:
        here = "all" in on or workload in on
        val = metrics.get(name, 0.0)
        shown = f"{val:.4g}" if here else "—"
        lines.append(f"| `{name}` | {shown} | {unit} | {layer} | `{moves}` | {on} |")
    return "\n".join(lines) + "\n"
