"""The per-layer metric catalogue: each metric's unit, the repo module
(layer) it measures, the end-to-end metric it should move and the
workload it moves it on. ``BENCHMARK.json``'s ``per_layer`` list and the
traced run's table are both this list; a self-test keeps them equal.
"""

from __future__ import annotations

SERVE_KINDS = ("point", "agg", "join", "catalog", "scan", "copy_out", "copy_in")
FED_KINDS = ("fed_filter", "fed_agg")
CURATE_STAGES = (
    "input_checkpoint",
    "c4_filter",
    "exact_dedup",
    "pairs_checkpoint",
    "near_dedup",
    "quality_gate",
    "split_assign",
)
KEPT_STAGES = ("c4_filter", "exact_dedup", "near_dedup", "quality_gate")

# kind → the end-to-end per-kind median the report prints for it
_P50 = {k: f"{k}.p50_ms" for k in SERVE_KINDS + FED_KINDS}


def _on(kind: str) -> str:
    return "federate_scan" if kind in FED_KINDS else "serve_mix"


def _catalogue() -> list[tuple[str, str, str, str, str]]:
    """(name, unit, layer, moves, on) for every per-layer metric."""
    m: list[tuple[str, str, str, str, str]] = [
        ("session.boot_s", "s", "session", "setup_s", "all"),
        ("csv_source.register_s", "s", "sources.csv_source", "setup_s",
         "serve_mix, federate_scan"),
        ("federation.register_s", "s", "sources.federation", "setup_s",
         "federate_scan"),
    ]
    for k in ("point", "agg", "join", "catalog"):
        m.append((f"sql.execute_sql.self_ms.{k}", "ms", "sql", _P50[k], "serve_mix"))
    for k in ("point", "agg", "join"):
        m.append((f"translate.translate_sql.ms.{k}", "ms", "functions.translate",
                  _P50[k], "serve_mix"))
    m += [
        ("pg_catalog.refresh.ms", "ms", "server.pg_catalog", "catalog.p50_ms",
         "serve_mix"),
        ("sql.info_schema_refresh.ms", "ms", "sql", "catalog.p50_ms", "serve_mix"),
    ]
    for k in ("point", "agg", "join", "catalog", "scan", "copy_out") + FED_KINDS:
        m.append((f"spark.first_row_ms.{k}", "ms", "Spark", _P50[k], _on(k)))
    for k in ("scan", "copy_out") + FED_KINDS:
        m.append((f"spark.fetch_ms.{k}", "ms", "Spark", _P50[k], _on(k)))
    for k in SERVE_KINDS + FED_KINDS:
        m.append((f"spark.jobs.{k}", "count", "Spark", _P50[k], _on(k)))
        m.append((f"spark.tasks.{k}", "count", "Spark", _P50[k], _on(k)))
    for s in CURATE_STAGES + ("write",):
        m.append((f"spark.jobs.curate.{s}", "count", "Spark", "curate.s",
                  "curate_batch"))
        m.append((f"spark.tasks.curate.{s}", "count", "Spark", "curate.s",
                  "curate_batch"))
    m += [
        ("spark.stages", "count", "Spark", "error_rate", "all"),
        ("spark.failed_tasks", "count", "Spark", "error_rate", "all"),
        ("spark.write_ms.copy_in", "ms", "Spark writer", "copy_in.p50_ms",
         "serve_mix"),
        ("spark.write_ms.curate", "ms", "Spark writer", "curate.s", "curate_batch"),
    ]
    for k in ("scan", "copy_out", "fed_filter"):
        m.append((f"pgwire.encode_ms.{k}", "ms", "server.pgwire", _P50[k], _on(k)))
    m.append(("pgwire.encode_ms.shard", "ms", "server.pgwire",
              "fed_filter.p50_ms, fed_agg.p50_ms", "federate_scan"))
    m += [
        ("pgwire.rows_out", "count", "server.pgwire", "scan.p50_ms, copy_out.p50_ms",
         "serve_mix, federate_scan"),
        ("pgwire.bytes_out", "bytes", "server.pgwire", "scan.p50_ms, copy_out.p50_ms",
         "serve_mix, federate_scan"),
    ]
    for k in SERVE_KINDS + FED_KINDS:
        m.append((f"pgwire.wait_ms.{k}", "ms", "sockets, handler threads, GIL",
                  "stmt.p90_ms, stmts_per_s", _on(k)))
    m += [
        ("pgclient.query_ms", "ms", "sources.pgclient",
         "fed_filter.p50_ms, fed_agg.p50_ms", "federate_scan"),
        ("pgclient.decode_ms", "ms", "sources.pgclient",
         "fed_filter.p50_ms, fed_agg.p50_ms", "federate_scan"),
        ("federation.cells_shipped", "count", "sources.federation",
         "fed_filter.p50_ms", "federate_scan"),
        ("federation.useful_ratio", "ratio", "sources.federation",
         "fed_filter.p50_ms", "federate_scan"),
    ]
    for s in CURATE_STAGES:
        m.append((f"curate.stage.{s}_s", "s", "operators (via operators.pipeline)",
                  "curate.s", "curate_batch"))
    for s in KEPT_STAGES:
        m.append((f"curate.kept.{s}", "ratio", "operators (via operators.pipeline)",
                  "curate.s", "curate_batch"))
    m.append(("trace.overhead_ms", "ms", "benchmark tracer", "p50_geomean_ms", "all"))
    return m


CATALOGUE = _catalogue()
