"""One process of a workload, built with the same public calls as the
csvb CLI, driven over stdin/stdout by ``run.py``.

Roles:
  serve   ``get_session(scheduler_mode="FAIR")``, ``add_direct_table``
          per parquet table, then ``PgWireServer`` (``csvb serve``); on
          the ``federate`` command it also registers a virtual table
          over shard servers with ``add_federated_tables`` (the call
          ``csvb federate`` makes), so its JVM boots while the shards do
  curate  ``get_session()``; runs ``operators.pipeline.curate`` and a
          parquet commit per request

Usage: python3 perfbench/server.py '<json config>'. The process answers
each stdin command (one JSON object per line) with one stdout line
``@@ <json>``; the first such line announces readiness. Commands:
``federate``, ``trace`` (install the span wrappers), ``spans`` (write
spans and Spark job counts to a file) and ``curate``. The process ends
when stdin closes or on SIGTERM.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback


def reply(obj: dict) -> None:
    sys.stdout.write("@@ " + json.dumps(obj) + "\n")
    sys.stdout.flush()


def build_session(cfg: dict, scheduler_mode: str):
    from csvb_spark.session import get_session

    tmp = cfg["tmp"]
    return get_session(
        app_name=f"perfbench-{cfg['role']}",
        master=f"local[{cfg['cores']}]",
        memory_pool_bytes=cfg["mem_bytes"],
        shuffle_partitions=cfg["cores"],
        scheduler_mode=scheduler_mode,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.local.dir": os.path.join(tmp, "local"),
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={tmp}",
        },
    )


class CurateStageClock(dict):
    """``stage_seconds`` for ``curate``: records when each stage ended
    and moves Spark onto a fresh job group for the next stage, so the
    jobs each stage ran can be counted afterwards."""

    def __init__(self, spark, trace: bool):
        super().__init__()
        self.spark, self.trace = spark, trace
        self.ends: list[tuple[str, float]] = []
        self.groups: list[str] = []
        self.next_group()

    def next_group(self) -> None:
        if self.trace:
            g = f"curate-{len(self.groups)}"
            self.groups.append(g)
            self.spark.sparkContext.setJobGroup(g, "benchmark trace")

    def __setitem__(self, key, value) -> None:
        super().__setitem__(key, value)
        self.ends.append((key, time.monotonic()))
        self.next_group()


def run_curate(spark, tracer, req: dict) -> dict:
    from csvb_spark.operators.dedup import minhash_lsh_pairs
    from csvb_spark.operators.pipeline import curate

    trace = tracer is not None
    t0 = time.monotonic()
    clock = CurateStageClock(spark, trace)
    docs = spark.read.parquet(req["input"])
    curated, report = curate(
        docs,
        # same configuration as bench.py's curate section: the
        # generated texts carry no sentence punctuation
        c4_kwargs={"require_terminal": False},
        pairs_fn=minhash_lsh_pairs,
        keep="longest",
        splits={"train": 0.98, "val": 0.01, "test": 0.01},
        leakage_safe=True,
        stage_seconds=clock,
    )
    t_curated = time.monotonic()
    if trace:
        spark.sparkContext.setJobGroup("curate-write", "benchmark trace")
    curated.write.mode("overwrite").parquet(req["output"])
    t1 = time.monotonic()
    out = {
        "seconds": t1 - t0,
        "t0": t0,
        "t1": t1,
        "stage_ends": clock.ends,
        "write_ms": (t1 - t_curated) * 1000.0,
        "stage_seconds": dict(clock),
        "report": [
            [r["stage"], r["n_in"], r["n_out"]] for r in report.collect()
        ],
    }
    if trace:
        out["stage_jobs"] = {
            name: tracer.job_counts(g)
            for (name, _), g in zip(clock.ends, clock.groups)
        }
        out["write_jobs"] = tracer.job_counts("curate-write")
    return out


def start_server(spark):
    from csvb_spark.server.pgwire import PgWireServer

    server = PgWireServer(spark, "127.0.0.1:0")
    server.start_background()
    return server


def main() -> int:
    cfg = json.loads(sys.argv[1])
    role = cfg["role"]
    t_boot = time.monotonic()
    spark = build_session(cfg, "FIFO" if role == "curate" else "FAIR")
    spark.sparkContext.setCheckpointDir(os.path.join(cfg["tmp"], "checkpoint"))
    ready: dict = {"boot_s": time.monotonic() - t_boot}

    server = None
    if role == "serve":
        from csvb_spark.sources.csv_source import add_direct_table

        t_reg = time.monotonic()
        for name, path in cfg["tables"].items():
            add_direct_table(spark, name, [path], fmt="parquet")
        ready["register_s"] = time.monotonic() - t_reg
        server = start_server(spark)
        ready["port"] = server.port
    ready["pid"] = os.getpid()
    reply(ready)

    tracer = None
    for line in sys.stdin:
        req = json.loads(line)
        cmd = req["cmd"]
        try:
            if cmd == "trace":
                from spans import Tracer, install

                tracer = Tracer(spark)
                if role != "curate":
                    install(tracer)
                reply({"ok": True})
            elif cmd == "spans":
                spans = [s.to_json() for s in tracer.spans] if tracer else []
                groups = {
                    s["attrs"]["job_group"]
                    for s in spans
                    if s["attrs"].get("job_group")
                }
                jobs = {g: tracer.job_counts(g) for g in sorted(groups)}
                with open(req["path"], "w") as f:
                    json.dump({"spans": spans, "jobs": jobs}, f)
                reply({"ok": True, "n": len(spans)})
            elif cmd == "federate":
                from csvb_spark.sources.federation import (
                    VirtualTable,
                    add_federated_tables,
                )

                t_reg = time.monotonic()
                add_federated_tables(spark, [VirtualTable(req["table"], req["shards"])])
                reply({"federate_s": time.monotonic() - t_reg})
            elif cmd == "curate":
                reply(run_curate(spark, tracer, req))
            else:
                reply({"error": f"unknown command {cmd!r}"})
        except Exception as e:  # noqa: BLE001 — report, keep serving
            reply({"error": f"{type(e).__name__}: {e}",
                   "traceback": traceback.format_exc()})
    if server is not None:
        server.shutdown()
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
