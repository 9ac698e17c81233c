"""End-to-end benchmark of csvb-spark's user surfaces.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a checkout. Workloads (README.md says why each
exists):

  serve_mix      one ``serve`` process; four psql-like connections run
                 seven statement kinds (point, agg, join, catalog, scan,
                 copy_out, copy_in)
  federate_scan  two ``serve`` shards and one ``federate`` gather; two
                 connections run fed_filter and fed_agg
  curate_batch   ``operators.pipeline.curate`` plus a parquet commit

The report lines name every end-to-end metric with its unit and sample
count, the seed and input sizes, and the correctness verdict. The last
stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: with ``--trace 0`` the end-to-end metrics of
BENCHMARK.json, with ``--trace 1`` its per-layer metrics, measured in a
traced run whose spans and per-layer table land in
``.perfbench_out/<workload>-seed<N>/``. Inputs, warehouse, spool and
checkpoint files live in ``.perfbench_tmp/`` and are removed at exit,
and every process the run starts is stopped before it exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WATCHDOG_S = 150  # a run must end within 180 s, clean-up included

E2E_UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "ops_per_s": "1/s",
    "p50_geomean_ms": "ms",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["serve_mix", "federate_scan", "curate_batch"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def summarize(ops, start: float) -> dict:
    """Throughput, per-kind medians and the statement percentiles of one
    timed loop (completed operations only)."""
    from stats import busy_rate, geomean, highest_percentile, percentile

    done = [o for o in ops if not o.failed]
    kinds: dict[str, list[float]] = {}
    for o in done:
        kinds.setdefault(o.kind, []).append(o.ms)
    lat = [o.ms for o in done]
    q = highest_percentile(len(lat))
    # a kind has a few samples per run: the median of an even count is
    # the mean of the middle two, which varies less than either one
    p50 = {k: statistics.median(v) for k, v in sorted(kinds.items())}
    return {
        "ops_per_s": busy_rate([(o.conn, o.t0, o.t1) for o in done], start),
        "kinds": {k: (p50[k], len(kinds[k])) for k in p50},
        "p50_geomean_ms": geomean(list(p50.values())) if p50 else 0.0,
        "high": (q, percentile(lat, q)) if q else None,
    }


def report_lines(args, out, summary, attempted, failed, correct) -> list[str]:
    """The human-readable report: every end-to-end metric of the issue's
    table that applies to the workload, with unit and sample count."""
    rate = failed / attempted if attempted else 0.0
    lines = [
        f"workload {args.workload}  seed {args.seed}  seconds {args.seconds:g}  "
        f"trace {args.trace}",
        "inputs " + json.dumps(out.inputs, sort_keys=True),
        f"{'metric':<22}{'value':>14}  {'unit':<9}n",
        f"{'setup_s':<22}{out.setup_s:>14.4f}  {'s':<9}1",
        f"{'error_rate':<22}{rate:>14.4f}  {'fraction':<9}{attempted}",
        f"{'peak_rss_mb':<22}{out.peak_rss_mb:>14.1f}  {'MB':<9}1",
    ]
    n_done = sum(n for _, n in summary["kinds"].values())
    if args.workload == "curate_batch":
        p50, n = summary["kinds"].get("curate", (0.0, 0))
        lines.append(f"{'curate.s':<22}{p50 / 1000.0:>14.4f}  {'s':<9}{n}")
    else:
        lines.append(f"{'stmts_per_s':<22}{summary['ops_per_s']:>14.4f}  {'1/s':<9}{n_done}")
        if summary["high"]:
            q, v = summary["high"]
            lines.append(f"{f'stmt.p{q:g}_ms':<22}{v:>14.2f}  {'ms':<9}{n_done}")
        else:
            lines.append(f"{'stmt.p90_ms':<22}{'n/a':>14}  {'ms':<9}{n_done} "
                         "(needs 100 statements)")
        for k, (p50, n) in summary["kinds"].items():
            lines.append(f"{k + '.p50_ms':<22}{p50:>14.2f}  {'ms':<9}{n}")
    lines.append(f"{'p50_geomean_ms':<22}{summary['p50_geomean_ms']:>14.2f}  "
                 f"{'ms':<9}{len(summary['kinds'])} kinds")
    lines.append(f"{'ops_per_s':<22}{summary['ops_per_s']:>14.4f}  {'1/s':<9}{n_done}")
    lines.append(f"correct {str(correct).lower()}  attempted {attempted}  failed {failed}")
    lines += [f"problem: {p}" for p in out.problems[:20]]
    return lines


def write_trace_outputs(args, out, out_dir: str, untraced: dict, traced: dict) -> None:
    from report import layer_table

    overhead = traced["p50_geomean_ms"] - untraced["p50_geomean_ms"]
    with open(os.path.join(out_dir, "layers.md"), "w") as f:
        f.write(layer_table(out.layer, args.workload))
        f.write(
            f"\nTracing overhead ({args.workload}): p50_geomean_ms "
            f"{untraced['p50_geomean_ms']:.2f} untraced → {traced['p50_geomean_ms']:.2f} "
            f"traced ({overhead:+.2f} ms); ops_per_s {untraced['ops_per_s']:.3f} → "
            f"{traced['ops_per_s']:.3f}.\n"
        )
    with open(os.path.join(out_dir, "requests.json"), "w") as f:
        json.dump(out.layer_rows, f, indent=1)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "csvb_spark", "__init__.py")):
        print(f"perfbench: no csvb_spark package under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    from layers import CATALOGUE
    from workloads import WORKLOADS, Ctx

    # a SIGTERM, or a run that outlives WATCHDOG_S, still runs the finally
    # below: processes stopped, temp removed, no result printed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    signal.signal(signal.SIGALRM, lambda *_: sys.exit("perfbench: run took too long"))
    signal.alarm(WATCHDOG_S)
    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    out_dir = os.path.join(ROOT, ".perfbench_out", f"{args.workload}-seed{args.seed}")
    if args.trace:
        os.makedirs(out_dir, exist_ok=True)
    ctx = Ctx(tmp=tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base),
              out_dir=out_dir, seed=args.seed, seconds=args.seconds,
              trace=bool(args.trace))
    try:
        out = WORKLOADS[args.workload](ctx)
    except Exception:  # noqa: BLE001 — no result line for a broken run
        traceback.print_exc()
        for w in ctx.workers:
            print(f"--- {w.name} stderr tail ---\n{w.tail()}", file=sys.stderr)
        return 1
    finally:
        signal.alarm(0)
        for w in ctx.workers:
            w.stop()
        shutil.rmtree(ctx.tmp, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass

    ops = out.warm_ops + [o for p in out.phases for o in p["ops"]]
    attempted = len(ops)
    failed = sum(o.failed for o in ops)
    correct = failed == 0 and not out.problems
    first = out.phases[0]
    untraced = summarize(first["ops"], first["start"])
    for line in report_lines(args, out, untraced, attempted, failed, correct):
        print(line)
    if args.trace:
        last = out.phases[-1]
        traced = summarize(last["ops"], last["start"])
        out.layer["trace.overhead_ms"] = traced["p50_geomean_ms"] - untraced["p50_geomean_ms"]
        write_trace_outputs(args, out, out_dir, untraced, traced)
        print(f"traced run: spans and per-layer table in {os.path.relpath(out_dir, ROOT)}/")
        metrics = {name: {"value": float(out.layer.get(name, 0.0)), "unit": unit}
                   for name, unit, *_ in CATALOGUE}
    else:
        values = {
            "setup_s": out.setup_s,
            "peak_rss_mb": out.peak_rss_mb,
            "ops_per_s": untraced["ops_per_s"],
            "p50_geomean_ms": untraced["p50_geomean_ms"],
        }
        metrics = {k: {"value": float(v), "unit": E2E_UNITS[k]} for k, v in values.items()}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
