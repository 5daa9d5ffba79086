"""Benchmark entry point.

    python3 perfbench/run.py --workload warehouse_build --seed 1 --seconds 5 --trace 0

Run from the repository root. One run is one fresh process: it writes
the workload's inputs from ``--seed``, sets the Spark session up three
times (the median is ``setup_s``), then runs passes of the workload's
operations, one closed-loop client on ``local[nproc]``, until
``--seconds`` have elapsed (at least one pass), checks every output
against DuckDB and prints one JSON line. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` runs the same passes with spans and
Spark stage counters on, reports the per-layer metrics and writes the
spans to ``.perfbench/traces/``. Everything the run writes stays under
``.perfbench/`` in the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import numpy as np

SETUPS = 3


def _end_to_end(setups, passes) -> dict:
    from perfbench.harness import median

    ops = [op for ops in passes for op in ops]
    return {
        "setup_s": (median(setups), "s"),
        "pass_s": (median(sum(op.seconds for op in ops_) for ops_ in passes), "s"),
        "op_p50_ms": (median(op.seconds for op in ops) * 1000.0, "ms"),
    }


def _per_layer(wl, tracer, passes, busy, rss) -> dict:
    """Per-pass layer totals from the spans, median over passes."""
    from perfbench.harness import median
    from perfbench.workloads import PLAN_MODULES, STAR_TABLES, TRAINERS

    per_pass = []
    for i in range(len(passes)):
        recs = [tracer.totals(s) | {"name": s["name"]} for s in tracer.spans if s["pass"] == i]
        by = lambda prefix: [r for r in recs if r["name"].startswith(prefix)]  # noqa: E731
        total = lambda rs, k: sum(r[k] for r in rs)  # noqa: E731
        m = {"bench.traced_pass_s": sum(op.seconds for op in passes[i]),
             "driver.peak_rss_mb": rss, "driver.gc_s": busy[i][0], "driver.jit_s": busy[i][1],
             "host.steal_s": busy[i][2]}
        written = total(recs, "output_bytes") + total(recs, "shuffle_write_bytes") + total(recs, "spill_bytes")
        out_bytes = wl.output_bytes()
        m["sources.scan_amplification"] = total(recs, "input_bytes") / wl.input_bytes
        m["sources.write_amplification"] = written / out_bytes if out_bytes else 0.0
        for name in ("sources.read_json_lines", "etl.enrich", "etl.build_star"):
            m[f"{name}.wall_s"] = total(by(name), "wall_s")
        for t in STAR_TABLES:
            rs = by(f"etl.materialize_star.{t}")
            for k in ("wall_s", "jobs", "input_bytes"):
                m[f"etl.materialize_star.{t}.{k}"] = total(rs, k)
        rs = by("sources.write_sql_inserts.")
        for k in ("wall_s", "jobs", "output_bytes"):
            m[f"sources.write_sql_inserts.{k}"] = total(rs, k)
        b, e = by("plans.query.build"), by("plans.query.exec")
        m.update({
            "plans.query.build_s": total(b, "wall_s"), "plans.query.exec_s": total(e, "wall_s"),
            "plans.query.build_jobs": total(b, "jobs"), "plans.query.exec_jobs": total(e, "jobs"),
        })
        for k in ("stages", "tasks", "idle_core_s", "executor_run_s", "shuffle_write_bytes"):
            m[f"plans.query.{k}"] = total(b + e, k)
        for name, _, _ in TRAINERS:
            rs = by(f"train.{name}")
            m[f"train.{name}.wall_s"] = total(rs, "wall_s")
            m[f"train.{name}.jobs"] = total(rs, "jobs")
        for mod in PLAN_MODULES:
            b, e = by(f"plans.{mod}.build"), by(f"plans.{mod}.exec")
            m[f"plans.{mod}.build_s"] = total(b, "wall_s")
            m[f"plans.{mod}.exec_s"] = total(e, "wall_s")
            for k in ("jobs", "executor_run_s", "shuffle_write_bytes", "spill_bytes", "idle_core_s"):
                m[f"plans.{mod}.{k}"] = total(b + e, k)
        per_pass.append(m)
    units = {"_s": "s", "_mb": "MB", "jobs": "count", "stages": "count", "tasks": "count",
             "_bytes": "bytes", "amplification": "ratio"}
    out = {}
    for k in per_pass[0]:
        unit = next(u for suffix, u in units.items() if k.endswith(suffix))
        out[k] = (median(m[k] for m in per_pass), unit)
    return out


def _stop_jvm(spark) -> None:
    """End the driver JVM and wait for it: the gateway exits when its
    stdin closes, and takes its Python worker daemon with it."""
    proc = spark.sparkContext._gateway.proc
    proc.stdin.close()
    proc.wait(timeout=60)


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def run(workload: str, seed: int, seconds: float, trace: bool, root: str) -> dict:
    from perfbench.harness import (
        Tracer, jvm_busy_s, new_session, peak_rss_mb, steal_s, warm_workers)
    from perfbench.workloads import WORKLOADS

    work = os.path.join(root, ".perfbench", f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    spark = None
    try:
        t0 = time.perf_counter()
        wl = WORKLOADS[workload](work, np.random.default_rng(seed))
        _log(f"inputs written in {time.perf_counter() - t0:.2f} s")
        setups = []
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = new_session(work)
            spark.range(1).count()
            warm_workers(spark)
            wl.setup(spark)
            setups.append(time.perf_counter() - t0)
        _log(f"set-ups (s): {', '.join(f'{x:.2f}' for x in setups)}")

        run_id = f"{workload}-seed{seed}-trace{int(trace)}"
        tracer = Tracer(spark, trace, run_id)
        # no warm-up: each run is one batch job in a fresh driver, so
        # the first pass pays class loading and JIT as a user's job does
        passes, busy = [], []
        t_start = time.perf_counter()
        while not passes or time.perf_counter() - t_start < seconds:
            first, before = len(tracer.spans), (*jvm_busy_s(spark), steal_s())
            passes.append(wl.run_pass(spark, tracer))
            busy.append([b - a for a, b in zip(before, (*jvm_busy_s(spark), steal_s()))])
            for s in tracer.spans[first:]:
                s["pass"] = len(passes) - 1
        rss = peak_rss_mb(spark)

        all_ops = [op for ops in passes for op in ops]
        _log(f"{len(passes)} pass(es) in {time.perf_counter() - t_start:.2f} s; "
             f"driver JVM GC, JIT and host steal time (s): {busy}")
        t0 = time.perf_counter()
        failed = sum(op.error is not None for op in all_ops)
        failed += wl.check(all_ops)
        _log(f"outputs checked in {time.perf_counter() - t0:.2f} s")
        for op in all_ops:
            _log(f"{op.name}: {op.seconds:.3f} s" + (f" FAILED {op.error}" if op.error else ""))
        if trace:
            metrics = _per_layer(wl, tracer, passes, busy, rss)
            tracer.write(os.path.join(root, ".perfbench", "traces", f"{run_id}.json"))
        else:
            metrics = _end_to_end(setups, passes)
        return {
            "correct": failed == 0,
            "attempted": len(all_ops),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            "inputs": {"rows": wl.inputs, "bytes": wl.input_bytes, "passes": len(passes),
                       "cores": spark.sparkContext.defaultParallelism},
        }
    finally:
        if spark is not None:
            spark.stop()
            _stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    try:
        import scraping_etl_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable from {root}: {exc}", file=sys.stderr)
        return 2
    result = run(args.workload, args.seed, args.seconds, bool(args.trace), root)
    info = result.pop("inputs")
    print(f"inputs: {json.dumps(info, sort_keys=True)}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.getcwd())
    sys.exit(main())
