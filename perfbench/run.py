"""Seeded benchmark of the cellspark engine (``hbase_spark``).

    python3 perfbench/run.py --workload versioned_rw --seed 1 --seconds 20 --trace 0

Run from the repository root.  Workloads: ``versioned_rw`` and
``doc_dedup`` (see each module's docstring and ``BENCHMARK.json``).
One process, one closed-loop client, Spark in ``local[<cores>]``; the
client runs whole cycles of its workload until ``--seconds`` have
passed.  The last stdout line is one JSON object: with ``--trace 0``
the end-to-end metrics, with ``--trace 1`` the per-layer metrics of a
run that traces every op (its spans go to ``.perfbench_out/``).
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3

WORKLOADS = {
    "versioned_rw": ("versioned_rw", "VersionedRW"),
    "doc_dedup": ("doc_dedup", "DocDedup"),
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    for need in ("hbase_spark/__init__.py", "tests/spec.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a full checkout",
                  file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    from harness import Run, fit_env, start_session, stop_session
    from metrics import END_TO_END, PER_LAYER, median, result_line, tail

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    host = fit_env(work)
    spark = None
    try:
        spark, session_s = start_session()
        mod_name, cls_name = WORKLOADS[args.workload]
        run = Run(spark, work, args.seed, bool(args.trace))
        wl = getattr(importlib.import_module(mod_name), cls_name)(run)
        setups = [wl.setup_once(r) for r in range(SETUP_REPS)]
        setup_s = session_s + median(setups)
        p0 = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - p0

        failed_ops = 0

        def step():
            nonlocal failed_ops
            try:
                wl.step()
            except Exception:  # noqa: BLE001 — a failed op is counted, the loop goes on
                failed_ops += 1
                traceback.print_exc(file=sys.stderr)

        run.loop(args.seconds, step)
        attempted = len(run.ops) + failed_ops + run.checks
        failed = failed_ops + run.failed_checks

        if args.trace:
            values = {name: 0.0 for name, _ in PER_LAYER}
            values["sources.tables.session_start_ms"] = 1e3 * session_s
            values["table.error_rate"] = failed / max(attempted, 1)
            values.update(run.spark_layer(wl.READ_KINDS, wl.WRITE_KINDS))
            values.update(wl.layers())
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            run.tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))
            names = PER_LAYER
        else:
            values = run.end_to_end(setup_s, wl.READ_KINDS, wl.WRITE_KINDS)
            names = END_TO_END

        print(f"host: cpus={host['cpus']} heap={host['heap_gb']}g spark={spark.version} "
              f"session_start_s={session_s:.3f} setup_reps_s={[round(s, 3) for s in setups]} "
              f"warm_up_s={prepare_s:.3f}")
        for kind in sorted({o.kind for o in run.ops}):
            secs = run.kind_seconds(kind)
            p, t = tail(secs)
            tail_txt = f"p{p}" if p is not None else "max"
            print(f"op {kind}: n={len(secs)} p50_ms={1e3 * median(secs):.1f} "
                  f"tail({tail_txt})_ms={1e3 * t:.1f}")
        for what in run.failures:
            print(f"check failed: {what}")
        result = result_line(values, names, attempted=attempted, failed=failed)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
