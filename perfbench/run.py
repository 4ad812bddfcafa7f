#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload build|append --seed N --seconds S --trace 0|1

Run from the repository root. The run works only inside the checkout:
inputs, outputs, Spark local dirs and temp files go under
``.perfbench_run/``; the run's record (environment, checks, spans) is
written to ``.perfbench_run/results/``.

Untraced runs (``--trace 0``) print the end-to-end metrics; traced runs
(``--trace 1``) wrap each layer call in a span and print the per-layer
metrics. The last line is one JSON object:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_DIR = os.path.join(ROOT, ".perfbench_run")
# a run must end well inside the 180 s a caller allows it
WATCHDOG_S = 170


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["build", "append"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs, for the benchmark's own tests")
    return p.parse_args(argv)


def _environ() -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers import the package from the repository root."""
    os.chdir(ROOT)
    for d in ("spark-local", "tmp", "results"):
        os.makedirs(os.path.join(RUN_DIR, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(RUN_DIR, "spark-local")
    os.environ["TMPDIR"] = os.path.join(RUN_DIR, "tmp")
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    sys.path.insert(0, ROOT)


def _abort(signum, frame) -> None:
    """Kill every process the run started and exit without a result: on
    the watchdog's alarm, or when the run itself is terminated."""
    from perfbench.harness import descendants

    why = f"exceeded {WATCHDOG_S} s" if signum == signal.SIGALRM else f"got signal {signum}"
    print(f"perfbench: run {why}; killing it", file=sys.stderr)
    for p in descendants(os.getpid()):
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    os._exit(3)


def _timed_loop(wl, seconds: float, max_ops: int, rss):
    """Closed loop: start operations until ``seconds`` have passed (at
    least one). Returns per-op walls, CPU seconds of the process tree
    (less the RSS sampler's own) and turns published, ops attempted and
    ops failed."""
    from perfbench.harness import tree_cpu_s

    walls, cpus, turns_done, attempted, failed = [], [], [], 0, 0
    deadline = time.perf_counter() + seconds
    while attempted < max_ops and (attempted == 0 or time.perf_counter() < deadline):
        wl.prepare()
        attempted += 1
        cpu0 = tree_cpu_s() - rss.cpu_s
        t0 = time.perf_counter()
        try:
            turns = wl.op()
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            traceback.print_exc()
            failed += 1
            continue
        walls.append(time.perf_counter() - t0)
        cpus.append(tree_cpu_s() - rss.cpu_s - cpu0)
        turns_done.append(turns)
    return walls, cpus, turns_done, attempted, failed


def main(argv: list[str]) -> int:
    args = _parse(argv)
    t_start = time.perf_counter()
    if not os.path.isdir(os.path.join(ROOT, "pysql2neo4j_spark")):
        print(f"perfbench: no pysql2neo4j_spark package under {ROOT}", file=sys.stderr)
        return 2
    _environ()
    for sig in (signal.SIGALRM, signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, _abort)
    signal.alarm(WATCHDOG_S)

    from perfbench import metrics
    from perfbench.harness import (
        RssSampler, cpu_times, descendants, environment, nproc, reap, start_spark,
        steal_share, stop_spark,
    )
    from perfbench.tracing import Tracer
    from perfbench.workloads import MAX_OPS, SIZES, WORKLOADS

    run_id = uuid.uuid4().hex[:12]
    work = os.path.join(RUN_DIR, f"work-{run_id}")
    tracer = Tracer(run_id, enabled=bool(args.trace))
    started: list[int] = []
    cores = nproc()
    record: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                    "run_id": run_id, "smoke": args.smoke}
    try:
        with RssSampler() as rss:
            with tracer.span("session.get_spark"):
                spark = start_spark(cores)
            try:
                tracer.attach(spark)
                wl = WORKLOADS[args.workload](
                    spark, work, args.seed, SIZES["smoke" if args.smoke else "full"],
                    tracer, cores)
                wl.setup()
                setup_s = time.perf_counter() - t_start
                cpu0 = cpu_times()
                walls, cpus, turns, n_ops, n_failed = _timed_loop(
                    wl, args.seconds, MAX_OPS, rss)
                record["timed_cpu_steal_share"] = steal_share(cpu0, cpu_times())
                if not walls:
                    raise RuntimeError("every timed operation failed")
                if args.trace:
                    wl.probes()
                    counters = tracer.rollup(cores)
                checks = wl.check()
                record.update(environment=environment(spark, args.seed), sizes=wl.info,
                              pipeline_config=vars(wl.cfg), op_walls_s=walls, op_cpu_s=cpus,
                              checks=checks)
            finally:
                started = descendants(os.getpid())
                stop_spark(spark)
    finally:
        reap(started)
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        values = metrics.per_layer_values(
            tracer, wl.op_span, counters,
            {"run.peak_rss_mb": rss.peak_mb, "run.op_cpu_s": metrics.median(cpus),
             "run.cpu_steal_share": record["timed_cpu_steal_share"]})
        units = {k: u for k, (u, _) in metrics.per_layer().items()}
        record["spans"] = tracer.records()
    else:
        values = {
            "setup_s": setup_s,
            "turns_per_s": metrics.median([n / w for n, w in zip(turns, walls)]),
            "publish_p50_s": metrics.median(walls),
        }
        units = {k: u for k, (u, _) in metrics.END_TO_END.items()}
    failed_checks = sum(not c["ok"] for c in checks)
    result = {
        "correct": failed_checks == 0 and n_failed == 0,
        "attempted": n_ops + len(checks),
        "failed": n_failed + failed_checks,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }
    record["peak_rss_mb"] = rss.peak_mb
    record["peak_rss_by_process_mb"] = rss.peak_by_process
    record["rss_sampler_cpu_s"] = rss.cpu_s
    record["result"] = result
    out = os.path.join(RUN_DIR, "results",
                       f"{args.workload}-seed{args.seed}-trace{args.trace}-{run_id}.json")
    with open(out, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    env = {k: v for k, v in record["environment"].items() if k != "spark_conf"}
    print(json.dumps({"record": out, "environment": env, "sizes": record["sizes"],
                      "checks": checks, "op_walls_s": walls, "op_cpu_s": cpus,
                      "timed_cpu_steal_share": record["timed_cpu_steal_share"]}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
