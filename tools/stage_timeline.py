"""Per-job stage timeline of a warm KG build, with deserialization time.

Runs one cold and one warm ``build_graph`` over ``generate_corpus(n,
seed)`` (written as parquet files of contiguous conversations) and
prints, for every Spark job of the warm build, its stages with task
count, wall span, executor run time, JVM CPU time and executor
deserialization time. The figures come from the application status
store after the build, which works with the Spark UI off. Fixed
per-task costs (task deserialization, write set-up) show here as
``deser_s`` and as run time far above JVM CPU on stages that move few
rows.

Usage: python tools/stage_timeline.py [--n 2000] [--seed 901] [--cores N]
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def _opt_ms(opt) -> int | None:
    """Epoch ms of a Scala ``Option[java.util.Date]``, or None."""
    return int(opt.get().getTime()) if opt.isDefined() else None


def _stages(spark) -> dict[int, dict]:
    """Latest attempt of every stage in the status store, by stage id."""
    sc = spark.sparkContext
    gw = sc._gateway
    store = sc._jsc.sc().statusStore()
    lst = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
    out: dict[int, dict] = {}
    for i in range(lst.size()):
        s = lst.apply(i)
        sid, attempt = int(s.stageId()), int(s.attemptId())
        if sid in out and out[sid]["attempt"] > attempt:
            continue
        sub, end = _opt_ms(s.submissionTime()), _opt_ms(s.completionTime())
        out[sid] = {
            "attempt": attempt,
            "status": str(s.status()),
            "tasks": int(s.numCompleteTasks()),
            "wall_s": (end - sub) / 1e3 if sub is not None and end is not None else 0.0,
            "run_s": int(s.executorRunTime()) / 1e3,
            "cpu_s": int(s.executorCpuTime()) / 1e9,
            "deser_s": int(s.executorDeserializeTime()) / 1e3,
            "start": sub,
        }
    return out


def _jobs(spark, lo: int, hi: int) -> list[dict]:
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        jid = int(j.jobId())
        if lo <= jid < hi:
            ids = j.stageIds().mkString(",")
            out.append({
                "job": jid,
                "stages": sorted(int(s) for s in ids.split(",")) if ids else [],
                "start": _opt_ms(j.submissionTime()),
                "end": _opt_ms(j.completionTime()),
            })
    return sorted(out, key=lambda j: j["job"])


def print_timeline(spark, lo: int, hi: int, t0_ms: int) -> None:
    """Print jobs ``lo <= id < hi`` with their stages; times are seconds
    since ``t0_ms`` (epoch ms)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30000)
    stages = _stages(spark)
    print(f"{'job':>4} {'stage':>5} {'status':>8} {'tasks':>5} {'start':>7} "
          f"{'wall':>6} {'run':>7} {'cpu':>7} {'deser':>7}")
    tot = {"stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "deser_s": 0.0}
    for j in _jobs(spark, lo, hi):
        for sid in j["stages"]:
            s = stages.get(sid)
            if s is None or s["status"] == "SKIPPED":
                continue
            start = (s["start"] - t0_ms) / 1e3 if s["start"] is not None else float("nan")
            print(f"{j['job']:>4} {sid:>5} {s['status']:>8} {s['tasks']:>5} {start:>7.2f} "
                  f"{s['wall_s']:>6.2f} {s['run_s']:>7.2f} {s['cpu_s']:>7.2f} {s['deser_s']:>7.2f}")
            tot["stages"] += 1
            for k in ("tasks", "run_s", "cpu_s", "deser_s"):
                tot[k] += s[k]
    print(f"jobs {hi - lo}  stages {tot['stages']}  tasks {tot['tasks']}  "
          f"run {tot['run_s']:.2f} s  cpu {tot['cpu_s']:.2f} s  deser {tot['deser_s']:.2f} s")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--n", type=int, default=2000, help="conversations")
    ap.add_argument("--seed", type=int, default=901)
    ap.add_argument("--cores", type=int, default=os.cpu_count() or 4)
    args = ap.parse_args(argv)

    from pysql2neo4j_spark.corpus import generate_corpus
    from pysql2neo4j_spark.plans.pipeline import PipelineConfig, build_graph
    from pysql2neo4j_spark.session import get_spark
    from pysql2neo4j_spark.sources.transcripts import read_transcripts

    work = tempfile.mkdtemp(prefix="stage_timeline_")
    spark = get_spark(master=f"local[{args.cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        cfg = PipelineConfig(n_buckets=max(args.cores, 8))
        pdf, _ = generate_corpus(args.n, args.seed)
        pdf = pdf.sort_values(["conv_id", "turn_idx"], kind="stable").reset_index(drop=True)
        src = os.path.join(work, "src")
        os.makedirs(src)
        step = -(-len(pdf) // cfg.n_buckets)
        for i in range(cfg.n_buckets):
            chunk = pdf.iloc[i * step:(i + 1) * step]
            if len(chunk):
                chunk.to_parquet(os.path.join(src, f"part-{i:05d}.parquet"), index=False)

        dag = spark.sparkContext._jsc.sc().dagScheduler()
        for label in ("cold", "warm"):
            lo, t0 = int(dag.numTotalJobs()), time.time()
            build_graph(spark, read_transcripts(spark, src), os.path.join(work, label), cfg,
                        resume=False)
            wall = time.time() - t0
            print(f"{label} build: {len(pdf)} turns, {wall:.2f} s, "
                  f"{int(dag.numTotalJobs()) - lo} jobs")
        print(f"\nwarm build stages (local[{args.cores}], times in s since the build began):")
        print_timeline(spark, lo, int(dag.numTotalJobs()), int(t0 * 1e3))
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
