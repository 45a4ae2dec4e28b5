#!/usr/bin/env python3
"""fxspark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload ingest_tick --seed 1 --seconds 18 --trace 0

Run from the root of a source tree. ``--trace 0`` prints the end-to-end
metrics named in ``BENCHMARK.json``, ``--trace 1`` the per-layer ones. The
last line of standard output is the result object; the line before it is
the run context (host, versions, effective Spark confs, calibration). See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str) -> dict:
    """Run as the CLI runs: ``get_spark()`` defaults with only
    ``SPARK_GRAFT_CPUS`` set, no ``FXSPARK_*`` override. Scratch files of
    Python, Spark and the JVM go under ``work``."""
    dropped = sorted(k for k in os.environ if k.startswith("FXSPARK_"))
    for k in dropped:
        del os.environ[k]
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {"dropped_env": dropped, "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"]}


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def source_identity() -> dict:
    """The git commit when there is one, and a digest of the program's
    sources, which a checkout without ``.git`` still has."""
    digest = hashlib.sha256()
    for d, _, files in sorted(os.walk(os.path.join(ROOT, "fxspark"))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    digest.update(f.encode() + b"\0" + fh.read())
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        done = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=30
        )
        commit = done.stdout.strip() or None
    return {"git_commit": commit, "source_sha256": digest.hexdigest()}


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def end_to_end(run, workloads) -> dict:
    samples = [v for vs in run.samples.values() for v in vs]
    medians = [statistics.median(vs) for vs in run.samples.values()]
    tail, pct = workloads.tail(samples)
    run.notes.update(
        op_samples=len(samples),
        op_tail_s=tail,
        op_tail_percentile=pct,
        kind_p50_s={k: statistics.median(vs) for k, vs in run.samples.items()},
        samples_s=dict(run.samples),
    )
    return {
        "setup_s": run.setup_s,
        "op_p50_s": workloads.op_p50(run.samples),
        "op_geomean_s": workloads.geomean(medians),
        "pass_s": sum(medians),
        "store_bytes_per_row": run.store_bytes_per_row,
        "ok_ratio": 1.0 - run.failed / run.attempted,
    }


def memory_mb(spark) -> dict:
    """Peak resident memory of this process and of the JVM, and the JVM
    heap in use after a full collection (what the session retains)."""
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    jvm.java.lang.System.gc()
    heap_mb = (rt.totalMemory() - rt.freeMemory()) / 2**20
    python_mb = vm_hwm_mb("self")
    jvm_mb = vm_hwm_mb(jvm.java.lang.ProcessHandle.current().pid())
    return {
        "peak_rss_mb": python_mb + jvm_mb,
        "python_peak_rss_mb": python_mb,
        "jvm_heap_after_gc_mb": heap_mb,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    # On SIGTERM, unwind through the finally below: stop Spark and its JVM.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"unknown workload {args.workload!r}; one of {names}", file=sys.stderr)
        return 2

    sys.path[:0] = [ROOT, HERE, os.path.join(ROOT, "tests")]
    import fxspark.session  # the program under test; absent outside a source tree
    import workloads

    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_1m_start": os.getloadavg()[0],
        **prepare_env(work),
        **source_identity(),
    }
    run = workloads.Run(args.seed, args.seconds, bool(args.trace), work, fxspark.session.get_spark)
    try:
        workloads.WORKLOADS[args.workload](run)
        spark = run.spark
        run.notes.update(memory_mb(spark))
        import pyspark

        context.update(
            pyspark=pyspark.__version__,
            shuffle_partitions=spark.conf.get("spark.sql.shuffle.partitions"),
            adaptive_enabled=spark.conf.get("spark.sql.adaptive.enabled"),
            driver_memory=spark.sparkContext.getConf().get("spark.driver.memory"),
            spark_confs=dict(sorted(spark.sparkContext.getConf().getAll())),
        )
        if args.trace:
            metrics = workloads.layer_metrics(run)
            wanted = spec["per_layer"]
            trace_dir = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            run.tracer.dump(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.jsonl"))
        else:
            metrics = end_to_end(run, workloads)
            wanted = spec["end_to_end"]
    finally:
        try:
            if run.spark is not None:
                stop_spark(run.spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    unknown = set(metrics) - {m["name"] for m in wanted}
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    context.update(run.notes, loadavg_1m_end=os.getloadavg()[0], problems=run.problems)
    print(json.dumps({"context": context}, sort_keys=True, default=str))
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {
            m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in wanted
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
