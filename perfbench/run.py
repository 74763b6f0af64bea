"""Seeded end-to-end benchmark of the openelevationservice_spark engine.

Usage, from the repository root:

    python3 perfbench/run.py --workload elevation --seed 1 --seconds 1 --trace 0

One process, one Spark session at ``local[<cores>]``, one client thread.
The last line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of ``BENCHMARK.json`` (``--trace 0``) or its
per-layer metrics (``--trace 1``).  The line before it holds the details:
every operation's samples, medians and tail, the error rate, the
effective Spark settings and the input sizes.  Traced runs also write
their spans to ``.perfbench/trace-<workload>-<seed>.json``.  The exit
code is 1 when any output check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"

# Spark settings echoed in the details line
REPORTED_CONF = ("spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
                 "spark.default.parallelism", "spark.sql.adaptive.enabled",
                 "spark.sql.execution.arrow.maxRecordsPerBatch",
                 "spark.sql.autoBroadcastJoinThreshold", "spark.driver.extraJavaOptions",
                 "spark.local.dir")


def driver_memory() -> str:
    """An eighth of physical RAM, between 1 and 8 GiB: the package
    default heap is sized for a larger machine."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mib = min(max(phys // 8 // 2**20, 1024), 8192)
    return f"{mib}m"


def session_conf(cores: int, tmp: Path) -> dict[str, str]:
    return {
        "spark.driver.memory": driver_memory(),
        # every file the JVM writes stays inside the run's own directory
        "spark.driver.extraJavaOptions":
            f"-XX:ActiveProcessorCount={cores} -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.local.dir": str(tmp / "local"),
        "spark.sql.warehouse.dir": str(tmp / "warehouse"),
    }


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()   # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)


def wait_gone(pids, timeout: float = 60.0) -> None:
    end = time.monotonic() + timeout
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < end:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break   # exited, waiting for its parent to reap it
            except OSError:
                break
            time.sleep(0.05)


def measure(args, cores: int, tmp: Path) -> dict:
    from openelevationservice_spark.plans.session import build_session

    import workloads as wl
    from spans import RssSampler, heap_live_bytes

    w_cls = wl.WORKLOADS[args.workload]
    with RssSampler() as rss:
        t0 = time.perf_counter()
        spark = build_session(app=f"perfbench-{args.workload}", cpus=cores,
                              extra=session_conf(cores, tmp))
        session_s = time.perf_counter() - t0
        try:
            w = w_cls(spark, args.seed, tmp / "inputs")
            data_s = w.setup(bool(args.trace))
            t0 = time.perf_counter()
            w.warmup()
            warm_s = time.perf_counter() - t0
            setup_s = session_s + data_s + warm_s
            conf = spark.sparkContext.getConf()
            settings = {k: conf.get(k, None) for k in REPORTED_CONF}
            if not args.trace:
                w.timed(args.seconds)
                out = {"samples": w.samples,
                       "heap_live_mb": heap_live_bytes(spark.sparkContext) / 2**20}
            else:
                w.trace_loop(args.seconds)
                out = {"samples": w.samples, "layers": layer_metrics(w, spark, session_s)}
                WORK.mkdir(exist_ok=True)
                w.tracer.dump(str(WORK / f"trace-{args.workload}-{args.seed}.json"))
        finally:
            stop_spark(spark)
    wait_gone(sorted(rss.seen))
    out.update(setup_s=setup_s, setup_parts={"session_s": session_s, "data_s": data_s,
                                             "warmup_s": warm_s},
               peak_rss_mb=rss.peak / 2**20, python_peak_mb=rss.python_peak / 2**20,
               attempted=w.attempted,
               failed=w.failed, failures=w.failures, settings=settings, op_names=w.OPS)
    return out


def layer_metrics(w, spark, session_s: float) -> dict:
    """Per-layer metrics of a traced run; a layer the workload does not
    run reports 0."""
    import workloads as wl
    from spans import action_overhead_s

    reps = wl.SETUP_REPS
    parts = w.setup_parts
    m = {"session.start_s": session_s,
         "sources.tiles_generate_s": sum(parts.get("sources.tiles_generate", [])) / reps,
         "sources.cache_s": sum(parts.get("sources.cache", [])) / reps,
         "sources.tiles_bytes": 0, "sample.pixel_index_s":
             sum(parts.get("sample.pixel_index", [])) / reps,
         "sample.pixel_index_bytes": 0,
         "sample.py_total_s": w.layer_plan.get("sample.pixel_index", {}).get("py_total_s", 0.0)}
    if w.uses_tiles:
        from pyspark.sql import functions as F
        m["sources.tiles_bytes"] = w.images.agg(F.sum(F.length("bytes"))).collect()[0][0]
        m["sample.pixel_index_bytes"] = 2 * w.pix.agg(F.sum(F.size("pix"))).collect()[0][0]
    tops = [s for s in w.tracer.spans if s.parent is None]
    traced = sum(wl.median(w.samples["traced:" + n]) for n in w.OPS)
    plain = sum(wl.median(w.samples[n]) for n in w.OPS)
    m.update({
        "spark.action_overhead_s": action_overhead_s(spark),
        "spark.jobs_per_call": sum(s.jobs for s in tops) / len(tops),
        "spark.stages_per_call": sum(s.stages for s in tops) / len(tops),
        "spark.tasks_per_call": sum(s.tasks for s in tops) / len(tops),
        "spark.gc_s": w.gc_s / sum(len(w.samples[n]) for n in w.OPS),
        "trace.overhead_frac": traced / plain - 1,
    })
    m.update(w.layer_metrics())
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("elevation", "dedup"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "openelevationservice_spark").is_dir():
        print(f"perfbench: no openelevationservice_spark package next to {HERE}",
              file=sys.stderr)
        return 2
    # metric names and units are declared once, in BENCHMARK.json
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    sys.path.insert(0, str(ROOT))
    cores = len(os.sched_getaffinity(0))
    tmp = WORK / f"tmp-{os.getpid()}"
    tmp.mkdir(parents=True)
    # Python-side temporary files (py4j handshake, broadcast spills) too
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "local")
    tempfile.tempdir = str(tmp)
    try:
        r = measure(args, cores, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    import workloads as wl

    samples = r["samples"]
    ops = r["op_names"]
    detail = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "settings": r["settings"], "inputs": wl.inputs.SIZES,
        "setup_parts_s": r["setup_parts"], "peak_rss_mb": r["peak_rss_mb"],
        "heap_live_mb": r.get("heap_live_mb"),
        "python_peak_mb": r["python_peak_mb"],
        "error_rate": r["failed"] / max(r["attempted"], 1),
        "failures": r["failures"],
        "per_op": {n: {"median_s": wl.median(samples.get(n, [])),
                       "tail": wl.tail(samples.get(n, [])),
                       "samples_s": samples.get(n, [])} for n in ops},
    }
    reqs = [x for n in ops if n.endswith("_request") for x in samples[n]]
    if reqs:
        t = wl.tail(reqs)
        detail.update(request_p50_ms=wl.median(reqs) * 1e3,
                      request_tail_ms={**t, "value": t["value"] and t["value"] * 1e3},
                      requests_per_s=len(reqs) / sum(reqs))
    declared = spec["per_layer" if args.trace else "end_to_end"]
    if args.trace:
        unknown = set(r["layers"]) - {m["name"] for m in declared}
        if unknown:
            raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        # a layer this workload does not run did no work: 0
        values = {m["name"]: 0.0 for m in declared} | r["layers"]
        detail["traced_samples_s"] = {k: v for k, v in samples.items() if k not in ops}
    else:
        medians = [wl.median(samples[n]) for n in ops]
        values = {"setup_s": r["setup_s"],
                  "round_s": sum(medians),
                  "call_gmean_s": statistics.geometric_mean(medians),
                  "mem_mb": r["heap_live_mb"] + r["python_peak_mb"]}
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
               for m in declared}
    correct = r["failed"] == 0
    print(json.dumps({"perfbench": detail}))
    print(json.dumps({"correct": correct, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
