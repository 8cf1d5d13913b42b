"""Benchmark of the clip constraint suite: batch and streaming.

Usage (from the repository root):

    python3 perfbench/run.py --workload suite_batch --seed 1 --seconds 10 --trace 0

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` records spans
and Spark's accounting around every public call, writes the span file to
``perfbench/out/`` and reports the per-layer metrics instead. The last
line of standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it is the full
report (host record, sample counts, every metric by name with its unit).
Progress and Spark's own messages go to standard error. See
``perfbench/README.md`` for the metrics and what each should move.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time

from spans import COUNT_KEYS, Tracer, median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_HEAP = "2g"


def metric_units(section: str) -> dict[str, str]:
    """Names and units of the metrics in one section of BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def _proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _proc_children(), [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _status_field(pid: int, field: str) -> str | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return None


def peak_rss_mib() -> float:
    """Sum of VmHWM over this process, the Spark JVM and its Python
    workers (every live descendant)."""
    kb = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        v = _status_field(pid, "VmHWM")
        if v:
            kb += int(v.split()[0])
    return kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait until it and every process
    it started have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in kids:
        while _status_field(pid, "State") not in (None, "Z (zombie)"):
            if time.time() > deadline:
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass
                break
            time.sleep(0.1)


def host_record(spark, cpus: int, seed: int) -> dict:
    import pyspark

    mem = None
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem = line.split(":", 1)[1].strip()
    commit = None
    if os.path.exists(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                text=True, timeout=10,
            ).stdout.strip() or None
        except OSError:
            pass
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total": mem,
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "driver_heap": os.environ.get("SPARK_DRIVER_MEM"),
        "cpus": cpus,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "commit": commit,
        "seed": seed,
    }


def call_stats(tr, name: str, warm_only: bool = False) -> tuple[float, dict]:
    """Median wall and median Spark counts of the spans called ``name``.
    ``warm_only`` leaves out calls made inside a run's cold unit."""
    calls = [s for s in tr.named(name)
             if not warm_only or s["parent"] is None
             or tr.spans[s["parent"]].get("warm", True)]
    counted = [s["spark"] for s in calls if "spark" in s]
    spark = ({k: median([c[k] for c in counted]) for k in counted[0]}
             if counted else {})
    return median([s["end"] - s["start"] for s in calls]), spark


def layer_metrics(tr, run, probes: tuple[str, ...]) -> dict:
    """The per-layer metrics every workload reports. Unit metrics are
    medians over the warm units, each unit summing the Spark
    counts of the calls inside it."""
    per_unit = []
    for u in tr.spans:
        if not u.get("warm"):
            continue
        tot = dict.fromkeys(COUNT_KEYS, 0)
        tot["wall_s"] = u["end"] - u["start"]
        for k in tr.spans:
            if k["parent"] == u["id"] and "spark" in k:
                for key in COUNT_KEYS:
                    tot[key] += k["spark"][key]
        tot["slot_busy_share"] = tot["executor_run_s"] / (
            tot["wall_s"] * run.spark.sparkContext.defaultParallelism)
        per_unit.append(tot)
    out = {
        f"unit.{key}": median([u[key] for u in per_unit])
        for key in ("wall_s", *COUNT_KEYS, "slot_busy_share")
    }
    wall, spark = call_stats(tr, "constraints.run_suite", warm_only=True)
    out["suite.run_suite_s"] = wall
    out["suite.jobs"] = spark.get("jobs", 0)
    out["suite.violations"] = run.report.get("suite.violations", 0)
    out["suite.failed_verdicts"] = run.report.get("suite.failed_verdicts", 0)
    out["session.get_spark_s"] = call_stats(tr, "session.get_spark")[0]
    out["datagen.snapshot_write_s"] = call_stats(tr, "datagen.snapshot_write")[0]
    for name in probes:
        out[f"{name}_s"] = call_stats(tr, name)[0]
    out["trace.overhead_s"] = tr.overhead_s
    return out


def named_layer_metrics(tr, layers: dict) -> dict:
    """The per-layer figures a workload has beyond the shared set, under
    the names later changes cite (see README.md)."""
    out = {}
    _, spark = call_stats(tr, "constraints.run_suite", warm_only=True)
    for k, v in spark.items():
        out[f"suite.{k}"] = v
    if tr.named("sources.catalog.merge_upsert"):
        wall, spark = call_stats(tr, "sources.catalog.merge_upsert", warm_only=True)
        out["catalog.merge_upsert_s"] = wall
        out["catalog.merge_upsert.shuffle_write_bytes"] = spark["shuffle_write_bytes"]
    if tr.named("streaming.run_suite_stream"):
        out["suite_stream.arrival_s"] = layers["unit.wall_s"]
        for k in ("jobs", "stages", "tasks", "shuffle_write_bytes"):
            out[f"suite_stream.{k}_per_arrival"] = layers[f"unit.{k}"]
        out["suite_stream.slot_busy_share"] = layers["unit.slot_busy_share"]
        _, spark = call_stats(tr, "streaming.streaming_suite_result")
        out["suite_stream.assemble_jobs"] = spark.get("jobs", 0)
        wall, _ = call_stats(tr, "streaming.process_suite_batch")
        out["suite_stream.process_batch_s"] = wall
        out["suite_stream.trigger_overhead_s"] = layers["unit.wall_s"] - wall
    return out


def span_summary(tr) -> dict:
    """Every span name: call count, median wall, total self time and the
    median Spark counts of its calls."""
    self_s = tr.self_times()
    out = {}
    for name in dict.fromkeys(s["name"] for s in tr.spans):
        wall, spark = call_stats(tr, name)
        out[name] = {"calls": len(tr.named(name)), "median_s": wall,
                     "self_s": self_s[name]}
        if spark:
            out[name]["spark"] = spark
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "pyanomalydetector2_spark")):
        print(f"perfbench: no pyanomalydetector2_spark package under {ROOT}",
              file=sys.stderr)
        return 2

    # everything a run writes stays in its own directory under perfbench/,
    # removed when the run ends
    run_dir = os.path.join(HERE, "tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        # no hsperfdata file: the JVM would write it under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_ICEBERG_WAREHOUSE": os.path.join(run_dir, "iceberg"),
        # Python workers import the package from the repository root
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        # the session pre-touches its whole heap; 2 GiB leaves the host room
        "SPARK_DRIVER_MEM": DRIVER_HEAP,
    })
    sys.path.insert(0, ROOT)

    import workloads

    fn = workloads.WORKLOADS.get(args.workload)
    if fn is None:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 2

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    tr = Tracer(bool(args.trace))
    run = None
    try:
        run = workloads.Run(args.workload, args.seed, args.seconds, tr,
                            run_dir, cpus)
        e2e = fn(run)
        samples = e2e.pop("_samples")
        e2e["peak_rss_mib"] = peak_rss_mib()
        host = host_record(run.spark, cpus, args.seed)
        report = {
            "workload": args.workload,
            "trace": args.trace,
            "host": host,
            "samples": samples,
            "end_to_end": e2e,
            "details": run.report,
        }
        if tr.enabled:
            layers = layer_metrics(tr, run, workloads.PROBES)
            report["per_layer"] = layers
            report["details"].update(named_layer_metrics(tr, layers))
            report["spans"] = span_summary(tr)
            out_dir = os.path.join(HERE, "out")
            os.makedirs(out_dir, exist_ok=True)
            span_file = os.path.join(
                out_dir, f"spans-{args.workload}-seed{args.seed}.json")
            tr.write(span_file)
            report["span_file"] = os.path.relpath(span_file, ROOT)
            values, units = layers, metric_units("per_layer")
        else:
            values, units = e2e, metric_units("end_to_end")
    finally:
        if run is not None:
            stop_spark(run.spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    correct = run.failed == 0 and run.attempted > 0
    report["ops_failed_share"] = run.failed / max(run.attempted, 1)
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
