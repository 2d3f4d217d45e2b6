"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload lake --seed 1 --seconds 20 --trace 0

Workloads (see ``workloads.py`` and BENCHMARK.json): ``lake`` and
``pipeline``. The last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``; ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced run.
The full record (run metadata, every operation and, when traced, every span
and Spark job) is written to ``.perfbench/results/`` at the checkout root.

Each run starts a fresh Spark session at ``local[<cores>]`` with its own
TMPDIR, SPARK_LOCAL_DIRS and storage under ``.perfbench/``, all removed when
the run ends. ``--tiny`` shrinks every input for a quick functional check.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "pydata_vector_search_spark"
sys.path.insert(0, HERE)

import stats  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

# metric name -> unit; BENCHMARK.json lists the same names
END_TO_END = {"wall_s": "s", "setup_s": "s"}
PER_LAYER = {
    "op.p50_s": "s",
    "driver.construct_s": "s", "driver.action_s": "s",
    "driver.construct_jobs": "count", "functions.vector.expr_build_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.gc_s": "s", "spark.input_bytes": "bytes",
    "spark.utilization": "ratio", "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "checkpoint.count": "count", "checkpoint.s": "s",
    "persist.pinned_rdds": "count", "persist.pinned_mb_end": "MB",
    "catalog.write_s": "s", "catalog.read_asof_s": "s",
    "catalog.bytes_written": "bytes", "catalog.files_written": "count",
    "catalog.write_amp": "ratio", "catalog.space_amp": "ratio",
    "upsert.upsert_table_s": "s", "upsert.delete_where_s": "s",
    "ann.ivf_build_s": "s", "ann.ivf_search_s": "s", "ann.ivf_patch_s": "s",
    "ann.ivf_patch_jobs": "count", "ann.recall_at_10": "ratio",
    "knn.self_s": "s", "dedup.self_s": "s", "fingerprint.self_s": "s",
    "graph.self_s": "s", "retrieval.self_s": "s",
    "read.knn_p50_s": "s", "read.hybrid_p50_s": "s", "read.ann_p50_s": "s",
    "read.sql_p50_s": "s", "read.asof_p50_s": "s",
    "write.commit_p50_s": "s", "write.refresh_p50_s": "s",
    "trace.overhead": "ratio",
}


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def cpu_steal() -> tuple[int, int] | None:
    """(steal, total) CPU ticks since boot from /proc/stat, or None where
    there is no such file. Steal is time the hypervisor gave this machine's
    CPUs to someone else: the host drift that loadavg cannot show."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def git_head(root: str) -> str | None:
    """The commit checked out at ``root``, read from its own .git only."""
    head = os.path.join(root, ".git", "HEAD")
    if not os.path.isfile(head):
        return None
    with open(head) as f:
        ref = f.read().strip()
    if not ref.startswith("ref: "):
        return ref
    path = os.path.join(root, ".git", ref[5:])
    if os.path.isfile(path):
        with open(path) as f:
            return f.read().strip()
    packed = os.path.join(root, ".git", "packed-refs")
    if os.path.isfile(packed):
        with open(packed) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref[5:]):
                    return line.split()[0]
    return None


def source_digest(root: str) -> str:
    """sha256 over the program's source files, so checkouts without git
    history still identify the code they measured."""
    h = hashlib.sha256()
    paths = [os.path.join(root, "__spark_entry__.py")]
    for d, dirs, files in os.walk(os.path.join(root, PKG)):
        dirs[:] = sorted(x for x in dirs if x != "__pycache__")
        paths += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def start_session(work: str, n_cores: int):
    """Fresh session from the program's ``get_spark``; returns it and the
    seconds it took to answer a first job."""
    from pydata_vector_search_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf={
        # keep the JVM's temp files (and no perf-data file) out of /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()      # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def layer_metrics(run, tracer, jobs, n_cores) -> dict:
    timed_ops = {r["id"] for r in run.ops if r["timed"]}
    wall = sum(run.timed())
    spans = {s.id: s for s in tracer.spans}

    def under(span_id, name):
        while span_id is not None:
            if spans[span_id].name == name:
                return True
            span_id = spans[span_id].parent
        return False

    tj = [j for j in jobs if j["op"] in timed_ops]
    tot = lambda key: sum(j[key] for j in tj)  # noqa: E731
    # spans of the timed operations only, except the index build, which is
    # set-up
    incl = lambda name: tracer.inclusive_s(name, timed_ops)  # noqa: E731
    self_s = tracer.layer_self_s(timed_ops)
    m = {
        "driver.construct_s": sum(r["construct_s"] for r in run.ops
                                  if r["timed"]),
        "driver.action_s": sum(r["action_s"] for r in run.ops if r["timed"]),
        "driver.construct_jobs": sum(1 for j in tj
                                     if under(j["span"], "driver.construct")),
        "functions.vector.expr_build_s": sum(
            s.end - s.start for s in tracer.spans
            if s.layer == "functions.vector" and s.op in timed_ops
            and (s.parent is None or spans[s.parent].layer
                 != "functions.vector")),
        "spark.jobs": len(tj),
        "spark.stages": tot("stages"),
        "spark.tasks": tot("tasks"),
        "spark.executor_run_s": tot("executor_run_s"),
        "spark.executor_cpu_s": tot("executor_cpu_s"),
        "spark.gc_s": tot("gc_s"),
        "spark.input_bytes": tot("input_bytes"),
        "spark.utilization": tot("executor_run_s") / (wall * n_cores)
        if wall else 0.0,
        "spark.shuffle_read_bytes": tot("shuffle_read_bytes"),
        "spark.shuffle_write_bytes": tot("shuffle_write_bytes"),
        "checkpoint.count": tracer.count("checkpoint.", timed_ops),
        "checkpoint.s": incl("checkpoint.localCheckpoint")
        + incl("checkpoint.checkpoint"),
        "catalog.write_s": incl("catalog.write"),
        "catalog.read_asof_s": incl("catalog.read_asof"),
        "upsert.upsert_table_s": incl("upsert.upsert_table"),
        "upsert.delete_where_s": incl("upsert.delete_where"),
        "ann.ivf_build_s": tracer.inclusive_s("ann.ivf_build"),
        "ann.ivf_search_s": incl("ann.ivf_search"),
        "ann.ivf_patch_s": incl("ann.ivf_patch"),
        "ann.ivf_patch_jobs": sum(1 for j in tj
                                  if under(j["span"], "ann.ivf_patch")),
    }
    for layer in ("knn", "dedup", "fingerprint", "graph", "retrieval"):
        m[f"{layer}.self_s"] = self_s.get(layer, 0.0)
    # the tracer's own time, as the ratio of traced to untraced wall time
    m["trace.overhead"] = (wall / (wall - tracer.bookkeeping_s)
                           if wall > tracer.bookkeeping_s else 0.0)
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="shrink every input (functional check only)")
    args = ap.parse_args(argv)

    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, PKG))):
        print(f"error: the program ({PKG}, __spark_entry__.py) is not in "
              f"{ROOT}", file=sys.stderr)
        return 2

    n_cores = cores()
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(n_cores),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)

    import pyspark

    meta = {"workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "tiny": args.tiny,
            "git_head": git_head(ROOT), "source_sha256": source_digest(ROOT),
            "cores": n_cores, "pyspark": pyspark.__version__,
            "python": sys.version.split()[0],
            "loadavg_before": os.getloadavg()}
    steal0 = cpu_steal()
    spark = None
    try:
        spark, session_s = start_session(work, n_cores)
        sc = spark.sparkContext
        tracer = tracing.Tracer(sc if args.trace else None)
        if args.trace:
            tracer.install()
        run = workloads.Run(spark, work, args.seed, args.seconds, args.tiny,
                            tracer)
        workloads.WORKLOADS[args.workload](run)
        pinned = tracing.pinned(sc)
        jobs = tracing.spark_jobs(sc, tracer.ops) if args.trace else []
        tracer.uninstall()
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    meta["loadavg_after"] = os.getloadavg()
    steal1 = cpu_steal()
    meta["cpu_steal_frac"] = ((steal1[0] - steal0[0])
                              / max(steal1[1] - steal0[1], 1)
                              if steal0 and steal1 else None)

    times = run.timed()
    e2e = {"wall_s": sum(times), "setup_s": session_s + run.setup_s}
    try:
        tail = {"p90_s": stats.percentile(times, 90)}
    except stats.TooFewSamples as e:
        tail = {"p90_s": None, "refused": str(e)}
    layers = layer_metrics(run, tracer, jobs, n_cores) if args.trace else {}
    layers.update({k: v for k, v in run.extra.items() if "." in k})
    layers["op.p50_s"] = statistics.median(times)
    layers["persist.pinned_rdds"], layers["persist.pinned_mb_end"] = pinned
    for name in PER_LAYER:
        layers.setdefault(name, 0.0)
    attempted = len(run.ops)
    failed = sum(1 for r in run.ops if not r["ok"])
    chosen = PER_LAYER if args.trace else END_TO_END
    values = {**e2e, **layers}
    result = {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": values[n], "unit": u}
                    for n, u in chosen.items()},
    }
    record = {
        "meta": meta, "result": result,
        "session_s": session_s, "program_setup_s": run.setup_s,
        "end_to_end": e2e, "latency_tail": tail, "per_layer": layers,
        "failed_frac": failed / attempted,
        "extra": {k: v for k, v in run.extra.items() if "." not in k},
        "ops": run.ops,
    }
    if args.trace:
        by_op: dict[str, dict] = {}
        for j in jobs:
            agg = by_op.setdefault(j["op"], {"jobs": 0})
            agg["jobs"] += 1
            for k, v in j.items():
                if k not in ("op", "job", "span"):
                    agg[k] = agg.get(k, 0) + v
        for r in run.ops:
            r.update(by_op.get(r["id"], {"jobs": 0}))
        record.update(layer_self_s=tracer.layer_self_s(
                          {r["id"] for r in run.ops if r["timed"]}),
                      layer_self_s_with_setup=tracer.layer_self_s(),
                      spans=[s.as_dict() for s in tracer.spans], jobs=jobs)
    record["run_s"] = time.perf_counter() - T_START
    out_dir = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, f"{args.workload}-seed{args.seed}"
                                f"-trace{args.trace}.json")
    with open(out, "w") as f:
        json.dump(record, f, indent=1, default=str)
    for r in run.ops:
        if not r["ok"]:
            print(f"failed {r['id']} {r['kind']}: {r['error']}",
                  file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
