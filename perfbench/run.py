#!/usr/bin/env python3
"""Layered benchmark of the engine, run from the root of a checkout:

    python3 perfbench/run.py --workload trends_build --seed 1 --seconds 10 --trace 0

Generates its input tables once per checkout (under ``.perfbench/``), sizes
one local Spark process to the machine, runs the workload (see
``workloads.py``), checks every operation's output, and prints one JSON line
last: ``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones.  The full record
(machine stamp, per-operation timings and checks, spans) goes to
``.perfbench/records/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

WORKLOADS = ("trends_build", "engine_ops")
END_TO_END = {"setup_s": "s", "first_pass_s": "s", "wall_s": "s", "op_geomean_s": "s"}


def size_process() -> dict:
    """Size and place the Spark process from the machine: cores from the
    CPU affinity mask, a driver heap that is a fifth of physical memory
    (1-4 GiB), scratch space inside the checkout."""
    cores = len(os.sched_getaffinity(0))
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap_mb = int(min(4096, max(1024, phys / 5 / 2**20)))
    tmp = os.path.join(STATE, "tmp")
    local = os.path.join(STATE, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # Python workers (pandas UDFs, Python data sources) import the package
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    return {"cores": cores, "phys_mem_mb": phys // 2**20, "driver_heap_mb": heap_mb, "tmp": tmp}


def code_stamp() -> dict:
    """Commit (when the checkout is a git repository) and a content hash of
    the engine package, so a record names the code it measured."""
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, "dbt_trill_shop_spark", "**", "*"),
                                 recursive=True)):
        if os.path.isfile(path) and "__pycache__" not in path:
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    commit = None
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.exists(head):
        with open(head) as fh:
            ref = fh.read().strip()
        ref_path = os.path.join(ROOT, ".git", ref[5:])
        if not ref.startswith("ref: "):
            commit = ref  # detached HEAD
        elif os.path.exists(ref_path):
            with open(ref_path) as fh:
                commit = fh.read().strip()
    return {"commit": commit, "package_sha256": h.hexdigest()}


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to exit."""
    if spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the launched JVM exits when its stdin closes
        proc.wait(timeout=120)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "dbt_trill_shop_spark")):
        print(f"engine package dbt_trill_shop_spark not found under {ROOT}", file=sys.stderr)
        return 1
    sizing = size_process()
    sys.path.insert(0, ROOT)

    import datagen

    t = time.perf_counter()
    data_dir = os.path.join(STATE, "data")
    fingerprint = datagen.ensure_data(data_dir)
    with open(os.path.join(HERE, "expected.json")) as fh:
        expected = json.load(fh)
    if fingerprint != expected["data_fingerprint"]:
        print(f"generated data {fingerprint} is not the data expected.json was recorded "
              f"on ({expected['data_fingerprint']}); re-record with record_expected.py",
              file=sys.stderr)
        return 1
    orders_rows = None
    if args.workload == "engine_ops":
        import pyarrow.parquet as pq
        import txnmodel

        orders = pq.read_table(os.path.join(data_dir, "orders.parquet"),
                               columns=list(txnmodel.COLUMNS))
        # via numpy: 13x faster than to_pylist(), which builds each datetime
        cols = [orders.column(c).to_numpy(zero_copy_only=False) for c in txnmodel.COLUMNS]
        orders_rows = list(zip(*(c.astype(object) if c.dtype.kind == "M" else c.tolist()
                                 for c in cols)))
    prep_s = time.perf_counter() - t

    import pyspark

    import tracing
    import workloads

    work_dir = os.path.join(STATE, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    tracer = tracing.Tracer(T_PROCESS) if args.trace else tracing.NULL_TRACER
    spark_conf = {"spark.ui.showConsoleProgress": "false",
                  "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={sizing['tmp']}"}
    run = workloads.Run(args.workload, args.seed, args.seconds, tracer, data_dir, work_dir,
                        expected, sizing["cores"], T_PROCESS, prep_s, spark_conf)
    try:
        if args.workload == "trends_build":
            workloads.run_trends(run)
        else:
            workloads.run_engine_ops(run, orders_rows)
        peak = jvm_peak_rss_mb(run.spark)
    finally:
        stop_spark(run.spark)
        shutil.rmtree(work_dir, ignore_errors=True)

    stamp = {**sizing, **code_stamp(), "python": platform.python_version(),
             "pyspark": pyspark.__version__, "machine": platform.machine(),
             "data_fingerprint": fingerprint, "workload": args.workload, "seed": args.seed,
             "seconds": args.seconds, "trace": args.trace}
    if args.trace:
        values = run.per_layer()
        values["spark.jvm_peak_rss_mb"] = peak
        units = layer_units()
        metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()}
    else:
        values = run.end_to_end()
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in END_TO_END.items()}
    failures = [{"op": r["op"], "pass": r["pass"], "error": r["error"]}
                for r in run.ops if not r["ok"]]
    record = {"stamp": stamp, "metrics": metrics, "setup": run.setup_stats, "passes": run.passes,
              "failures": failures, "ops": run.ops,
              "spans": getattr(tracer, "spans", [])}
    rec_dir = os.path.join(STATE, "records")
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as fh:
        json.dump(record, fh, default=str)
    print(json.dumps({"stamp": stamp}, default=str), file=sys.stderr)
    for f in failures:
        print(json.dumps({"failed_op": f}), file=sys.stderr)
    print(json.dumps({"correct": not failures, "attempted": len(run.ops),
                      "failed": len(failures), "metrics": metrics}))
    return 0


def layer_units() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
