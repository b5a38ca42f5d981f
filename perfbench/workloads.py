"""The benchmark's workloads: what one run executes, times and checks.

``trends_build``  one cold, full ``Project.build`` of the reference project.
``engine_ops``    a seeded interleaving of LLM-pipeline harness queries
                  (``ext.*``), OLAP harness queries (``operators.*``) and a
                  seeded ``sources.txn_table`` write/read sequence.

A run sets up once, runs one cold pass right after the set-up, then
``WARM_PASSES_PER_10S`` warm passes per 10 requested seconds.
Every operation's output is checked outside its timed span; a failed check
marks the operation failed, by name.
"""

from __future__ import annotations

import functools
import os
import random
import shutil
import time
import traceback

import check
import stats
import txnmodel
from tracing import catalyst_ms

# Warm passes per 10 s of ``--seconds``.  trends_build makes none: every
# ``dbt build`` is a fresh process, so the cold build is what its user waits
# for, and a warm build adds 9-17 s to a run on 4 cores, where a run is meant
# to stay near a minute.
WARM_PASSES_PER_10S = {"trends_build": 0, "engine_ops": 1}
# engine_ops query operations.  LLM-pipeline operators: a unigram-LM EM loop
# (ext.bpe) and a MinHash candidate + exact Jaccard verify (ext.dedup).  OLAP
# read (operators.analytics): HLL weekly distinct users.
LLM_QUERIES = ("x_unigram_lm_em", "x_neardup_minhash_checked")
OLAP_QUERIES = ("q_hll_users",)
QUERY_OPS = LLM_QUERIES + OLAP_QUERIES
ENGINE_OPS_TABLES = ("documents", "events", "orders")  # what those ops and txn read

TRENDS_MARTS = ("weekly_trends_summary", "top_terms_comparison", "trending_terms_analysis")
# the 250k-row marts are checked by a per-column digest instead of row by row
DIGESTED_MARTS = ("top_terms_comparison", "trending_terms_analysis")
TXN_AGG = ("count(*) AS n", "sum(o_orderkey) AS s_key",
           "sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS s_cents")


def ops_for_pass(seed: int, k: int) -> list[tuple]:
    """engine_ops pass ``k``: the queries in seeded order with the seeded txn
    sequence interleaved at seeded positions (txn ops keep their order).
    The cold pass (``k == 0``) keeps one order for every seed: whichever
    query runs first pays most of the JVM warm-up, which moved the cold pass
    by 25% between seeds on 4 cores."""
    rng = random.Random(f"order:{seed}:{k}" if k else "order:cold")
    queries = [("query", q) for q in QUERY_OPS]
    rng.shuffle(queries)
    txn = [("txn", op) for op in txnmodel.txn_sequence(seed * 1000 + k, txnmodel.BASE_ROWS)]
    slots = set(rng.sample(range(len(queries) + len(txn)), len(txn)))
    qi, ti, out = iter(queries), iter(txn), []
    for i in range(len(queries) + len(txn)):
        out.append(next(ti) if i in slots else next(qi))
    return out


class Run:
    """State of one benchmark run: timings, checks, per-op trace records."""

    def __init__(self, workload, seed, seconds, tracer, data_dir, work_dir, expected,
                 cores, t_process, prep_s, spark_conf):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.spark_conf = spark_conf
        self.tr = tracer
        self.data_dir, self.work_dir, self.expected = data_dir, work_dir, expected
        self.cores, self.t_process, self.prep_s = cores, t_process, prep_s
        self.setup_stats: dict = {}
        self.ops: list[dict] = []  # one record per executed operation
        self.passes: list[float] = []  # pass wall times; [0] is the cold pass
        self.extra: dict = {}  # workload-specific per-layer figures
        self.spark = None

    # -- bookkeeping -------------------------------------------------------
    def op(self, name: str, kind: str, k: int) -> dict:
        rec = {"op": name, "kind": kind, "pass": k, "ok": True, "error": None}
        self.ops.append(rec)
        return rec

    @staticmethod
    def fail(rec: dict, why: str) -> None:
        rec["ok"] = False
        rec["error"] = rec["error"] or why

    def raised(self, rec: dict, e: Exception) -> None:
        """An operation that raises is a failed operation; keep its traceback."""
        self.fail(rec, f"{type(e).__name__}: {e}")
        rec["traceback"] = traceback.format_exc(limit=-4)

    def counters(self, rec: dict, key: str, gid: str) -> None:
        if self.tr.enabled:
            rec[key] = self.tr.counters(gid)
            self.tr.group("bench-check")

    def release_pinned(self, rec: dict) -> None:
        """Unpersist every persistent RDD a query left behind (checkpoint
        blocks), as the repo's bench does between queries; untimed."""
        it = self.spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
        n = 0
        while it.hasNext():
            it.next()._2().unpersist(False)
            n += 1
        rec["pinned_rdds"] = n

    # -- set-up ------------------------------------------------------------
    def setup(self, load, parse=None):
        """Set the engine up once: a session, the workload's sources through
        the catalog (``load``), the project parse (``parse``, trends_build
        only) and a warm-up job.  ``setup_s`` counts from process start,
        minus the one-off data generation, as every CLI invocation pays it."""
        from dbt_trill_shop_spark.session import get_spark

        parsed = None
        with self.tr.span("setup"):
            t0 = time.perf_counter()
            with self.tr.span("session.get_spark"):
                self.spark = get_spark(app_name=f"perfbench-{self.workload}",
                                       extra_conf=self.spark_conf)
                self.spark.sparkContext.setLogLevel("ERROR")
            t1 = time.perf_counter()
            with self.tr.span(f"catalog.{load.__name__}"):
                sources = load(self.spark, self.data_dir)
            t2 = time.perf_counter()
            if parse is not None:
                with self.tr.span("models.trends.parse"):
                    parsed = parse(sources)
            t3 = time.perf_counter()
            self.spark.range(1000).selectExpr("sum(id)").collect()
            end = time.perf_counter()
        self.setup_stats = {"setup_s": end - self.t_process - self.prep_s,
                            "session.start_s": t1 - t0, "catalog.load_s": t2 - t1,
                            "models.trends.parse_s": t3 - t2}
        if self.tr.enabled:
            self.tr.sc = self.spark.sparkContext
            self.tr.group("bench-check")
        return parsed

    def measure(self, run_pass) -> None:
        """One cold pass, then ``WARM_PASSES_PER_10S`` warm passes per 10 s
        of ``seconds``.  A fixed count, rather than "until the clock runs
        out", keeps the number of samples behind each median the same from
        run to run."""
        self.passes.append(run_pass(0))
        per = WARM_PASSES_PER_10S[self.workload]
        for k in range(max(1, round(self.seconds / 10 * per)) if per else 0):
            self.passes.append(run_pass(k + 1))

    # -- results -----------------------------------------------------------
    def timed_passes(self) -> list[float]:
        """The passes behind ``wall_s``: the warm ones, or the cold one when
        the workload makes no warm pass."""
        return self.passes[1:] or self.passes

    def timed_ops(self, kind: str | None = None) -> list[dict]:
        first = 1 if len(self.passes) > 1 else 0
        return [r for r in self.ops
                if r["pass"] >= first and (kind is None or r["kind"] == kind)]

    def end_to_end(self) -> dict:
        return {
            "setup_s": self.setup_stats["setup_s"],
            "first_pass_s": self.passes[0],
            "wall_s": stats.median(self.timed_passes()),
            "op_geomean_s": stats.geomean(r["wall_s"] for r in self.timed_ops() if "wall_s" in r),
        }

    def per_layer(self) -> dict:
        warm = self.timed_ops()
        n_warm = len(self.timed_passes())

        def per_pass(key, sub=None):
            tot = 0.0
            for r in warm:
                v = r.get(key)
                if v is None:
                    continue
                tot += v if sub is None else v.get(sub, 0)
            return tot / n_warm

        out = {k: self.setup_stats[k]
               for k in ("session.start_s", "catalog.load_s", "models.trends.parse_s")}
        out["harness.build_s"] = per_pass("build_s")
        out["harness.build_jobs"] = per_pass("build_counters", "jobs")
        out["spark.pinned_rdds"] = per_pass("pinned_rdds")
        for phase in ("analysis", "optimization", "planning"):
            out[f"spark.{phase}_ms"] = per_pass("catalyst_ms", phase)
        out["spark.action_s"] = per_pass("action_s")
        for c in ("jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
                  "executor_cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes"):
            out[f"spark.{c}"] = per_pass("build_counters", c) + per_pass("action_counters", c)
        wall = stats.median(self.timed_passes())
        out["spark.slot_util"] = stats.slot_util(out["spark.executor_run_s"], wall, self.cores)
        out["ops.p50_s"] = stats.median(r["wall_s"] for r in warm if "wall_s" in r)
        attempted = len(self.ops)
        out["failed_ratio"] = stats.failed_ratio(self.failed(), attempted)
        out["trace.wall_s"] = wall
        out.update(self.extra)
        return out

    def failed(self) -> int:
        return sum(1 for r in self.ops if not r["ok"])


# ---------------------------------------------------------------------------
# trends_build
# ---------------------------------------------------------------------------


def run_trends(run: Run) -> None:
    from dbt_trill_shop_spark.fixtures import register_trends_sources
    from dbt_trill_shop_spark.models import trends_project

    def parse(sources):
        p = trends_project(warehouse_dir=os.path.join(run.work_dir, "warehouse"))
        p.add_sources(sources)
        return p

    # the build reads only the 4 derived sources, which load their 5 tables
    # through the catalog themselves
    project = run.setup(register_trends_sources, parse)
    spark, tr = run.spark, run.tr

    def build_pass(k: int) -> float:
        rec = run.op("Project.build", "build", k)
        gid = f"build{k}"
        tr.group(gid)
        with tr.span("core.dag.Project.build", op=len(run.ops) - 1):
            t0 = time.perf_counter()
            try:
                results = project.build(spark)
            except Exception as e:  # a build that raises is a failed op
                results = None
                run.raised(rec, e)
            wall = time.perf_counter() - t0
        rec["wall_s"] = rec["action_s"] = wall
        run.counters(rec, "action_counters", gid)
        if results is not None:
            check_build(run, rec, project, results)
        if tr.enabled:
            node_s = sum(r.get("execution_time", 0.0)
                         for r in project.last_run_results.values())
            rec["node_s"] = node_s
            rec["tests"] = sum(len(v) for v in (results or {}).values())
        return wall

    run.measure(build_pass)
    warm = run.timed_ops()
    run.extra["core.dag.node_s"] = stats.median(r.get("node_s", 0.0) for r in warm)
    run.extra["core.testing.test_s"] = stats.median(
        r["wall_s"] - r.get("node_s", 0.0) for r in warm)
    run.extra["core.testing.tests"] = stats.median(r.get("tests", 0) for r in warm)
    run.extra["core.dag.jobs"] = stats.median(
        r.get("action_counters", {}).get("jobs", 0) for r in warm)


def check_build(run: Run, rec: dict, project, results) -> None:
    want = run.expected["trends"]
    got = sorted([r.model, r.test, r.status] for v in results.values() for r in v)
    if got != sorted(want["tests"]):
        bad = [t for t in got if t not in want["tests"]][:3]
        run.fail(rec, f"data tests differ: {len(got)} results, first unexpected {bad}")
    for name in TRENDS_MARTS:
        df = project.relations[name]
        if name in DIGESTED_MARTS:
            exprs = check.digest_exprs(df.dtypes, "spark")
            got = df.selectExpr(*exprs).collect()[0].asDict()
            why = check.digest_mismatch(got, want["marts"][name])
        else:
            why = check.mismatch(check.fingerprint(df.columns, df.collect()),
                                 want["marts"][name])
        if why:
            run.fail(rec, f"{name}: {why}")


# ---------------------------------------------------------------------------
# engine_ops
# ---------------------------------------------------------------------------


def run_engine_ops(run: Run, orders_rows: list[tuple]) -> None:
    from dbt_trill_shop_spark.catalog import register_sources
    from dbt_trill_shop_spark.harness import QUERIES

    def register_ops_sources(spark, sf_dir):
        return register_sources(spark, sf_dir, tables=ENGINE_OPS_TABLES)

    run.setup(register_ops_sources)
    txn_stats: list[dict] = []

    def ops_pass(k: int) -> float:
        root = os.path.join(run.work_dir, f"txn{k}")
        model = txnmodel.TxnModel()
        state = {"root": root, "model": model, "acks": {}, "load_version": None}
        wall = 0.0
        for i, (kind, item) in enumerate(ops_for_pass(run.seed, k)):
            gid = f"p{k}op{i}"
            if kind == "query":
                rec = run.op(item, "query", k)
                wall += query_op(run, rec, QUERIES[item], gid)
            else:
                rec = run.op(f"txn.{item.kind}", f"txn.{item.kind}", k)
                wall += txn_op(run, rec, item, state, orders_rows, gid)
        txn_stats.append(check_txn_log(run, state, k))
        return wall

    run.measure(ops_pass)
    run.extra.update(summarize_txn(run, txn_stats))


def query_op(run: Run, rec: dict, spec, gid: str) -> float:
    spark, tr = run.spark, run.tr
    try:
        with tr.span(f"harness.{rec['op']}", op=len(run.ops) - 1):
            tr.group(gid + "b")
            t0 = time.perf_counter()
            with tr.span("harness.spec.fn"):
                df = spec.fn(spark, run.data_dir)
            t1 = time.perf_counter()
            tr.group(gid + "a")
            with tr.span("spark.collect"):
                rows = df.collect()
            t2 = time.perf_counter()
    except Exception as e:
        run.raised(rec, e)
        run.release_pinned(rec)
        return 0.0
    rec.update(wall_s=t2 - t0, build_s=t1 - t0, action_s=t2 - t1)
    if tr.enabled:
        run.counters(rec, "build_counters", gid + "b")
        run.counters(rec, "action_counters", gid + "a")
        rec["catalyst_ms"] = catalyst_ms(df)
    run.release_pinned(rec)
    why = check.mismatch(check.fingerprint(df.columns, rows),
                         run.expected["queries"][rec["op"]])
    if why:
        run.fail(rec, why)
    return rec["wall_s"]


def txn_op(run: Run, rec: dict, op, state: dict, orders_rows, gid: str) -> float:
    """Run one txn_table call; check its result against the reference model."""
    from dbt_trill_shop_spark.catalog import load_table
    from dbt_trill_shop_spark.sources import txn_table as T
    from pyspark.sql import functions as F

    spark, tr, root, model = run.spark, run.tr, state["root"], state["model"]
    where = f"o_orderkey BETWEEN {op.lo} AND {op.hi}"
    result = df = None
    tr.group(gid)
    try:
        if op.rows:  # the batch is client input: built before the clock starts
            batch = spark.createDataFrame(list(op.rows), state["schema"])
        with tr.span(f"sources.txn_table.{op.kind}", op=len(run.ops) - 1):
            t0 = time.perf_counter()
            if op.kind == "load":
                base = load_table(spark, run.data_dir, "orders")
                state["schema"] = base.schema
                result = T.write_txn(base.repartitionByRange(8, "o_orderkey"), root)
            elif op.kind == "merge":
                result = T.merge_txn(spark, batch, root, on=txnmodel.KEY)
            elif op.kind == "dv_delete":
                result = T.delete_txn_dv(spark, root, where)
            elif op.kind == "read":
                df = T.read_txn(spark, root, where=where)
                result = df.collect()
            elif op.kind == "changes":
                df = T.read_txn_changes(spark, root, from_version=state["load_version"])
                df = df.groupBy("_change_type").agg(*[F.expr(e) for e in TXN_AGG])
                result = df.collect()
            wall = time.perf_counter() - t0
    except Exception as e:
        run.raised(rec, e)
        return 0.0
    rec.update(wall_s=wall, action_s=wall)
    run.counters(rec, "action_counters", gid)
    if tr.enabled and df is not None:
        rec["catalyst_ms"] = catalyst_ms(df)
        if op.kind == "read":
            live = len(T.snapshot(root).files)
            rec["scan_ratio"] = len(T.read_txn(spark, root, where=where).inputFiles()) / live
    if op.kind in ("read", "changes"):
        check_txn_read(run, rec, op, state, result, df)
        return wall
    want = model.apply(op, orders_rows if op.kind == "load" else None)
    committed = want is not None
    if not committed:
        want = model.head  # a delete that matches nothing must not commit
    if result != want:
        rec["conflict_retries"] = 1
        run.fail(rec, f"returned version {result}, model expects {want}")
    elif committed:
        state["acks"][result] = rec
    if op.kind == "load":
        state["load_version"] = result
    return wall


def check_txn_read(run: Run, rec: dict, op, state: dict, result, df) -> None:
    model = state["model"]
    if op.kind == "read":
        got = check.fingerprint(df.columns, result)
        want = check.fingerprint(list(txnmodel.COLUMNS), model.read(op.lo, op.hi))
        why = check.mismatch(got, want)
    else:
        net = [0, 0, 0]
        for r in result:
            sign = {"insert": 1, "delete": -1}.get(r["_change_type"])
            if sign is None:
                why = f"unexpected change type {r['_change_type']!r}"
                break
            for j, key in enumerate(("n", "s_key", "s_cents")):
                net[j] += sign * (r[key] or 0)
        else:
            want = model.change_digest(state["load_version"], model.head)
            why = None if tuple(net) == want else f"net change {tuple(net)}, model {want}"
    if why:
        run.fail(rec, why)


def check_txn_log(run: Run, state: dict, k: int) -> dict:
    """Fresh log fold of every acknowledged version, checked against the
    model; then the table's storage figures.  Untimed."""
    from pyspark.sql import functions as F

    from dbt_trill_shop_spark.sources import txn_table as T

    root, model = state["root"], state["model"]
    snap_s, folds = [], []
    for v in sorted(state["acks"]):
        t0 = time.perf_counter()
        T.snapshot(root, version=v)
        snap_s.append(time.perf_counter() - t0)
        folds.append(T.read_txn(run.spark, root, version=v)
                     .agg(*[F.expr(e) for e in TXN_AGG]).withColumn("v", F.lit(v)))
    # one Spark job for all versions
    for row in functools.reduce(lambda a, b: a.unionByName(b), folds).collect():
        v = row["v"]
        got = (row["n"], row["s_key"] or 0, row["s_cents"] or 0)
        if got != model.versions[v]:
            run.fail(state["acks"][v], f"version {v} folds to {got}, model {model.versions[v]}")
    live = T.snapshot(root)
    live_bytes = sum(os.path.getsize(os.path.join(root, f)) for f in live.files)
    total = data_files = data_bytes = log_entries = 0
    for dirpath, _, files in os.walk(root):
        in_log = os.path.basename(dirpath) == "_txn"
        for f in files:
            size = os.path.getsize(os.path.join(dirpath, f))
            total += size
            if in_log and f.endswith(".json") and not f.startswith("checkpoint"):
                log_entries += 1
            elif f.endswith(".parquet") and not in_log:
                data_files += 1
                data_bytes += size
    out = {"pass": k, "snapshot_s": stats.median(snap_s), "files_written": data_files,
           "bytes_written": data_bytes, "files_live": len(live.files),
           "log_entries": log_entries,
           "write_amp": stats.amplification(data_bytes, live_bytes),
           "space_amp": stats.amplification(total, live_bytes)}
    shutil.rmtree(root, ignore_errors=True)
    return out


def summarize_txn(run: Run, txn_stats: list[dict]) -> dict:
    warm = [s for s in txn_stats if s["pass"] > 0]
    out = {}
    for kind in ("merge", "dv_delete", "read", "changes"):
        out[f"sources.txn_table.{kind}_s"] = stats.median(
            r["wall_s"] for r in run.timed_ops(f"txn.{kind}") if "wall_s" in r)
    commits = [r["wall_s"] for r in run.timed_ops() if "wall_s" in r and r["kind"] in (
        "txn.load", "txn.merge", "txn.dv_delete")]
    out["sources.txn_table.commit_p50_s"] = stats.median(commits)
    out["sources.txn_table.read_p50_s"] = out["sources.txn_table.read_s"]
    for key in ("snapshot_s", "files_written", "bytes_written", "files_live", "log_entries",
                "write_amp", "space_amp"):
        out[f"sources.txn_table.{key}"] = stats.median(s[key] for s in warm)
    out["sources.txn_table.conflict_retries"] = sum(
        r.get("conflict_retries", 0) for r in run.timed_ops())
    ratios = [r["scan_ratio"] for r in run.timed_ops("txn.read") if "scan_ratio" in r]
    out["sources.txn_table.scan_ratio"] = stats.median(ratios)
    return out
