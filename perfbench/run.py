"""The repository benchmark: one seeded, single-client, closed-loop workload
per run against the public library API, on ``local[<cpus>]``.

    python3 perfbench/run.py --workload dml_churn --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout.  It builds the workload's tables
(``setup``, several times, median reported), runs whole cycles of
operations until ``--seconds`` have passed, checks every operation against
an independent reference, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` wraps the engine's entry points
(``trace.py``), enables the Spark event log and reports the per-layer
metrics instead.  Everything it writes goes under ``.perfbench/`` in the
checkout.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field
from typing import Dict, List, Optional

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILDS = 3
REPORTER = "perfbench"
CLOCK_TICKS = os.sysconf("SC_CLK_TCK")
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")

# name -> unit; the contract with BENCHMARK.json
END_TO_END = {
    "setup_s": "s",
    "op_cpu_ms": "ms",
    "driver_rss_mb": "MB",
    "space_amp": "ratio",
    "write_amp": "ratio",
}
PER_LAYER = {
    "session.start_ms": "ms",
    "catalog.load_table_ms": "ms",
    "catalog.commit_table_ms": "ms",
    "catalog.commit_attempts": "count",
    "meta.read_manifest_list_ms": "ms",
    "meta.read_manifest_ms": "ms",
    "meta.manifests_read": "count",
    "meta.entries_decoded": "count",
    "meta.entries_per_s": "1/s",
    "meta.write_manifest_ms": "ms",
    "meta.manifest_bytes_written": "bytes",
    "plans.eval_ms": "ms",
    "plans.manifests_skipped_ratio": "ratio",
    "plans.files_skipped_ratio": "ratio",
    "scan.plan_ms": "ms",
    "scan.lower_ms": "ms",
    "scan.tasks": "count",
    "scan.delete_files": "count",
    "write.data_ms": "ms",
    "write.files_added": "count",
    "write.bytes_added": "bytes",
    "txn.commit_ms": "ms",
    "txn.manifests_in_snapshot": "count",
    "dml.jobs_per_op": "count",
    "dml.rows_rewritten_per_row_deleted": "ratio",
    "maint.bytes_rewritten": "bytes",
    "maint.files_expired": "count",
    "op.jobs": "count",
    "spark.catalyst_ms": "ms",
    "spark.action_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
}
DML_KINDS = {"delete_mor", "delete_cow", "upsert", "merge"}
OPERATOR_KINDS = {"c4_rules", "minhash_lsh_groups", "connected_components",
                  "simhash_near_dup_pairs", "ivf_topk", "bpe_train_merges"}


@dataclass
class Op:
    oid: int
    kind: str
    cycle: int
    ms: float = 0.0
    cpu_ms: float = 0.0
    ok: bool = True
    reports: list = field(default_factory=list)
    info: Dict[str, int] = field(default_factory=dict)


def source_hash() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "iceberg_go_spark")
    for base, _dirs, files in sorted(os.walk(pkg)):
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(base, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _stat(path: str):
    """(command name, fields after it) of a /proc stat file, or None once
    the process or thread has ended."""
    try:
        with open(path) as fh:
            stat = fh.read()
    except OSError:
        return None
    return (stat[stat.index("(") + 1:stat.rindex(")")],
            stat[stat.rindex(")") + 2:].split())


def tree_cpu_ms(root: int) -> float:
    """CPU time, user plus system, of a process and all its descendants,
    reaped children included: here the driver, the Spark JVM and the
    executors' Python workers.  Time the host gives to other guests is not
    in it, and neither is the JVM's JIT compiler threads' time: how much
    the JIT compiles in a short run depends on timing, not on the work."""
    children, cpu, names = defaultdict(list), {}, {}
    for name in os.listdir("/proc"):
        stat = _stat(f"/proc/{name}/stat") if name.isdigit() else None
        if stat is None:
            continue
        pid, (names[pid], fields) = int(name), stat
        children[int(fields[1])].append(pid)
        cpu[pid] = sum(int(x) for x in fields[11:15])
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += cpu.get(pid, 0)
        stack.extend(children[pid])
        if names.get(pid) == "java":
            for tid in os.listdir(f"/proc/{pid}/task"):
                stat = _stat(f"/proc/{pid}/task/{tid}/stat")
                if stat is not None and stat[0].startswith(JIT_THREADS):
                    total -= int(stat[1][11]) + int(stat[1][12])
    return total * 1000 / CLOCK_TICKS


def peak_rss_mb(pid: int) -> float:
    """The kernel's high-water mark of the process's resident memory."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


class Context:
    """What a workload sees: the session, catalogs under the run's work
    directory, and the op/check/collect protocol that times and verifies
    every operation."""

    def __init__(self, spark, seed: int, scale: float, workdir: str,
                 tracer, reporter):
        self.spark, self.seed, self.scale = spark, seed, scale
        self.workdir, self.tracer, self.reporter = workdir, tracer, reporter
        self.ops: List[Op] = []
        self.warehouse: Optional[str] = None
        self.submitted = 0
        self.seen_files: Dict[str, tuple] = {}

    def n(self, rows: int) -> int:
        return max(1, int(rows * self.scale))

    def props(self, extra: Optional[dict] = None) -> dict:
        return {"metrics-reporter-impl": REPORTER, **(extra or {})}

    def catalog(self, k: int):
        from iceberg_go_spark.catalog import FilesystemCatalog
        self.warehouse = os.path.join(self.workdir, f"wh{k}")
        return FilesystemCatalog(self.warehouse)

    def submit(self, arrow_table) -> None:
        self.submitted += arrow_table.nbytes

    def start_build(self) -> None:
        self.submitted = 0
        self.seen_files = {}

    def note_files(self, tag) -> None:
        """Record every file under the warehouse not seen before, with its
        size and the op (or build) after which it first appeared."""
        for base, _dirs, files in os.walk(self.warehouse):
            for name in files:
                path = os.path.join(base, name)
                if path not in self.seen_files:
                    self.seen_files[path] = (os.path.getsize(path), tag)

    def warehouse_bytes(self) -> int:
        return sum(os.path.getsize(os.path.join(b, f))
                   for b, _d, fs in os.walk(self.warehouse) for f in fs)

    @contextlib.contextmanager
    def op(self, kind: str, cycle: int):
        op = Op(len(self.ops), kind, cycle)
        sc = self.spark.sparkContext
        n_reports = len(self.reporter.reports())
        self.tracer.op = op.oid
        if self.tracer.enabled:
            sc.setJobGroup(f"op-{op.oid}", kind)
        cpu0, t0 = tree_cpu_ms(os.getpid()), time.perf_counter()
        try:
            with self.tracer.span("bench." + kind):
                yield op
        except Exception:  # an op that raises counts as failed
            op.ok = False
            traceback.print_exc(file=sys.stderr)
        finally:
            op.ms = (time.perf_counter() - t0) * 1000
            op.cpu_ms = tree_cpu_ms(os.getpid()) - cpu0
            self.tracer.op = None
            if self.tracer.enabled:
                sc.setJobGroup("bench", "outside ops")
            op.reports = self.reporter.reports()[n_reports:]
            self.ops.append(op)
            self.note_files(op.oid)

    def check(self, op: Op, ok: bool, message: str) -> None:
        if not ok:
            op.ok = False
            print(f"CHECK FAILED op {op.oid} {op.kind}: {message}",
                  file=sys.stderr)

    def collect(self, df):
        """The op's action; traced runs also time Catalyst planning."""
        if self.tracer.enabled:
            with self.tracer.span("spark.catalyst"):
                df._jdf.queryExecution().executedPlan()
        with self.tracer.span("spark.action"):
            return df.collect()


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(ctx: Context, workload, setup_s: float) -> dict:
    """The gated metrics.  ``driver_rss_mb`` is filled in after the JVM
    has stopped."""
    written = sum(size for size, _tag in ctx.seen_files.values())
    return {
        "setup_s": setup_s,
        "op_cpu_ms": statistics.mean(op.cpu_ms for op in ctx.ops),
        "space_amp": ctx.warehouse_bytes() / workload.live_arrow_bytes(),
        "write_amp": written / max(ctx.submitted, 1),
    }


def per_layer(ctx: Context, tracer, events: dict, session_s: float,
              manifests_in_snapshot: int) -> tuple:
    """Layer metrics of the traced run.  Times are ms per op over the whole
    loop (commit-path times: ms per call over the last build and the
    loop); counts cover the first cycle, so they repeat exactly for a
    seed.  Also returns the seconds attributed to each span name."""
    from perfbench.trace import attribute
    ops = ctx.ops
    first = [op for op in ops if op.cycle == 0]
    first_ids = {op.oid for op in first}
    by_op = defaultdict(list)
    for sp in tracer.spans:
        by_op[sp.op].append(sp)
    loop_spans = [sp for op in ops for sp in by_op[op.oid]]
    counted = [sp for sp in loop_spans if sp.op in first_ids]
    commit_spans = loop_spans + by_op[f"build{BUILDS - 1}"]

    self_s = defaultdict(float)
    for op in ops:
        for name, s in attribute(by_op[op.oid]).items():
            self_s[name] += s

    def per_op(name):
        return self_s[name] * 1000 / len(ops)

    def per_call(name):
        return _median([(sp.t1 - sp.t0) * 1000
                        for sp in commit_spans if sp.name == name])

    def reports(oplist, kind=None):
        return [r["metrics"] for op in oplist for r in op.reports
                if r.get("report-type") == "commit-report"
                and (kind is None or op.kind == kind)]

    def rsum(reps, key):
        return sum(m[key]["value"] for m in reps)

    reads = [sp for sp in loop_spans if sp.name == "meta.read_manifest"]
    plans = [sp.result for sp in counted if sp.name == "scan.plan_files"]
    cow = [op for op in first if op.kind == "delete_cow"]
    cow_rows = sum(op.info.get("rows_deleted", 0) for op in cow)
    spark_first = [events[f"op-{op.oid}"] for op in first
                   if f"op-{op.oid}" in events]

    def jobs(kinds):
        return [events[f"op-{op.oid}"].jobs for op in first
                if op.kind in kinds and f"op-{op.oid}" in events]

    dml_jobs = jobs(DML_KINDS)
    task_ms = sum(events[f"op-{op.oid}"].task_ms for op in ops
                  if f"op-{op.oid}" in events)
    cpu_ms = sum(events[f"op-{op.oid}"].cpu_ms for op in ops
                 if f"op-{op.oid}" in events)
    read_s = sum(sp.t1 - sp.t0 for sp in reads)
    return {
        "session.start_ms": session_s * 1000,
        "catalog.load_table_ms": per_op("catalog.load_table"),
        "catalog.commit_table_ms": per_call("catalog.commit_table"),
        "catalog.commit_attempts": rsum(reports(first), "attempts"),
        "meta.read_manifest_list_ms": per_op("meta.read_manifest_list"),
        "meta.read_manifest_ms": per_op("meta.read_manifest"),
        "meta.manifests_read": sum(1 for sp in counted
                                   if sp.name == "meta.read_manifest"),
        "meta.entries_decoded": sum(sp.result or 0 for sp in counted
                                    if sp.name == "meta.read_manifest"),
        "meta.entries_per_s": (sum(sp.result or 0 for sp in reads) / read_s
                               if read_s else 0.0),
        "meta.write_manifest_ms": per_call("meta.write_manifest"),
        "meta.manifest_bytes_written": sum(
            size for path, (size, tag) in ctx.seen_files.items()
            if tag in first_ids and path.endswith(".avro")),
        "plans.eval_ms": per_op("scan.plan_files"),
        "plans.manifests_skipped_ratio": _ratio(
            sum(p["skipped_manifests"] for p in plans),
            sum(p["total_manifests"] for p in plans)),
        "plans.files_skipped_ratio": _ratio(
            sum(p["skipped_data_files"] for p in plans),
            sum(p["total_data_files"] for p in plans)),
        "scan.plan_ms": sum((sp.t1 - sp.t0) * 1000 for sp in loop_spans
                            if sp.name == "scan.plan_files") / len(ops),
        "scan.lower_ms": per_op("scan.to_df"),
        "scan.tasks": sum(p["tasks"] for p in plans),
        "scan.delete_files": sum(p["result_delete_files"] for p in plans),
        "write.data_ms": per_call("write.write_dataframe"),
        "write.files_added": rsum(reports(first), "added-data-files"),
        "write.bytes_added": rsum(reports(first), "added-files-size-bytes"),
        "txn.commit_ms": per_call("txn.commit"),
        "txn.manifests_in_snapshot": manifests_in_snapshot,
        "dml.jobs_per_op": _ratio(sum(dml_jobs), len(dml_jobs)),
        "dml.rows_rewritten_per_row_deleted": _ratio(
            rsum(reports(cow), "added-records"), cow_rows),
        "maint.bytes_rewritten": rsum(reports(first, "compact"),
                                      "added-files-size-bytes"),
        "maint.files_expired": sum(op.info.get("files_expired", 0)
                                   for op in first),
        "op.jobs": sum(jobs(OPERATOR_KINDS)),
        "spark.catalyst_ms": per_op("spark.catalyst"),
        "spark.action_ms": per_op("spark.action"),
        "spark.jobs": sum(g.jobs for g in spark_first),
        "spark.stages": sum(len(g.stages) for g in spark_first),
        "spark.tasks": sum(g.tasks for g in spark_first),
        "spark.task_ms": task_ms / len(ops),
        "spark.executor_cpu_ms": cpu_ms / len(ops),
        "spark.shuffle_write_bytes": sum(g.shuffle_write_bytes
                                         for g in spark_first),
        "spark.spill_bytes": sum(g.spill_bytes for g in spark_first),
    }, self_s


def _ratio(a, b) -> float:
    return a / b if b else 0.0


def detail(ctx: Context, builds) -> dict:
    """Per-kind latencies, the ungated medians and the build times: the
    breakdown behind the gated metrics, printed before the result line."""
    kinds = defaultdict(list)
    for op in ctx.ops:
        kinds[op.kind].append(op.ms)
    plan_ms = [r["metrics"]["total-planning-duration"]["total-duration"]
               / 1e6 for op in ctx.ops for r in op.reports
               if r.get("report-type") == "scan-report"]
    out = {f"op.{k}.p50_ms": _median(v) for k, v in kinds.items()}
    out.update({f"op.{k}.cpu_p50_ms": _median(
        [op.cpu_ms for op in ctx.ops if op.kind == k]) for k in kinds})
    out["op.p50_ms"] = _median([op.ms for op in ctx.ops])
    out["op_mean_ms"] = statistics.mean(op.ms for op in ctx.ops)
    out["plan.p50_ms"] = _median(plan_ms)
    out.update({f"op.{k}.n": len(v) for k, v in kinds.items()})
    out["cycles"] = 1 + max((op.cycle for op in ctx.ops), default=-1)
    out["build_s"] = builds
    return out


def warm_python_workers(spark, cpus: int) -> None:
    """Start one executor Python worker per task slot and import the
    engine's executor-side modules in each.  Left to the loop, the number
    of workers an op starts, each paying about a second of imports,
    depends on how its tasks happen to overlap."""
    def imports(batches):
        import iceberg_go_spark.meta.dv  # noqa: F401
        import iceberg_go_spark.operators.curation  # noqa: F401
        import iceberg_go_spark.operators.dedup  # noqa: F401
        import iceberg_go_spark.operators.similarity  # noqa: F401
        import iceberg_go_spark.operators.text  # noqa: F401
        import iceberg_go_spark.table.dml  # noqa: F401
        import iceberg_go_spark.table.scan  # noqa: F401
        import iceberg_go_spark.table.write  # noqa: F401
        time.sleep(1.0)  # hold the slot, so that every slot starts a worker
        yield from batches
    spark.range(cpus, numPartitions=cpus).mapInPandas(
        imports, "id long").collect()


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="row-count multiplier; the self-test uses 0.02")
    args = ap.parse_args(argv)

    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    state = os.path.join(ROOT, ".perfbench")
    workdir = os.path.join(
        state, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(workdir, "tmp")
    events_dir = os.path.join(workdir, "events")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(events_dir, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    # compiler threads that stay up keep their CPU time out of op_cpu_ms
    submit = [f"--driver-java-options '-Djava.io.tmpdir={tmp} "
              "-XX:-UseDynamicNumberOfCompilerThreads'"]
    if args.trace:
        submit += ["--conf spark.eventLog.enabled=true",
                   f"--conf spark.eventLog.dir=file://{events_dir}",
                   "--conf spark.eventLog.compress=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])

    try:
        ctx, metrics_out = measure(args, cpus, workdir, events_dir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    failed = sum(1 for op in ctx.ops if not op.ok)
    print(json.dumps({"correct": failed == 0, "attempted": len(ctx.ops),
                      "failed": failed, "metrics": metrics_out}), flush=True)
    return 0


def measure(args, cpus: int, workdir: str, events_dir: str):
    """Session, builds, loop and checks; returns the context and the
    metrics of the result line.  Fails on import when the checkout holds
    no engine."""
    sys.path.insert(0, ROOT)
    from iceberg_go_spark import metrics
    from iceberg_go_spark.session import get_spark
    from perfbench.trace import Tracer, attribute, read_event_log
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"have {sorted(WORKLOADS)}")
    env = {"cpus": cpus, "master": f"local[{cpus}]",
           "driver_mem": os.environ["SPARK_DRIVER_MEM"], "seed": args.seed,
           "scale": args.scale, "workload": args.workload,
           "trace": args.trace, "source_hash": source_hash()}
    print(json.dumps({"env": env}), flush=True)

    reporter = metrics.InMemoryReporter()
    metrics.register(REPORTER, lambda props: reporter)
    tracer = Tracer(bool(args.trace))
    tracer.install()
    t0 = time.perf_counter()
    with tracer.span("session.start"):
        spark = get_spark(app_name=f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    ctx = Context(spark, args.seed, args.scale, workdir, tracer, reporter)
    try:
        workload = WORKLOADS[args.workload](ctx)
        builds = []
        for k in range(BUILDS):
            ctx.start_build()
            tracer.op = f"build{k}"
            if tracer.enabled:
                spark.sparkContext.setJobGroup(f"build{k}", "setup")
            t1 = time.perf_counter()
            workload.build(k)
            builds.append(time.perf_counter() - t1)
            tracer.op = None
            ctx.note_files(f"build{k}")
        setup_s = session_s + statistics.median(builds)
        warm_python_workers(spark, cpus)

        deadline = time.perf_counter() + args.seconds
        cycle, in_snapshot = 0, 0
        while cycle == 0 or time.perf_counter() < deadline:
            workload.cycle(cycle)
            if cycle == 0 and tracer.enabled:
                from iceberg_go_spark.meta import manifests as M
                snap = workload.main_table().current_snapshot()
                in_snapshot = len(M.read_manifest_list(
                    snap.manifest_list)) if snap else 0
            cycle += 1
        workload.finish()
        e2e = end_to_end(ctx, workload, setup_s)
        from pyspark import SparkContext
        jvm_rss_mb = peak_rss_mb(SparkContext._gateway.proc.pid)
    finally:
        tracer.uninstall()
        stop_spark(spark)
    e2e["driver_rss_mb"] = peak_rss_mb(os.getpid())

    info = {**detail(ctx, builds), "jvm_rss_mb": jvm_rss_mb}
    if not args.trace:
        print(json.dumps({"detail": info}), flush=True)
        return ctx, {k: {"value": e2e[k], "unit": u}
                     for k, u in END_TO_END.items()}
    tracer.write(os.path.join(
        ROOT, ".perfbench", f"spans-{args.workload}-seed{args.seed}.jsonl"))
    layers, self_s = per_layer(ctx, tracer, read_event_log(events_dir),
                               session_s, in_snapshot)
    info.update({f"self.{name}_ms": sec * 1000 / len(ctx.ops)
                 for name, sec in sorted(self_s.items())})
    # an op's layer times add up to its wall time; the gap is the client
    # time outside the op's root span
    info["attribution_max_gap_ms"] = max(op.ms - 1000 * sum(attribute(
        [sp for sp in tracer.spans if sp.op == op.oid]).values())
        for op in ctx.ops)
    print(json.dumps({"detail": info, "end_to_end_traced": e2e}),
          flush=True)
    return ctx, {k: {"value": layers[k], "unit": u}
                 for k, u in PER_LAYER.items()}


if __name__ == "__main__":
    sys.exit(main())
