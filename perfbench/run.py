#!/usr/bin/env python3
"""Lake benchmark for the hiveberg_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload lake_read --seed 1 --seconds 10 --trace 0

One process drives the package through its public functions, one
operation at a time (a closed loop) on local[<cores>]. It builds synthetic
fixtures, starts the session, runs one warm-up pass and then timed passes
until `--seconds` have passed; every result is checked outside the timed
region. The last stdout line is one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics of a traced run with `--trace 1`. The
line before it holds sample counts, the environment and, when traced, the
end-to-end metric each layer metric should move.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import re
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import fixtures  # noqa: E402
import workloads  # noqa: E402
from spans import PYTHON_NODE_MARKERS  # noqa: E402

WORKLOADS = ("lake_read", "lake_write", "llm_pipeline")

#: fixture rows: the engine's sf0.01 tables (lineitem about 60k rows)
SCALE = fixtures.Scale(
    customer=1500,
    supplier=100,
    part=2000,
    orders=15000,
    events=10000,
    documents=500,
    embeddings=500,
)

#: per-layer metric -> (end-to-end metric it should move, workloads)
LAYER_TARGETS = {
    "session.start_s": ("setup_s", "all"),
    "operators.construct_s": ("pass_s", "llm_pipeline, lake_write"),
    "operators.construct_jobs": ("pass_s", "llm_pipeline, lake_write"),
    "plans.plan_s": ("op_p50_s", "lake_read"),
    "plans.exchanges": ("pass_s", "llm_pipeline"),
    "plans.python_nodes": (None, "counts the udfs nodes"),
    "execution.execute_s": ("op_p50_s", "lake_read"),
    "execution.jobs": ("op_p50_s", "lake_read"),
    "execution.stages": ("op_p50_s", "lake_read"),
    "execution.tasks": ("op_p50_s", "lake_read"),
    "execution.executor_cpu_s": ("pass_s", "llm_pipeline"),
    "execution.gc_s": ("pass_s", "llm_pipeline"),
    "execution.shuffle_bytes": ("pass_s", "llm_pipeline"),
    "execution.spill_bytes": ("pass_s", "llm_pipeline"),
    "udfs.python_eval_s": ("pass_s, op_tail_s", "llm_pipeline, lake_read"),
    "udfs.python_bytes": ("pass_s, op_tail_s", "llm_pipeline, lake_read"),
    "snapshot_table.plan_files_s": ("op_p50_s", "lake_read"),
    "snapshot_table.files_live": ("op_p50_s", "lake_read"),
    "snapshot_table.files_kept": ("op_p50_s", "lake_read"),
    "snapshot_table.prune_ratio": ("op_p50_s", "lake_read"),
    "snapshot_table.append_s": ("pass_s", "lake_write"),
    "snapshot_table.delete_cow_s": ("pass_s", "lake_write"),
    "snapshot_table.delete_mor_s": ("pass_s", "lake_write"),
    "snapshot_table.delete_dv_s": ("pass_s", "lake_write"),
    "snapshot_table.merge_s": ("pass_s", "lake_write"),
    "snapshot_table.compact_s": ("pass_s", "lake_write"),
    "snapshot_table.expire_s": ("pass_s", "lake_write"),
    "snapshot_table.count_rows_s": ("pass_s", "lake_write"),
    "snapshot_table.metadata_bytes": ("write_bytes_per_input_byte", "lake_write"),
    "pyds.scan_s": ("op_tail_s", "lake_read"),
    "streaming.query_s": ("pass_s", "lake_read, lake_write"),
    "trace.overhead_s": (None, "traced pass_s minus untraced pass_s"),
}
_COMMIT_METRIC = {
    "append": "snapshot_table.append_s",
    "delete_cow": "snapshot_table.delete_cow_s",
    "delete_mor": "snapshot_table.delete_mor_s",
    "delete_dv": "snapshot_table.delete_dv_s",
    "merge_upsert": "snapshot_table.merge_s",
    "compact": "snapshot_table.compact_s",
    "expire_snapshots": "snapshot_table.expire_s",
}
_UNITS = {"_s": "s", "_bytes": "bytes", "ratio": "ratio"}

#: end-to-end metrics on the result line; the others go to the detail
#: line only. At the operation counts one run affords (22 to 34), the tail
#: percentile is p55 to p71, and the JVM's peak resident set follows G1's
#: heap sizing: neither repeats closely enough across runs to gate on.
GATED = (
    "setup_s",
    "pass_s",
    "op_p50_s",
    "write_bytes_per_input_byte",
    "stored_bytes_per_input_byte",
)


#: the workloads BENCHMARK.json names; every traced run reports the
#: operations of these (0 where it does not run them) and its own
NAMED_WORKLOADS = ("lake_read", "lake_write")


def op_metric_names(workload: str) -> list[str]:
    names: list[str] = []
    for w in NAMED_WORKLOADS + (workload,):
        names += [f"op.{n}_s" for n in workloads.OP_NAMES[w] if f"op.{n}_s" not in names]
    return names


def _unit(name: str) -> str:
    for suffix, unit in _UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


# --------------------------------------------------------------- processes


def _process_start() -> float:
    """Wall-clock start of this process (from /proc, so interpreter
    start-up counts toward set-up)."""
    try:
        with open("/proc/self/stat") as f:
            ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
    except (OSError, ValueError, IndexError):
        return time.time()
    return time.time() - (uptime - ticks / os.sysconf("SC_CLK_TCK"))


def _cpu_ticks() -> list[int]:
    """Host-wide CPU ticks: user, nice, system, idle, iowait, irq,
    softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _cpu_shares(before: list[int], after: list[int]) -> dict[str, float]:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    busy = d[0] + d[1] + d[2] + d[5] + d[6]
    return {"busy": busy / total, "iowait": d[4] / total, "steal": d[7] / total}


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for ln in f:
            if ln.startswith("VmHWM:"):
                return int(ln.split()[1]) / 1024
    return 0.0


def _stop_spark(spark) -> None:
    """Stop the session, the JVM and the Python workers it started, and
    wait until each has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = _descendants(proc.pid) if proc is not None else []
    try:
        if spark is not None:
            spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.time() + 30
        for pid in kids:
            while _alive(pid) and time.time() < deadline:
                time.sleep(0.05)
            if _alive(pid):
                os.kill(pid, signal.SIGKILL)
        SparkContext._gateway = None
        SparkContext._jvm = None


# ------------------------------------------------------------- environment


def _pin_env(root: str, work: str, cpus: int) -> dict:
    for d in ("tmp", "graft", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + old if old else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_TMP"] = os.path.join(work, "graft")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return {
        k: os.environ[k]
        for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_TMP", "TMPDIR", "SPARK_LOCAL_DIRS")
    }


def _source_digest(root: str) -> str:
    h = hashlib.sha256()
    pkg = os.path.join(root, "hiveberg_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(d, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def _git_commit(root: str) -> str | None:
    """HEAD of the checkout, read from `.git` without running git (a
    checkout without `.git` reports None; `source_digest` still
    identifies the code)."""
    git = os.path.join(root, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        path = os.path.join(git, ref)
        if os.path.exists(path):
            with open(path) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for ln in f:
                if ln.rstrip().endswith(" " + ref):
                    return ln.split()[0]
    except OSError:
        pass
    return None


# ----------------------------------------------------------------- passes


class Runner:
    def __init__(self, workload: str, ctx, seed: int):
        self.workload = workload
        self.ctx = ctx
        self.seed = seed
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def run_pass(self, pass_no: int, traced: bool) -> dict:
        ctx, tr = self.ctx, self.ctx.tracer
        tr.enabled = traced
        rnd = random.Random(f"{self.seed}/{pass_no}")
        ops = workloads.build_pass(self.workload, ctx, rnd, pass_no)
        rec = {
            "pass": pass_no,
            "traced": traced,
            "ops": [],
            "params": [op.params for op in ops if op.params],
            "written_bytes": 0,
            "stored_bytes": 0,
        }
        t_pass = time.perf_counter()
        untimed = 0.0
        for i, op in enumerate(ops):
            self.attempted += 1
            t_u = time.perf_counter()
            before = workloads.dir_files(op.writes_to) if op.writes_to else None
            untimed += time.perf_counter() - t_u
            tag = f"{pass_no}/{i}/{op.name}"
            tr.context = {"pass_no": pass_no, "op": op.name}
            sample = {"name": op.name, "seconds": None, "problems": []}
            try:
                with tr.span("bench.op"):
                    t0 = time.perf_counter()
                    with tr.span(op.construct_span, group=f"{tag}/construct"):
                        handle = op.construct()
                    if traced:
                        self._traced_extras(op, handle, tag)
                    with tr.span(op.act_span, group=f"{tag}/action"):
                        result = op.act(handle)
                    sample["seconds"] = time.perf_counter() - t0
                t_u = time.perf_counter()
                sample["problems"] = op.check(result)
            except Exception as exc:  # one failing operation must not end the run
                t_u = time.perf_counter()
                sample["problems"] = [
                    f"{type(exc).__name__}: {exc}".splitlines()[0][:500]
                ]
                traceback.print_exc(file=sys.stderr)
            if before is not None:
                after = workloads.dir_files(op.writes_to)
                rec["written_bytes"] += workloads.written_bytes(before, after)
                rec["stored_bytes"] = sum(size for size, _ in after.values())
            untimed += time.perf_counter() - t_u
            if sample["problems"]:
                self.failed += 1
                self.failures.append(f"{tag}: {sample['problems'][0]}")
            rec["ops"].append(sample)
        rec["pass_s"] = time.perf_counter() - t_pass - untimed
        return rec

    def _traced_extras(self, op, handle, tag: str) -> None:
        from hiveberg_spark.plans.inspect import explain_str

        tr = self.ctx.tracer
        if op.probe is not None:
            with tr.span("snapshot_table.plan_files", group=f"{tag}/probe") as sp:
                sp.attrs["files_live"], sp.attrs["files_kept"] = op.probe()
        if op.plan and handle is not None:
            with tr.span("plans.plan", group=f"{tag}/plan") as sp:
                plan = explain_str(handle, "simple")
            nodes = [_NODE.match(ln).group(1) for ln in plan.splitlines()]
            names = [re.match(r"[A-Za-z]*", n).group(0) for n in nodes]
            sp.attrs["exchanges"] = sum(
                1 for n in names if n.endswith("Exchange") and n != "ReusedExchange"
            )
            sp.attrs["python_nodes"] = sum(
                1 for n in nodes if any(m in n for m in PYTHON_NODE_MARKERS)
            )


#: a plan line: tree drawing, an optional codegen stage id, the node text
_NODE = re.compile(r"^[\s:+*-]*(?:\(\d+\)\s*)?(.*)$")


# ----------------------------------------------------------------- metrics


def _tail(samples: list[float]) -> tuple[float, float]:
    """Highest percentile with at least ten samples above it."""
    s = sorted(samples)
    i = max(0, len(s) - 11)
    return s[i], round(100.0 * (i + 1) / len(s), 1)


def end_to_end(passes: list[dict], setup_s: float, peak_mb: float, ratios) -> dict:
    """{metric: (value, unit, samples)} over the measured passes."""
    lat = [o["seconds"] for p in passes for o in p["ops"] if o["seconds"] is not None]
    pass_s = [p["pass_s"] for p in passes]
    tail, pct = _tail(lat) if lat else (0.0, 0.0)
    written, stored, n_ratio = ratios
    return {
        "setup_s": (setup_s, "s", 1),
        "pass_s": (statistics.median(pass_s), "s", len(pass_s)),
        "op_p50_s": (statistics.median(lat) if lat else 0.0, "s", len(lat)),
        "op_tail_s": (tail, "s", len(lat), pct),
        "peak_rss_mb": (peak_mb, "MB", 1),
        "write_bytes_per_input_byte": (written, "B/B", n_ratio),
        "stored_bytes_per_input_byte": (stored, "B/B", n_ratio),
    }


#: span name -> the per-layer metric its durations add up to
_SPAN_SECONDS = {
    "operators.construct": "operators.construct_s",
    "plans.plan": "plans.plan_s",
    "snapshot_table.plan_files": "snapshot_table.plan_files_s",
    "snapshot_table.count_rows": "snapshot_table.count_rows_s",
    "execution.execute": "execution.execute_s",
    "pyds.scan": "pyds.scan_s",
}
_SPAN_COUNTS = {
    "plans.plan": ("exchanges", "python_nodes"),
    "snapshot_table.plan_files": ("files_live", "files_kept"),
}
_JOB_STATS = {
    "executor_cpu_s": "execution.executor_cpu_s",
    "gc_s": "execution.gc_s",
    "shuffle_bytes": "execution.shuffle_bytes",
    "spill_bytes": "execution.spill_bytes",
    "python_time_s": "udfs.python_eval_s",
    "python_bytes": "udfs.python_bytes",
}


def per_layer(
    workload: str, passes: list[dict], tracer, folded: dict, session_s: float
) -> dict:
    """Per-layer metrics of the traced passes: each pass's total, median
    over the traced passes; `op.<name>_s` is the median latency of that
    operation. Executor-side counters (CPU, GC, shuffle, spill, Python)
    cover every job of an operation; jobs, stages and tasks cover the
    jobs of its action."""
    traced = [p["pass"] for p in passes if p["traced"]]
    per_pass: dict[int, dict[str, float]] = {n: {} for n in traced}

    def add(d, key, value):
        d[key] = d.get(key, 0.0) + value

    for idx, sp in enumerate(tracer.spans):
        d = per_pass.get(sp.attrs.get("pass_no"))
        if d is None or sp.name == "bench.op":
            continue
        st = folded.get(idx)
        if st is not None:
            for k, metric in _JOB_STATS.items():
                add(d, metric, getattr(st, k))
        if sp.name in _SPAN_SECONDS:
            add(d, _SPAN_SECONDS[sp.name], sp.seconds)
        if sp.name == "operators.construct":
            add(d, "operators.construct_jobs", st.jobs if st else 0)
        layer = sp.name.split(".", 1)[0]
        for k in _SPAN_COUNTS.get(sp.name, ()):
            add(d, f"{layer}.{k}", sp.attrs.get(k, 0))
        if sp.name in ("execution.execute", "pyds.scan"):
            if sp.name == "pyds.scan":
                add(d, "execution.execute_s", sp.seconds)
            for k in ("jobs", "stages", "tasks"):
                add(d, f"execution.{k}", getattr(st, k) if st else 0)
        op = sp.attrs.get("op")
        if op in workloads.STREAM_QUERIES and sp.attrs.get("group"):
            add(d, "streaming.query_s", sp.seconds)
        if op in _COMMIT_METRIC and sp.name == f"snapshot_table.{op}":
            add(d, _COMMIT_METRIC[op], sp.seconds)
    for rec in passes:
        if rec["traced"]:
            per_pass[rec["pass"]]["snapshot_table.metadata_bytes"] = rec.get(
                "metadata_bytes", 0
            )

    out = {}
    for name in LAYER_TARGETS:
        vals = [per_pass[n].get(name, 0.0) for n in traced]
        out[name] = statistics.median(vals) if vals else 0.0
    out["session.start_s"] = session_s
    kept = sum(per_pass[n].get("snapshot_table.files_kept", 0) for n in traced)
    live = sum(per_pass[n].get("snapshot_table.files_live", 0) for n in traced)
    out["snapshot_table.prune_ratio"] = kept / live if live else 0.0
    t = [p["pass_s"] for p in passes if p["traced"]]
    u = [p["pass_s"] for p in passes if not p["traced"]]
    out["trace.overhead_s"] = statistics.median(t) - statistics.median(u)
    ops: dict[str, list[float]] = {}
    for p in passes:
        for o in p["ops"] if p["traced"] else ():
            if o["seconds"] is not None:
                ops.setdefault(o["name"], []).append(o["seconds"])
    for name in op_metric_names(workload):
        vals = ops.get(name[len("op.") : -len("_s")], [])
        out[name] = statistics.median(vals) if vals else 0.0
    return out


# -------------------------------------------------------------------- main


def main(argv=None) -> int:
    t_proc = _process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "hiveberg_spark", "__init__.py")):
        print(f"no hiveberg_spark package under {root}", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    # Spark gets half the cores: this Python process, the JVM's own threads
    # and the Python workers run beside the tasks, and on a shared host a
    # full local[nproc] made runs of the same code spread wider.
    cpus = max(1, nproc // 2)
    load_before = os.getloadavg()
    run_id = uuid.uuid4().hex[:12]
    work = os.path.join(root, ".perfbench", f"run-{run_id}")
    env = _pin_env(root, work, cpus)
    sys.path.insert(0, root)
    try:
        detail, final = _run(args, root, work, run_id, nproc, cpus, t_proc)
    finally:
        try:
            from pyspark import SparkContext
            from pyspark.sql import SparkSession

            if SparkContext._gateway is not None:
                _stop_spark(SparkSession.getActiveSession())
        finally:
            shutil.rmtree(work, ignore_errors=True)
    detail["env"].update(
        env, loadavg_before=list(load_before), loadavg_after=list(os.getloadavg())
    )
    print(json.dumps(detail))
    print(json.dumps(final))
    return 0


def _run(
    args, root: str, work: str, run_id: str, nproc: int, cpus: int, t_proc: float
):
    import hiveberg_spark

    if not os.path.abspath(hiveberg_spark.__file__).startswith(root + os.sep):
        raise RuntimeError(f"hiveberg_spark imported from {hiveberg_spark.__file__}")
    import pyspark

    from checks import Oracles
    from spans import Tracer, fold_event_log

    trace = bool(args.trace)
    sf_dir = os.path.join(work, "fixtures")
    fixtures.generate(sf_dir, SCALE)
    digest = fixtures.digest(sf_dir)
    tracer = Tracer(trace, run_id)

    extra = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": "-Djava.io.tmpdir="
        + os.environ["TMPDIR"]
        + " -XX:-UsePerfData",
    }
    log_dir = os.path.join(work, "eventlog")
    if trace:
        os.makedirs(log_dir)
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                # the default codec (zstd) needs a module this image lacks
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + log_dir,
            }
        )
    from hiveberg_spark import registry
    from hiveberg_spark.session import get_spark

    with tracer.span("session.start"):
        t0 = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            master=f"local[{cpus}]",
            extra_conf=extra,
        )
        session_s = time.perf_counter() - t0
    tracer.bind(spark.sparkContext)
    registry.load_all()
    ctx = workloads.Ctx(
        spark=spark,
        sf_dir=sf_dir,
        work=work,
        oracles=Oracles(
            sf_dir,
            digest,
            os.path.join(root, ".perfbench", "oracle-cache"),
            os.path.join(work, "duckdb"),
        ),
        tracer=tracer,
        queries=registry.QUERIES,
        input_bytes=os.path.getsize(os.path.join(sf_dir, "lineitem.parquet")),
        n_orders=SCALE.orders,
    )
    workloads.setup(args.workload, ctx)
    runner = Runner(args.workload, ctx, args.seed)
    warm = runner.run_pass(0, traced=False)
    setup_s = time.time() - t_proc

    passes: list[dict] = []
    ticks = _cpu_ticks()
    t_start = time.perf_counter()
    while True:
        pass_no = len(passes) + 1
        rec = runner.run_pass(pass_no, traced=trace and pass_no % 2 == 1)
        if args.workload == "lake_write":
            meta = os.path.join(work, f"lake_write_{pass_no}", "metadata")
            rec["metadata_bytes"] = sum(
                size for size, _ in workloads.dir_files(meta).values()
            )
        passes.append(rec)
        # at least two timed passes: traced runs alternate traced and
        # untraced passes, and the JVM is still warming during the first
        # timed pass, so a run that stopped after it would read slow
        if time.perf_counter() - t_start >= args.seconds and len(passes) >= 2:
            break
    cpu = _cpu_shares(ticks, _cpu_ticks())

    from pyspark import SparkContext

    rss_mb = {
        "python": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
        "jvm": _peak_rss_mb(SparkContext._gateway.proc.pid),
    }
    peak_mb = sum(rss_mb.values())
    _stop_spark(spark)

    if args.workload == "lake_read":
        written = ctx.setup_written
        stored = sum(size for size, _ in workloads.dir_files(ctx.table_loc).values())
        n_ratio = 1
    else:
        written = statistics.median(p["written_bytes"] for p in passes)
        stored = statistics.median(p["stored_bytes"] for p in passes)
        n_ratio = len(passes)
    e2e = end_to_end(
        passes,
        setup_s,
        peak_mb,
        (written / ctx.input_bytes, stored / ctx.input_bytes, n_ratio),
    )
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": trace,
        "run_id": run_id,
        "end_to_end": {
            k: {"value": v[0], "unit": v[1], "samples": v[2]} for k, v in e2e.items()
        },
        "op_tail_percentile": e2e["op_tail_s"][3],
        "failed_op_ratio": runner.failed / runner.attempted,
        "failures": runner.failures[:20],
        "peak_rss_parts_mb": rss_mb,
        "passes": [
            {
                **{k: p[k] for k in ("pass", "traced", "pass_s", "params")},
                "ops": [[o["name"], o["seconds"]] for o in p["ops"]],
            }
            for p in [warm] + passes
        ],
        "fixtures": {"digest": digest, "rows": SCALE.__dict__},
        "env": {
            "nproc": nproc,
            "spark_cores": cpus,
            "pyspark": pyspark.__version__,
            "python": sys.version.split()[0],
            "git_commit": _git_commit(root),
            "source_digest": _source_digest(root),
            "cpu_shares_timed": cpu,
        },
    }
    if trace:
        spans_path = os.path.join(root, ".perfbench", f"spans-{run_id}.jsonl")
        tracer.dump(spans_path)
        folded = fold_event_log(log_dir, tracer.spans)
        layer = per_layer(args.workload, passes, tracer, folded, session_s)
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in layer.items()}
        detail["layer_self_s"] = tracer.self_seconds()
        detail["spans_file"] = os.path.relpath(spans_path, root)
        detail["targets"] = {
            k: {"moves": v[0], "on": v[1]} for k, v in LAYER_TARGETS.items()
        }
    else:
        metrics = {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in GATED}
    final = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }
    return detail, final


if __name__ == "__main__":
    sys.exit(main())
