"""Benchmark entry point.

    python3 perfbench/run.py --workload bi_curation --seed 1 --seconds 10 --trace 0

Runs one workload in a fresh child process and Spark application, checks
its outputs, and prints the metrics: one ``name value unit`` line each,
then, as the last line, the JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` reports the per-layer metrics and
writes spans and per-operation counts to
``perfbench/.results/<workload>-trace.json``. See perfbench/README.md.

This process only supervises: the run itself is a child in a process
group of its own, and whichever way the child ends, every process left in
that group or orphaned to this one (the Spark JVM, Python workers) is
stopped and waited for before the command exits.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "databricks_data_warehouse_spark"
# set in the child's environment: marks the run itself, and carries the
# supervisor's start time, from which setup_s counts
CHILD_ENV = "PERFBENCH_STARTED_AT"
PR_SET_PDEATHSIG, PR_SET_CHILD_SUBREAPER = 1, 36
STOP_GRACE_S = 5.0
STOP_LIMIT_S = 30.0

END_TO_END = {"setup_s": "s", "wall_s": "s"}
# end-to-end figures left unbounded: op_p50_s is the median of 12-16
# unlike operations, so which operation it lands on moves it from run to
# run; rss_peak_mb follows the JVM's heap growth; the other four only the
# write workload has. Every untraced run prints them and the traced run
# reports them (the write figures 0 elsewhere).
FIGURES = {
    "op_p50_s": "s", "rss_peak_mb": "MB", "commit_p50_s": "s",
    "read_p50_s": "s", "write_amp": "ratio", "space_amp": "ratio",
}
PER_LAYER = {
    "session.start_s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "queries.action_s": "s", "queries.action_jobs": "count",
    "ext.build_s": "s", "ext.build_jobs": "count",
    "ext.action_s": "s", "ext.action_jobs": "count",
    "scratch.bytes": "bytes", "scratch.entries": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.idle_s": "s", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "python.boot_s": "s", "python.init_s": "s", "python.run_s": "s",
    "python.bytes_sent": "bytes", "python.bytes_received": "bytes",
    "tables.commit_s": "s", "tables.commit_jobs": "count",
    "tables.files_added": "count", "tables.bytes_added": "bytes",
    "tables.files_live": "count", "tables.scan_files_kept_ratio": "ratio",
    "tables.cdf_incremental_ratio": "ratio",
    "pipelines.bronze_ingest_s": "s", "pipelines.validate_to_silver_s": "s",
    "pipelines.build_gold_s": "s", "pipelines.jobs": "count",
    "streaming.batches": "count", "streaming.batch_s": "s",
    "streaming.rows": "count",
    **FIGURES,
    "trace.wall_s": "s",
}


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _prctl(option: int, arg: int) -> None:
    if ctypes.CDLL(None, use_errno=True).prctl(option, arg, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl failed")


def group_leftovers(pgid: int) -> list[tuple[int, str]]:
    """(pid, state) of every process other than this one that is in
    process group ``pgid`` or is a child of this process."""
    me = os.getpid()
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == me:
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        state, ppid, pgrp = fields[0], int(fields[1]), int(fields[2])
        if pgrp == pgid or ppid == me:
            out.append((int(name), state))
    return out


def reap_children() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_group(pgid: int) -> None:
    """Stop what is left of the run and wait until it has ended:
    SIGTERM at once, SIGKILL after ``STOP_GRACE_S``. Orphans are
    re-parented to this process (a child subreaper), so they are reaped
    here too."""
    started = time.monotonic()
    while True:
        reap_children()
        left = group_leftovers(pgid)
        live = [pid for pid, state in left if state != "Z"]
        waited = time.monotonic() - started
        if not left or (not live and waited > STOP_LIMIT_S):
            return
        sig = signal.SIGTERM if waited < STOP_GRACE_S else signal.SIGKILL
        for pid in live:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def supervise(argv: list[str]) -> int:
    """Run the benchmark in a child process that leads a new process
    group, then stop every process the run left behind."""
    started_at = time.time() - process_age_s()
    try:
        _prctl(PR_SET_CHILD_SUBREAPER, 1)
    except (OSError, AttributeError):
        pass  # orphans then go to init; the group sweep still finds them

    def on_signal(signum, frame):
        raise SystemExit(128 + signum)

    for s in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(s, on_signal)

    def die_with_parent():
        _prctl(PR_SET_PDEATHSIG, signal.SIGKILL)

    child = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), *argv],
        env={**os.environ, CHILD_ENV: repr(started_at)},
        start_new_session=True, preexec_fn=die_with_parent)
    try:
        return child.wait()
    finally:
        stop_group(child.pid)


def phase(name: str) -> None:
    """Note on stderr when a phase of the run starts, in seconds since
    the command started (diagnostics only; stdout carries the result)."""
    t = time.time() - float(os.environ[CHILD_ENV])
    print(f"[perfbench {t:8.2f} s] {name}", file=sys.stderr, flush=True)


def stop_jvm() -> None:
    """Close the stdin of the JVM that PySpark launched, on which it
    exits, and wait for it; its Python workers exit when it does."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=STOP_LIMIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def cpu_ticks() -> list[int]:
    """The machine-wide CPU time counters of /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_ticks`` readings: a sign of a noisy host, not of the program."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta))


class Context:
    """Paths and settings of one run; every path is under the checkout."""

    def __init__(self, workload: str, seed: int, traced: bool, smoke: bool):
        self.workload = workload
        self.seed = seed
        self.traced = traced
        self.smoke = smoke
        self.tag = workload + ("-smoke" if smoke else "")
        self.cpus = len(os.sched_getaffinity(0))
        self.run_dir = os.path.join(HERE, ".runs", self.tag)
        self.data_dir = os.path.join(self.run_dir, "data")
        self.scratch_dir = os.path.join(self.run_dir, "scratch")
        self.event_dir = os.path.join(self.run_dir, "eventlog")
        self.results_dir = os.path.join(HERE, ".results")

    def isolate(self) -> None:
        """Empty the run's data, table, checkpoint and scratch roots and
        point every temporary directory the run uses into it."""
        shutil.rmtree(self.run_dir, ignore_errors=True)
        for sub in ("data", "tables", "scratch", "spark-local", "tmp",
                    "eventlog", "warehouse"):
            os.makedirs(os.path.join(self.run_dir, sub))
        os.makedirs(self.results_dir, exist_ok=True)
        tmp = os.path.join(self.run_dir, "tmp")
        os.environ.update({
            "SPARK_GRAFT_CPUS": str(self.cpus),
            "SPARK_LOCAL_DIRS": os.path.join(self.run_dir, "spark-local"),
            "SPARK_DRIVER_MEMORY": "2g",
            # the launcher JVM of spark-submit would write /tmp/hsperfdata_*
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
            "TMPDIR": tmp,
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        })
        for p in (ROOT, os.path.join(ROOT, "scripts"), HERE):
            if p not in sys.path:
                sys.path.insert(0, p)

    def spark_conf(self) -> dict[str, str]:
        tmp = os.path.join(self.run_dir, "tmp")
        conf = {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
            "spark.hadoop.hadoop.tmp.dir": tmp,
        }
        if self.traced:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf


def make_listener(spark):
    """A streaming listener that tallies micro-batches, their duration
    and input rows."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Tally(StreamingQueryListener):
        batches = 0
        batch_s = 0.0
        rows = 0

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.batches += 1
            self.batch_s += event.progress.batchDuration / 1000.0
            self.rows += event.progress.numInputRows

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    tally = Tally()
    spark.streams.addListener(tally)
    return tally


def end_to_end(ops, region, bookkeeping_s: float, rss_mb: float,
               setup_s: float) -> tuple[dict, dict]:
    from statistics import median

    from measure import tail

    lat = [o.seconds for o in ops]
    wall = region[1] - region[0] - bookkeeping_s
    tail_v, tail_p, n = tail(lat)
    metrics = {"setup_s": setup_s, "wall_s": wall}
    # a run has too few operations for a tail above the median to be
    # steady, so the tail is printed and recorded but not a metric
    info = {"op_p50_s": median(lat), "rss_peak_mb": rss_mb, "op_tail_s": tail_v,
            "op_tail_percentile": tail_p, "op_count": n}
    commits = [o.seconds for o in ops if o.kind == "commit"]
    reads = [o.seconds for o in ops if o.kind == "read"]
    if commits:
        info["commit_p50_s"] = median(commits)
    if reads:
        info["read_p50_s"] = median(reads)
    return metrics, info


def per_layer(ctx, ops, region, figures, wall_s, session_s, scratch_delta,
              tally) -> tuple[dict, dict]:
    """The per-layer metrics of a traced run, plus the detail record
    (spans, per-op counts, self time by layer). ``figures`` holds the
    workload's own table and write figures."""
    from measure import Span, job_totals, read_event_log, self_times

    jobs = read_event_log(ctx.event_dir)
    t0, t1 = region
    by_index = {o.index: o for o in ops}
    op_jobs: dict[int, list] = {o.index: [] for o in ops}
    phase_of: dict[int, str] = {}
    for j in jobs:
        owner = None
        if j.group and j.group.count(":") >= 2:
            idx, phase = j.group.split(":", 1)[0], j.group.rsplit(":", 1)[1]
            if idx.isdigit() and int(idx) in by_index:
                owner = int(idx)
                phase_of[j.job_id] = phase
        if owner is None and t0 <= j.submit_s <= t1:
            # jobs started off the client thread (stream executions):
            # attribute by time, operations being strictly sequential
            for o in ops:
                if o.start <= j.submit_s <= o.end:
                    owner = o.index
                    phase_of[j.job_id] = "action"
                    break
        if owner is not None:
            op_jobs[owner].append(j)

    m = dict.fromkeys(PER_LAYER, 0.0)
    absent: dict[str, str] = {}
    m["session.start_s"] = session_s
    for layer in ("queries", "ext"):
        lops = [o for o in ops if o.layer == layer]
        if not lops:
            absent[f"{layer}.*"] = f"no {layer} operations in this workload"
        for o in lops:
            b_end = o.build_end or o.start
            m[f"{layer}.build_s"] += b_end - o.start
            m[f"{layer}.action_s"] += o.end - b_end
            for j in op_jobs[o.index]:
                m[f"{layer}.{phase_of[j.job_id]}_jobs"] += 1
    m["scratch.bytes"], m["scratch.entries"] = scratch_delta
    all_jobs = [j for js in op_jobs.values() for j in js]
    m.update(job_totals(all_jobs, ctx.cpus))
    for k in PER_LAYER:
        if k.startswith("python.") and not any(k in j.python for j in all_jobs):
            absent[k] = "Spark reported no such SQL metric for this workload's plans"
    for o in ops:
        if o.layer == "tables" and o.kind == "commit":
            m["tables.commit_s"] += o.seconds
            m["tables.commit_jobs"] += len(op_jobs[o.index])
        if o.layer == "pipelines":
            m[f"pipelines.{o.name}_s"] += o.seconds
            m["pipelines.jobs"] += len(op_jobs[o.index])
    for k in ("files_added", "bytes_added", "files_live",
              "scan_files_kept_ratio", "cdf_incremental_ratio"):
        m[f"tables.{k}"] = figures.get(k, 0.0)
    for k in FIGURES:
        m[k] = figures.get(k, 0.0)
    if not any(o.layer in ("tables", "pipelines") for o in ops):
        absent["tables.*, pipelines.*, commit/read/amp"] = (
            "no table commits in this workload")
    if tally is not None:
        m["streaming.batches"] = tally.batches
        m["streaming.batch_s"] = tally.batch_s
        m["streaming.rows"] = tally.rows
    if not any(o.layer == "streaming" for o in ops):
        absent["streaming.*"] = "no streaming drains in this workload"
    m["trace.wall_s"] = wall_s

    spans = [Span("timed_region", "bench", t0, t1)]
    for o in ops:
        spans.append(Span(o.name, o.layer, o.start, o.end, 0,
                          {"ok": o.ok, "jobs": len(op_jobs[o.index])}))
        parent = len(spans) - 1
        if o.build_end is not None:
            spans.append(Span("build", o.layer, o.start, o.build_end, parent))
            spans.append(Span("action", o.layer, o.build_end, o.end, parent))
            phase_span = {"build": len(spans) - 2, "action": len(spans) - 1}
        else:
            phase_span = {"build": parent, "action": parent}
        for j in op_jobs[o.index]:
            spans.append(Span(f"job {j.job_id}", "spark", j.submit_s,
                              max(j.end_s, j.submit_s),
                              phase_span[phase_of[j.job_id]],
                              {"stages": len(j.stages), "tasks": j.tasks,
                               "executor_run_s": j.run_s, **j.python}))
    selfs = self_times(spans)
    by_layer: dict[str, float] = {}
    for s, st in zip(spans, selfs):
        by_layer[s.layer] = by_layer.get(s.layer, 0.0) + st
    detail = {
        "absent": absent,
        "self_s_by_layer": by_layer,
        "spans": [
            {"name": s.name, "layer": s.layer, "start": s.start, "end": s.end,
             "parent": s.parent, "self_s": st, **s.attrs}
            for s, st in zip(spans, selfs)
        ],
        "ops": [
            {"index": o.index, "name": o.name, "layer": o.layer,
             "kind": o.kind, "seconds": o.seconds, "ok": o.ok,
             "error": o.error,
             **job_totals(op_jobs[o.index], ctx.cpus)}
            for o in ops
        ],
    }
    return m, detail


def main(argv=None) -> int:
    if CHILD_ENV not in os.environ:
        return supervise(sys.argv[1:] if argv is None else list(argv))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    # each workload runs a fixed amount of work, longer than the
    # benchmark's run_seconds; a shorter timed region is noted on stderr
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for the benchmark's own tests")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: package {PACKAGE}/ not found next to perfbench/",
              file=sys.stderr)
        return 2
    ctx = Context(args.workload, args.seed, bool(args.trace), args.smoke)
    ctx.isolate()

    from measure import RssSampler, dir_usage
    from workloads import WORKLOADS, Client, redirect_scratch_root

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    rss = RssSampler().start()
    workload = WORKLOADS[args.workload](ctx)
    phase("generate")
    workload.generate()

    redirect_scratch_root(ctx.scratch_dir)
    from databricks_data_warehouse_spark.session import get_spark

    phase("session")
    t = time.time()
    spark = get_spark(app_name=f"perfbench-{args.workload}",
                      extra_conf=ctx.spark_conf())
    session_s = time.time() - t
    spark.sparkContext.setLogLevel("ERROR")
    try:
        tally = make_listener(spark) if ctx.traced else None
        phase("setup")
        workload.setup(spark)
        client = Client(spark, ctx.traced)
        scratch_before = dir_usage(ctx.scratch_dir)
        setup_s = time.time() - float(os.environ[CHILD_ENV])
        ticks = cpu_ticks()
        phase("timed region")
        region = workload.run(client)
        steal = steal_share(ticks, cpu_ticks())
        rss_mb = rss.stop()
        scratch_after = dir_usage(ctx.scratch_dir)
        phase("check")
        extra = workload.check(client)
    finally:
        phase("stop")
        spark.stop()
        stop_jvm()
        phase("stopped")

    if region[1] - region[0] < args.seconds:
        print(f"note: the timed region lasted {region[1] - region[0]:.1f} s, "
              f"less than --seconds {args.seconds:g}", file=sys.stderr)
    ops = client.ops
    if not ops:
        print("error: the workload ran no operations", file=sys.stderr)
        return 1
    metrics, info = end_to_end(ops, region, client.bookkeeping_s, rss_mb, setup_s)
    info.update({k: extra[k] for k in FIGURES if k in extra})
    failed = sum(not o.ok for o in ops)
    info["error_rate"] = failed / len(ops)
    info["host_steal_share"] = steal
    for o in ops:
        if not o.ok:
            print(f"FAILED op {o.index} {o.name}: {o.error}")
    for k, v in metrics.items():
        print(f"{k} {v:.6g} {END_TO_END[k]}")
    for k in FIGURES:
        if k in info:
            print(f"{k} {info[k]:.6g} {FIGURES[k]}")
    print(f"error_rate {info['error_rate']:.6g} ratio")
    print(f"host_steal_share {steal:.4f} ratio (CPU time given to other guests "
          "during the timed region)")
    print(f"op_tail_s {info['op_tail_s']:.6g} s (p{info['op_tail_percentile']} "
          f"of n={info['op_count']} operations)")

    if ctx.traced:
        delta = (scratch_after[0] - scratch_before[0],
                 scratch_after[1] - scratch_before[1])
        out, detail = per_layer(ctx, ops, region, {**extra, **info},
                                metrics["wall_s"], session_s, delta, tally)
        units = PER_LAYER
        ref_path = os.path.join(ctx.results_dir, f"{ctx.tag}-untraced.json")
        overhead = {"traced_wall_s": metrics["wall_s"]}
        if os.path.exists(ref_path):
            with open(ref_path) as f:
                ref = json.load(f)
            overhead.update(untraced_wall_s=ref["wall_s"], untraced_seed=ref["seed"],
                            overhead_s=metrics["wall_s"] - ref["wall_s"])
        detail.update(workload=args.workload, seed=args.seed,
                      end_to_end=metrics, info=info, workload_figures=extra,
                      per_layer=out, tracing_overhead=overhead)
        with open(os.path.join(ctx.results_dir,
                               f"{ctx.tag}-trace.json"), "w") as f:
            json.dump(detail, f, indent=1, default=str)
        print(f"tracing overhead: {json.dumps(overhead)}")
        for k, v in out.items():
            print(f"{k} {v:.6g} {units[k]}")
    else:
        out, units = metrics, END_TO_END
        with open(os.path.join(ctx.results_dir,
                               f"{ctx.tag}-untraced.json"), "w") as f:
            json.dump({"seed": args.seed, **metrics, **info,
                       "ops": [[o.name, o.seconds, o.ok] for o in ops]}, f, indent=1)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in out.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
