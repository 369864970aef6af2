"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs from the root of a checkout, as a single-process closed loop (one
client, ``local[4]``). Builds its inputs from ``--seed``, sets up, checks
every op's output once, runs the workload's untimed warm-up cycles, then
times whole cycles of ops for ``--seconds``. Times exclude hypervisor
steal (see ``Stopwatch``). On every way out it stops the JVM and waits for
every process it started. Prints each metric by name and unit, and as its
last stdout line one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.
Scratch files live under ``.perfbench/`` in the checkout; each run's work
directory is removed when it ends, and its result is kept under
``.perfbench/results/``, named by workload, CPU count, scale and seed.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import sys
import tempfile
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
CPUS = 4
DRIVER_MEMORY = "2g"
SETUP_REPEATS = 3
PR_SET_CHILD_SUBREAPER = 36  # from <linux/prctl.h>

END_TO_END = {
    "setup_s": "s", "ops_per_s": "1/s", "op_p50_s": "s", "op_tail_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.get_spark_s": "s", "session.warmup_s": "s",
    "sources.fetch_s": "s", "sources.unzip_s": "s", "sources.sqlite_stage_s": "s",
    "sources.sqlite_rows": "count",
    "catalog.table_s": "s",
    "plans.build_s": "s", "plans.build_jobs": "count", "exec.action_s": "s",
    "operators.memo_build_s": "s", "operators.consumer_s": "s",
    "sinks.csv_s": "s", "sinks.json_s": "s", "sinks.commit_s": "s",
    "sinks.bytes_written": "bytes",
    "pipeline.exists_s": "s", "pipeline.rerun_skip_s": "s",
    "pipeline.stored_bytes_per_source_byte": "ratio",
    "streaming.batches": "count", "streaming.empty_batches": "count",
    "streaming.trigger_s": "s", "streaming.add_batch_s": "s", "streaming.plan_s": "s",
    "streaming.wal_commit_s": "s", "streaming.input_rows": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.sql_executions": "count", "spark.task_wait_s": "s",
    "spark.executor_cpu_s": "s", "spark.executor_run_s": "s", "spark.cpu_util": "ratio",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
}

# event-log record field -> per-layer metric
_SPARK_FIELDS = {
    "jobs": "spark.jobs", "stages": "spark.stages", "tasks": "spark.tasks",
    "sql_executions": "spark.sql_executions", "task_wait_s": "spark.task_wait_s",
    "cpu_s": "spark.executor_cpu_s", "run_s": "spark.executor_run_s",
    "shuffle_write_bytes": "spark.shuffle_write_bytes", "spill_bytes": "spark.spill_bytes",
    "build_jobs": "plans.build_jobs",
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the JVM and its Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def tree_rss(root_pid: int) -> int:
        table = proc_table()
        total = 0
        for pid in [root_pid, *descendants(root_pid, table)]:
            # A child the JVM has spawned but not yet exec'd shares the JVM's
            # pages; counting it would count the JVM twice. The executable is
            # read before the size, so a child that execs in between is
            # measured after its exec.
            exe = _exe(pid)
            if exe.endswith("/java") and exe == _exe(table.get(pid, (0, ""))[0]):
                continue
            total += _rss(pid)
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self.tree_rss(os.getpid()))
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) CPU time of this machine so far, in clock ticks."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(int, f.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


class Stopwatch:
    """Wall time of an interval, and the same time less the hypervisor's
    steal: scaled by the share of the CPU time this machine asked for in the
    interval that it was given. On a shared host, load from neighbouring
    machines shows as steal; the unstolen time is what the run would take
    with its CPUs to itself."""

    def __init__(self) -> None:
        self.ticks = cpu_ticks()
        self.t0 = time.perf_counter()

    def stop(self) -> tuple[float, float]:
        """(wall seconds, unstolen seconds) since the stopwatch started."""
        wall = time.perf_counter() - self.t0
        busy, steal = (b - a for a, b in zip(self.ticks, cpu_ticks()))
        return wall, wall * busy / (busy + steal) if busy + steal else wall


def become_subreaper() -> None:
    """Adopt orphaned descendants (the Python workers of a JVM that exited
    first), so stop_children can wait for them too. Linux only."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, state) of every process."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        table[int(entry)] = (int(fields[1]), fields[0])
    return table


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def descendants(root_pid: int, table: dict | None = None) -> list[int]:
    """Processes below ``root_pid`` that have not exited (zombies excluded)."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, state) in (table or proc_table()).items():
        if state != "Z":
            children.setdefault(ppid, []).append(pid)
    found, todo = [], list(children.get(root_pid, []))
    while todo:
        pid = todo.pop()
        found.append(pid)
        todo.extend(children.get(pid, []))
    return found


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_children(grace_s: float = 15.0) -> None:
    """End the Spark JVM and every other process this run started, and wait
    until each has ended and been reaped. The JVM exits on EOF of its stdin;
    whatever is still alive after ``grace_s`` is terminated, then killed."""
    pyspark_context = sys.modules.get("pyspark.core.context") or sys.modules.get("pyspark.context")
    gateway = getattr(getattr(pyspark_context, "SparkContext", None), "_gateway", None)
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        try:
            # closes py4j's connections first, so no Python thread is left
            # sending to a JVM that is exiting
            gateway.shutdown()
        except Exception as exc:
            log(f"py4j gateway shutdown: {type(exc).__name__}: {exc}")
        try:
            proc.stdin.close()
            proc.wait(timeout=grace_s)
        except Exception as exc:  # a stuck JVM is killed below
            log(f"JVM did not exit on EOF: {type(exc).__name__}: {exc}")
    deadline = time.monotonic() + grace_s
    signalled = None
    while True:
        _reap()
        alive = descendants(os.getpid())
        if not alive:
            return
        now = time.monotonic()
        sig = signal.SIGTERM if now < deadline else signal.SIGKILL
        if now >= deadline + grace_s:
            log(f"processes {alive} outlived SIGKILL")
            return
        if sig != signalled:
            for pid in alive:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            signalled = sig
        time.sleep(0.1)


def spark_conf(work: Path, trace: bool) -> dict[str, str]:
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # a fixed heap size: no heap resizing to move peak RSS from run to run
        "spark.driver.extraJavaOptions": (f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={work / 'tmp'} "
                                          f"-Dderby.system.home={work}"),
        "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true",
    }
    if trace:
        (work / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def install_spans(recorder) -> None:
    """Spans around the public entry points of each layer."""
    import pyarrow.parquet as pq

    from nzwirelessmap_fetch_spark import catalog
    from nzwirelessmap_fetch_spark.operators import dedup, sketches, text
    from nzwirelessmap_fetch_spark.sinks import writers
    from nzwirelessmap_fetch_spark.sources import acquire, sqlite_ingest, zip_staging

    def count_rows(result, args, kwargs):
        recorder.add("sources.sqlite_rows", pq.ParquetFile(result[0]).metadata.num_rows)

    sink = writers.VersionedArtifactSink
    targets = [
        (acquire, "fetch_artifact", "sources.fetch_s", None),
        (zip_staging, "stage_member", "sources.unzip_s", None),
        (sqlite_ingest, "stage_sqlite_table_to_parquet", "sources.sqlite_stage_s", count_rows),
        (catalog.Catalog, "table", "catalog.table_s", None),
        (catalog.Catalog, "table_parallel", "catalog.table_s", None),
        (writers, "write_headered_csv", "sinks.csv_s", None),
        (writers, "write_single_json_array", "sinks.json_s", None),
        (sink, "_commit", "sinks.commit_s", None),
        (sink, "exists", "pipeline.exists_s", None),
        # memoized substrates: a build on a miss, a dict lookup on a hit
        (dedup, "_verified_jaccard_pairs", "operators.memo_build_s", None),
        (dedup, "_containment_pairs", "operators.memo_build_s", None),
        (dedup, "_verified_simhash_pairs", "operators.memo_build_s", None),
        (sketches, "_top2_components", "operators.memo_build_s", None),
        (text, "_winnow_pairs", "operators.memo_build_s", None),
    ]
    for owner, attr, name, after in targets:
        if not recorder.wrap(owner, attr, name, after):
            log(f"trace: {getattr(owner, '__name__', owner)}.{attr} not found; {name} omits it")


def run_op(ctx, workload, op, op_id: str, windows: list) -> tuple[float, float, bool]:
    """Run one op; return (wall seconds, unstolen seconds, ok). The op's
    output check runs after the timer stops."""
    ctx.spark.sparkContext.setJobGroup(op_id, op.name)
    if ctx.recorder is not None:
        ctx.recorder.op = op_id
    t_wall = time.time()
    watch = Stopwatch()
    try:
        result, error = op.run(op_id), None
    except Exception as exc:  # one failed op must not end the run
        result, error = None, exc
    elapsed, unstolen = watch.stop()
    try:
        if error is None and op.check is not None:
            op.check(result)
    except Exception as exc:
        error = exc
    finally:
        workload.after_op(ctx)
        windows.append((op_id, op.name, t_wall * 1000.0, time.time() * 1000.0, elapsed))
        log(f"op {op_id} {op.name} {elapsed:.3f}s (+{time.time() - t_wall - elapsed:.3f}s untimed)")
        if ctx.recorder is not None:
            ctx.recorder.op = None
    if error is not None:
        log(f"op {op_id} ({op.name}) failed: {type(error).__name__}: {error}")
    return elapsed, unstolen, error is None


def previous_untraced(results: Path, stem: str) -> dict | None:
    """The latest untraced result for this workload, CPU count and scale."""
    found = sorted(results.glob(f"{stem}-seed*-trace0.json"), key=lambda p: p.stat().st_mtime)
    return json.loads(found[-1].read_text()) if found else None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    state = ROOT / ".perfbench"
    work = state / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    # Python workers run from the JVM's environment: give them the package.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p)
    sys.path.insert(0, str(ROOT))
    become_subreaper()
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        return measure(args, work, state / "results")
    finally:
        stop_children()
        shutil.rmtree(work, ignore_errors=True)


def measure(args, work: Path, results: Path) -> int:
    import_watch = Stopwatch()
    try:
        import pyspark

        from nzwirelessmap_fetch_spark.session import get_spark
        from perfbench import stats, trace
        from perfbench.workloads import WORKLOADS, Context
    except ImportError as exc:
        log(f"cannot import the program under test: {exc}")
        return 2
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    workload = WORKLOADS[args.workload]()
    traced = bool(args.trace)
    recorder = trace.SpanRecorder() if traced else None
    if traced:
        install_spans(recorder)

    with RssSampler() as rss:
        # --- set-up: session once, the workload's own set-up SETUP_REPEATS times
        spark = get_spark("perfbench", cpus=CPUS, extra_conf=spark_conf(work, traced))
        get_spark_s, get_spark_u = import_watch.stop()
        watch = Stopwatch()
        spark.range(1000).selectExpr("sum(id)").collect()
        warmup_s, warmup_u = watch.stop()
        ctx = Context(spark=spark, work=work, seed=args.seed, recorder=recorder)
        setup_times = []
        for i in range(SETUP_REPEATS):
            if i:
                workload.teardown(ctx)
            watch = Stopwatch()
            workload.setup(ctx)
            setup_times.append(watch.stop())
        setup_s = get_spark_u + warmup_u + stats.median([u for _, u in setup_times])
        setup_wall_s = get_spark_s + warmup_s + stats.median([w for w, _ in setup_times])
        log(f"setup: session {get_spark_s:.2f}s warmup {warmup_s:.2f}s "
            f"workload {[round(w, 2) for w, _ in setup_times]}")

        streaming = None
        if traced:
            streaming = trace.StreamingProgressRecorder()
            streaming.attach(spark)

        # --- untimed checked pass and warm-up cycles, then whole timed cycles
        windows: list = []
        attempted = failed = 0
        untimed = [(f"c{i}", op) for i, op in enumerate(workload.check_pass(ctx))]
        warm = [op for c in range(workload.warmup_cycles) for op in workload.cycle(ctx, c)]
        untimed += [(f"w{i}", op) for i, op in enumerate(warm)]
        for op_id, op in untimed:
            _, _, ok = run_op(ctx, workload, op, op_id, windows)
            attempted += 1
            failed += not ok
        check_windows = len(windows)
        log(f"checked pass and {workload.warmup_cycles} warm-up cycles: {attempted} ops, "
            f"{failed} failed, {sum(w[4] for w in windows):.1f}s timed work")
        samples: list[float] = []  # unstolen seconds
        wall_samples: list[float] = []
        timed = Stopwatch()
        deadline = timed.t0 + args.seconds
        first = cycle = workload.warmup_cycles
        while cycle == first or time.perf_counter() < deadline:
            ops = workload.cycle(ctx, cycle)
            cycle_failed = 0
            for op in ops:
                elapsed, unstolen, ok = run_op(ctx, workload, op, f"m{len(samples)}", windows)
                cycle_failed += not ok
                samples.append(unstolen)
                wall_samples.append(elapsed)
            attempted += len(ops)
            failed += cycle_failed
            cycle += 1
            if cycle_failed == len(ops):
                log("every op of a cycle failed; stopping")
                break
        wall, unstolen_wall = timed.stop()
        workload.teardown(ctx)
        if streaming is not None:
            time.sleep(0.5)  # let listener events drain
            streaming.detach(spark)
        extra = workload.report(ctx)
        spark.stop()
    if recorder is not None:
        recorder.restore()

    measured = windows[check_windows:]
    p_tail, tail_s = stats.tail(samples)
    e2e = {
        "setup_s": setup_s,
        "ops_per_s": len(samples) / unstolen_wall,
        "op_p50_s": stats.median(samples),
        "op_tail_s": tail_s,
        "peak_rss_mb": rss.peak / 2**20,
    }
    wall_clock = {
        "setup_s": setup_wall_s,
        "ops_per_s": len(samples) / wall,
        "op_p50_s": stats.median(wall_samples),
        "op_tail_s": stats.tail(wall_samples)[1],
    }
    stamp = {
        "workload": args.workload, "seed": args.seed, "cpus": CPUS,
        "sf": workload.sf, "spark_version": pyspark.__version__,
        "trace": args.trace, "seconds": args.seconds, "cycles": cycle - first,
        "ops": len(samples), "op_tail_percentile": p_tail,
        "error_rate": failed / attempted, "steal_share": 1 - unstolen_wall / wall,
    }
    print(f"# {args.workload} sf={workload.sf} cpus={CPUS} seed={args.seed} "
          f"spark={pyspark.__version__} cycles={cycle - first} ops={len(samples)} wall={wall:.2f}s")
    print(f"error_rate {failed / attempted:.4f} ratio ({failed}/{attempted} failed or wrong)")
    print(f"op_tail_s is p{p_tail:g} of n={len(samples)}")
    print(f"times exclude hypervisor steal ({100 * stamp['steal_share']:.1f}% of the timed "
          f"CPU time); with it: " + " ".join(f"{k} {v:.6g}" for k, v in wall_clock.items()))
    for name, (value, unit) in extra.items():
        print(f"{name} {value:.6g} {unit}")

    if traced:
        metrics = per_layer(work, measured, recorder, streaming, workload, get_spark_s, warmup_s,
                            extra)
        units = PER_LAYER
        stem = f"{args.workload}-c{CPUS}-sf{workload.sf}"
        base = previous_untraced(results, stem)
        if base:
            over = base["end_to_end"]["ops_per_s"] / e2e["ops_per_s"] - 1
            stamp["trace_overhead"] = over
            print(f"tracing overhead {100 * over:+.1f}% ops_per_s against untraced "
                  f"seed {base['stamp']['seed']} ({base['end_to_end']['ops_per_s']:.4g} "
                  f"vs {e2e['ops_per_s']:.4g} 1/s)")
        else:
            print("tracing overhead: no untraced run of this workload recorded in this checkout")
    else:
        metrics, units = e2e, END_TO_END
    stats.check_metric_names(metrics)
    for name, value in metrics.items():
        print(f"{name} {value:.6g} {units[name]}")

    results.mkdir(parents=True, exist_ok=True)
    out = results / (f"{args.workload}-c{CPUS}-sf{workload.sf}-seed{args.seed}"
                     f"-trace{args.trace}.json")
    out.write_text(json.dumps({"stamp": stamp, "end_to_end": e2e, "wall_clock": wall_clock,
                               "per_layer": metrics if traced else None,
                               "ops_s": [[w[1], w[4]] for w in measured]}, indent=1))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def per_layer(work, measured, recorder, streaming, workload, get_spark_s, warmup_s, extra):
    """Per-op means of every per-layer metric over the measured ops."""
    from perfbench import trace

    windows = [(op_id, t0, t1) for op_id, _, t0, t1, _ in measured]
    logs = list((work / "eventlog").iterdir())
    spark_rec = {}
    if logs:
        with open(logs[0]) as f:
            spark_rec = trace.reduce_event_log(f, windows)
    stream_rec = streaming.per_op(windows)
    fns = getattr(workload, "fns", {})
    n = len(measured)
    total = dict.fromkeys(PER_LAYER, 0.0)
    wall = 0.0
    for op_id, name, _, _, elapsed in measured:
        wall += elapsed
        spans = recorder.totals(op_id)
        for key, value in spans.items():
            if key in total:
                total[key] += value
        for field, key in _SPARK_FIELDS.items():
            total[key] += spark_rec.get(op_id, {}).get(field, 0.0)
        for field, value in stream_rec.get(op_id, {}).items():
            total[f"streaming.{field}"] += value
        if getattr(fns.get(name), "__module__", "").startswith("nzwirelessmap_fetch_spark.operators"):
            total["operators.consumer_s"] += elapsed - spans.get("operators.memo_build_s", 0.0)
    metrics = {k: v / n for k, v in total.items()}
    metrics["spark.cpu_util"] = total["spark.executor_cpu_s"] / (wall * CPUS)
    metrics["session.get_spark_s"] = get_spark_s
    metrics["session.warmup_s"] = warmup_s
    if "rerun_skip_s" in extra:
        metrics["pipeline.rerun_skip_s"] = extra["rerun_skip_s"][0]
        metrics["pipeline.stored_bytes_per_source_byte"] = extra["stored_bytes_per_source_byte"][0]
    return metrics


if __name__ == "__main__":
    sys.exit(main())
