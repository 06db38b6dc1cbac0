"""Layered benchmark of the pipeline engine: one process, one client.

    python3 layerbench/run.py --workload ledger_read --seed 1 --seconds 10 --trace 0

Run from the repository root.  The inputs are copies of the project's
test tables, kept under data/ (`--seed` orders the calls and picks their
parameters and appended rows), and the run starts one Spark session on `local[$SPARK_GRAFT_CPUS]` (at most
the machine's cores), sets up, runs the workload's fixed warm-up list
and then its fixed measured list, checks every answer, and prints one
JSON object as the last line of standard output.  `--trace 0` reports
the end-to-end metrics; `--trace 1` turns on spans, job groups, the
Spark event log and a streaming listener and reports the per-layer
metrics instead.  See README.md for the workloads and metrics.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "sample_data_pipeline_project_spark"
WORKLOADS = ("ledger_read", "ledger_ingest", "dedup_stream")
# The input tables each workload reads, and their scale factor: copies of
# the project's test tables under data/sf<scale>/.  The members run at
# sf0.01, where a pass costs about what it costs at sf0.1 but the oracle
# checks are cheap enough for the run budget (README.md gives the figures).
TABLES = {
    "ledger_read": ("events",),
    "ledger_ingest": ("events",),
    "dedup_stream": ("events", "documents"),
}
SCALE = {"ledger_read": "0.1", "ledger_ingest": "0.1", "dedup_stream": "0.01"}
E2E_UNITS = {
    "setup_s": "s",
    "warmup_s": "s",
    "call_p50_ms": "ms",
    "call_p95_ms": "ms",
    "calls_per_s": "1/s",
    "pass_s": "s",
}


PER_LAYER = (
    "engine.get_spark_s",
    "workloads.load_all_s",
    "workloads.build_s",
    "workloads.build_jobs",
    "workloads.sink_s",
    "sources.load_table_s",
    "sources.write_ledger_s",
    "sources.append_p50_ms",
    "sources.read_ledger_p50_ms",
    "sources.ledger_files",
    "ledger.count_p50_ms",
    "ledger.oldest_p50_ms",
    "ledger.latest_p50_ms",
    "ledger.gaps_p50_ms",
    "ledger.pairs_p50_ms",
    "ledger.input_p50_ms",
    "ledger.jobs_per_call",
    "ledger.tasks_per_call",
    "ledger.rows_read_per_row_out",
    "envelope.overhead_ms",
    "client.scalar_p50_ms",
    "client.dml_p50_ms",
    "client.dml_jobs",
    "plans.plan_ms_p50",
    "plans.plan_ms_sum",
    "operators.persisted_mb",
    "exec.stages",
    "exec.tasks",
    "exec.task_s_sum",
    "exec.max_task_s",
    "exec.core_util",
    "exec.shuffle_read_mb",
    "exec.shuffle_write_mb",
    "exec.spill_mb",
    "exec.failed_tasks",
    "streaming.triggers",
    "streaming.trigger_p50_ms",
    "streaming.add_batch_ms_sum",
    "streaming.commit_ms_sum",
    "streaming.state_rows",
    "streaming.shuffle_mb_per_trigger",
    "trace.untraced_s",
    "trace.traced_s",
    "trace.overhead_pct",
    "calls.first_half_p50_ms",
    "calls.second_half_p50_ms",
    "jvm.peak_rss_mb",
    "jvm.live_heap_mb",
)


def unit_of(name: str) -> str:
    """A per-layer metric's unit, from the words of its name."""
    words = name.split(".")[-1].split("_")
    for word, unit in (("ms", "ms"), ("s", "s"), ("mb", "MB"), ("pct", "%"), ("util", "ratio"), ("per", "ratio")):
        if word in words:
            return unit
    return "count"


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def reap_dead_runs(work_root: str) -> None:
    """Remove work directories left by runs whose process has died."""
    if not os.path.isdir(work_root):
        return
    for name in os.listdir(work_root):
        if name.startswith("run-") and name[4:].isdigit() and not _alive(int(name[4:])):
            shutil.rmtree(os.path.join(work_root, name), ignore_errors=True)


def remove_own_scratch() -> None:
    """The engine keeps per-process scratch (stream sinks and checkpoints,
    signature stores) under <root>/spark-warehouse/<name>-<pid>."""
    wh = os.path.join(ROOT, "spark-warehouse")
    suffix = f"-{os.getpid()}"
    if os.path.isdir(wh):
        for name in os.listdir(wh):
            if name.endswith(suffix):
                shutil.rmtree(os.path.join(wh, name), ignore_errors=True)


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM not reported")


def live_heap_mb(spark) -> float:
    """JVM heap in use after a full collection, plus non-heap memory
    (metaspace, code cache): what the session retains."""
    import gc

    # Python's collector first, so py4j releases the JVM objects held
    # only by dead Python proxies; then the JVM's, twice: the first lets
    # Spark's ContextCleaner see dead shuffles and broadcasts, the second
    # collects what the cleaner released.
    gc.collect()
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    time.sleep(1)
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return (mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()) / (1024 * 1024)


def p95(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=20, method="inclusive")[18] if len(xs) > 1 else (xs[0] if xs else 0.0)


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True, help="sizes the measured list")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--sf", default=None, choices=("0.001",), help="for the benchmark's own tests: the smallest inputs"
    )
    ap.add_argument(
        "--corrupt-answer",
        default=None,
        help="for the benchmark's own tests: corrupt the engine's answer to this call kind or member",
    )
    return ap.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"layerbench: no {PACKAGE} package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    work_root = os.path.join(ROOT, ".layerbench")
    reap_dead_runs(work_root)
    work = os.path.join(work_root, f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # Keep Spark's shuffle/spill files and every temp file inside the run.
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    cores = max(1, min(int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()), os.cpu_count()))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    session = {}
    try:
        out = run(args, work, cores, session)
    finally:
        stop_session(session)
        shutil.rmtree(work, ignore_errors=True)
        remove_own_scratch()
    print(json.dumps(out))
    return 0


def stop_session(session: dict) -> None:
    """Stop Spark, then close the JVM's stdin so it exits, and wait for it."""
    spark, proc = session.get("spark"), session.get("proc")
    if spark is not None:
        spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait()


def run(args: argparse.Namespace, work: str, cores: int, session: dict) -> dict:
    from tracer import ExecIndex, Tracer, p50, progress_listener, write_spans

    wl = args.workload
    data_dir = os.path.join(HERE, "data", f"sf{args.sf or SCALE[wl]}")

    from pyspark import SparkContext

    from sample_data_pipeline_project_spark.engine import get_spark
    from sample_data_pipeline_project_spark.sources.catalog import load_table
    from sample_data_pipeline_project_spark.workloads import load_all

    tr = Tracer(traced=bool(args.trace))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
    }
    log_dir = os.path.join(work, "eventlog")
    if tr.traced:
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false",
            }
        )
    layer: dict[str, float] = {}
    lr = None
    with tr.span("setup"):
        spark, layer["engine.get_spark_s"] = tr.call(
            "engine.get_spark", get_spark, app_name="layerbench", master=f"local[{cores}]", extra_conf=conf
        )
        session["spark"], session["proc"] = spark, SparkContext._gateway.proc
        spark.sparkContext.setLogLevel("ERROR")
        tr.sc = spark.sparkContext
        listener = None
        if tr.traced:
            listener = progress_listener()
            spark.streams.addListener(listener)
        registry, layer["workloads.load_all_s"] = tr.call("workloads.load_all", load_all)

        def scan_tables() -> float:
            """First scan of each input table; returns the calls' seconds."""
            spent = 0.0
            for t in TABLES[wl]:
                df, load_s = tr.call("sources.load_table", load_table, spark, data_dir, t)
                _, scan_s = tr.call("sources.scan", df.write.format("noop").mode("overwrite").save)
                spent += load_s + scan_s
            return spent

        if wl.startswith("ledger"):
            import ledger_bench as bench

            layer["sources.load_table_s"] = scan_tables()
            lr = bench.LedgerRun(spark, tr, work, data_dir, args.corrupt_answer)
        else:
            import dedup_bench as bench
    setup_s = time.perf_counter() - T_START

    # The answer checkers are the benchmark's own cost, left out of set-up.
    if lr is not None:
        lr.start_checks()
        res = bench.run(lr, wl, args.seed, args.seconds)
        layer.update(bench.layer_metrics(lr, res))
        pass_s = sum(s for _, s in res.calls)
    else:
        mr = bench.MemberRun(spark, tr, registry, data_dir, args.corrupt_answer)
        res = bench.run(mr, scan_tables)
        layer.update(bench.layer_metrics(res))
        layer["sources.load_table_s"] = res.warmup_s
        pass_s = res.pass_s
    calls_ms = [s * 1000 for _, s in res.calls]
    half = len(calls_ms) // 2
    first, second = p50(calls_ms[:half]), p50(calls_ms[half:])
    print(f"layerbench: {wl} measured p50 first half {first:.1f} ms, second half {second:.1f} ms", file=sys.stderr)

    if tr.traced:
        layer.update(traced_metrics(tr, bench, res, lr, scan_tables, listener))
        spark.streams.removeListener(listener)
        layer["calls.first_half_p50_ms"], layer["calls.second_half_p50_ms"] = first, second
        layer["jvm.peak_rss_mb"] = vm_hwm_mb(session["proc"].pid)
        layer["jvm.live_heap_mb"] = live_heap_mb(spark)
    stop_session(session)
    session.clear()

    if tr.traced:
        idx = ExecIndex(tr.spans, log_dir)
        layer.update(event_log_metrics(idx, tr, res, lr, layer, cores))
        trace_dir = os.path.join(ROOT, ".layerbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        write_spans(tr.spans, os.path.join(trace_dir, f"{wl}-seed{args.seed}.jsonl"))
        names = PER_LAYER + tuple(f"member.{m}_s" for m in member_names())
        unknown = set(layer) - set(names)
        if unknown:
            raise RuntimeError(f"undeclared per-layer metrics {sorted(unknown)}")
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": unit_of(k)} for k in names}
    else:
        e2e = {
            "setup_s": setup_s,
            "warmup_s": res.warmup_s,
            "call_p50_ms": p50(calls_ms),
            "call_p95_ms": p95(calls_ms),
            "calls_per_s": len(calls_ms) / (sum(calls_ms) / 1000) if calls_ms else 0.0,
            "pass_s": pass_s,
        }
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    ok = res.failed == 0 and bool(calls_ms)
    return {"correct": ok, "attempted": res.attempted, "failed": res.failed, "metrics": metrics}


def member_names() -> tuple[str, ...]:
    import dedup_bench

    return dedup_bench.MEMBERS


def traced_metrics(tr, bench, res, lr, warmup_probe, listener) -> dict[str, float]:
    """Figures that need the live session: the tracing-overhead probe and
    the streaming listener's trigger progress."""
    import datetime as dt
    import random

    from tracer import p50

    out: dict[str, float] = {}
    # Tracing overhead: the same fixed calls run untraced and traced in
    # ABBA order, so JIT warming during the probe favours neither side.
    if lr is not None:
        probe = [lambda k=k, p=p: lr.run_op(k, p, False, res) for k, p in bench.read_list(random.Random(7), 1)]
    else:
        probe = [warmup_probe]
    spent = {False: 0.0, True: 0.0}
    for traced in (False, True, True, False):
        tr.traced = traced
        for fn in probe:
            spent[traced] += fn() or 0.0
    tr.traced = True
    untraced, traced = spent[False], spent[True]
    out["trace.untraced_s"], out["trace.traced_s"] = untraced, traced
    out["trace.overhead_pct"] = 100.0 * (traced - untraced) / untraced if untraced else 0.0

    measure = next(s for s in tr.spans if s.name == "measure")
    progress = []
    for p in listener.progress:
        t = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        if measure.t0 <= t <= measure.t1:
            progress.append(p)
    out["streaming.triggers"] = len(progress)
    out["streaming.trigger_p50_ms"] = p50([p.durationMs.get("triggerExecution", 0) for p in progress])
    out["streaming.add_batch_ms_sum"] = sum(p.durationMs.get("addBatch", 0) for p in progress)
    out["streaming.commit_ms_sum"] = sum(
        p.durationMs.get("walCommit", 0)
        + p.durationMs.get("commitOffsets", 0)
        + sum(so.commitTimeMs for so in p.stateOperators)
        for p in progress
    )
    out["streaming.state_rows"] = max(
        (sum(so.numRowsTotal for so in p.stateOperators) for p in progress), default=0
    )
    return out


def event_log_metrics(idx, tr, res, lr, layer, cores) -> dict[str, float]:
    """Jobs, stages and tasks of the measured phase, from the event log."""
    from tracer import MB, exec_metrics

    measure = next(s for s in tr.spans if s.name == "measure")
    sids = {s for s in idx.descendants({measure.sid}) if not tr.spans[s].name.startswith("bare.")}
    total = idx.stats(sids)
    calls_s = sum(tr.spans[s].seconds for s in sids if tr.spans[s].parent == measure.sid)
    out = exec_metrics(total, calls_s, cores)

    def named(pred) -> set[int]:
        return {s for s in sids if pred(tr.spans[s].name)}

    if lr is not None:
        api = named(lambda n: n.startswith("ledger.") or n == "client.scalar")
        st = idx.stats(api)
        out["ledger.jobs_per_call"] = st.jobs / max(1, len(api))
        out["ledger.tasks_per_call"] = st.tasks / max(1, len(api))
        out["ledger.rows_read_per_row_out"] = st.records_read / max(1, lr.rows_out)
        dml = named(lambda n: n == "client.dml")
        out["client.dml_jobs"] = idx.stats(dml).jobs / max(1, len(dml))
    else:
        builds = named(lambda n: n.startswith("workloads.build."))
        out["workloads.build_jobs"] = idx.stats(builds).jobs
    triggers = layer.get("streaming.triggers", 0)
    out["streaming.shuffle_mb_per_trigger"] = total.streaming_shuffle_write / MB / triggers if triggers else 0.0
    return out


if __name__ == "__main__":
    raise SystemExit(main())
