"""CDC lake benchmark: one run of one workload.

    python3 perfbench/run.py --workload hot_keys --seed 1 --seconds 16 --trace 0

Run from the root of a checkout of the repository. A run starts its own
Spark JVM at ``local[<cores>]``, materialises seeded inputs, warms up at full
size, then measures the three phases described in ``workload.py``: bulk
replay, open-loop streaming tail, and lookups plus a change-feed catch-up.
Every phase's output is checked against an independent pandas
last-writer-wins pass over the delivered events.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1`` (a separate run with
spans and the Spark event log on). The line before it carries run info:
input stats, set-up split, phase times, the host-load probe, and for traced
runs the tracing overhead and the span file.

All scratch data (tables, Spark local dir, JVM temp, event log) lives under
``.perfbench_work/`` in the checkout and is removed when the run ends; span
files and run summaries go to ``.perfbench_out/``. See ``README.md``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("hot_keys", "flat_keys")
DRIVER_MEM = "2g"  # ample for the 40k-row tables; the library default is 16g
REQUIRED = ("pyetl_spark/cdc/tableio.py", "pyetl_spark/cdc/stream.py", "jobs/cdc_ingest.py")


def pin_environment(work: str) -> None:
    """Everything the run depends on is set here, not inherited: JVM and
    Python temp files, Spark local dirs and driver memory."""
    for var in ("PYSPARK_GATEWAY_PORT", "PYSPARK_GATEWAY_SECRET", "PYSPARK_SUBMIT_ARGS",
                "SPARK_GRAFT_CPUS", "SPARK_CONF_DIR", "SPARK_TESTING", "JAVA_TOOL_OPTIONS"):
        os.environ.pop(var, None)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the spark-submit launcher JVM: no perf-data or temp files outside work/
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    sys.path.insert(0, ROOT)


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": DRIVER_MEM,
        "spark.local.dir": os.path.join(work, "spark-local"),
        # full JIT (no TieredStopAtLevel); no hsperfdata files outside work/.
        # A fixed-size heap: left to grow, G1 sized it by GC timing, and peak
        # RSS swung between ~1.45 and ~2.05 GB from run to run. Pre-touched
        # at JVM start, so no measured phase pays first-touch page faults.
        # A fixed young generation: sized by G1 in the fixed heap, it let
        # random tail commits run up to ~0.6 s slow (rarer, longer pauses).
        "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                                          f" -Xms{DRIVER_MEM} -Xmn256m -XX:+AlwaysPreTouch"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        "spark.eventLog.enabled": "true" if trace else "false",
    }
    if trace:
        conf["spark.eventLog.dir"] = os.path.join(work, "eventlog")
        conf["spark.eventLog.rolling.enabled"] = "false"  # one plain JSON-lines file
        conf["spark.eventLog.compress"] = "false"
        os.makedirs(conf["spark.eventLog.dir"])
    return conf


def vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM (it exits on EOF of its stdin)
    and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


PHASES = ("stream_tail", "replay_bulk", "read_mix")  # in the order they run
SPANS = (
    *PHASES, "sources.plan", "rules.plan", "merge.bulk",
    "stream.batch", "merge.tail", "metrics.record_batch", "metrics.record_lineage",
    "scan.lookup", "changes", "ivm.apply", "probe.sources", "probe.rules_plan",
    "probe.rules", "probe.dedup", "probe.changes",
)
# the traced run prints exactly these: name -> (unit, better)
PER_LAYER = {
    "sources.read_s": ("s", "lower"),
    "rules.plan_s": ("s", "lower"),
    "rules.transform_s": ("s", "lower"),
    "dedup.lww_s": ("s", "lower"),
    "dedup.shuffle_write_bytes": ("bytes", "lower"),
    "dedup.task_skew": ("ratio", "lower"),
    "dedup.useful_ratio": ("ratio", "higher"),
    "merge.bulk.wall_p50_s": ("s", "lower"),
    "merge.bulk.wall_total_s": ("s", "lower"),
    "merge.bulk.jobs_per_commit": ("count", "lower"),
    "merge.bulk.shuffle_write_bytes": ("bytes", "lower"),
    "merge.tail.wall_p50_s": ("s", "lower"),
    "merge.tail.wall_total_s": ("s", "lower"),
    "merge.tail.jobs_per_commit": ("count", "lower"),
    "merge.tail.buckets_touched": ("count", "lower"),
    "merge.tail.files_written": ("count", "lower"),
    "merge.tail.rows_rewritten_per_event": ("rows/event", "lower"),
    "merge.tail.shuffle_write_bytes": ("bytes", "lower"),
    "merge.tail.write_amp": ("bytes/byte", "lower"),
    "merge.manifest_bytes": ("bytes", "lower"),
    "scan.wall_ms": ("ms", "lower"),
    "scan.files_read": ("count", "lower"),
    "scan.files_total": ("count", "lower"),
    "scan.useful_file_ratio": ("ratio", "higher"),
    "scan.jobs_per_lookup": ("count", "lower"),
    "changes.wall_s": ("s", "lower"),
    "changes.rows": ("count", "lower"),
    "changes.jobs": ("count", "lower"),
    "ivm.apply_s": ("s", "lower"),
    "ivm.jobs": ("count", "lower"),
    "stream.batches": ("count", "lower"),
    "stream.files_per_batch": ("count", "higher"),
    "stream.batch_interval_s": ("s", "lower"),
    "stream.overhead_s": ("s", "lower"),
    "stream.queue_wait_s": ("s", "lower"),
    "generator.late_s": ("s", "lower"),
    "metrics.record_s": ("s", "lower"),
    "metrics.jobs_per_batch": ("count", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "trace.bookkeeping_ms": ("ms", "lower"),
    **{f"self.{name}_s": ("s", "lower") for name in SPANS},
}


def layer_metrics(bench, tracer, elog, window, tail) -> dict[str, float]:
    """Per-layer numbers from spans, the event log and the tail's progress."""
    def durs(name):
        return [s["end"] - s["start"] for s in tracer.of(name)]

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    out = dict(bench.layer)
    n_bulk = len(tracer.of("merge.bulk")) or 1
    out["merge.bulk.wall_p50_s"] = med(durs("merge.bulk"))
    out["merge.bulk.wall_total_s"] = sum(durs("merge.bulk"))
    out["merge.bulk.jobs_per_commit"] = elog.n_jobs({"merge.bulk", "sources.plan", "rules.plan"}) / n_bulk
    out["merge.bulk.shuffle_write_bytes"] = elog.task_sum({"merge.bulk"}, "shuffle_write") / n_bulk

    n_tail = len(tracer.of("merge.tail")) or 1
    summaries = tail["summaries"]
    out["merge.tail.wall_p50_s"] = med(durs("merge.tail"))
    out["merge.tail.wall_total_s"] = sum(durs("merge.tail"))
    out["merge.tail.jobs_per_commit"] = elog.n_jobs({"merge.tail"}) / n_tail
    out["merge.tail.shuffle_write_bytes"] = elog.task_sum({"merge.tail"}, "shuffle_write") / n_tail
    out["merge.tail.buckets_touched"] = med([s["buckets_touched"] for s in summaries])
    out["merge.tail.files_written"] = med([s["rows_written"] for s in summaries])
    out["merge.tail.rows_rewritten_per_event"] = tail["rows_rewritten"] / max(
        sum(s["events_in"] for s in summaries), 1)
    out["merge.manifest_bytes"] = tail["manifest_bytes"]

    st = bench.scan_stats
    n_look = len(st) or 1
    out["scan.wall_ms"] = 1000 * med(durs("scan.lookup"))
    out["scan.files_read"] = sum(s["files_read"] for s in st) / n_look
    out["scan.files_total"] = sum(s["files_total"] for s in st) / n_look
    # every key lives in exactly one file (one resolved row per key)
    out["scan.useful_file_ratio"] = sum(min(s["hits"], 1) for s in st) / max(
        sum(s["files_read"] for s in st), 1)
    out["scan.jobs_per_lookup"] = elog.n_jobs({"scan.lookup"}) / n_look

    n_apply = len(tracer.of("ivm.apply")) or 1
    out["changes.jobs"] = elog.n_jobs({"probe.changes"})
    out["ivm.apply_s"] = med(durs("ivm.apply"))
    out["ivm.jobs"] = elog.n_jobs({"ivm.apply", "changes"}) / n_apply

    prog = tail["progress"]
    batch_ms = {p["batchId"]: p["durationMs"].get("triggerExecution", 0) for p in prog}
    inner: dict = {}  # merge + metrics span time per micro-batch
    for s in tracer.spans:
        if s["name"] in ("merge.tail", "metrics.record_batch", "metrics.record_lineage"):
            parent = tracer.spans[s["parent"]] if s["parent"] is not None else None
            if parent and parent["name"] == "stream.batch":
                inner[parent["rid"]] = inner.get(parent["rid"], 0.0) + s["end"] - s["start"]
    out["stream.batches"] = len(prog)
    out["stream.files_per_batch"] = len(tail["names"]) / max(len(prog), 1)
    out["stream.batch_interval_s"] = med([ms / 1000 for ms in batch_ms.values()])
    out["stream.overhead_s"] = med([ms / 1000 - inner.get(b, 0.0) for b, ms in batch_ms.items()])
    out["stream.queue_wait_s"] = med(tail["queue_wait"])
    out["generator.late_s"] = max(tail["late"], default=0.0)
    rec = [a + b for a, b in zip(durs("metrics.record_batch"), durs("metrics.record_lineage"))]
    out["metrics.record_s"] = med(rec)
    out["metrics.jobs_per_batch"] = elog.n_jobs(
        {"metrics.record_batch", "metrics.record_lineage"}) / max(len(prog), 1)

    w = elog.window(*window)
    out["spark.jobs"], out["spark.tasks"] = w["jobs"], w["tasks"]
    out["spark.gc_s"], out["spark.spill_bytes"] = w["gc_s"], w["spill_bytes"]
    out["dedup.shuffle_write_bytes"] = elog.task_sum({"probe.dedup"}, "shuffle_write")
    out["dedup.task_skew"] = elog.reduce_skew({"probe.dedup"})
    self_times = tracer.self_times()
    for name in SPANS:
        out[f"self.{name}_s"] = self_times.get(name, 0.0)
    out["trace.bookkeeping_ms"] = 1000 * tracer.bookkeeping_s
    return out


def tracing_overhead(workload: str, seed: int, phase_s: dict[str, float]) -> dict | None:
    """Traced ÷ untraced phase wall times, against the untraced run of the
    same workload and seed in this checkout, when one was made."""
    path = os.path.join(ROOT, ".perfbench_out", f"e2e-{workload}-{seed}.json")
    if not os.path.isfile(path):
        return None
    with open(path) as f:
        base = json.load(f)["phase_s"]
    return {name: t / base[name] - 1.0 for name, t in phase_s.items()}


def run(args, work: str) -> tuple[dict, dict]:
    from pyetl_spark.session import get_spark

    import workload as wl
    from spans import EventLog, Tracer

    cores = args.cores or os.cpu_count() or 1
    info: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                  "master": f"local[{cores}]", "host_probe_start_s": wl.host_probe(cores)}
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                      extra_conf=spark_conf(work, bool(args.trace)))
    jvm_s = time.perf_counter() - t0
    from pyspark import SparkContext

    jvm_pid = SparkContext._gateway.proc.pid
    tracer = Tracer(spark.sparkContext, enabled=False)
    bench = wl.CdcBench(spark, tracer, work, args.workload, args.seed, args.seconds)
    tail, window = None, (0.0, 0.0)
    try:
        materialise_s = bench.setup_inputs()
        table = bench.warm_replay()
        bench.warm_reads(table)
        tracer.enabled = bool(args.trace)
        window = (time.time(), 0.0)
        phase_s: dict[str, float] = {}

        def phase(name, fn, *args):
            with tracer.span(name) as sp:
                tracer.root = sp["id"] if sp else None
                t = time.perf_counter()
                out = fn(*args)
                phase_s[name] = time.perf_counter() - t
            return out

        tail = phase("stream_tail", bench.phase_tail, table)
        phase("replay_bulk", bench.phase_replay)
        phase("read_mix", bench.phase_reads, table)
        window = (window[0], time.time())
        tracer.root = None
        bench.metric("setup_s", jvm_s + materialise_s + bench.warm_s, "s")
        info["setup"] = {"jvm_s": jvm_s, "materialise_s": materialise_s, "warmup_s": bench.warm_s}
        info["phase_s"] = phase_s
        if args.trace:
            bench.probes(table)
            tail = bench.tail_layer_inputs(table, tail)
        kb = vm_hwm_kb(os.getpid()) + vm_hwm_kb(jvm_pid)
        bench.metric("peak_rss_mb", kb / 1024.0, "MB")
    except Exception:  # noqa: BLE001 - a failed run still reports what it measured
        traceback.print_exc()
        bench.op(False, "run aborted: " + traceback.format_exc(limit=1).strip().splitlines()[-1])
    finally:
        stop_spark(spark)
    info["host_probe_end_s"] = wl.host_probe(cores)
    info.update(bench.info)
    bench.metric("ops_ok_ratio", (bench.attempted - bench.failed) / max(bench.attempted, 1), "ratio")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in bench.metrics.items()}
    if args.trace:
        metrics = {}
        if not bench.failed:
            elog = EventLog(os.path.join(work, "eventlog"), tracer)
            layers = layer_metrics(bench, tracer, elog, window, tail)
            missing = sorted(set(PER_LAYER) - set(layers))
            bench.op(not missing, f"per-layer metrics not derived: {missing}")
            metrics = {k: {"value": float(layers[k]), "unit": u}
                       for k, (u, _) in PER_LAYER.items() if k in layers}
            info["tracing_overhead"] = tracing_overhead(args.workload, args.seed, info["phase_s"])
            trace_file = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
            tracer.dump(trace_file, {"jobs": elog.jobs, "info": info})
            info["trace_file"] = os.path.relpath(trace_file, ROOT)
    elif not bench.failed:
        with open(os.path.join(out_dir, f"e2e-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"phase_s": info["phase_s"], "metrics": metrics}, f)
    if bench.problems:
        info["problems"] = bench.problems[:20]
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }
    return result, info


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=0,
                    help="local[N] cores (default: all); used by scaling.py")
    args = ap.parse_args(argv)
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program sources not found: {missing}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        pin_environment(work)
        result, info = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    info["process_s"] = time.perf_counter() - T_PROCESS
    print(json.dumps({"info": info}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
