"""The CDC benchmark's three phases, run against the public API of
``pyetl_spark.cdc``, ``pyetl_spark.rules`` and ``pyetl_spark.sources``.

Every run seeds a table in set-up with one full-size replay (which also
warms the JVM), then measures three phases on one seeded input set, in this
order:

``stream_tail``
    open loop: small event files land atomically, in bursts, in a watched
    directory on a fixed schedule while ``StreamingIngest`` (default
    transform, COW merge with ``prune=True``, metrics and lineage on,
    default ``max_files_per_trigger``) tails it into the seeded table.
``replay_bulk``
    backfill: the pre-materialised event batches go through the ingest job's
    default rules transform and ``SnapshotTable.merge(prune=False)`` into an
    empty 32-bucket table.
``read_mix``
    one closed-loop client against the seeded table as the tail left it:
    seeded point lookups through ``SnapshotTable.scan``, then a change-feed
    catch-up over the backfill's commits, ``changes()`` folded by
    ``IncrementalAgg.apply`` as ``jobs/cdf_view.py`` does.

The replay and the reads run once each, after the tail: by then the JVM has
run every phase's code path for ~40 s, and a run's single replay or catch-up
no longer depends on how far JIT compilation has got.
"""

from __future__ import annotations

import glob
import hashlib
import importlib.util
import json
import os
import shutil
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import oracle
from spans import Tracer

import pyetl_spark.cdc.stream as stream_mod
from pyetl_spark.cdc import SnapshotTable, change_events, lww_dedup, write_event_batches
from pyetl_spark.cdc.datagen import EVENT_SCHEMA
from pyetl_spark.cdc.ivm import IncrementalAgg
from pyetl_spark.cdc.stream import StreamingIngest
from pyetl_spark.rules import RuleContext, compile_rules
from pyetl_spark.sources import read_any

# --- pinned sizes -----------------------------------------------------------
# Sized so one run (JVM start, inputs, warmup, three phases, checks) ends
# well inside the per-run time limit on a 4-core host.
NBUCKETS = 32
BULK_EVENTS = 40_000
BULK_BATCHES = 2
TAIL_FILE_EVENTS = 400            # ~1% of the seeded table per file
# fixed arrival schedule: TAIL_BURST files land together every TAIL_INTERVAL_S,
# ~0.5 files/s against a drain capacity of ~1.5 files/s (4 files per ~2.6 s
# micro-batch). Each burst finds the tail idle, so every micro-batch takes
# exactly one burst and freshness carries no queueing phase noise.
TAIL_BURST = 2
TAIL_INTERVAL_S = 4.0
LOOKUPS = 16
WARM_LOOKUPS = 3
FEED_COMMITS = BULK_BATCHES
WARM_TAIL_BURSTS = 2               # drained one micro-batch each before timing
WARM_TAIL_FILES = WARM_TAIL_BURSTS * TAIL_BURST
KEYS = ["repo", "path"]
TOP_REPOS = 20                    # the "hot head": 1% of the 2000 repos

GENERATORS = {
    # the ingest job's default generator: power-law hot-repo head
    "hot_keys": dict(n_repos=2000, paths_per_repo=500, alpha=3.0, delete_pct=5),
    # same keyspace, uniform repo choice: few repeated keys per batch
    "flat_keys": dict(n_repos=2000, paths_per_repo=500, alpha=1.0, delete_pct=5),
}


def default_transform():
    """The ``jobs/cdc_ingest.py`` default rules, compiled."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "cdc_ingest", os.path.join(root, "jobs", "cdc_ingest.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return compile_rules(mod.default_rules(), RuleContext())


def host_probe(threads: int) -> float:
    """Fixed CPU-bound probe (sha256 over 256 MiB per thread; hashlib releases
    the GIL on large buffers): its time depends only on host load."""
    buf = b"\x5a" * (1 << 20)

    def one(_):
        h = hashlib.sha256()
        for _ in range(256):
            h.update(buf)
        return h.hexdigest()

    t0 = time.perf_counter()
    with ThreadPoolExecutor(threads) as ex:
        list(ex.map(one, range(threads)))
    return round(time.perf_counter() - t0, 4)


def dir_bytes(paths) -> int:
    return sum(
        os.path.getsize(f)
        for p in paths
        for f in (glob.glob(os.path.join(p, "**", "*.parquet"), recursive=True)
                  if os.path.isdir(p) else [p])
    )


def quantile(xs: list[float], q: float) -> float:
    s = sorted(xs)
    return s[min(len(s) - 1, int(q * len(s)))]


class CdcBench:
    def __init__(self, spark, tracer: Tracer, work: str, workload: str, seed: int, seconds: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.gen = dict(GENERATORS[workload], seed=seed)
        self.seed = seed
        self.seconds = seconds
        self.cpus = spark.sparkContext.defaultParallelism
        self.transform = default_transform()
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.info: dict = {}
        self.metrics: dict[str, tuple[float, str]] = {}
        self.layer: dict[str, float] = {}
        self.warm_s = 0.0
        self.n_tail_files = TAIL_BURST * max(2, int(seconds / TAIL_INTERVAL_S))
        self.scan_stats: list[dict] = []

    # ------------------------------------------------------------ bookkeeping

    def op(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)
        return ok

    def metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # ------------------------------------------------------------------ setup

    def materialise(self, root: str) -> dict:
        """Bulk batches via ``write_event_batches``; the tail's events (seq
        after the bulk range) as one parquet file each."""
        bulk = write_event_batches(
            self.spark, os.path.join(root, "bulk"), BULK_EVENTS, n_batches=BULK_BATCHES,
            partitions=self.cpus, **self.gen,
        )
        n_tail = self.n_tail_files + WARM_TAIL_FILES
        stage = os.path.join(root, "tail")
        change_events(
            self.spark, BULK_EVENTS + n_tail * TAIL_FILE_EVENTS, start=BULK_EVENTS,
            partitions=n_tail, **self.gen,
        ).write.parquet(stage)
        # range partitions are contiguous seq slices, in part-file order
        tail = sorted(glob.glob(os.path.join(stage, "part-*.parquet")))
        if len(tail) != n_tail:
            raise RuntimeError(f"expected {n_tail} tail files, got {len(tail)}")
        return {"bulk": bulk, "warm_tail": tail[:WARM_TAIL_FILES], "tail": tail[WARM_TAIL_FILES:]}

    def setup_inputs(self) -> float:
        """Materialise the inputs, compute the expected states and pick the
        lookup keys; returns the materialisation time."""
        t0 = time.perf_counter()
        self.inputs = self.materialise(self.path("inputs"))
        materialise_s = time.perf_counter() - t0
        bulk_ev = oracle.read_events(self.inputs["bulk"])
        tail_ev = oracle.read_events(self.inputs["tail"])
        warm_ev = oracle.read_events(self.inputs["warm_tail"])
        self.bulk_bytes = dir_bytes(self.inputs["bulk"])
        self.tail_bytes = dir_bytes(self.inputs["tail"])
        self.want_bulk = oracle.expected_table(bulk_ev)
        self.want_tail = oracle.expected_table(
            oracle.pd.concat([bulk_ev, warm_ev, tail_ev], ignore_index=True)
        )
        self.info["inputs"] = {
            "bulk": oracle.input_stats(bulk_ev, self.seed, self.bulk_bytes, TOP_REPOS),
            "tail": {**oracle.input_stats(tail_ev, self.seed, self.tail_bytes, TOP_REPOS),
                     "files": len(self.inputs["tail"])},
        }
        self.layer["dedup.useful_ratio"] = (
            self.info["inputs"]["bulk"]["distinct_keys"] / self.info["inputs"]["bulk"]["events"]
        )
        # warm-up lookups run on the seeded table, measured ones after the tail
        rng = np.random.RandomState(self.seed)
        self.warm_keys, self.lookup_keys = (
            [want.index[i] for i in rng.choice(len(want), size=n, replace=False)]
            for want, n in ((self.want_bulk, WARM_LOOKUPS), (self.want_tail, LOOKUPS))
        )
        return materialise_s

    # ------------------------------------------------------------------ checks

    def check_table(self, table: SnapshotTable, want, what: str) -> None:
        got = table.read().select("repo", "path", "lang", "content", "content_sha").toPandas()
        bad = oracle.diff_table(got, want)
        self.op(not bad, f"{what}: {'; '.join(bad)}")

    # ----------------------------------------------------------- replay_bulk

    def replay(self, root: str, tag: str) -> float:
        table = SnapshotTable.create(self.spark, root, keys=KEYS, nbuckets=NBUCKETS)
        t0 = time.perf_counter()
        for b, d in enumerate(self.inputs["bulk"]):
            with self.tracer.span("sources.plan", b):
                events = read_any(self.spark, d, fmt="parquet", schema=EVENT_SCHEMA)
            with self.tracer.span("rules.plan", b):
                delta = self.transform(events)
            with self.tracer.span("merge.bulk", b):
                stats = table.merge(delta, batch_id=f"{tag}:{b}", prune=False)
            self.op(stats.version == b + 1 and not stats.skipped, f"{tag}: merge {b} not committed")
        return time.perf_counter() - t0

    def warm_replay(self) -> SnapshotTable:
        """Set-up: one full-size replay. Its table, checked against the
        oracle, is the seeded table the tail and the reads run on."""
        t0 = time.perf_counter()
        root = self.path("t_seeded")
        self.replay(root, "warm")
        table = SnapshotTable(self.spark, root)
        self.check_table(table, self.want_bulk, "seeded table")
        self.warm_s += time.perf_counter() - t0
        return table

    def phase_replay(self) -> None:
        """One measured replay into a fresh table, checked against the
        oracle, then dropped."""
        root = self.path("t_replay")
        wall = self.replay(root, "bulk")
        self.check_table(SnapshotTable(self.spark, root), self.want_bulk, "replay state")
        self.metric("replay_events_per_s", BULK_EVENTS / wall, "events/s")
        self.metric("write_amp", dir_bytes([os.path.join(root, "data")]) / self.bulk_bytes,
                    "bytes/byte")
        self.info["replay_wall_s"] = round(wall, 4)
        shutil.rmtree(root)

    # ----------------------------------------------------------- stream_tail

    def tail(self, table: SnapshotTable) -> dict:
        """Tail the watched directory into ``table``: the warm-up bursts
        land and are drained one at a time (their time counts as set-up),
        then the measured files land TAIL_BURST at a time, one burst per
        ``TAIL_INTERVAL_S``. Returns the landing schedule and the query's
        progress once all are committed."""
        events_dir, ckpt = self.path("tail_events"), self.path("tail_ckpt")
        os.makedirs(events_dir)
        ingest = StreamingIngest(
            self.spark, events_dir, table, ckpt, transform=self.transform,
            processing_time="0 seconds",
        )
        restore = []
        if self.tracer.enabled:  # instrument the job's internal calls
            restore = [(stream_mod, "record_batch_metrics", stream_mod.record_batch_metrics),
                       (stream_mod, "record_lineage", stream_mod.record_lineage)]
            stream_mod.record_batch_metrics = self.tracer.wrap(
                "metrics.record_batch", stream_mod.record_batch_metrics)
            stream_mod.record_lineage = self.tracer.wrap(
                "metrics.record_lineage", stream_mod.record_lineage)
            table.merge = self.tracer.wrap(
                "merge.tail", table.merge, rid_of=lambda df, batch_id=None, **kw: batch_id)
            ingest._process_batch = self.tracer.wrap(
                "stream.batch", ingest._process_batch, rid_of=lambda df, epoch: epoch)
        # each burst is one directory, renamed into place in one step, so
        # the source lists a burst's files together or not at all
        files = self.inputs["tail"]
        names = [f"f_{i:05d}.parquet" for i in range(len(files))]
        bursts = [f"b_{k:05d}" for k in range(len(files) // TAIL_BURST)]
        for i, src in enumerate(files):
            os.makedirs(self.path("bursts", bursts[i // TAIL_BURST]), exist_ok=True)
            os.rename(src, self.path("bursts", bursts[i // TAIL_BURST], names[i]))
        due = [0.0] * len(files)
        landed = [0.0] * len(files)

        def land(t0: float) -> None:
            for k, burst in enumerate(bursts):
                at = t0 + k * TAIL_INTERVAL_S
                pause = at - time.time()
                if pause > 0:
                    time.sleep(pause)
                os.rename(self.path("bursts", burst), os.path.join(events_dir, burst))
                now = time.time()
                for i in range(k * TAIL_BURST, (k + 1) * TAIL_BURST):
                    due[i], landed[i] = at, now

        traced, self.tracer.enabled = self.tracer.enabled, False
        t0 = time.perf_counter()
        q = ingest.start()
        try:
            # one warm burst per micro-batch, so the measured commit path
            # (not just the first batch's) is JIT-compiled before timing
            warm = self.inputs["warm_tail"]
            for k in range(0, len(warm), TAIL_BURST):
                burst = self.path("bursts", f"warm_{k:05d}")
                os.makedirs(burst)
                for i, src in enumerate(warm[k:k + TAIL_BURST], start=k):
                    os.rename(src, os.path.join(burst, f"warm_{i:05d}.parquet"))
                os.rename(burst, os.path.join(events_dir, os.path.basename(burst)))
                q.processAllAvailable()
            self.warm_s += time.perf_counter() - t0
            self.tracer.enabled = traced
            v0 = table.current_version()
            warm_epoch = max(self.source_log(ckpt).values())
            lander = threading.Thread(target=land, args=(time.time() + 0.1,))
            lander.start()
            lander.join()
            q.processAllAvailable()
            progress = [p for p in q.recentProgress if p["numInputRows"] and p["batchId"] > warm_epoch]
        finally:
            q.stop()
            for obj, name, fn in restore:
                setattr(obj, name, fn)
            table.__dict__.pop("merge", None)
        epoch_of = self.source_log(ckpt)
        ledger = table.manifest()["committed_batches"]
        commit_ts = {}
        for i, n in enumerate(names):
            v = ledger.get(f"stream:{epoch_of.get(n)}")
            self.op(v is not None, f"tail: file {n} never committed")
            if v is not None:
                commit_ts[i] = table.manifest(v)["committed_ts"]
        for b in set(epoch_of.values()):
            self.op(f"stream:{b}" in ledger, f"tail: micro-batch {b} missing from ledger")
        return {"names": names, "due": due, "landed": landed, "epoch_of": epoch_of,
                "commit_ts": commit_ts, "progress": progress, "v0": v0}

    @staticmethod
    def source_log(ckpt: str) -> dict[str, int]:
        """file name → micro-batch id, from the file source's offset log."""
        out = {}
        log_dir = os.path.join(ckpt, "sources", "0")
        for name in os.listdir(log_dir):
            if name.startswith("."):
                continue
            with open(os.path.join(log_dir, name)) as f:
                for ln in f.read().splitlines()[1:]:
                    if ln.strip():
                        e = json.loads(ln)
                        out[os.path.basename(e["path"])] = e["batchId"]
        return out

    def phase_tail(self, table: SnapshotTable) -> dict:
        r = self.tail(table)
        fresh = [r["commit_ts"][i] - r["due"][i] for i in r["commit_ts"]]
        self.metric("freshness_p50_s", statistics.median(fresh), "s")
        self.metric("freshness_p90_s", quantile(fresh, 0.9), "s")
        self.check_table(table, self.want_tail, "tail state")
        new_dirs = [d for d in glob.glob(os.path.join(table.root, "data", "v*"))
                    if int(os.path.basename(d)[1:9]) > r["v0"]]
        # per-layer: depends on how many files each micro-batch happened to take
        self.layer["merge.tail.write_amp"] = dir_bytes(new_dirs) / self.tail_bytes
        live = [f for fs in table.manifest()["buckets"].values() for f in fs]
        self.metric("table_bytes_per_row", dir_bytes(live) / len(self.want_tail), "bytes")
        self.info["tail"] = {
            "files": len(fresh), "batches": len(r["progress"]),
            "freshness_s": [round(x, 3) for x in fresh],
            "batch_ms": [p["durationMs"].get("triggerExecution", 0) for p in r["progress"]],
            "generator_late_max_s": max(l - d for l, d in zip(r["landed"], r["due"])),
        }
        return r

    # -------------------------------------------------------------- read_mix

    def lookups(self, table: SnapshotTable, keys, expected) -> list[float]:
        """Point lookups of ``keys``, each checked against its row in the
        expected state."""
        walls = []
        for i, (repo, path) in enumerate(keys):
            want = expected.loc[(repo, path)]
            with self.tracer.span("scan.lookup", i):
                t0 = time.perf_counter()
                rows = table.scan([("repo", "=", repo), ("path", "=", path)]).collect()
                walls.append(time.perf_counter() - t0)
            self.op(
                len(rows) == 1 and rows[0]["content"] == want["content"]
                and rows[0]["content_sha"] == want["content_sha"]
                and rows[0]["lang"] == want["lang"],
                f"lookup {repo}/{path} returned {len(rows)} rows or wrong values",
            )
            self.scan_stats.append(dict(table.last_scan, hits=len(rows)))
        return walls

    def catch_up(self, base: SnapshotTable, view: IncrementalAgg, commits: list[int]) -> float:
        """Fold each commit after ``commits[0]`` into the view, one ledgered
        ``changes`` slice per commit (the ``jobs/cdf_view.py`` loop)."""
        t0 = time.perf_counter()
        prev = commits[0]
        for v in commits[1:]:
            with self.tracer.span("changes", v):
                feed = base.changes(prev, v)
            with self.tracer.span("ivm.apply", v):
                stats = view.apply(feed, batch_id=f"v{v}")
            self.op(not stats.skipped, f"feed: commit v{v} skipped")
            prev = v
        return time.perf_counter() - t0

    @staticmethod
    def view_oracle(base: SnapshotTable, version: int) -> dict:
        return {r["repo"]: r["count"]
                for r in base.read(version=version).groupBy("repo").count().collect()}

    def check_view(self, view: IncrementalAgg, want: dict) -> None:
        got = {r["repo"]: r["count"] for r in view.state().collect()}
        self.op(got == want, f"feed view differs from group-by on {len(set(got) ^ set(want))} repos")

    def warm_reads(self, table: SnapshotTable) -> None:
        """Set-up for read_mix, on the seeded table: WARM_LOOKUPS lookups and
        the full feed catch-up into a scratch view, so the measured one runs
        every slice's code path warm."""
        t0 = time.perf_counter()
        self.lookups(table, self.warm_keys, self.want_bulk)
        self.scan_stats = []
        scratch = IncrementalAgg(self.spark, self.path("warm_view"), ["repo"])
        self.catch_up(table, scratch, table._lineage(0, FEED_COMMITS))
        self.warm_s += time.perf_counter() - t0

    def phase_reads(self, table: SnapshotTable) -> None:
        """LOOKUPS lookups on the state after the tail, then a feed catch-up:
        a fresh per-repo count view folds the backfill's FEED_COMMITS commits
        (v0 to v2: a deterministic 40k-event range, unlike the
        timing-dependent tail commits), one ``changes`` slice per commit."""
        walls = self.lookups(table, self.lookup_keys, self.want_tail)
        self.metric("lookup_p50_ms", 1000 * statistics.median(walls), "ms")
        self.metric("lookup_p90_ms", 1000 * quantile(walls, 0.9), "ms")
        commits = table._lineage(0, FEED_COMMITS)
        events = sum(table.manifest(v)["summary"]["events_in"] for v in commits[1:])
        view = IncrementalAgg(self.spark, self.path("view"), ["repo"])
        self.metric("feed_events_per_s", events / self.catch_up(table, view, commits), "events/s")
        self.check_view(view, self.view_oracle(table, commits[-1]))
        self.info["reads"] = {"lookup_ms": [round(1000 * w, 1) for w in walls],
                              "feed_commits": len(commits) - 1, "feed_events": events}
        self.feed_commits = commits

    # ------------------------------------------------------ traced run only

    def probes(self, table: SnapshotTable) -> None:
        """Isolated compute probes: each writes to a noop sink, so the lazy
        ``sources``/``rules``/``dedup``/``changes`` stages are timed on
        their own over the same inputs the phases used."""
        def noop(df) -> float:
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        bulk_root = os.path.dirname(self.inputs["bulk"][0])

        def events():
            return read_any(self.spark, bulk_root, fmt="parquet", schema=EVENT_SCHEMA,
                            options={"recursiveFileLookup": "true"})

        with self.tracer.span("probe.sources"):
            read_s = noop(events())
        with self.tracer.span("probe.rules_plan"):
            t0 = time.perf_counter()
            self.transform(events())._jdf.queryExecution().executedPlan()
            plan_s = time.perf_counter() - t0
        with self.tracer.span("probe.rules"):
            rules_s = noop(self.transform(events()))
        with self.tracer.span("probe.dedup"):
            dedup_s = noop(lww_dedup(self.transform(events()), keys=KEYS))
        c = self.feed_commits
        with self.tracer.span("probe.changes"):
            changes_s = noop(table.changes(c[0], c[-1]))
        self.layer.update({
            "sources.read_s": read_s,
            "rules.plan_s": plan_s,
            "rules.transform_s": max(rules_s - read_s, 0.0),
            "dedup.lww_s": max(dedup_s - rules_s, 0.0),
            "changes.wall_s": changes_s,
            "changes.rows": table.changes(c[0], c[-1]).count(),
        })

    def tail_layer_inputs(self, table: SnapshotTable, r: dict) -> dict:
        """Per-commit summaries, rewrite volume, manifest size, queue waits
        and generator lateness of the measured tail."""
        import datetime as dt

        import pyarrow.parquet as pq

        v1 = table._lineage(r["v0"], table.current_version())[1:]
        tail_v = [v for v in v1 if (table.manifest(v)["summary"].get("batch_id") or "").startswith("stream:")]
        r["summaries"] = [table.manifest(v)["summary"] for v in tail_v]
        files = [f for d in glob.glob(os.path.join(table.root, "data", "v*"))
                 if int(os.path.basename(d)[1:9]) in set(tail_v)
                 for f in glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)]
        r["rows_rewritten"] = sum(pq.read_metadata(f).num_rows for f in files)
        r["manifest_bytes"] = os.path.getsize(table._manifest_path(table.current_version()))
        start = {
            p["batchId"]: dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
            .replace(tzinfo=dt.timezone.utc).timestamp()
            for p in r["progress"]
        }
        r["queue_wait"] = [start[r["epoch_of"][n]] - r["due"][i]
                           for i, n in enumerate(r["names"]) if r["epoch_of"].get(n) in start]
        r["late"] = [landed - due for landed, due in zip(r["landed"], r["due"])]
        return r
