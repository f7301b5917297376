"""Per-layer tracing, from outside the package.

The traced run records spans in memory -- name, start, end, parent, op id --
around the calls the benchmark makes into the package (the op, the registry
builder, each ``tables.t`` inside it, the collect, each ``VersionedTable``
method and medallion stage) plus one span per streaming micro-batch rebuilt
from listener progress.  It also reads:

- the py4j client: commands sent by the client thread, excluding the
  memory-release commands (``m``) Python's garbage collector sends when it
  drops a Java proxy, which would make counts vary run to run;
- the DAG scheduler's job counter and ``statusTracker`` for jobs, stages
  and tasks, after draining the listener bus so the counts are complete;
- each returned DataFrame's ``queryExecution().tracker()`` phase times;
- a ``StreamingQueryListener`` registered for the run;
- the JVM's management beans and ``/proc`` of the process tree.

The untraced run uses ``NULL``, whose hooks only call through.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext
from datetime import datetime

PACKAGE = "energy_emissions_lakehouse_spark"
PAGE = os.sysconf("SC_PAGE_SIZE")


# ---------------------------------------------------------------- /proc
def tree_pids(root: int | None = None) -> list[int]:
    """This process and all its descendants (JVM, Python workers)."""
    pids = [root or os.getpid()]
    i = 0
    while i < len(pids):
        pid = pids[i]
        i += 1
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as fh:
                    pids.extend(int(c) for c in fh.read().split())
            except OSError:
                pass
    return pids


def tree_rss(pids: list[int]) -> int:
    """Resident bytes of ``pids`` now."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


def tree_io(pids: list[int]) -> dict[int, tuple[int, int]]:
    out = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/io") as fh:
                f = dict(line.split(": ") for line in fh.read().splitlines())
            out[pid] = (int(f["read_bytes"]), int(f["write_bytes"]))
        except (OSError, KeyError, ValueError):
            pass
    return out


# ---------------------------------------------------------------- tracers
class _Null:
    """Untraced hooks: call through, record nothing."""

    _ctx = nullcontext()

    def op(self, name):
        return self._ctx

    def span(self, name):
        return self._ctx

    def build(self, fn):
        return fn()

    def collect(self, df, fn):
        return fn()


NULL = _Null()


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._status = sc.statusTracker()
        self._jvm = sc._jvm
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op_id = -1
        self.counts: dict[str, float] = defaultdict(float)
        self._progress: list = []
        self._lock = threading.Lock()
        self._epoch = time.time() - time.perf_counter()
        self._install_py4j_counter(sc._gateway._gateway_client)
        self._patch_tables_t()
        self._add_stream_listener()

    # -- instrumentation
    def _install_py4j_counter(self, client) -> None:
        self.py4j = 0
        send = client.send_command
        main = threading.get_ident()

        def counted(command, *args, **kwargs):
            if threading.get_ident() == main and not command.startswith("m\n"):
                self.py4j += 1
            return send(command, *args, **kwargs)

        client.send_command = counted

    def _patch_tables_t(self) -> None:
        from energy_emissions_lakehouse_spark import tables

        original = tables.t
        handles: dict = {}

        def t(spark, sf_dir, name):
            with self.span("tables.t"):
                df = original(spark, sf_dir, name)
            self.counts["tables.t_calls"] += 1
            if handles.get((sf_dir, name)) is not df:
                self.counts["tables.relation_builds"] += 1
                handles[(sf_dir, name)] = df
            return df

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith(PACKAGE):
                for attr, value in list(vars(mod).items()):
                    if value is original:
                        setattr(mod, attr, t)

    def _add_stream_listener(self) -> None:
        from pyspark.sql.streaming.listener import StreamingQueryListener

        tracer = self

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with tracer._lock:
                    tracer._progress.append({
                        "start": p.timestamp,
                        "duration": dict(p.durationMs),
                        "state_rows": sum(s.numRowsTotal
                                          for s in p.stateOperators),
                    })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark.streams.addListener(Progress())

    def _empty_job_floor(self) -> float:
        """Median wall of a one-task JVM job that does nothing."""
        sc = self.spark.sparkContext
        one = sc._jvm.java.util.ArrayList()
        one.add(0)
        rdd = sc._jsc.parallelize(one, 1)
        times = []
        for _ in range(7):
            t = time.perf_counter()
            rdd.count()
            times.append(time.perf_counter() - t)
        return sorted(times)[3]

    def _jobs_started(self) -> int:
        return self._jsc.dagScheduler().numTotalJobs()

    def _drain_listeners(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty(30000)

    def _gc(self) -> tuple[float, int, float]:
        mf = self._jvm.java.lang.management.ManagementFactory
        secs, count = 0.0, 0
        for bean in mf.getGarbageCollectorMXBeans():
            secs += bean.getCollectionTime() / 1000.0
            count += bean.getCollectionCount()
        heap = mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20
        return secs, count, heap

    # -- spans
    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "op": self._op_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def op(self, name: str):
        self._op_id += 1
        jobs0 = self._jobs_started()
        with self.span("op") as rec:
            rec["label"] = name
            yield rec
        self._drain_listeners()
        jobs1 = self._jobs_started()
        self._count_jobs(jobs0, jobs1)
        self._take_progress(rec)
        self.counts["ops"] += 1
        self.counts["op_wall_s"] += rec["end"] - rec["start"]

    def build(self, fn):
        p0, j0 = self.py4j, self._jobs_started()
        with self.span("queries.build"):
            df = fn()
        self.counts["queries.py4j_calls"] += self.py4j - p0
        self.counts["queries.build_jobs"] += self._jobs_started() - j0
        return df

    def collect(self, df, fn):
        with self.span("spark.collect"):
            out = fn()
        phases = df._jdf.queryExecution().tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            found = phases.get(phase)
            if found.isDefined():
                self.counts[f"catalyst.{phase}_s"] += (
                    found.get().durationMs() / 1000.0)
        return out

    def _count_jobs(self, first: int, end: int) -> None:
        self.counts["spark.jobs"] += end - first
        for job in range(first, end):
            info = self._status.getJobInfo(job)
            if info is None:
                continue
            self.counts["spark.stages"] += len(info.stageIds)
            for stage in info.stageIds:
                s = self._status.getStageInfo(stage)
                if s is not None:
                    self.counts["spark.tasks"] += s.numCompletedTasks

    def _take_progress(self, op_rec: dict) -> None:
        with self._lock:
            batches, self._progress = self._progress, []
        if not batches:
            return
        # batches ran inside the builder (bounded replays drain eagerly)
        parent = next(i for i in range(len(self.spans) - 1, -1, -1)
                      if self.spans[i]["name"] == "queries.build"
                      and self.spans[i]["op"] == op_rec["op"])
        build = self.spans[parent]
        trig_total = 0.0
        for b in batches:
            d = b["duration"]
            trig = d.get("triggerExecution", 0) / 1000.0
            trig_total += trig
            start = (datetime.fromisoformat(b["start"].replace("Z", "+00:00"))
                     .timestamp() - self._epoch)
            start = min(max(start, build["start"]), build["end"])
            self.spans.append({
                "name": "streaming.batch", "start": start,
                "end": min(start + trig, build["end"]), "parent": parent,
                "op": op_rec["op"]})
            self.counts["streaming.batches"] += 1
            self.counts["streaming.trigger_s"] += trig
            for key, metric in (("addBatch", "add_batch_s"),
                                ("queryPlanning", "query_planning_s"),
                                ("walCommit", "wal_commit_s"),
                                ("latestOffset", "latest_offset_s")):
                self.counts[f"streaming.{metric}"] += d.get(key, 0) / 1000.0
        self.counts["streaming.state_rows"] += batches[-1]["state_rows"]
        self.counts["streaming.drain_overhead_s"] += (
            build["end"] - build["start"] - trig_total)

    # -- results
    def begin(self, pids: list[int]) -> None:
        """Start of the traced passes, after warm-up: measure the empty-job
        floor on the warm JVM, then zero everything measured so far."""
        self.empty_job_s = self._empty_job_floor()
        self.spans.clear()
        self.counts.clear()
        with self._lock:
            self._progress.clear()
        self.py4j = 0
        self._io0 = tree_io(pids)
        self._gc0 = self._gc()

    def self_times(self) -> dict[str, float]:
        """Per-layer self time: span duration minus the part of it its
        children cover (children of one span never overlap, except the
        rebuilt stream batches, which are clipped to their builder)."""
        child_time = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            own = max(s["end"] - s["start"] - child_time[i], 0.0)
            out[s["name"]] += own
        return dict(out)

    def finish(self, workload, ops_per_s: float) -> dict:
        c = self.counts
        gc1 = self._gc()
        io1 = tree_io(tree_pids())
        io_r = sum(v[0] - self._io0.get(p, (0, 0))[0] for p, v in io1.items())
        io_w = sum(v[1] - self._io0.get(p, (0, 0))[1] for p, v in io1.items())
        totals = defaultdict(float)
        for s in self.spans:
            totals[s["name"]] += s["end"] - s["start"]
        self_s = self.self_times()
        wall = c["op_wall_s"]
        self.summary = {"self_s": self_s, "op_wall_s": wall,
                        "self_sum_s": sum(self_s.values()),
                        "counts": dict(c)}
        m = {
            "tables.t_calls": (c["tables.t_calls"], "count"),
            "tables.relation_builds": (c["tables.relation_builds"], "count"),
            "tables.hit_rate": (
                1 - c["tables.relation_builds"] / c["tables.t_calls"]
                if c["tables.t_calls"] else 0.0, "ratio"),
            "queries.build_s": (totals["queries.build"], "s"),
            "queries.py4j_calls": (c["queries.py4j_calls"], "count"),
            "queries.build_jobs": (c["queries.build_jobs"], "count"),
            "spark.collect_s": (totals["spark.collect"], "s"),
            "spark.jobs": (c["spark.jobs"], "count"),
            "spark.stages": (c["spark.stages"], "count"),
            "spark.tasks": (c["spark.tasks"], "count"),
            "spark.jobs_per_op": (c["spark.jobs"] / c["ops"], "count"),
            "spark.empty_job_s": (self.empty_job_s, "s"),
            "spark.floor_share": (
                c["spark.jobs"] * self.empty_job_s / wall, "ratio"),
            "jvm.gc_s": (gc1[0] - self._gc0[0], "s"),
            "jvm.gc_count": (gc1[1] - self._gc0[1], "count"),
            "jvm.heap_used_mb": (gc1[2], "MB"),
            "io.read_bytes": (io_r, "bytes"),
            "io.write_bytes": (io_w, "bytes"),
            # tracing overhead = this / the untraced runs' ops_per_s
            "trace.ops_per_s": (ops_per_s, "1/s"),
            "trace.attributed_share": (
                1 - self_s.get("op", 0.0) / wall, "ratio"),
        }
        for phase in ("analysis", "optimization", "planning"):
            m[f"catalyst.{phase}_s"] = (c[f"catalyst.{phase}_s"], "s")
        for key in ("batches", "trigger_s", "add_batch_s", "query_planning_s",
                    "wal_commit_s", "latest_offset_s", "state_rows",
                    "drain_overhead_s"):
            m[f"streaming.{key}"] = (c[f"streaming.{key}"],
                                     "s" if key.endswith("_s") else "count")
        for method in VTABLE_METHODS:
            m[f"vtable.{method}_s"] = (totals[f"vtable.{method}"], "s")
        for stage in ("bronze", "silver", "gold", "star"):
            m[f"medallion.{stage}_s"] = (totals[f"medallion.{stage}"], "s")
        stats = workload.layer_stats()
        for key, unit in LAYER_STATS.items():
            m[key] = (stats.get(key, 0.0), unit)
        return m

    def write(self, out_dir: str, workload: str, seed: int) -> str:
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{workload}-{seed}.json")
        with open(path, "w") as fh:
            json.dump({**self.summary, "spans": self.spans}, fh)
        return path


VTABLE_METHODS = ("append", "merge_upsert", "delete_where", "update_where",
                  "delete_where_mor", "compact", "vacuum", "read",
                  "read_changes")
LAYER_STATS = {
    "vtable.commits": "count",
    "vtable.bytes_written": "bytes",
    "vtable.files_written": "count",
    "vtable.log_bytes": "bytes",
    "vtable.live_files": "count",
    "vtable.write_amp": "ratio",
    "vtable.space_amp": "ratio",
    "medallion.rows_written": "count",
    "medallion.bytes_written": "bytes",
}
