"""Layer tracing for the traced run (``--trace 1``).

Spans are recorded from the benchmark's side of each call into a
``trx_spark`` module: the wrapper notes (name, start, end, parent,
op id) and keeps the span in memory; ``Tracer.dump`` writes them out
once the run ends. A layer's self time is its span time minus the
part covered by its child spans.

Spark's own work is read per op from the status store: every op runs
under its own job group, so its jobs, stages and task metrics can be
summed after it ends. Stream replays run their micro-batches under the
stream's run id instead, so a ``StreamingQueryListener`` collects
those run ids (and each epoch's progress) while the op is open.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import statistics
import threading
import time

# Layer boundaries that get a span: module -> public functions. Each is
# a driver-side call (DataFrame builders, sinks, façade entry points);
# kernels that run inside Python workers are deliberately not wrapped.
LAYERS = {
    "trx_spark.tables": ["load_table", "fan_out_small_scan", "load_tables"],
    "trx_spark.compat": ["doFolder", "doFolder_dataRed"],
    "trx_spark.pipeline": ["integrate_folder", "data_reduction"],
    "trx_spark.operators.multimodal": ["read_binary_assets", "decode_image"],
    "trx_spark.operators.azav": ["integrate_1d"],
    "trx_spark.operators.filters": ["chi2_filter"],
    "trx_spark.sources.poni": ["poni_geometry_table", "apply_overrides"],
    "trx_spark.sources.sinks": ["save_per_delay"],
    "trx_spark.sources.logfile": ["read_id9_log"],
}
# methods wrapped on classes: (module, class, method, span name)
METHODS = [
    ("trx_spark.compat", "FolderPoller", "poll", "compat.poll"),
    ("trx_spark.compat", "FolderPoller", "bank", "compat.bank"),
]


def short(module: str) -> str:
    return module.rsplit(".", 1)[-1]


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None
        self.enabled = True
        self._lock = threading.Lock()

    # -- spans ---------------------------------------------------------
    def begin(self, name: str) -> int:
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            self.spans.append(
                {"name": name, "start": time.perf_counter(), "end": None,
                 "parent": parent, "op": self.op}
            )
            sid = len(self.spans) - 1
            self._stack.append(sid)
            return sid

    def end(self, sid: int) -> None:
        with self._lock:
            self.spans[sid]["end"] = time.perf_counter()
            if self._stack and self._stack[-1] == sid:
                self._stack.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        """A span around a block; yields its record."""
        sid = self.begin(name)
        try:
            yield self.spans[sid]
        finally:
            self.end(sid)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            # only the main thread keeps a parent stack; calls from
            # helper threads are recorded as roots of their own
            if not self.enabled or threading.current_thread() is not threading.main_thread():
                return fn(*args, **kwargs)
            sid = self.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(sid)

        traced.__wrapped_by_perfbench__ = True
        return traced

    # -- derived numbers -----------------------------------------------
    def self_times(self, names=None) -> dict[str, float]:
        """Sum of self time (span minus covered child intervals) by name."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for sid, s in enumerate(self.spans):
            if s["end"] is None or (names and s["name"] not in names):
                continue
            covered = _union(children.get(sid, []))
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"] is not None)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    def dump(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        with open(path, "w", encoding="utf-8") as fh:
            for sid, s in enumerate(self.spans):
                fh.write(json.dumps({
                    "id": sid, "name": s["name"], "parent": s["parent"], "op": s["op"],
                    "start_s": round(s["start"] - t0, 6),
                    "end_s": None if s["end"] is None else round(s["end"] - t0, 6),
                }) + "\n")


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def install(tracer: Tracer) -> None:
    """Wrap every layer function, then re-point each alias that other
    ``trx_spark`` modules bound with ``from x import f``. This runs
    before ``trx_spark.queries`` is imported, so the query modules that
    bind ``load_table`` by name at import pick up the wrapper directly;
    the alias sweep covers modules imported earlier."""
    import sys

    originals: dict[int, object] = {}
    for mod_name, names in LAYERS.items():
        mod = importlib.import_module(mod_name)
        for n in names:
            fn = getattr(mod, n)
            if getattr(fn, "__wrapped_by_perfbench__", False):
                continue
            w = tracer.wrap(fn, f"{short(mod_name)}.{n}")
            setattr(mod, n, w)
            originals[id(fn)] = w
    for mod_name, cls_name, meth, span in METHODS:
        cls = getattr(importlib.import_module(mod_name), cls_name)
        setattr(cls, meth, tracer.wrap(getattr(cls, meth), span))
    for name, mod in list(sys.modules.items()):
        if not name.startswith("trx_spark") or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            w = originals.get(id(val))
            if w is not None and val is not w:
                setattr(mod, attr, w)


# ------------------------------------------------------------ spark side


class SparkCounters:
    """Per-op Spark runtime numbers from the status store."""

    FIELDS = (
        "spark.jobs", "spark.stages", "spark.tasks", "spark.jobs_busy_s",
        "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
        "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
        "spark.spill_bytes", "spark.unattributed_jobs",
    )

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.ops: list[dict] = []
        self._seen_ungrouped: set[int] = set()
        self.stream_runs: list[str] = []  # run ids started in the open op
        self.traced_runs: set[str] = set()
        self.progress: list[dict] = []
        self._listener = None

    def open(self, group: str) -> None:
        self._seen_ungrouped = set(self.sc.statusTracker().getJobIdsForGroup(None))
        self.sc.setJobGroup(group, group)
        self.stream_runs = []

    def close(self, group: str, wall: float) -> dict:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        tracker = self.sc.statusTracker()
        job_ids = list(tracker.getJobIdsForGroup(group))
        for run_id in self.stream_runs:
            job_ids += list(tracker.getJobIdsForGroup(run_id))
        self.traced_runs.update(self.stream_runs)
        self.stream_runs = []
        ungrouped = set(tracker.getJobIdsForGroup(None)) - self._seen_ungrouped
        rec = dict.fromkeys(self.FIELDS, 0.0)
        rec["spark.unattributed_jobs"] = float(len(ungrouped))
        intervals = []
        stages: set[int] = set()
        for jid in job_ids:
            try:
                jd = self.store.job(jid)
            except Exception:  # evicted from the store
                continue
            rec["spark.jobs"] += 1
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            ids = jd.stageIds()
            for i in range(ids.size()):
                stages.add(int(ids.apply(i)))
        for st in stages:
            try:
                sd = self.store.lastStageAttempt(st)
            except Exception:  # skipped stage: never attempted
                continue
            if str(sd.status()) == "SKIPPED":
                continue
            rec["spark.stages"] += 1
            rec["spark.tasks"] += sd.numCompleteTasks()
            rec["spark.executor_run_s"] += sd.executorRunTime() / 1e3
            rec["spark.executor_cpu_s"] += sd.executorCpuTime() / 1e9
            rec["spark.gc_s"] += sd.jvmGcTime() / 1e3
            rec["spark.shuffle_read_bytes"] += sd.shuffleReadBytes()
            rec["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()
            rec["spark.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        rec["spark.jobs_busy_s"] = _union(intervals)
        rec["driver.only_s"] = max(0.0, wall - rec["spark.jobs_busy_s"])
        rec["op"] = group
        self.ops.append(rec)
        return rec

    # -- streaming -------------------------------------------------------
    def listen_streams(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        counters = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                counters.stream_runs.append(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                counters.progress.append({
                    "run": str(p.runId),
                    "trigger_s": p.durationMs.get("triggerExecution", 0) / 1e3,
                    "add_batch_s": p.durationMs.get("addBatch", 0) / 1e3,
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                    "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def traced_progress(self) -> list[dict]:
        return [p for p in self.progress if p["run"] in self.traced_runs]

    def stop_listening(self, spark) -> None:
        if self._listener is not None:
            spark.streams.removeListener(self._listener)
            self._listener = None

    def totals(self) -> dict[str, float]:
        return {k: float(sum(o[k] for o in self.ops)) for k in (*self.FIELDS, "driver.only_s")}


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0
