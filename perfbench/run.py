#!/usr/bin/env python3
"""The repository benchmark: one command, two workloads (see README.md).

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Each run starts its own Spark session on
``local[<cores available>]`` in a fresh temp root under ``.perfbench_tmp/``
(stores, checkpoints, warehouse, ``SPARK_LOCAL_DIRS`` and ``TMPDIR`` all
live there, and it is removed at the end), builds its inputs from
``--seed``, and runs passes of its workload for at least ``--seconds``
and at least the workload's minimum passes (the cold first pass, plus a
warm one for ``registry_session``). Every op's output is checked.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones, taken in a run that wraps each layer call in a span and
reads Spark's status store per op (see tracing.py). The human-readable
report above that line names every metric with its sample count. The
traced run also writes its spans to ``.perfbench_out/``.

    python3 perfbench/run.py --selftest

shows that each output check rejects a perturbed output.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GEN_REPEATS = 3
DRIVER_MEM = "3g"

# every per-layer metric a traced run prints (0 where a workload does
# not reach the layer), with its unit; BENCHMARK.json lists the same
PER_LAYER = {
    "session.start_s": "s", "memory.peak_rss_mb": "MB",
    "tables.load_table.calls": "count", "tables.load_table_s": "s", "tables.fan_out_s": "s",
    "queries.build_s": "s", "spark.plan_s": "s",
    "cache.memo_builds": "count", "cache.memo_build_s": "s", "cache.memo_builds_warm": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.jobs_busy_s": "s", "driver.only_s": "s", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s", "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B", "spark.spill_bytes": "B", "spark.unattributed_jobs": "count",
    "multimodal.decode_s": "s", "multimodal.pixel_rows": "count", "poni.geometry_s": "s",
    "pipeline.integrate_folder_s": "s", "azav.curve_rows": "count",
    "pipeline.data_reduction_s": "s", "filters.shots_kept_ratio": "ratio",
    "sinks.save_per_delay_s": "s", "sinks.files_written": "count",
    "compat.poll_s": "s", "compat.bank_read_s": "s", "compat.bank_files": "count",
    "streaming.epochs": "count", "streaming.epoch_p50_s": "s", "streaming.add_batch_s": "s",
    "streaming.state_rows": "count", "streaming.state_bytes": "B",
    "trace.op_p50_traced_s": "s", "trace.op_p50_untraced_s": "s", "trace.overhead_share": "ratio",
}


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


# ------------------------------------------------------------ isolation


def git_stamp() -> dict:
    try:
        head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10)
        if head.returncode != 0:
            return {"commit": None, "dirty": None}
        dirty = subprocess.run(["git", "status", "--porcelain", "-uno"], cwd=ROOT,
                               capture_output=True, text=True, timeout=10).stdout.strip()
        return {"commit": head.stdout.strip(), "dirty": bool(dirty)}
    except (OSError, subprocess.SubprocessError):
        return {"commit": None, "dirty": None}


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests (the
    'steal' column of /proc/stat) between two readings."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def process_tree_rss_mb(root_pid: int) -> float:
    """Resident memory of ``root_pid`` and all its descendants (the JVM
    and the Python workers it forks), from /proc."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
            parent[int(entry)] = int(stat[stat.rindex(")") + 2:].split()[1])
        except (OSError, ValueError):
            continue
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier += kids
    total_kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class RssSampler(threading.Thread):
    def __init__(self, period: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.period, self.peak = period, 0.0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, process_tree_rss_mb(os.getpid()))
            self._stop_evt.wait(self.period)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join(timeout=10)
        return self.peak


class Context:
    """What a workload needs: session, dirs, seed and (traced run) the
    tracer and Spark counters."""

    def __init__(self, seed: int, temp_root: str, tracer, counters) -> None:
        self.seed = seed
        self.work = os.path.join(temp_root, "work")
        self._tracer = tracer
        self._counters = counters
        self.tracing = False
        self.spark = None

    @property
    def tracer(self):
        return self._tracer if self.tracing else None

    @property
    def counters(self):
        return self._counters if self.tracing else None

    def set_tracing(self, on: bool) -> None:
        self.tracing = bool(on) and self._tracer is not None
        if self._tracer is not None:
            self._tracer.enabled = self.tracing

    def tracer_op(self, op) -> None:
        if self.tracer is not None:
            self.tracer.op = op

    def checking(self) -> None:
        """Move the rest of the op (its output check) out of the op's
        job group and spans."""
        if self.counters is not None:
            self.counters.sc.setJobGroup("check", "check")
        if self.tracer is not None:
            self.tracer.op = "check"


def isolate(temp_root: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    ``temp_root`` before the session starts."""
    import tempfile

    tmp = os.path.join(temp_root, "tmp")
    local = os.path.join(temp_root, "spark-local")
    for d in (tmp, local, os.path.join(temp_root, "work")):
        os.makedirs(d, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            # no hsperfdata file in /tmp: the JVM writes only under temp_root
            "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(temp_root, 'warehouse')}"),
            "--conf", shlex.quote(f"spark.local.dir={local}"),
            "--conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000",
            "--conf spark.sql.ui.retainedExecutions=100000 --conf spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]),
    })
    tempfile.tempdir = tmp


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # already gone
            pass
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


# ------------------------------------------------------------ running


def run(args) -> int:
    from tracing import SparkCounters, Tracer, install
    from workloads import WORKLOADS

    cls = WORKLOADS[args.workload]
    temp_root = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    stamps = {"loadavg_start": list(os.getloadavg()), "git": git_stamp(),
              "cores": len(os.sched_getaffinity(0))}
    cpu_start = cpu_times()
    isolate(temp_root)
    rss = RssSampler()
    rss.start()
    tracer = Tracer() if args.trace else None
    spark = None
    try:
        if tracer is not None:
            # before trx_spark.queries is imported anywhere
            install(tracer)
        t0 = time.perf_counter()
        from trx_spark.session import get_spark

        spark = get_spark(f"perfbench_{args.workload}")
        session_s = time.perf_counter() - t0
        counters = SparkCounters(spark) if args.trace else None
        if counters is not None:
            counters.listen_streams(spark)
        ctx = Context(args.seed, temp_root, tracer, counters)
        ctx.spark = spark
        wl = cls(ctx)

        # inputs: generated GEN_REPEATS times, the last copy is used
        gen_times = []
        for k in range(GEN_REPEATS):
            out = os.path.join(temp_root, f"inputs{k}")
            t = time.perf_counter()
            wl.make_inputs(out)
            gen_times.append(time.perf_counter() - t)
            if k < GEN_REPEATS - 1:
                shutil.rmtree(out, ignore_errors=True)
        t = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(gen_times) + warm_s

        # closed loop: the cold first pass, then more passes while half a
        # pass still fits before the deadline. A traced run leaves every
        # other warm op untraced, so it measures its own overhead.
        deadline = time.perf_counter() + args.seconds
        pass_no, n_warm = 0, 0
        while True:
            pass_no += 1
            t = time.perf_counter()
            for i, (name, fn) in enumerate(wl.pass_ops(pass_no)):
                warm = wl.is_warm(pass_no, i)
                ctx.set_tracing(args.trace and not (warm and n_warm % 2 == 1))
                n_warm += warm
                wl.run_op(pass_no, name, fn, warm=warm, traced=ctx.tracing)
            ctx.set_tracing(args.trace)
            last_pass = time.perf_counter() - t
            if pass_no >= wl.MIN_PASSES and deadline - time.perf_counter() < 0.5 * last_pass:
                break

        layer = {}
        if args.trace:
            wl.traced_extras()
            layer = traced_metrics(wl, tracer, counters, session_s, rss.peak)
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"{args.workload}-seed{args.seed}.spans.jsonl"))
            counters.stop_listening(spark)
    finally:
        if spark is not None:
            stop_spark(spark)
        peak_rss = rss.stop()
        shutil.rmtree(temp_root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(temp_root))
        except OSError:
            pass
    stamps["loadavg_end"] = list(os.getloadavg())
    stamps["cpu_steal_share"] = steal_share(cpu_start, cpu_times())

    ops = wl.ops
    failed = [o for o in ops if o["error"]]
    warm_ops = [o["sec"] for o in ops if o["warm"]]
    e2e = {
        "setup_s": (setup_s, "s", GEN_REPEATS),
        "first_pass_s": (sum(o["sec"] for o in ops if o["pass"] == 1), "s", 1),
    }
    # reported but not bounded: between seeds the warm-op median spread
    # by a third on beamline_online (hypervisor steal) and peak memory by
    # a quarter on registry_session (JVM heap sizing)
    unbounded = {
        "op_p50_s": (statistics.median(warm_ops), "s", len(warm_ops)),
        "peak_rss_mb": (peak_rss, "MB", 1),
    }
    stamps["setup_parts_s"] = {"session": session_s, "inputs": statistics.median(gen_times), "warm_up": warm_s}
    report(args, wl, e2e | unbounded, stamps, failed, layer)
    metrics = layer if args.trace else {k: {"value": v, "unit": u} for k, (v, u, _) in e2e.items()}
    print(json.dumps({
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": metrics,
    }))
    return 0


def traced_metrics(wl, tracer, counters, session_s: float, peak_rss_mb: float) -> dict:
    """Per-layer metrics of the traced ops. Spark counters and layer
    times are per traced op, so workloads with different op counts stay
    comparable."""
    from tracing import median

    from trx_spark import cache

    traced = [o for o in wl.ops if o["traced"]]
    n_ops = max(1, len(traced))
    m = {"session.start_s": session_s, "memory.peak_rss_mb": peak_rss_mb}
    for k, v in counters.totals().items():
        m[k] = v / n_ops
    m["spark.plan_s"] = tracer.total("spark.plan") / n_ops
    m["tables.load_table.calls"] = tracer.count("tables.load_table") / n_ops
    m["tables.load_table_s"] = tracer.total("tables.load_table") / n_ops
    m["tables.fan_out_s"] = tracer.total("tables.fan_out_small_scan") / n_ops
    m["queries.build_s"] = tracer.self_times({"queries.build"}).get("queries.build", 0.0) / n_ops
    # memo builds by the pass of the op that paid for them
    builds = [(b.get("payer") or "").startswith("p1:") for b in cache.MEMO_BUILDS]
    m["cache.memo_builds"] = float(sum(builds))
    m["cache.memo_build_s"] = float(sum(b["sec"] for b, first in zip(cache.MEMO_BUILDS, builds) if first))
    m["cache.memo_builds_warm"] = float(len(builds) - sum(builds))
    m.update(wl.layer)
    # tracing overhead: traced against untraced warm ops of this run
    on = median(o["sec"] for o in wl.ops if o["warm"] and o["traced"])
    off = median(o["sec"] for o in wl.ops if o["warm"] and not o["traced"])
    m["trace.op_p50_traced_s"] = on
    m["trace.op_p50_untraced_s"] = off
    m["trace.overhead_share"] = (on - off) / off if off else 0.0
    return {k: {"value": float(m.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}


def report(args, wl, e2e, stamps, failed, layer) -> None:
    print(f"== perfbench {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print("stamps " + json.dumps(stamps))
    for k, v in wl.notes.items():
        print(f"note {k}: {v}")
    for k, (v, u, n) in e2e.items():
        print(f"metric {k} = {v:.4f} {u} (n={n})")
    for k, (v, u, n) in wl.named_metrics().items():
        print(f"metric {k} = {v:.4f} {u} (n={n})")
    for k, v in sorted(layer.items()):
        print(f"layer {k} = {v['value']:.6g} {v['unit']}")
    for o in failed[:10]:
        print(f"FAILED op {o['name']} (pass {o['pass']}): {o['error']}")
    print(f"checks: {len(wl.ops) - len(failed)}/{len(wl.ops)} ops passed")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "trx_spark", "__init__.py")):
        return fail(f"no trx_spark package under {ROOT}; run from the repository root")
    sys.path[:0] = [ROOT, HERE]
    if args.selftest:
        import selftest

        return selftest.main(ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        return fail(f"--workload must be one of {sorted(WORKLOADS)}")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
