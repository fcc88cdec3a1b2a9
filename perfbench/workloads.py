"""The workloads.

Each workload is a closed loop with one client: a pass is a fixed
sequence of ops, and the next op starts only once the previous one has
finished and been checked. The first pass of a run is cold (code
generation, Python workers, memo builds); which ops count as warm is
up to the workload.

In a traced run every op runs under its own Spark job group
``op:<n>:<name>``, which is how its jobs are found in the status store.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import time

import checks
import gen
from tracing import median


def _p(xs, q: float) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


class Workload:
    name = ""
    MIN_PASSES = 2

    def __init__(self, ctx) -> None:
        self.ctx = ctx  # run.Context: spark, work dir, seed, tracer, counters
        self.spark = ctx.spark
        self.ops: list[dict] = []  # one record per op
        self.layer: dict[str, float] = {}
        self.notes: dict[str, object] = {}

    def make_inputs(self, out_dir: str) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        pass

    def pass_ops(self, pass_no: int) -> list[tuple[str, object]]:
        """(op name, callable) for one pass. The callable returns an
        error string or None, or (error, latency) when the op times
        itself (to leave out its own output check)."""
        raise NotImplementedError

    def is_warm(self, pass_no: int, index: int) -> bool:
        return pass_no > 1

    def named_metrics(self) -> dict[str, tuple[float, str, int]]:
        """The workload's own names for its end-to-end numbers."""
        return {}

    def run_op(self, pass_no: int, name: str, fn, *, warm: bool, traced: bool) -> dict:
        from trx_spark import cache

        ctx = self.ctx
        group = f"op:{len(self.ops)}:{name}"
        # memo builds record which op paid for them
        cache.CURRENT_CONSUMER = f"p{pass_no}:{name}"
        ctx.tracer_op(group)
        if ctx.counters:
            ctx.counters.open(group)
        t0 = time.perf_counter()
        try:
            err = fn()
        except Exception as e:  # an op that raises counts as failed
            err = f"{type(e).__name__}: {(str(e).splitlines() or [''])[0][:300]}"
        sec = time.perf_counter() - t0
        if isinstance(err, tuple):
            err, sec = err
        rec = {"pass": pass_no, "name": name, "sec": sec, "error": err, "warm": warm, "traced": traced}
        if ctx.counters:
            rec["spark"] = ctx.counters.close(group, sec)
        ctx.tracer_op(None)
        cache.CURRENT_CONSUMER = None
        self.ops.append(rec)
        return rec

    def traced_extras(self) -> None:
        """Per-layer numbers that need their own materialization."""


# ------------------------------------------------------------ beamline


class BeamlineOnline(Workload):
    """The online loop of the E1/E2 journey. Frames land in waves (temp
    name + rename); after each wave lands, one op runs
    ``FolderPoller.poll()`` (``doFolder`` on the new files, appended to
    the curve store), timed from the last rename to the store being
    written. Once the last wave is in, a reduce op runs
    ``doFolder_dataRed(poller.bank())`` with the chi-squared filter on →
    ``save_per_delay``. A pass is one acquisition into an empty folder
    and store; the polls after the first of a pass count as warm."""

    name = "beamline_online"
    MIN_PASSES = 1
    N_FRAMES = 24
    WAVE = 3
    SHAPE = (128, 128)
    N_Q = 64

    def make_inputs(self, out_dir: str) -> None:
        os.makedirs(out_dir, exist_ok=True)
        self.acq = gen.plan_acquisition(self.ctx.seed, self.N_FRAMES, *self.SHAPE, self.N_Q)
        self.log_path = os.path.join(out_dir, "id9.log")
        gen.write_log(self.acq, self.log_path)
        # waves land in acquisition order; the seed shuffles the order
        # in which the files of a wave are renamed in
        rnd = random.Random(self.ctx.seed)
        n = len(self.acq.files)
        self.waves = []
        for w in range(0, n, self.WAVE):
            wave = list(range(w, min(n, w + self.WAVE)))
            rnd.shuffle(wave)
            self.waves.append(wave)
        self.staging = os.path.join(out_dir, "staging")
        gen.write_frames(self.acq, self.ctx.seed, self.staging)

    def doFolder(self, folder: str):
        from trx_spark import compat

        return compat.doFolder(self.spark, folder, files="*.edf", nQ=self.N_Q,
                               qlims=self.acq.q_lims, poni=dict(self.acq.poni))

    def reduce(self, bank):
        from trx_spark import compat
        from trx_spark.sources import logfile

        log = logfile.read_id9_log(self.spark, self.log_path)
        return compat.doFolder_dataRed(bank, log, chi2_threshold="auto")

    def reduce_and_sink(self, bank, out_dir: str) -> None:
        from trx_spark.sources import sinks

        sinks.save_per_delay(self.reduce(bank)["scan_filtered"], out_dir)

    def check_sink(self, out_dir: str, present: set[str]) -> list[str]:
        rows = [r.asDict() for r in self.spark.read.parquet(out_dir).collect()]
        return checks.check_per_delay(rows, self.acq, present=present)

    def traced_layers(self, folder: str) -> None:
        """Materialize each layer boundary once on ``folder``: decode
        only, the geometry table, E1 to the bank, E2 to a noop sink, and
        the per-delay sink."""
        from pyspark.sql import functions as F

        from trx_spark.operators import multimodal
        from trx_spark.sources import poni, sinks

        tr, sp, work = self.ctx.tracer, self.spark, self.ctx.work

        def timed(name, fn):
            with tr.span(name) as s:
                out = fn()
            return out, s["end"] - s["start"]

        n_pix, dec_s = timed("layer.decode", lambda: multimodal.decode_image(
            multimodal.read_binary_assets(sp, f"{folder}/*.edf", "image"), codec="auto").count())
        _, geo_s = timed("layer.geometry", lambda: poni.poni_geometry_table(
            sp, poni.apply_overrides(**self.acq.poni), self.SHAPE).count())
        bank_dir = os.path.join(work, "bank_traced")
        _, e1_s = timed("layer.integrate", lambda: self.doFolder(folder).write.mode("overwrite").parquet(bank_dir))
        bank = sp.read.parquet(bank_dir)
        res = self.reduce(bank)
        _, e2_s = timed("layer.reduce", lambda: res["scan_filtered"].write.format("noop").mode("overwrite").save())
        out_dir = os.path.join(work, "per_delay_traced")
        _, sink_s = timed("layer.sink", lambda: sinks.save_per_delay(res["scan_filtered"], out_dir))
        kept = res["shots"].groupBy("file").agg(F.max(F.col("chi2_excluded").cast("int")).alias("x")).agg(
            F.count(F.lit(1)).alias("n"), F.sum(1 - F.col("x")).alias("k")).collect()[0]
        self.layer.update({
            "multimodal.decode_s": dec_s,
            "multimodal.pixel_rows": float(n_pix),
            "poni.geometry_s": geo_s,
            "pipeline.integrate_folder_s": e1_s,
            "azav.curve_rows": float(bank.count()),
            "pipeline.data_reduction_s": e2_s,
            "sinks.save_per_delay_s": sink_s,
            "sinks.files_written": float(_count_files(out_dir)),
            "filters.shots_kept_ratio": float(kept["k"]) / max(1, kept["n"]),
        })

    def is_warm(self, pass_no: int, index: int) -> bool:
        return 0 < index < len(self.waves)

    def pass_ops(self, pass_no: int):
        from trx_spark import compat

        base = os.path.join(self.ctx.work, f"online_p{pass_no}")
        folder, store, out_dir = (os.path.join(base, d) for d in ("raw", "bank", "per_delay"))
        os.makedirs(folder, exist_ok=True)
        poller = compat.FolderPoller(
            self.spark, folder, store_dir=store, files="*.edf", retry_max=2,
            nQ=self.N_Q, qlims=self.acq.q_lims, poni=dict(self.acq.poni),
        )
        present: set[str] = set()

        def wave_op(wave: list[int]):
            def run():
                for i in wave:
                    name = self.acq.files[i]
                    tmp = os.path.join(folder, "." + name + ".part")
                    shutil.copyfile(os.path.join(self.staging, name), tmp)
                    os.replace(tmp, os.path.join(folder, name))
                    present.add(name)
                t_landed = time.perf_counter()
                n_new = poller.poll()
                latency = time.perf_counter() - t_landed
                return (None if n_new == len(wave) else f"poll picked up {n_new} of {len(wave)} files"), latency

            return run

        def reduce_op():
            t0 = time.perf_counter()
            self.reduce_and_sink(poller.bank(), out_dir)
            latency = time.perf_counter() - t0
            self.ctx.checking()
            errs = checks.check_bank(poller.bank(), len(present), self.N_Q)
            errs += self.check_sink(out_dir, present)
            shutil.rmtree(base, ignore_errors=True)
            return "; ".join(errs) or None, latency

        return [(f"poll:{k}", wave_op(w)) for k, w in enumerate(self.waves)] + [("reduce", reduce_op)]

    def named_metrics(self):
        warm = [o["sec"] for o in self.ops if o["warm"]]
        reduces = [o["sec"] for o in self.ops if o["name"] == "reduce"]
        runs: dict[int, float] = {}
        for o in self.ops:
            runs[o["pass"]] = runs.get(o["pass"], 0.0) + o["sec"]
        return {
            "online_poll_p50_s": (statistics.median(warm), "s", len(warm)),
            "online_reduce_s": (statistics.median(reduces), "s", len(reduces)),
            "online_run_s": (statistics.median(runs.values()), "s", len(runs)),
        }

    def traced_extras(self) -> None:
        tr = self.ctx.tracer
        self.layer.update({
            "compat.poll_s": tr.total("compat.poll") / max(1, tr.count("compat.poll")),
            "compat.bank_read_s": tr.total("compat.bank") / max(1, tr.count("compat.bank")),
            "compat.bank_files": float(len(self.acq.files)),
        })
        # the layer boundaries once more, materialized on the full folder
        folder = os.path.join(self.ctx.work, "online_traced")
        gen.write_frames(self.acq, self.ctx.seed, folder)
        self.traced_layers(folder)


def _count_files(path: str) -> int:
    return sum(1 for _, _, fs in os.walk(path) for f in fs if not f.startswith((".", "_")))


# ------------------------------------------------------------ registry


def load_expected() -> dict:
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")) as fh:
        return json.load(fh)


class RegistrySession(Workload):
    """A seeded sample of registry queries and a streaming replay over
    the generated tables: a fresh-session first pass (memo builds, code
    generation), then warm passes in the same session. A query op builds
    the query and runs it to its digest; a stream op replays one stream
    (availableNow trigger, foreachBatch stores, state stores) from
    fresh checkpoints and digests the result."""

    name = "registry_session"
    # The seed picks one name of each pair and the run order. The two
    # names of a pair come from the same query module and had nearly the
    # same recorded cost, so two seeds' samples cost about the same; the
    # pairs span relational, trx-domain, text, statistics, privacy,
    # retrieval (a shared memo) and a stateful streaming replay.
    PAIRS = [
        ("slice_skip_first_last", "parts_with_orders"),
        ("rebin_nearest", "global_curve_stats"),
        ("pricing_rollup", "times_to_info"),
        ("welch_t_stats", "source_concentration"),
        ("trimmed_length_stats", "ols_trend_stats"),
        ("pack_sequences", "pii_scrub"),
        ("k_anonymity_audit", "l_diversity_audit"),
        ("dedup_exact", "doc_fingerprints"),
        ("neyman_allocation", "benford_first_digit_audit"),
        ("ndcg_retrieval_audit", "retrieval_mrr_audit"),
        ("streaming_dedup_keys", "streaming_windowed_counts"),
    ]

    def make_inputs(self, out_dir: str) -> None:
        self.tables = os.path.join(out_dir, "tables")
        gen.write_tables(self.tables)

    def warm_up(self) -> None:
        self.expected = load_expected()
        rnd = random.Random(self.ctx.seed)
        sample = [rnd.choice(pair) for pair in self.PAIRS]
        rnd.shuffle(sample)
        self.sample = sample
        self.notes["sample"] = sample
        self.notes["digest_checked"] = f"{sum(self.expected[n]['stable'] for n in sample)}/{len(sample)}"

    def pass_ops(self, pass_no: int):
        from trx_spark.queries import QUERIES

        def op(name: str):
            def run():
                tr = self.ctx.tracer
                if tr is None:
                    got = checks.digest(QUERIES[name](self.spark, self.tables))
                else:
                    with tr.span("queries.build"):
                        df = QUERIES[name](self.spark, self.tables)
                    with tr.span("spark.plan"):
                        df._jdf.queryExecution().executedPlan()
                    with tr.span("spark.execute"):
                        got = checks.digest(df)
                return checks.compare(name, got, self.expected)

            return run

        return [(n, op(n)) for n in self.sample]

    def named_metrics(self):
        ops = self.ops
        passes: dict[int, float] = {}
        for o in ops:
            passes[o["pass"]] = passes.get(o["pass"], 0.0) + o["sec"]
        warm_passes = [v for p, v in passes.items() if p > 1]
        q = [o["sec"] for o in ops if o["warm"] and self.expected[o["name"]]["kind"] == "query"]
        s = [o["sec"] for o in ops if o["warm"] and self.expected[o["name"]]["kind"] == "stream"]
        return {
            "registry_first_pass_s": (passes.get(1, 0.0), "s", 1),
            "registry_warm_pass_s": (statistics.median(warm_passes), "s", len(warm_passes)),
            "registry_query_p50_s": (statistics.median(q), "s", len(q)),
            "registry_query_p80_s": (_p(q, 0.8), "s", len(q)),
            "stream_replay_p50_s": (statistics.median(s) if s else 0.0, "s", len(s)),
        }

    def traced_extras(self) -> None:
        time.sleep(1.0)  # streaming progress reaches the listener asynchronously
        prog = self.ctx.counters.traced_progress()
        self.layer.update({
            "streaming.epochs": float(len(prog)),
            "streaming.epoch_p50_s": median(p["trigger_s"] for p in prog),
            "streaming.add_batch_s": float(sum(p["add_batch_s"] for p in prog)),
            "streaming.state_rows": float(sum(p["state_rows"] for p in prog)),
            "streaming.state_bytes": float(sum(p["state_bytes"] for p in prog)),
        })


WORKLOADS = {w.name: w for w in (BeamlineOnline, RegistrySession)}
