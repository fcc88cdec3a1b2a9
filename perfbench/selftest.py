"""Shows that every output check passes the real output and rejects a
perturbed one (``python3 perfbench/run.py --selftest``)."""

from __future__ import annotations

import os
import shutil

import checks
import gen


def main(root: str) -> int:
    import run as harness

    temp_root = os.path.join(root, ".perfbench_tmp", f"selftest-{os.getpid()}")
    harness.isolate(temp_root)
    from trx_spark.session import get_spark

    spark = get_spark("perfbench_selftest")
    results: list[tuple[str, bool]] = []

    def expect(label: str, errors, should_fail: bool) -> None:
        failed = bool(errors)
        ok = failed == should_fail
        results.append((label, ok))
        verdict = "rejects" if failed else "accepts"
        print(f"{'ok  ' if ok else 'BAD '} {verdict}: {label}" + (f" -> {errors}" if failed else ""))

    try:
        work = os.path.join(temp_root, "work")
        # -- beamline: one real E1/E2 journey, then perturbed copies
        acq = gen.plan_acquisition(3, 48, 96, 96, 48)
        folder = os.path.join(work, "raw")
        gen.write_frames(acq, 3, folder)
        log_path = os.path.join(work, "id9.log")
        gen.write_log(acq, log_path)
        from pyspark.sql import functions as F

        from trx_spark import compat
        from trx_spark.sources import logfile, sinks

        curves = compat.doFolder(spark, folder, files="*.edf", nQ=acq.n_q, qlims=acq.q_lims,
                                 poni=dict(acq.poni))
        curves.write.mode("overwrite").parquet(os.path.join(work, "bank"))
        bank = spark.read.parquet(os.path.join(work, "bank"))
        res = compat.doFolder_dataRed(bank, logfile.read_id9_log(spark, log_path),
                                      chi2_threshold="auto")
        sinks.save_per_delay(res["scan_filtered"], os.path.join(work, "per_delay"))
        rows = [r.asDict() for r in spark.read.parquet(os.path.join(work, "per_delay")).collect()]
        present = set(acq.files)
        expect("beamline per-delay output as written", checks.check_per_delay(rows, acq, present=present), False)
        ring = next(r for r in rows if r["delay"] > 0 and acq.ring_q[0] + 0.05 < acq.q_lims[1] * (r["q_bin"] + 0.5) / acq.n_q < acq.ring_q[1] - 0.05)
        bumped = [dict(r, mean_diff=r["mean_diff"] + 3.0) if r is ring else r for r in rows]
        expect("mean_diff off by 3 in one ring bin", checks.check_per_delay(bumped, acq, present=present), True)
        expect("one per-delay row missing", checks.check_per_delay(rows[1:], acq, present=present), True)
        expect("a delay that was never acquired", checks.check_per_delay(
            rows + [dict(rows[0], delay=5e-3)], acq, present=present), True)
        swapped = {d: v for d, v in acq.boost.items()}
        pumps = sorted(d for d in swapped if d > 0)
        swapped[pumps[0]], swapped[pumps[-1]] = swapped[pumps[-1]], swapped[pumps[0]]
        acq_swapped = gen.Acquisition(**{**acq.__dict__, "boost": swapped, "_static": None})
        expect("boosts of two delays swapped", checks.check_per_delay(rows, acq_swapped, present=present), True)
        expect("curve bank as written", checks.check_bank(bank, len(acq.files), acq.n_q), False)
        expect("curve bank with one duplicated (file, q_bin)",
               checks.check_bank(bank.unionByName(bank.limit(1)), len(acq.files), acq.n_q), True)
        expect("curve bank missing a file",
               checks.check_bank(bank.filter(F.col("file") != acq.files[0]), len(acq.files), acq.n_q), True)

        # -- registry and stream: recorded digests
        from workloads import load_expected

        from trx_spark.queries import QUERIES

        expected = load_expected()
        tables = os.path.join(work, "tables")
        gen.write_tables(tables)
        for kind in ("query", "stream"):
            name = next(n for n, e in sorted(expected.items())
                        if e["kind"] == kind and e.get("stable") and e["rows"] > 2 and e["warm_s"] < 3)
            df = QUERIES[name](spark, tables).cache()
            expect(f"{kind} {name} as computed", checks.compare(name, checks.digest(df), expected), False)
            expect(f"{kind} {name} with one row dropped",
                   checks.compare(name, checks.digest(df.limit(expected[name]["rows"] - 1)), expected), True)
            col = next(f.name for f in df.schema.fields
                       if f.dataType.typeName() in ("long", "integer", "double", "string"))
            t = df.schema[col].dataType.typeName()
            bump = F.concat(F.col(col), F.lit("x")) if t == "string" else F.col(col) + F.lit(1)
            first = df.limit(1).withColumn(col, bump.cast(df.schema[col].dataType))
            rest = df.exceptAll(df.limit(1))
            expect(f"{kind} {name} with one cell of {col} changed",
                   checks.compare(name, checks.digest(first.unionByName(rest)), expected), True)
            expect(f"{kind} {name} with rows reordered",
                   checks.compare(name, checks.digest(df.orderBy(*[F.desc(c) for c in df.columns[:1]])), expected),
                   False)
    finally:
        harness.stop_spark(spark)
        shutil.rmtree(temp_root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(temp_root))
        except OSError:
            pass
    bad = [label for label, ok in results if not ok]
    print(f"selftest: {len(results) - len(bad)}/{len(results)} cases behaved as expected")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit("run it as: python3 perfbench/run.py --selftest")
