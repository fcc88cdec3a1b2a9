"""Record the expected row counts and digests for every registry and
streaming name over the benchmark's generated tables.

    python3 perfbench/record_expected.py session OUT.json --cores N
    python3 perfbench/record_expected.py merge perfbench/expected.json A.json B.json ...

``session`` runs every ``bench.HEADLINE`` and ``bench.STREAMING`` name
twice in one Spark session on ``local[N]`` — first with the shared-stage
memos cleared, then warm — and writes each run's digest, wall time and
memo builds. ``merge`` combines sessions (run them with different
core counts, so a digest that depends on partitioning shows up): a name
is ``stable`` only if all its digests agree; otherwise the benchmark
checks its row count alone. Run from the repository root.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def session(out: str, cores: int) -> None:
    sys.path[:0] = [ROOT, HERE]
    work = tempfile.mkdtemp(prefix="perfbench_record_")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    import gen

    tables = os.path.join(work, "tables")
    gen.write_tables(tables)
    import bench
    from checks import digest
    from trx_spark import cache
    from trx_spark.session import get_spark

    spark = get_spark("perfbench_record")
    from trx_spark.queries import QUERIES

    res: dict[str, dict] = {}
    for name in bench.HEADLINE + bench.STREAMING:
        runs = []
        # the first run is cold (no shared-stage memo), the second warm
        cache.clear_stage_caches(spark)
        for _ in range(2):
            builds = len(cache.MEMO_BUILDS)
            t0 = time.perf_counter()
            try:
                d = digest(QUERIES[name](spark, tables))
            except Exception as e:  # recorded, and the name is left out of the pools
                d = {"error": f"{type(e).__name__}: {str(e)[:300]}"}
            d["sec"] = round(time.perf_counter() - t0, 3)
            d["memo_builds"] = len(cache.MEMO_BUILDS) - builds
            runs.append(d)
        res[name] = {"module": QUERIES[name].__module__.rsplit(".", 1)[-1], "runs": runs}
        print(name, [r.get("rows", r.get("error")) for r in runs], [r["sec"] for r in runs], flush=True)
    with open(out, "w") as fh:
        json.dump({"cores": cores, "names": res}, fh, indent=1)
    spark.stop()


def merge(out: str, parts: list[str]) -> None:
    sessions = [json.load(open(p)) for p in parts]
    names = sessions[0]["names"]
    merged = {}
    for name in names:
        runs = [r for s in sessions for r in s["names"][name]["runs"]]
        errors = [r["error"] for r in runs if "error" in r]
        entry = {"module": names[name]["module"], "kind": "stream" if name.startswith("streaming_") else "query"}
        if errors:
            entry["error"] = errors[0]
        else:
            keys = {(r["rows"], r["h1"], r["h2"], r["schema"]) for r in runs}
            rows = {r["rows"] for r in runs}
            first = runs[0]
            entry.update(rows=first["rows"], h1=first["h1"], h2=first["h2"], schema=first["schema"],
                         stable=len(keys) == 1, rows_stable=len(rows) == 1)
            # costs on the most-parallel session: cold first run, warm second
            top = [s["names"][name]["runs"] for s in sessions
                   if s["cores"] == max(x["cores"] for x in sessions)][0]
            entry.update(cold_s=top[0]["sec"], warm_s=top[1]["sec"],
                         memo_builds=top[0].get("memo_builds", 0))
        merged[name] = entry
    with open(out, "w") as fh:
        json.dump(merged, fh, indent=1, sort_keys=True)
    unstable = sorted(n for n, e in merged.items() if "error" not in e and not e["stable"])
    print(f"{len(merged)} names, {len(unstable)} with unstable digest, "
          f"{sum('error' in e for e in merged.values())} failing")


if __name__ == "__main__":
    if sys.argv[1] == "session":
        session(sys.argv[2], int(sys.argv[sys.argv.index("--cores") + 1]))
    elif sys.argv[1] == "merge":
        merge(sys.argv[2], sys.argv[3:])
    else:
        raise SystemExit(__doc__)
