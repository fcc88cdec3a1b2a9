"""Output checks.

Registry and stream ops are checked by an order-insensitive digest
that Spark computes as the op's own sink: each row is rendered to one
canonical string (columns in name order, doubles rounded to nine
significant digits so the order of a floating-point sum cannot flip
it), hashed twice, and the hashes are summed. The result — row count
plus two hash sums — is compared with the values recorded in
``expected.json``. Names whose digest was not the same in every
recording session fall back to the row count.

Beamline ops are checked against what the generator injected.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_SEP = "\x1f"


def _canon(field: T.StructField):
    c = F.col(f"`{field.name}`")
    dt = field.dataType
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        # + 0.0 folds -0.0 into 0.0
        s = F.format_string("%.8e", (c.cast("double") + F.lit(0.0)))
    elif isinstance(dt, T.BinaryType):
        s = F.sha2(c, 256)
    elif isinstance(dt, (T.ArrayType, T.MapType, T.StructType)):
        s = F.to_json(c) if not isinstance(dt, T.ArrayType) else F.to_json(F.struct(c.alias("v")))
    else:
        s = c.cast("string")
    return F.coalesce(s, F.lit("\x00"))


def digest(df: DataFrame) -> dict:
    """Run ``df`` to completion and return its digest."""
    fields = sorted(df.schema.fields, key=lambda f: f.name)
    row = F.concat_ws(_SEP, *[_canon(f) for f in fields]) if fields else F.lit("")
    r = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.pmod(F.xxhash64(row), F.lit(2147483647))).alias("h1"),
        F.sum(F.pmod(F.hash(row).cast("long"), F.lit(2147483647))).alias("h2"),
    ).collect()[0]
    cols = ",".join(sorted(f"{f.name}:{f.dataType.simpleString()}" for f in df.schema.fields))
    return {"rows": int(r["rows"]), "h1": int(r["h1"] or 0), "h2": int(r["h2"] or 0), "schema": cols}


def compare(name: str, got: dict, expected: dict) -> str | None:
    """None when ``got`` matches the recorded entry, else why not."""
    exp = expected.get(name)
    if exp is None:
        return f"{name}: nothing recorded"
    if got["rows"] != exp["rows"]:
        return f"{name}: {got['rows']} rows, expected {exp['rows']}"
    if exp.get("stable", False) and (got["h1"], got["h2"], got["schema"]) != (
        exp["h1"], exp["h2"], exp["schema"]
    ):
        return f"{name}: digest differs from the recorded one"
    return None


# ---------------------------------------------------------------- beamline


def check_per_delay(rows, acq, *, present: set[str]) -> list[str]:
    """Per-delay result rows (dicts with delay, q_bin, mean_diff,
    n_used) of the files in ``present`` against the generator's boosts.

    * each delay appears once per q bin, and no delay that was not
      acquired appears; a delay with three or more shots must appear
      (the automatic chi-squared filter drops the top 5 % of shots, so a
      delay seen once or twice may be filtered away entirely);
    * in q bins inside the boosted annulus, mean_diff equals the
      delay's boost, and outside it zero, within eight standard errors
      of the generator's pixel noise over the bin's pixels and shots.
      Bins that straddle an annulus edge are skipped.
    """
    errors: list[str] = []
    shots: dict[float, int] = {}
    for f, d in zip(acq.files, acq.delays):
        if f in present:
            shots[round(d, 12)] = shots.get(round(d, 12), 0) + 1
    by_delay: dict[float, list] = {}
    for r in rows:
        by_delay.setdefault(round(r["delay"], 12), []).append(r)
    missing = sorted(d for d, n in shots.items() if n >= 3 and d not in by_delay)
    extra = sorted(set(by_delay) - set(shots))
    if missing or extra:
        errors.append(f"delays missing {missing}, not acquired {extra}")
    width = (acq.q_lims[1] - acq.q_lims[0]) / acq.n_q
    r0, r1 = acq.ring_q
    for d, rs in sorted(by_delay.items()):
        bins = sorted(r["q_bin"] for r in rs)
        if bins != list(range(acq.n_q)):
            errors.append(f"delay {d}: {len(bins)} rows for {acq.n_q} q bins")
            continue
        want_in = acq.boost.get(d)
        if want_in is None:
            continue
        for r in rs:
            lo = acq.q_lims[0] + r["q_bin"] * width
            hi = lo + width
            if r["q_bin"] == acq.n_q - 1 or (lo < r1 and hi > r0 and not (lo >= r0 and hi <= r1)):
                continue  # clamped edge bin, or a bin straddling the annulus edge
            want = want_in if (lo >= r0 and hi <= r1) else 0.0
            n_used = max(1, int(r.get("n_used") or shots.get(d, 1)))
            tol = 8.0 * acq.sigma * math.sqrt(2.0 / (acq.bin_pixels[r["q_bin"]] * n_used))
            md = r["mean_diff"]
            if md is None or not abs(md - want) <= tol:
                errors.append(
                    f"delay {d} q_bin {r['q_bin']}: mean_diff {md} vs injected {want} (tol {tol:.3g})"
                )
                break
    return errors


def check_bank(bank: DataFrame, n_files: int, n_q: int) -> list[str]:
    """Curve bank: n_files x n_q rows and no duplicate (file, q_bin)."""
    r = bank.agg(
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct("file", "q_bin").alias("keys"),
        F.countDistinct("file").alias("files"),
    ).collect()[0]
    errors = []
    if r["rows"] != r["keys"]:
        errors.append(f"bank has {r['rows'] - r['keys']} duplicate (file, q_bin) rows")
    if r["files"] != n_files or r["keys"] != n_files * n_q:
        errors.append(f"bank: {r['files']} files / {r['keys']} keys, expected {n_files} / {n_files * n_q}")
    return errors
