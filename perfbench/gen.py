"""Seeded input generators for the benchmark.

Two kinds of input, both written as plain files the program then reads:

* ``write_tables`` — the ten registry tables (TPC-H-shaped star schema
  plus ``events``, ``documents`` and ``embeddings``) at roughly the
  0.01 scale factor. They come from a FIXED data seed, so the expected
  row counts and digests recorded in ``expected.json`` hold for every
  run; the run's ``--seed`` only picks which queries run over them, and
  in what order.
* ``write_frames`` / ``write_log`` — a beamline acquisition: EDF
  detector frames with a ring whose intensity depends on the pump-probe
  delay, laser-off references interleaved, a glitched shot for the
  chi-squared filter to drop, and the id9-style log. Everything here
  follows the run's ``--seed``.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 20240101

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = np.array(["en", "zh", "es", "de", "fr"])
_LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _days(rng, start: str, n_days: int, size: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days, size)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def write_tables(out_dir: str, scale: float = 0.01) -> dict[str, int]:
    """Write the ten registry tables under ``out_dir``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(TABLE_SEED)
    n_cust, n_part, n_supp = int(150_000 * scale), int(200_000 * scale), int(10_000 * scale)
    n_ord, n_line, n_evt = int(1_500_000 * scale), int(6_000_000 * scale), int(1_000_000 * scale)
    n_users, n_docs, n_vecs = 150, 500, 500

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    adjs = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adjs[a]} {nouns[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", 2499, n_line),
    })
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    _write(out_dir, "events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": np.sort(t0 + rng.integers(0, span_us, n_evt).astype("timedelta64[us]")),
        "user_id": rng.integers(0, n_users, n_evt),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_evt),
        "value": np.maximum(np.round(rng.exponential(50.0, n_evt), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    texts = []
    for i in range(n_docs):
        words = list(rng.choice(_WORDS, int(rng.integers(10, 100))))
        if rng.random() < 0.05:
            words[int(rng.integers(0, len(words)))] = "dup"
        texts.append(" ".join(words))
    # a few exact and near-duplicate documents, so the dedup queries
    # have something to find
    for i in range(0, 40, 4):
        texts[n_docs - 1 - i] = texts[i]
    for i in range(1, 40, 4):
        w = texts[i].split()
        w[-1] = "dup"
        texts[n_docs - 1 - i] = " ".join(w)
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    emb = rng.normal(size=(n_vecs, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    return {
        "lineitem": n_line, "orders": n_ord, "customer": n_cust, "part": n_part,
        "supplier": n_supp, "events": n_evt, "documents": n_docs, "embeddings": n_vecs,
    }


# ---------------------------------------------------------------- beamline

REF_DELAY = -10.0  # id9 convention: laser-off shots carry delay 'off' = -10


@dataclass
class Acquisition:
    """What the generator injected, for the output checks."""

    files: list[str]
    delays: list[float]  # per file, acquisition order
    boost: dict[float, float]  # delay -> ring intensity added
    glitched: list[str]
    ny: int
    nx: int
    n_q: int
    q_lims: tuple[float, float]
    ring_q: tuple[float, float]  # q range whose pixels carry the boost
    poni: dict = field(default_factory=dict)
    sigma: float = 0.0
    bin_pixels: list[int] = field(default_factory=list)  # pixels per q bin
    _static: tuple | None = field(default=None, repr=False)


_DELAY_TOKENS = {1e-10: "100ps", 1e-9: "1ns", 1e-8: "10ns"}


def pixel_q(ny: int, nx: int, poni: dict) -> np.ndarray:
    """Closed-form q (1/Angstrom) of each pixel centre for an untilted
    detector: 2theta = atan(r / dist), q = 4 pi sin(theta) / lambda."""
    lam = 12.398 / poni["E"]  # Angstrom
    y, x = np.mgrid[0:ny, 0:nx]
    r = np.hypot((y + 0.5 - poni["ycen"]) * poni["pixel"], (x + 0.5 - poni["xcen"]) * poni["pixel"])
    return 4 * math.pi * np.sin(np.arctan2(r, poni["dist"]) / 2) / lam


def plan_acquisition(seed: int, n_frames: int, ny: int, nx: int, n_q: int) -> Acquisition:
    """Delay pattern (refs interleaved every other frame, three pump
    delays in a seeded order), boosts and glitched shots for one
    acquisition."""
    rng = np.random.default_rng(seed)
    delays_set = sorted(_DELAY_TOKENS)
    pumps = [delays_set[i % len(delays_set)] for i in range(n_frames // 2)]
    rng.shuffle(pumps)
    delays: list[float] = []
    for d in pumps:
        delays += [REF_DELAY, d]
    boost = {d: round(float(rng.uniform(2.0, 12.0)), 3) for d in delays_set}
    boost[REF_DELAY] = 0.0
    # glitched shots sit in the second half, on delays with at least three
    # shots, so the chi-squared filter can single them out (with two shots
    # both deviate from their mean by the same amount)
    late_pumps = [i for i, d in enumerate(delays)
                  if d != REF_DELAY and i >= len(delays) // 2 and delays.count(d) >= 3]
    glitched = sorted(int(i) for i in rng.choice(late_pumps, max(1, n_frames // 48), replace=False))
    poni = dict(dist=0.05, pixel=2e-4, xcen=nx / 2 + 0.3, ycen=ny / 2 - 0.2, E=12.0)
    q = pixel_q(ny, nx, poni)
    q_hi = float(np.quantile(q, 0.9))
    ring = (0.45 * q_hi, 0.70 * q_hi)
    # the engine's binning: floor((q - q_min) / step), clamped to the edges
    bins = np.clip(np.floor(q / (q_hi / n_q)), 0, n_q - 1).astype(int)
    return Acquisition(
        files=[f"img_{i:04d}.edf" for i in range(len(delays))],
        delays=delays,
        boost=boost,
        glitched=[f"img_{i:04d}.edf" for i in glitched],
        ny=ny, nx=nx, n_q=n_q,
        q_lims=(0.0, q_hi),
        ring_q=ring,
        poni=poni,
        sigma=2.0,
        bin_pixels=np.bincount(bins.ravel(), minlength=n_q).tolist(),
    )


def encode_edf(img: np.ndarray) -> bytes:
    """Minimal EDF: ASCII '{ key = value ; }' header padded to a
    multiple of 512 bytes, then little-endian float32 pixels."""
    payload = img.astype("<f4").tobytes()
    body = "{\n" + "".join(f"{k} = {v} ;\n" for k, v in (
        ("HeaderID", "EH:000001:000000:000000"), ("Image", "1"),
        ("ByteOrder", "LowByteFirst"), ("DataType", "FloatValue"),
        ("Dim_1", img.shape[1]), ("Dim_2", img.shape[0]), ("Size", len(payload)),
    ))
    header = body + " " * ((-(len(body) + 2)) % 512) + "}\n"
    return header.encode("ascii") + payload


def _static_image(acq: Acquisition) -> tuple[np.ndarray, np.ndarray]:
    if acq._static is None:
        q = pixel_q(acq.ny, acq.nx, acq.poni)
        q_hi = acq.q_lims[1]
        base = 50.0 + 20.0 * np.exp(-(((q - 0.3 * q_hi) / (0.05 * q_hi)) ** 2))
        annulus = ((q >= acq.ring_q[0]) & (q < acq.ring_q[1])).astype(np.float64)
        acq._static = (base, annulus)
    return acq._static


def frame_bytes(acq: Acquisition, seed: int, i: int) -> bytes:
    """EDF blob of frame ``i``: flat 50 + a static ring + the delay's
    boost on the ring annulus + Gaussian noise (+ a glitch offset)."""
    rng = np.random.default_rng([seed, i])
    base, annulus = _static_image(acq)
    img = base + annulus * acq.boost[acq.delays[i]]
    img = img + rng.normal(0.0, acq.sigma, img.shape)
    if acq.files[i] in acq.glitched:
        img = img + 40.0
    return encode_edf(img)


def write_frames(acq: Acquisition, seed: int, folder: str) -> None:
    """Write every frame (temp name + rename, so a poller never sees a
    partial file)."""
    os.makedirs(folder, exist_ok=True)
    for i, name in enumerate(acq.files):
        tmp = os.path.join(folder, "." + name + ".part")
        with open(tmp, "wb") as fh:
            fh.write(frame_bytes(acq, seed, i))
        os.replace(tmp, os.path.join(folder, name))


def write_log(acq: Acquisition, path: str) -> None:
    """id9-style log: '#' preamble, last comment line names the columns."""
    lines = ["# pump-probe acquisition", "# file delay time currentmA"]
    for i, (f, d) in enumerate(zip(acq.files, acq.delays)):
        tok = "off" if d == REF_DELAY else _DELAY_TOKENS[d]
        lines.append(f"{f} {tok} 10:{i // 60 % 60:02d}:{i % 60:02d} {190.0 - 0.01 * i:.2f}")
    with open(path, "w", encoding="ascii") as fh:
        fh.write("\n".join(lines) + "\n")
