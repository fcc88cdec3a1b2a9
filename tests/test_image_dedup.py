"""Perceptual image dedup (dHash): gain-invariance, locality, and the
end-to-end binary → decode → hash → group pipeline over real EDF blobs."""

from __future__ import annotations

import numpy as np

from trx_spark.operators.multimodal import (
    _DHASH_SIDE,
    decode_image,
    dhash64,
    encode_edf,
    image_neardup_groups,
)

_SHAPE = (32, 32)


def _base_img(seed=7):
    rng = np.random.default_rng(seed)
    # smooth structured image: gradient + a bright blob
    yy, xx = np.mgrid[0 : _SHAPE[0], 0 : _SHAPE[1]]
    img = 10.0 * xx + 4.0 * yy + 200.0 * np.exp(-((xx - 20) ** 2 + (yy - 9) ** 2) / 18.0)
    img += rng.normal(0, 0.01, _SHAPE)  # tiny texture, far below cell contrast
    return img.astype(np.float64)


def _pixels_df(spark, imgs: dict[str, np.ndarray]):
    rows = []
    for name, img in imgs.items():
        for y in range(img.shape[0]):
            for x in range(img.shape[1]):
                rows.append((name, y, x, float(img[y, x])))
    return spark.createDataFrame(rows, "file STRING, y INT, x INT, intensity DOUBLE")


def _hashes(df):
    return {r["file"]: r["dhash"] for r in df.collect()}


def test_dhash_gain_and_offset_invariant(spark):
    base = _base_img()
    imgs = {
        "a_base": base,
        "b_gain": base * 3.7,          # monitor/gain rescale
        "c_offset": base + 1000.0,     # pedestal shift
        "d_other": _base_img(seed=99)[::-1, ::-1] * 0.5 + 7,  # different image
    }
    h = _hashes(dhash64(_pixels_df(spark, imgs), src_shape=_SHAPE))
    assert h["a_base"] == h["b_gain"] == h["c_offset"]
    assert h["d_other"] != h["a_base"]
    assert 0 <= h["a_base"] < 1 << (_DHASH_SIDE * _DHASH_SIDE)


def test_dhash_invariant_under_many_random_gains(spark):
    """Property (batched into ONE Spark job): for any positive gain g
    and any offset o, dhash(g·img + o) == dhash(img) — comparisons are
    preserved by strictly monotone maps."""
    rng = np.random.default_rng(5)
    base = _base_img()
    imgs = {"v0": base}
    for k in range(1, 9):
        g = float(rng.uniform(0.01, 50.0))
        o = float(rng.uniform(-1e4, 1e4))
        imgs[f"v{k}"] = base * g + o
    h = _hashes(dhash64(_pixels_df(spark, imgs), src_shape=_SHAPE))
    assert len(set(h.values())) == 1, h


def test_dhash_local_corruption_flips_few_bits(spark):
    base = _base_img()
    corrupted = base.copy()
    corrupted[0:4, 0:4] += 1e6  # one hot 4x4 patch ≈ one grid cell
    h = _hashes(dhash64(_pixels_df(spark, {"a": base, "b": corrupted}), src_shape=_SHAPE))
    ham = bin(h["a"] ^ h["b"]).count("1")
    assert 1 <= ham <= 4, ham  # a local defect flips only nearby bits


def test_image_neardup_groups_e2e(spark, tmp_path):
    """binary EDF blobs → decode_image → dHash → exact-hash groups:
    the duplicate pair lands in one group with the lexicographically
    smallest file elected keeper."""
    base = _base_img()
    blobs = {
        "img_a.edf": encode_edf(base),
        "img_b_dup.edf": encode_edf(base * 2.0),  # gain-doubled duplicate
        "img_c.edf": encode_edf(_base_img(seed=123).T),
    }
    for name, blob in blobs.items():
        (tmp_path / name).write_bytes(blob)
    from trx_spark.operators.multimodal import read_binary_assets

    assets = read_binary_assets(spark, str(tmp_path / "*.edf"), "image")
    pixels = decode_image(assets, shape=_SHAPE, codec="edf")
    groups = image_neardup_groups(pixels, src_shape=_SHAPE).collect()
    sizes = sorted(r["n_images"] for r in groups)
    assert sizes == [1, 2]
    dup_group = next(r for r in groups if r["n_images"] == 2)
    assert dup_group["keeper_file"].endswith("img_a.edf")
