from __future__ import annotations

import pytest

from presto_db_spark.operators import multimodal as mm

from .oracle_utils import check_query


@pytest.mark.parametrize("name", sorted(mm.QUERIES))
def test_multimodal_vs_duckdb(spark, sf_dir, name):
    problems = check_query(spark, name, mm.QUERIES[name], mm.ORACLE.get(name), sf_dir)
    assert not problems, f"{name}: {problems}"


@pytest.mark.parametrize("name", ["multimodal_flac_roundtrip", "multimodal_patchify"])
def test_sort_width_legs(spark, sf_dir, name):
    """The ORDER BY's range sampler runs only when the sort has two or
    more partitions, so each entry is checked at one sort partition and at
    three: both widths are oracle-equal and give the same ordered rows."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    ordered = {}
    try:
        for width in (1, 3):
            spark.conf.set(key, str(width))
            problems = check_query(spark, name, mm.QUERIES[name], mm.ORACLE[name], sf_dir)
            assert not problems, f"{name} at width {width}: {problems}"
            ordered[width] = mm.QUERIES[name](spark, sf_dir).collect()
    finally:
        spark.conf.set(key, prev)
    assert ordered[1] == ordered[3], name


def test_decode_image_dispatch():
    """r12: the codec gate is retired — decode_image really decodes JPEG
    via the in-repo baseline codec, and rejects unknown magic with
    ValueError (not NotImplementedError: there is no gated format
    left)."""
    import numpy as np

    from presto_db_spark.operators.jpegcodec import encode_baseline

    img = np.full((8, 8), 99, dtype=np.uint8)
    planes, meta = mm.decode_image(encode_baseline([img], quality=100))
    assert np.array_equal(planes[0], img)
    assert meta["n_components"] == 1
    with pytest.raises(ValueError):
        mm.decode_image(b"\x00\x01junk")
    # truncated JPEG: the real decoder fails parsing, never returns junk
    with pytest.raises(Exception):
        mm.decode_image(b"\xff\xd8\xff")


def test_png_unfilter_all_five_types():
    """The in-repo encoder emits filters 0/1/2 only, so Average(3) and
    Paeth(4) need direct coverage: filter a known scanline with each
    type per PNG spec §6 (encoder side written HERE, independently),
    then require _png_unfilter to invert it exactly."""
    import numpy as np

    rng = np.random.default_rng(7)
    prev = rng.integers(0, 256, 30, dtype=np.uint8)
    row = rng.integers(0, 256, 30, dtype=np.uint8)
    bpp = 3

    def flt(row, prev, ft):
        out = np.zeros_like(row)
        for i in range(len(row)):
            a = int(row[i - bpp]) if i >= bpp else 0
            b = int(prev[i])
            c = int(prev[i - bpp]) if i >= bpp else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = b
            elif ft == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            out[i] = (int(row[i]) - pred) & 0xFF
        return out

    for ft in range(5):
        got = mm._png_unfilter(flt(row, prev, ft), ft, prev, bpp)
        assert (got == row).all(), f"filter type {ft} does not invert"
    with pytest.raises(ValueError):
        mm._png_unfilter(row, 5, prev, bpp)


def test_png_decoder_rejects_corrupt_crc(spark, sf_dir):
    """Flipping one payload byte inside a chunk must surface as a CRC
    error from the parser — proving the CRC verify actually runs."""
    import pandas as pd

    pdf = pd.DataFrame({"doc_id": [5]})
    (media,) = list(mm._png_encode_batches(iter([pdf])))
    buf = bytearray(media["payload"][0])
    buf[40] ^= 0xFF  # inside IHDR/IDAT territory, past the signature
    bad = pd.DataFrame({"doc_id": [5], "payload": [bytes(buf)]})
    with pytest.raises(ValueError, match="CRC|PNG"):
        list(mm._png_decode_batches(iter([bad])))


def test_frame_sample_shape(spark, sf_dir):
    df = mm.QUERIES["multimodal_frame_sample"](spark, sf_dir)
    rows = df.limit(10).collect()
    assert rows and all(r.offset % 64 == 0 for r in rows)


def test_phash_orientation_sensitivity(spark, sf_dir):
    """The aHash must read rows in IMAGE order: recomputing it without
    the bottom-up flip must disagree for at least one doc (i.e. the flip
    is load-bearing, not decorative), and n_above must equal the hash's
    popcount."""
    import numpy as np

    from presto_db_spark.operators import multimodal as mm

    rows = mm.QUERIES["multimodal_phash"](spark, sf_dir).collect()
    assert rows
    diff = 0
    for r in rows:
        assert r.n_above == bin(r.ahash).count("1")
        assert 0 <= r.ahash < (1 << 16)
        d, w, h = r.doc_id, r.width, r.height
        ys = np.arange(h)[:, None]  # NO flip: formula-y == stored row
        xs = np.arange(w)[None, :]
        rr = (d * 3 + xs * 7 + ys * 11) % 256
        gg = (d * 5 + xs * 13 + ys * 3) % 256
        bb = (d * 7 + xs + ys * 17) % 256
        luma = 299 * rr + 587 * gg + 114 * bb
        # unflipped hash: stored row 0 is formula y = h-1 → flipud
        luma_stored = luma[::-1]
        total = int(luma_stored.sum())
        noflip = 0
        for i in range(4):
            for j in range(4):
                s = int(luma_stored[i * h // 4:(i + 1) * h // 4,
                                    j * w // 4:(j + 1) * w // 4].sum())
                area = ((i + 1) * h // 4 - i * h // 4) * ((j + 1) * w // 4 - j * w // 4)
                if s * w * h > total * area:
                    noflip |= 1 << (i * 4 + j)
        diff += noflip != r.ahash
    assert diff > 0, "flip is never observable — hash not orientation-sensitive"


def test_audio_fingerprint_window_boundaries(spark, sf_dir):
    """The fingerprint must come from the REAL parsed PCM: recompute the
    energy-delta bits locally from the synthesis formula and integer
    window boundaries; n_rising is the popcount; a deliberate off-by-one
    boundary (ceil instead of floor split) must disagree somewhere."""
    from presto_db_spark.operators import multimodal as mm

    rows = mm.QUERIES["multimodal_audio_fingerprint"](spark, sf_dir).collect()
    assert rows
    wrong_boundary_diff = 0
    for r in rows:
        d, n = r.doc_id, r.n_frames
        assert n == 400 + (d % 5) * 80
        amp = [abs(((d * 31 + i * i * 7) % 2001) - 1000) for i in range(n)]
        W = mm._AFP_WINDOWS

        def fp(bounds):
            w = [sum(amp[bounds[k]:bounds[k + 1]]) for k in range(W)]
            return sum(1 << k for k in range(W - 1) if w[k + 1] > w[k])

        good = fp([k * n // W for k in range(W)] + [n])
        # one-sample boundary shift as the negative control (the fixture's
        # n are all multiples of 8, so a ceil-vs-floor split is identical)
        bad = fp([0] + [k * n // W + 1 for k in range(1, W)] + [n])
        assert r.afp == good
        assert r.n_rising == bin(good).count("1")
        wrong_boundary_diff += bad != good
    assert wrong_boundary_diff > 0, "boundary rule never observable"
