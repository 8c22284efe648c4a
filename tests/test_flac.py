"""FLAC codec unit tests (operators/flaccodec.py).

The registry op `multimodal_flac_roundtrip` oracle-checks decoded sums
closed-form; these tests cover the codec-internal guarantees the SQL
oracle doesn't see: bit-exact roundtrips per subframe type, real
compression on predictable signals, CRC/MD5 corruption detection, frame
segmentation, and envelope rejections.
"""

from __future__ import annotations

import numpy as np
import pytest

from presto_db_spark.operators.flaccodec import (
    BLOCK,
    _crc8,
    _crc16,
    _read_utf8_number,
    _BitReader,
    _utf8_number,
    decode_flac,
    encode_flac,
)


def test_roundtrip_noise_exact():
    rng = np.random.RandomState(5)
    x = [int(v) for v in rng.randint(-32768, 32768, 3000)]
    chans, meta = decode_flac(encode_flac(x))
    assert chans[0] == x
    assert meta["total_samples"] == 3000 and meta["bps"] == 16


def test_roundtrip_multiframe_and_compression():
    t = np.arange(3 * BLOCK + 123)
    x = [int(v) for v in (1000 * np.sin(t / 50)).astype(int)]
    data = encode_flac(x)
    chans, meta = decode_flac(data)
    assert chans[0] == x
    assert meta["n_frames"] == 4  # 3 full blocks + 123-sample tail
    assert len(data) < 0.3 * (2 * len(x))  # fixed predictors really compress


def test_constant_subframe():
    x = [-12345] * (BLOCK + 10)
    data = encode_flac(x)
    chans, meta = decode_flac(data)
    assert chans[0] == x
    assert len(data) < 120  # CONSTANT subframes are O(1) per frame


def test_linear_ramp_order2_zero_residuals():
    x = list(range(-3000, 3000, 2))
    data = encode_flac(x)
    assert decode_flac(data)[0][0] == x
    assert len(data) < 0.2 * (2 * len(x))


def test_crc_and_md5_catch_corruption():
    rng = np.random.RandomState(9)
    x = [int(v) for v in rng.randint(-2000, 2000, 2000)]
    good = encode_flac(x)
    for flip_at in (50, len(good) // 2, len(good) - 3):
        bad = bytearray(good)
        bad[flip_at] ^= 0x10
        with pytest.raises((ValueError, IndexError)):
            decode_flac(bytes(bad))


def test_utf8_number_roundtrip():
    for n in (0, 1, 127, 128, 2047, 2048, 65535, 1 << 20, (1 << 31) - 1):
        enc = _utf8_number(n)
        assert _read_utf8_number(_BitReader(enc)) == n


def test_crc_vectors():
    # linearity/identity sanity: CRC of empty is 0 for both init-0 CRCs,
    # and single-byte CRC8 of 0x00 is 0
    assert _crc8(b"") == 0 and _crc16(b"") == 0
    assert _crc8(b"\x00") == 0
    # known CRC-16/BUYPASS check value for "123456789"
    assert _crc16(b"123456789") == 0xFEE8


def test_envelope_rejections():
    with pytest.raises(ValueError):
        encode_flac([])
    with pytest.raises(ValueError):
        encode_flac([40000])
    with pytest.raises(ValueError):
        decode_flac(b"RIFFnot-a-flac")


# --- r13 opt: vectorized kernels must be bit-identical to the scalar forms ---


def _crc8_scalar(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16_scalar(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = (
                ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 else (crc << 1) & 0xFFFF
            )
    return crc


def test_table_crcs_match_bit_loops():
    rng = np.random.RandomState(7)
    # sizes straddle the vectorized _crc16 thresholds (64, 1024) and the
    # chunk-boundary padding cases around them
    for n in (0, 1, 2, 33, 500, 63, 64, 65, 1023, 1024, 1025, 5000):
        data = bytes(rng.randint(0, 256, n, dtype=np.uint8))
        assert _crc8(data) == _crc8_scalar(data)
        assert _crc16(data) == _crc16_scalar(data)


def test_vector_residual_matches_scalar():
    from presto_db_spark.operators.flaccodec import (
        _fixed_residual,
        _fixed_residual_np,
    )

    rng = np.random.RandomState(11)
    x = [int(v) for v in rng.randint(-32768, 32768, 300)]
    for order in range(5):
        assert _fixed_residual_np(np.asarray(x, dtype=np.int64), order).tolist() == (
            _fixed_residual(x, order)
        )


def test_roundtrip_cubic_forces_order3():
    # cubic trend: order-3 fixed predictor wins; the r13 vectorized inverse
    # predictor seeded each cumsum level with the LAST warmup difference,
    # which only coincides with the correct FIRST for orders <= 2 — this
    # signal reproduces the order-3/4 decode bug (ADVICE r13)
    from presto_db_spark.operators.flaccodec import _fixed_residual

    x = [i**3 // 3 for i in range(46)]  # exact cubic, fits 16-bit
    assert max(abs(v) for v in x) < 32768
    # confirm the encoder really picks order >= 3 on this block
    costs = {k: sum(abs(r) for r in _fixed_residual(x, k)) for k in range(5)}
    assert min(costs, key=costs.get) >= 3
    chans, _ = decode_flac(encode_flac(x))
    assert chans[0] == x


def test_inverse_fixed_matches_scalar_convolution():
    # direct parity: numpy cumsum-integration inverse vs. reconstructing
    # through the scalar _FIXED_COEFS prediction loop, every order 0-4
    from presto_db_spark.operators.flaccodec import (
        _FIXED_COEFS,
        _fixed_residual,
        _inverse_fixed_np,
    )

    rng = np.random.RandomState(17)
    x = [int(v) for v in rng.randint(-32768, 32768, 257)]
    for order in range(5):
        warm, res = x[:order], _fixed_residual(x, order)
        assert _inverse_fixed_np(warm, res, order) == x
        # and the scalar re-prediction agrees sample by sample
        co = _FIXED_COEFS[order]
        rebuilt = list(warm)
        for r in res:
            pred = sum(c * rebuilt[-j - 1] for j, c in enumerate(co))
            rebuilt.append(r + pred)
        assert rebuilt == x


def test_rice_reader_matches_scalar_loop():
    # decoder twin of the writer parity test (r14 opt): the vectorized
    # _rice_read_np must return the same residuals and leave br.pos at
    # the same bit as the scalar read_unary/read loop, at unaligned
    # offsets, across params (incl. >14, the 5-bit-parameter branch),
    # counts straddling the 64-residual lifting blocks, and with a huge
    # outlier quotient that forces the window-underrun retry path
    from presto_db_spark.operators.flaccodec import (
        _BitReader,
        _BitWriter,
        _rice_read_np,
        _unzigzag,
        _zigzag,
    )

    rng = np.random.RandomState(29)
    for param in (0, 1, 5, 11, 14, 20):
        for cnt in (1, 3, 64, 65, 257):
            for lead_bits in (0, 5):
                res = [int(v) for v in rng.randint(-4000, 4000, cnt)]
                res[cnt // 2] = 123457  # forces a long unary run
                bw = _BitWriter()
                if lead_bits:
                    bw.write(0b10110, lead_bits)
                for r in res:
                    u = _zigzag(r)
                    bw.write_unary(u >> param)
                    bw.write(u, param)
                bw.align()
                buf = bytes(bw.out)
                fast = _BitReader(buf, lead_bits)
                got = _rice_read_np(fast, cnt, param)
                slow = _BitReader(buf, lead_bits)
                want = []
                for _ in range(cnt):
                    q = slow.read_unary()
                    u = (q << param) | (slow.read(param) if param else 0)
                    want.append(_unzigzag(u))
                assert got.tolist() == want, (param, cnt, lead_bits)
                assert fast.pos == slow.pos, (param, cnt, lead_bits)


def test_rice_writer_matches_scalar_loop():
    from presto_db_spark.operators.flaccodec import (
        _BitWriter,
        _rice_bits_np,
        _zigzag,
    )

    rng = np.random.RandomState(13)
    res = [int(v) for v in rng.randint(-4000, 4000, 700)]
    for param in (0, 1, 5, 11, 14):
        for lead_bits in range(8):  # every unaligned start position too
            a, b = _BitWriter(), _BitWriter()
            a.write(0b1011001, lead_bits)
            b.write(0b1011001, lead_bits)
            for r in res:
                u = _zigzag(r)
                a.write_unary(u >> param)
                a.write(u, param)
            _rice_bits_np(res, param, b)
            assert (a._acc, a._n) == (b._acc, b._n), (param, lead_bits)
            a.align()
            b.align()
            assert bytes(a.out) == bytes(b.out), (param, lead_bits)
