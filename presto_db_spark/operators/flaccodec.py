"""Real FLAC codec — no audio libs, fixed predictors (stdlib + numpy:
r13 opt vectorized the hot loops — table CRCs, k-th-difference
residuals, packbits Rice writer, cumsum reconstruction — all
byte-identical to the scalar forms they replaced).

r12: retires the LAST member of the multimodal codec gate (JPEG fell
earlier in r12 via operators/jpegcodec.py; BMP/WAV/PPM/PNG/GIF were
already real). This is a from-scratch implementation of the FLAC
bitstream (the xiph.org format spec — public): the encoder writes a
spec-layout stream (fLaC magic, STREAMINFO with the unencoded-audio MD5,
framed audio with CRC-8 header / CRC-16 frame checksums) and the decoder
is a real bit-level parser that verifies both CRCs and the MD5, not an
inverse of the encoder object.

Envelope (declared, ValueError outside it):
* encode: mono, 16-bit, FIXED predictors order 0–4 (chosen per frame by
  minimum summed residual magnitude), Rice partition order 0, 4096-sample
  frames, variable-blocksize strategy (sample-number-coded headers).
* decode: mono or stereo (independent channels), 8/16/24-bit, CONSTANT /
  VERBATIM / FIXED subframes, any Rice partition order, both 4-bit and
  5-bit Rice parameter widths, Rice escape code (unencoded residuals),
  wasted bits. LPC subframes raise (the encoder never emits them; a
  production build plugs libFLAC).

FLAC is LOSSLESS: decode(encode(x)) == x for EVERY integer signal, so
the oracle-checked roundtrip operator needs no exactness trick — the
DuckDB oracle predicts decoded sample sums closed-form from the
synthesis formula, and the STREAMINFO MD5 re-verification pins every
single sample, not just the sums.
"""

from __future__ import annotations

import hashlib
import struct

# --- CRCs per the FLAC spec ---------------------------------------------------


def _make_crc8_table() -> list[int]:
    t = []
    for b in range(256):
        crc = b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
        t.append(crc)
    return t


def _make_crc16_table() -> list[int]:
    t = []
    for b in range(256):
        crc = b << 8
        for _ in range(8):
            crc = (
                ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 else (crc << 1) & 0xFFFF
            )
        t.append(crc)
    return t


_CRC8_TABLE = _make_crc8_table()
_CRC16_TABLE = _make_crc16_table()


def _crc8(data: bytes) -> int:
    """CRC-8, polynomial x^8 + x^2 + x + 1 (0x07), init 0 (table-driven —
    r13 opt: one lookup per byte instead of the 8-step bit loop; the
    table is the standard byte-at-a-time construction of the same
    polynomial, so values are bit-identical)."""
    crc = 0
    t = _CRC8_TABLE
    for b in data:
        crc = t[crc ^ b]
    return crc


def _crc16_scalar(data: bytes) -> int:
    """CRC-16, polynomial x^16 + x^15 + x^2 + 1 (0x8005), init 0
    (table-driven, same construction as _crc8). Kept as the parity
    reference for the vectorized form below."""
    crc = 0
    t = _CRC16_TABLE
    for b in data:
        crc = ((crc << 8) & 0xFFFF) ^ t[(crc >> 8) ^ b]
    return crc


# Binary-lifted zero-byte advance tables for the vectorized CRC-16:
# _CRC16_ADV[j][s] = the CRC state after feeding 2**j zero bytes into
# state s. Built lazily (level j+1 = level j composed with itself).
_CRC16_ADV: list = []
_CRC16_NP: list = []  # lazily-built numpy copy of _CRC16_TABLE


def _crc16(data: bytes) -> int:
    """CRC-16 of ``data`` (same polynomial/init as _crc16_scalar),
    vectorized (r14 opt — the per-byte loop was ~30% of decode_flac).

    A CRC with zero init and no xor-out is GF(2)-linear in the message,
    so crc(data) is the XOR over bytes of crc(byte_i padded by n-1-i
    zero bytes). Each byte's base contribution is one table lookup and
    the zero-byte padding is applied per element by binary lifting over
    the precomputed advance tables — bit-identical to the scalar loop
    (pinned by test_table_crcs_match_bit_loops)."""
    n = len(data)
    if n < 64:
        return _crc16_scalar(data)
    import numpy as np

    if not _CRC16_NP:
        _CRC16_NP.append(np.asarray(_CRC16_TABLE, dtype=np.int32))
    t16 = _CRC16_NP[0]
    if not _CRC16_ADV:
        s = np.arange(65536, dtype=np.int32)
        _CRC16_ADV.append((((s << 8) & 0xFFFF) ^ t16[s >> 8]))
    # front-pad with zero bytes to C*L (T[0] == 0, so leading zeros keep
    # state 0 — the CRC is unchanged), split into C equal chunks, run the
    # byte-at-a-time recurrence across all chunks at once (L steps of
    # C-wide vector ops), then XOR-combine each chunk's CRC advanced by
    # its trailing zero-byte count via the binary-lifted tables
    chunks = 256 if n >= 1024 else 32
    length = -(-n // chunks)
    arr = np.zeros(chunks * length, dtype=np.uint8)
    arr[chunks * length - n :] = np.frombuffer(data, dtype=np.uint8)
    cols = arr.reshape(chunks, length).T.copy()
    state = np.zeros(chunks, dtype=np.int32)
    for j in range(length):
        state = ((state << 8) & 0xFFFF) ^ t16[(state >> 8) ^ cols[j]]
    k = np.arange(chunks - 1, -1, -1, dtype=np.int64) * length
    while (1 << len(_CRC16_ADV)) <= int(k[0]):
        prev = _CRC16_ADV[-1]
        _CRC16_ADV.append(prev[prev])
    for j in range(int(k[0]).bit_length()):
        sel = ((k >> j) & 1) == 1
        state[sel] = _CRC16_ADV[j][state[sel]]
    return int(np.bitwise_xor.reduce(state))


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, value: int, nbits: int) -> None:
        self._acc = (self._acc << nbits) | (value & ((1 << nbits) - 1))
        self._n += nbits
        while self._n >= 8:
            self._n -= 8
            self.out.append((self._acc >> self._n) & 0xFF)
        self._acc &= (1 << self._n) - 1

    def write_unary(self, q: int) -> None:
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)  # q zeros then a one

    def align(self) -> None:
        if self._n:
            self.write(0, 8 - self._n)


class _BitReader:
    def __init__(self, buf: bytes, pos: int = 0) -> None:
        self.buf = buf
        self.pos = pos  # bit position

    def read(self, nbits: int) -> int:
        if nbits == 0:
            return 0
        end = self.pos + nbits
        first, last = self.pos >> 3, (end + 7) >> 3
        chunk = int.from_bytes(self.buf[first:last], "big")
        v = (chunk >> (last * 8 - end)) & ((1 << nbits) - 1)
        self.pos = end
        return v

    def read_unary(self) -> int:
        q = 0
        while True:
            window = self.buf[self.pos >> 3] & ((1 << (8 - (self.pos & 7))) - 1)
            if window == 0:
                q += 8 - (self.pos & 7)
                self.pos = (self.pos & ~7) + 8
                continue
            zeros = (8 - (self.pos & 7)) - window.bit_length()
            self.pos += zeros + 1
            return q + zeros

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7


def _utf8_number(n: int) -> bytes:
    """FLAC's UTF-8-style coded number (frame/sample number field)."""
    if n < 0x80:
        return bytes([n])
    out = []
    nbytes = 2
    while n >= (1 << (1 + 5 * nbytes)) and nbytes < 7:
        nbytes += 1
    lead = (0xFF << (8 - nbytes)) & 0xFF
    shift = 6 * (nbytes - 1)
    out.append(lead | (n >> shift))
    for i in range(nbytes - 1):
        shift -= 6
        out.append(0x80 | ((n >> shift) & 0x3F))
    return bytes(out)


def _read_utf8_number(br: _BitReader) -> int:
    first = br.read(8)
    if first < 0x80:
        return first
    nbytes = 0
    mask = 0x80
    while first & mask:
        nbytes += 1
        mask >>= 1
    n = first & (mask - 1)
    for _ in range(nbytes - 1):
        cont = br.read(8)
        if cont & 0xC0 != 0x80:
            raise ValueError("bad UTF-8 continuation in frame header")
        n = (n << 6) | (cont & 0x3F)
    return n


# fixed-predictor residual: residual[i] = x[i] - prediction of order k
_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


def _fixed_residual(x: list[int], order: int) -> list[int]:
    co = _FIXED_COEFS[order]
    return [
        x[i] - sum(c * x[i - j - 1] for j, c in enumerate(co))
        for i in range(order, len(x))
    ]


def _fixed_residual_np(x, order: int):
    """Vectorized twin of _fixed_residual: the FLAC fixed predictor of
    order k is exactly the k-th finite difference, so np.diff(x, k) in
    int64 reproduces the scalar loop bit-for-bit (r13 opt — the
    per-sample Python sum was ~half of encode; the scalar form stays as
    the parity reference for tests)."""
    import numpy as np

    return np.diff(x, order) if order else np.asarray(x, dtype=np.int64)


def _inverse_fixed_np(warm: list[int], res: list[int], order: int) -> list[int]:
    """Inverse fixed predictor: ``order`` rounds of prefix-sum integration
    seeded by the warmup's finite differences — bit-identical to the
    per-sample _FIXED_COEFS convolution (r13 opt), all in exact int64.
    Returns the full block (warmup + reconstructed samples)."""
    import numpy as np

    return _inverse_fixed_arr(warm, res, order).tolist()


def _inverse_fixed_arr(warm, res, order: int):
    """Array-returning core of _inverse_fixed_np (the decoder hot path
    keeps blocks as int64 arrays end to end; the list wrapper above is
    the public/test surface)."""
    import numpy as np

    if not order:
        return np.concatenate(
            [np.asarray(warm, dtype=np.int64), np.asarray(res, dtype=np.int64)]
        )
    cur = np.asarray(res, dtype=np.int64)
    wa = np.asarray(warm, dtype=np.int64)
    for j in range(order, 0, -1):
        # seed = Δ^(j-1) x at position j-1, i.e. the FIRST (j-1)-th warmup
        # difference; [-1] only coincides for orders <= 2 where the diff
        # array has one element
        seed = np.diff(wa, j - 1)[0] if j - 1 else wa[0]
        cur = np.cumsum(np.concatenate([[seed], cur]))
    return cur


def _rice_bits_np(res, param: int, bw: "_BitWriter") -> None:
    """Append the Rice(param) coding of ``res`` (zigzag + unary quotient +
    param-bit remainder, the spec layout) to ``bw`` as one vectorized
    bit-array + np.packbits pass — byte-identical to the per-residual
    write_unary/write loop it replaces (r13 opt). The writer's pending
    bits (fewer than 8) go in front of the array, so the whole packed
    bytes append to ``bw.out`` in bulk at any starting bit offset and the
    leftover bits become the new pending ones."""
    import numpy as np

    r = np.asarray(res, dtype=np.int64)
    u = np.where(r >= 0, r << 1, ((-r) << 1) - 1)
    q = u >> param
    lens = q + 1 + param
    lead = bw._n
    ends = np.cumsum(lens) + lead
    total = int(ends[-1])
    starts = ends - lens
    bits = np.zeros(total, dtype=np.uint8)
    if lead:
        bits[:lead] = (bw._acc >> np.arange(lead - 1, -1, -1)) & 1
    bits[starts + q] = 1  # unary terminator after q zeros
    if param:
        shifts = np.arange(param - 1, -1, -1, dtype=np.int64)
        binpos = (starts + q + 1)[:, None] + np.arange(param)[None, :]
        bits[binpos.ravel()] = ((u[:, None] >> shifts[None, :]) & 1).astype(
            np.uint8
        ).ravel()
    packed = np.packbits(bits)  # zero-padded to a byte boundary
    whole, tail_bits = divmod(total, 8)
    bw.out += packed[:whole].tobytes()
    bw._acc = int(packed[whole]) >> (8 - tail_bits) if tail_bits else 0
    bw._n = tail_bits


def _rice_read_np(br: "_BitReader", cnt: int, param: int):
    """Vectorized Rice(param) partition read — the decoder twin of
    _rice_bits_np (r14 opt; the per-residual read_unary/read loop was
    ~90% of decode on cProfile). Returns an int64 array of ``cnt``
    residuals and advances ``br.pos`` exactly as the scalar loop would.

    Method: unpack a window of the stream to bits, take the positions of
    the set bits; residual i's unary terminator t_i is the first one-bit
    at/after s_i, with s_0 = 0 and s_{i+1} = t_i + 1 + param — a jump
    through the ones array, nxt[j] = searchsorted(ones, ones[j]+1+param).
    The orbit j_{i+1} = nxt[j_i] is resolved for all i at once by binary
    lifting (powers of nxt commute), then quotients are t_i - s_i and the
    param-bit remainders are one gather + dot. The window starts at the
    expected size for the parameter and doubles on underrun (arbitrarily
    large foreign quotients stay correct, just slower); a window that
    reaches end-of-stream without cnt terminators falls back to the
    scalar loop so truncated streams raise exactly as before."""
    import numpy as np

    if cnt <= 0:
        return np.zeros(0, dtype=np.int64)
    start = br.pos
    total_bits = len(br.buf) * 8 - start
    # expected bits/residual = param + 1 + E[q], and E[q] lands in [1, 2)
    # when param = bit_length(mean |res|) as this encoder picks it — so
    # param + 4 covers the expectation with slack; underrun just retries
    need = cnt * (param + 4) + 64
    while True:
        w = min(need, total_bits)
        first = start >> 3
        last = min((start + w + 7) >> 3, len(br.buf))
        bits = np.unpackbits(
            np.frombuffer(br.buf, dtype=np.uint8, count=last - first, offset=first)
        )
        off = start & 7
        bits = bits[off : off + w]
        ones = np.flatnonzero(bits)
        n1 = len(ones)
        if n1:
            # rank[p] = number of one-bits at positions < p, so the first
            # one at/after position p is ones[rank[p]] — an O(w) cumsum
            # instead of an O(n log n) searchsorted
            rank = np.zeros(len(bits) + 1, dtype=np.int32)
            np.cumsum(bits, out=rank[1:])
            tgt = np.minimum(ones + (1 + param), len(bits))
            # one extra slot as the overflow sentinel (n1 -> n1)
            hop = np.empty(n1 + 1, dtype=np.int64)
            hop[:n1] = rank[tgt]
            hop[n1] = n1
            # two-tier binary lifting: doubling costs one full-domain
            # gather per level, so cap the doubled levels at f^32 and
            # stride across 64-residual blocks with a cheap scalar chain
            # (f^64 = two f^32 hops) — same orbit, ~half the gathers
            levels = [hop]
            top = min((cnt - 1).bit_length(), 6)
            for _ in range(top - 1):
                levels.append(levels[-1][levels[-1]])
            if cnt <= 64:
                idx = np.zeros(cnt, dtype=np.int64)
                i_arr = np.arange(cnt, dtype=np.int64)
            else:
                l5 = levels[-1]
                coarse = [0]
                c = 0
                for _ in range((cnt - 1) >> 6):
                    c = int(l5[l5[c]])
                    coarse.append(c)
                idx = np.repeat(
                    np.asarray(coarse, dtype=np.int64), 64
                )[:cnt]
                i_arr = np.arange(cnt, dtype=np.int64) & 63
            for k in range(top):
                sel = ((i_arr >> k) & 1) == 1
                idx[sel] = levels[k][idx[sel]]
            if idx[-1] < n1:
                t = ones[idx]
                end = int(t[-1]) + 1 + param
                if end <= w:
                    s = np.empty(cnt, dtype=np.int64)
                    s[0] = 0
                    s[1:] = t[:-1] + 1 + param
                    q = t - s
                    if 0 < param <= 14:
                        # remainders straight from the byte buffer: a
                        # 24-bit window starting at each remainder's byte
                        # covers param <= 14 bits at any alignment (bytes
                        # clamped at the window edge only carry bits the
                        # shift discards)
                        a = np.frombuffer(
                            br.buf, dtype=np.uint8, count=last - first,
                            offset=first,
                        ).astype(np.int64)
                        p0 = t + 1 + off  # bit offset within [first, last)
                        byte0 = p0 >> 3
                        word = (
                            (a[byte0] << 16)
                            | (a[np.minimum(byte0 + 1, len(a) - 1)] << 8)
                            | a[np.minimum(byte0 + 2, len(a) - 1)]
                        )
                        shift = 24 - (p0 & 7) - param
                        rem = (word >> shift) & ((1 << param) - 1)
                        u = (q << param) | rem
                    elif param:
                        # 5-bit Rice parameters reach 30 — gather the
                        # remainder bits individually (foreign-only path;
                        # this encoder never writes params above 14)
                        pos = (t + 1)[:, None] + np.arange(param)[None, :]
                        weights = 1 << np.arange(
                            param - 1, -1, -1, dtype=np.int64
                        )
                        rem = bits[pos.ravel()].reshape(cnt, param).astype(
                            np.int64
                        ) @ weights
                        u = (q << param) | rem
                    else:
                        u = q
                    br.pos = start + end
                    return np.where(u & 1, -((u + 1) >> 1), u >> 1)
        if w >= total_bits:
            # not enough stream for cnt residuals in this window: defer to
            # the scalar loop so error behavior is byte-for-byte identical
            res = []
            for _ in range(cnt):
                qq = br.read_unary()
                uu = (qq << param) | (br.read(param) if param else 0)
                res.append(_unzigzag(uu))
            return np.asarray(res, dtype=np.int64)
        need *= 4


def _zigzag(r: int) -> int:
    return (r << 1) if r >= 0 else ((-r) << 1) - 1


def _unzigzag(u: int) -> int:
    return (u >> 1) if (u & 1) == 0 else -((u + 1) >> 1)


BLOCK = 4096


def encode_flac(samples: list[int], sample_rate: int = 16000) -> bytes:
    """Encode a mono 16-bit signal to a real FLAC stream (see envelope)."""
    import numpy as np

    if not len(samples):
        raise ValueError("empty signal")
    sig = np.asarray(samples, dtype=np.int64)
    if sig.min() < -32768 or sig.max() > 32767:
        raise ValueError("16-bit samples required")
    n = len(samples)
    pcm = sig.astype("<i2").tobytes()  # same LE int16 bytes as struct "<h"
    md5 = hashlib.md5(pcm).digest()
    # STREAMINFO
    si = _BitWriter()
    si.write(BLOCK, 16)  # min block size
    si.write(BLOCK, 16)  # max block size
    si.write(0, 24)  # min frame size (0 = unknown)
    si.write(0, 24)  # max frame size
    si.write(sample_rate, 20)
    si.write(0, 3)  # channels - 1
    si.write(15, 5)  # bits per sample - 1
    si.write(n, 36)
    out = bytearray(b"fLaC")
    out += bytes([0x80, 0, 0, 34])  # last-metadata-block, type 0, len 34
    out += si.out + md5

    for f0 in range(0, n, BLOCK):
        blk = sig[f0 : f0 + BLOCK]
        bs = len(blk)
        hdr = _BitWriter()
        hdr.write(0b11111111111110, 14)
        hdr.write(0, 1)  # reserved
        hdr.write(1, 1)  # variable blocksize strategy (sample number coded)
        hdr.write(0b0111, 4)  # blocksize: 16-bit field at header end
        hdr.write(0b0000, 4)  # sample rate: from STREAMINFO
        hdr.write(0, 4)  # channel assignment: mono
        hdr.write(0b100, 3)  # 16 bits per sample
        hdr.write(0, 1)  # reserved
        head = bytes(hdr.out) + _utf8_number(f0)
        head += struct.pack(">H", bs - 1)
        head += bytes([_crc8(head)])

        bw = _BitWriter()
        for b in head:
            bw.write(b, 8)
        # pick the fixed order with minimum summed |residual| (numpy k-th
        # differences — bit-identical to the scalar _fixed_residual loop)
        best_order, best_res, best_cost = 0, blk, None
        for order in range(0, 5):
            if bs <= order:
                continue
            res = _fixed_residual_np(blk, order)
            cost = int(np.abs(res).sum())
            if best_cost is None or cost < best_cost:
                best_order, best_res, best_cost = order, res, cost
        if bs > 0 and int(blk.min()) == int(blk.max()):
            # CONSTANT subframe
            bw.write(0, 1)
            bw.write(0b000000, 6)
            bw.write(0, 1)
            bw.write(int(blk[0]) & 0xFFFF, 16)
        else:
            bw.write(0, 1)
            bw.write(0b001000 | best_order, 6)  # FIXED, order
            bw.write(0, 1)  # no wasted bits
            for w in blk[:best_order]:
                bw.write(int(w) & 0xFFFF, 16)
            # Rice method 0 (4-bit params), partition order 0
            res = best_res
            mean = (best_cost // max(len(res), 1)) or 1
            param = min(max(mean.bit_length(), 0), 14)
            bw.write(0, 2)  # coding method 0
            bw.write(0, 4)  # partition order 0
            bw.write(param, 4)
            _rice_bits_np(res, param, bw)
        bw.align()
        body = bytes(bw.out)
        out += body + struct.pack(">H", _crc16(body))
    return bytes(out)


def decode_flac(data: bytes) -> tuple[list[list[int]], dict]:
    """Decode a FLAC stream within the envelope. Returns (channels, meta);
    verifies CRC-8/CRC-16 per frame and the STREAMINFO MD5 at the end."""
    if data[:4] != b"fLaC":
        raise ValueError("not a FLAC stream")
    pos = 4
    streaminfo = None
    while True:
        hdr = data[pos]
        last, btype = hdr >> 7, hdr & 0x7F
        (ln,) = struct.unpack(">I", b"\x00" + data[pos + 1 : pos + 4])
        body = data[pos + 4 : pos + 4 + ln]
        if btype == 0:
            br = _BitReader(body)
            streaminfo = {
                "min_block": br.read(16),
                "max_block": br.read(16),
                "min_frame": br.read(24),
                "max_frame": br.read(24),
                "sample_rate": br.read(20),
                "channels": br.read(3) + 1,
                "bps": br.read(5) + 1,
                "total_samples": br.read(36),
                "md5": body[18:34],
            }
        pos += 4 + ln
        if last:
            break
    if streaminfo is None:
        raise ValueError("missing STREAMINFO")
    nch = streaminfo["channels"]
    if nch > 2:
        raise ValueError("only mono/stereo in decode envelope")
    bps = streaminfo["bps"]
    if bps not in (8, 16, 24):
        raise ValueError("bits-per-sample outside envelope")
    import numpy as np

    # blocks accumulate as int64 arrays, one list-conversion at the end
    # (r14 opt — the per-block tolist/extend/asarray churn was ~10% of
    # decode); the returned channels are plain Python int lists as before
    chan_blocks: list[list] = [[] for _ in range(nch)]
    n_frames = 0
    while pos < len(data):
        frame_start = pos
        br = _BitReader(data, pos * 8)
        sync = br.read(14)
        if sync != 0b11111111111110:
            raise ValueError(f"lost frame sync at byte {pos}")
        br.read(1)  # reserved
        br.read(1)  # blocking strategy
        bs_code = br.read(4)
        sr_code = br.read(4)
        ch_code = br.read(4)
        ss_code = br.read(3)
        br.read(1)
        _read_utf8_number(br)
        if bs_code == 0b0110:
            bs = br.read(8) + 1
        elif bs_code == 0b0111:
            bs = br.read(16) + 1
        elif bs_code == 0b0001:
            bs = 192
        elif 0b0010 <= bs_code <= 0b0101:
            bs = 576 << (bs_code - 2)
        elif bs_code >= 0b1000:
            bs = 256 << (bs_code - 8)
        else:
            raise ValueError("reserved blocksize code")
        if sr_code in (0b1100,):
            br.read(8)
        elif sr_code in (0b1101, 0b1110):
            br.read(16)
        if ch_code >= 8:
            raise ValueError("stereo decorrelation outside envelope")
        if ch_code + 1 != nch:
            raise ValueError("frame channel count != STREAMINFO")
        hdr_end = (br.pos + 7) // 8
        crc8 = br.read(8)
        if _crc8(data[frame_start : hdr_end]) != crc8:
            raise ValueError("frame header CRC-8 mismatch")
        for ch in range(nch):
            br.read(1)  # zero pad
            sft = br.read(6)
            wasted = 0
            if br.read(1):
                wasted = 1 + br.read_unary()
            eff = bps - wasted
            if sft == 0:  # CONSTANT
                v = br.read(eff)
                if v >= 1 << (eff - 1):
                    v -= 1 << eff
                blkvals = np.full(bs, v << wasted, dtype=np.int64)
            elif sft == 1:  # VERBATIM
                verb = []
                for _ in range(bs):
                    v = br.read(eff)
                    if v >= 1 << (eff - 1):
                        v -= 1 << eff
                    verb.append(v << wasted)
                blkvals = np.asarray(verb, dtype=np.int64)
            elif 8 <= sft <= 12:  # FIXED order 0-4
                order = sft - 8
                warm = []
                for _ in range(order):
                    v = br.read(eff)
                    if v >= 1 << (eff - 1):
                        v -= 1 << eff
                    warm.append(v)
                method = br.read(2)
                if method not in (0, 1):
                    raise ValueError("reserved residual coding method")
                pbits = 4 if method == 0 else 5
                escape = (1 << pbits) - 1
                porder = br.read(4)
                nparts = 1 << porder
                parts: list = []
                for p in range(nparts):
                    cnt = (bs >> porder) - (order if p == 0 else 0)
                    param = br.read(pbits)
                    if param == escape:
                        raw_bits = br.read(5)
                        esc: list[int] = []
                        for _ in range(cnt):
                            v = br.read(raw_bits) if raw_bits else 0
                            if raw_bits and v >= 1 << (raw_bits - 1):
                                v -= 1 << raw_bits
                            esc.append(v)
                        parts.append(esc)
                    else:
                        parts.append(_rice_read_np(br, cnt, param))
                res = np.concatenate(
                    [np.asarray(p_, dtype=np.int64) for p_ in parts]
                )
                vals = _inverse_fixed_arr(warm, res, order)
                blkvals = (vals << wasted) if wasted else vals
            else:
                raise ValueError("LPC subframes outside decode envelope")
            chan_blocks[ch].append(blkvals)
        br.align()
        body_end = br.pos // 8
        (crc16,) = struct.unpack(">H", data[body_end : body_end + 2])
        if _crc16(data[frame_start:body_end]) != crc16:
            raise ValueError("frame CRC-16 mismatch")
        pos = body_end + 2
        n_frames += 1
    arrs = [
        np.concatenate(b) if b else np.zeros(0, dtype=np.int64)
        for b in chan_blocks
    ]
    total = streaminfo["total_samples"]
    if total:
        arrs = [c[:total] for c in arrs]
    if nch == 1 and bps == 16:
        pcm = arrs[0].astype("<i2").tobytes()
        if hashlib.md5(pcm).digest() != streaminfo["md5"]:
            raise ValueError("decoded audio MD5 != STREAMINFO MD5")
    channels = [c.tolist() for c in arrs]
    meta = dict(streaminfo)
    meta.pop("md5")
    meta["n_frames"] = n_frames
    return channels, meta
