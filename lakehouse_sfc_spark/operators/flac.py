"""Real FLAC codec (RFC 9639 / xiph FLAC format), pure Python.

Scope — the honest lossless subset a fixed-predictor encoder emits:

- container: ``fLaC`` magic + STREAMINFO metadata block (including the
  MD5 of the unencoded little-endian sample stream, verified on decode),
- frames: fixed-blocksize blocking, UTF-8-coded frame numbers, CRC-8
  header / CRC-16 frame checks (verified on decode),
- subframes: CONSTANT, VERBATIM and FIXED predictors order 0–4 with
  Rice-coded residuals (4-bit and 5-bit parameter variants, partition
  orders, and the 0b11111 escape to unencoded residuals),
- channels: independent only (mono/stereo as separate subframes).

Refused loudly by name (not silently mis-decoded): LPC subframes,
wasted-bits shifting, the left/right/mid-side stereo decorrelation
assignments, variable blocking, and non-16-bit sample sizes — each is a
real FLAC feature whose tables/semantics we will not guess.

Reference parity note: the reference engines treat audio as opaque
binary + external decoders (lakehouse_op/io_loader.py); here the codec
itself is part of the multimodal surface, like operators/jpeg.py.
"""

from __future__ import annotations

import hashlib
import struct

_BLOCK = 4096

# CRC-8, poly x^8 + x^2 + x + 1 (0x07), init 0 — FLAC frame-header CRC
_CRC8_TABLE = []
for _b in range(256):
    _c = _b
    for _ in range(8):
        _c = ((_c << 1) ^ 0x07) & 0xFF if _c & 0x80 else (_c << 1) & 0xFF
    _CRC8_TABLE.append(_c)

# CRC-16, poly x^16 + x^15 + x^2 + 1 (0x8005), init 0 — FLAC frame CRC
_CRC16_TABLE = []
for _b in range(256):
    _c = _b << 8
    for _ in range(8):
        _c = ((_c << 1) ^ 0x8005) & 0xFFFF if _c & 0x8000 else (_c << 1) & 0xFFFF
    _CRC16_TABLE.append(_c)


def _crc8(data: bytes) -> int:
    c = 0
    for byte in data:
        c = _CRC8_TABLE[c ^ byte]
    return c


def _crc16(data: bytes) -> int:
    c = 0
    for byte in data:
        c = _CRC16_TABLE[((c >> 8) ^ byte) & 0xFF] ^ ((c << 8) & 0xFFFF)
    return c


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, bits: int) -> None:
        if bits == 0:
            return
        # int() guard: a stray numpy scalar would make acc an int64 that
        # silently wraps once the accumulator exceeds 64 bits
        self.acc = (self.acc << bits) | (int(value) & ((1 << bits) - 1))
        self.nbits += bits
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def write_bits(self, bits_arr) -> None:
        """Append a 0/1 uint8 ndarray of bits in one vectorized packbits —
        the bulk channel the per-sample Rice loops were replaced with."""
        import numpy as np

        if self.nbits:
            head = np.empty(self.nbits, dtype=np.uint8)
            for i in range(self.nbits):
                head[i] = (self.acc >> (self.nbits - 1 - i)) & 1
            bits_arr = np.concatenate([head, bits_arr])
            self.acc = 0
            self.nbits = 0
        nb = bits_arr.size
        rem = nb & 7
        body = bits_arr[: nb - rem] if rem else bits_arr
        if body.size:
            self.buf += np.packbits(body).tobytes()
        for b in bits_arr[nb - rem :]:
            self.acc = (self.acc << 1) | int(b)
        self.nbits = rem

    def write_unary(self, q: int) -> None:
        # FLAC unary: q zero bits then a one bit
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)

    def align(self) -> None:
        if self.nbits:
            self.write(0, 8 - self.nbits)

    def bytes(self) -> bytes:
        assert self.nbits == 0
        return bytes(self.buf)


class _BitReader:
    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.byte = pos
        self.bit = 0  # bits consumed of data[byte], MSB first

    def read(self, bits: int) -> int:
        out = 0
        while bits > 0:
            if self.byte >= len(self.data):
                raise ValueError("FLAC: bitstream truncated")
            avail = 8 - self.bit
            take = min(bits, avail)
            cur = self.data[self.byte]
            out = (out << take) | (
                (cur >> (avail - take)) & ((1 << take) - 1)
            )
            self.bit += take
            bits -= take
            if self.bit == 8:
                self.bit = 0
                self.byte += 1
        return out

    def read_unary(self) -> int:
        q = 0
        while self.read(1) == 0:
            q += 1
        return q

    def align(self) -> None:
        if self.bit:
            self.bit = 0
            self.byte += 1


def _utf8_coded(n: int) -> bytes:
    """FLAC's UTF-8-style coded number (frame/sample numbers)."""
    if n < 0x80:
        return bytes([n])
    out = []
    bits = n.bit_length()
    nbytes = 2
    while bits > 6 + 5 * (nbytes - 1) - (nbytes - 2):
        # leading byte holds (7 - nbytes) bits, each cont. byte 6 bits
        if 6 * (nbytes - 1) + (7 - nbytes) >= bits:
            break
        nbytes += 1
    while 6 * (nbytes - 1) + (7 - nbytes) < bits:
        nbytes += 1
    lead_bits = 7 - nbytes
    out.append((0xFF << (lead_bits + 1)) & 0xFF | (n >> (6 * (nbytes - 1))))
    for i in range(nbytes - 2, -1, -1):
        out.append(0x80 | ((n >> (6 * i)) & 0x3F))
    return bytes(out)


def _read_utf8_coded(r: _BitReader) -> int:
    first = r.read(8)
    if first < 0x80:
        return first
    nbytes = 0
    mask = 0x80
    while first & mask:
        nbytes += 1
        mask >>= 1
    if nbytes < 2 or nbytes > 7:
        raise ValueError("FLAC: invalid UTF-8-coded number")
    n = first & (0x7F >> nbytes)
    for _ in range(nbytes - 1):
        c = r.read(8)
        if c & 0xC0 != 0x80:
            raise ValueError("FLAC: invalid UTF-8 continuation byte")
        n = (n << 6) | (c & 0x3F)
    return n


def _fixed_residual(samples, order: int):
    """FLAC fixed-predictor residual = order-th binomial difference (the
    fixed coefficients ARE the binomial rows), as one np.diff."""
    import numpy as np

    return np.diff(np.asarray(samples, dtype=np.int64), n=order)


def _rice_param(residual) -> int:
    import numpy as np

    residual = np.asarray(residual, dtype=np.int64)
    if residual.size == 0:
        return 0
    mean = float(np.abs(residual).mean())
    k = 0
    # k can reach 15 = the 4-bit ESCAPE code: pathological high-variance
    # residuals (mean >= 2^14) then take the unencoded fixed-width branch
    # in _encode_subframe instead of a degenerate k=14 unary blowup
    while (1 << k) < mean and k < 15:
        k += 1
    return k


def _unsigned_bits(vals, width: int):
    """(n,) int64 unsigned values → (n*width,) 0/1 uint8 bit array,
    MSB-first per value."""
    import numpy as np

    shifts = np.arange(width - 1, -1, -1, dtype=np.int64)
    return ((vals[:, None] >> shifts[None, :]) & 1).astype(np.uint8).ravel()


def _rice_bits(residual, k: int):
    """Rice-code a residual vector into one bit array: per value q zero
    bits, a one terminator, then k remainder bits — built by scattering
    terminators/remainders into a zeros array at cumsum offsets instead of
    a per-sample writer loop (bit-identical output)."""
    import numpy as np

    r = np.asarray(residual, dtype=np.int64)
    u = (r << 1) ^ (r >> 63)  # zigzag (arithmetic >> on int64)
    q = u >> k
    lens = q + 1 + k
    offs = np.cumsum(lens) - lens
    bits = np.zeros(int(lens.sum()), dtype=np.uint8)
    bits[offs + q] = 1
    if k:
        rem_idx = (offs + q + 1)[:, None] + np.arange(k, dtype=np.int64)[None, :]
        bits[rem_idx.ravel()] = _unsigned_bits(u & ((1 << k) - 1), k)
    return bits


def _encode_subframe(w: _BitWriter, samples) -> None:
    """One channel of one frame: constant / verbatim / best fixed order.
    ``samples`` is an int64 ndarray; residuals, costs and the Rice/escape
    bitstreams are all vectorized (same bits as the former scalar loops)."""
    import numpy as np

    samples = np.asarray(samples, dtype=np.int64)
    if (samples == samples[0]).all():
        w.write(0, 1)
        w.write(0b000000, 6)  # CONSTANT
        w.write(0, 1)  # no wasted bits
        w.write(int(samples[0]) & 0xFFFF, 16)
        return
    best_order, best_cost = 0, None
    for order in range(min(4, len(samples) - 1) + 1):
        cost = int(np.abs(_fixed_residual(samples, order)).sum())
        if best_cost is None or cost < best_cost:
            best_order, best_cost = order, cost
    verbatim_cost = int(np.abs(samples).sum())
    if verbatim_cost < (best_cost or 0) / 2 and best_order > 0:
        best_order = 0  # pathological data: order 0 ≅ verbatim-ish
    w.write(0, 1)
    w.write(0b001000 | best_order, 6)  # FIXED, order
    w.write(0, 1)  # no wasted bits
    for s in samples[:best_order]:  # warm-up, unencoded
        w.write(int(s) & 0xFFFF, 16)
    residual = _fixed_residual(samples, best_order)
    k = _rice_param(residual)
    w.write(0b00, 2)  # 4-bit Rice parameters
    w.write(0, 4)  # partition order 0: one partition
    if k >= 15:
        # escape: unencoded residuals at a fixed bit width
        u = (residual << 1) ^ (residual >> 63)
        width = int(u.max()).bit_length() + 1
        w.write(0b1111, 4)
        w.write(width, 5)
        w.write_bits(_unsigned_bits(residual & ((1 << width) - 1), width))
        return
    w.write(k, 4)
    w.write_bits(_rice_bits(residual, k))


def encode_flac(samples: "np.ndarray", sample_rate: int = 16_000) -> bytes:
    """int16 mono (n,) or (n, ch≤2) array → FLAC stream (fixed predictors,
    Rice residuals, independent channels)."""
    import numpy as np

    arr = np.asarray(samples, dtype=np.int16)
    if arr.ndim == 1:
        arr = arr[:, None]
    n, ch = arr.shape
    if ch > 8:
        raise ValueError("FLAC supports at most 8 channels")
    md5 = hashlib.md5(
        arr.astype("<i2").tobytes()
    ).digest()  # interleaved LE stream, per spec

    frames = bytearray()
    for f_idx, start in enumerate(range(0, n, _BLOCK)):
        block = arr[start : start + _BLOCK]
        bs = len(block)
        h = _BitWriter()
        h.write(0b11111111111110, 14)  # sync
        h.write(0, 1)  # reserved
        h.write(0, 1)  # fixed blocksize (frame-number coding)
        h.write(0b0111, 4)  # blocksize: 16-bit at end of header
        h.write(0b0000, 4)  # sample rate: from STREAMINFO
        h.write(ch - 1, 4)  # independent channels
        h.write(0b100, 3)  # 16 bits per sample
        h.write(0, 1)  # reserved
        h.align()
        head = bytearray(h.bytes())
        head += _utf8_coded(f_idx)
        head += struct.pack(">H", bs - 1)
        head.append(_crc8(bytes(head)))

        body = _BitWriter()
        for c in range(ch):
            _encode_subframe(body, block[:, c])
        body.align()
        frame = bytes(head) + body.bytes()
        frame += struct.pack(">H", _crc16(frame))
        frames += frame

    si = _BitWriter()
    si.write(_BLOCK, 16)  # min block size
    si.write(_BLOCK, 16)  # max block size
    si.write(0, 24)  # min frame size unknown
    si.write(0, 24)  # max frame size unknown
    si.write(sample_rate, 20)
    si.write(ch - 1, 3)
    si.write(16 - 1, 5)
    si.write(n, 36)
    streaminfo = si.bytes() + md5
    header = b"fLaC" + bytes([0x80]) + struct.pack(">I", len(streaminfo))[1:]
    return header + streaminfo + bytes(frames)


def _attach_bit_index(r: _BitReader) -> None:
    """Build the payload-wide bit array + one-positions index the block
    decoders below use.  O(payload) once, shared by every frame reader via
    ``r._bits``/``r._ones`` (the sentinel entry = total bit count turns an
    off-the-end unary scan into a clean truncation error)."""
    import numpy as np

    bits = np.unpackbits(np.frombuffer(r.data, dtype=np.uint8))
    ones = np.flatnonzero(bits).tolist()  # python ints: fast scalar walk
    ones.append(bits.size)
    r._bits = bits
    r._ones = ones


def _read_block(r: _BitReader, count: int, width: int):
    """count width-bit SIGNED values, vectorized off the payload bit
    array (VERBATIM subframes, warm-ups, escape partitions)."""
    import numpy as np

    if count == 0 or width == 0:
        return np.zeros(count, dtype=np.int64)
    bits = r._bits
    pos = (r.byte << 3) + r.bit
    end = pos + count * width
    if end > bits.size:
        raise ValueError("FLAC: bitstream truncated")
    seg = bits[pos:end].reshape(count, width).astype(np.int64)
    pw = np.int64(1) << np.arange(width - 1, -1, -1, dtype=np.int64)
    vals = seg @ pw
    sign = np.int64(1) << (width - 1)
    vals = np.where(vals & sign, vals - (np.int64(1) << width), vals)
    r.byte, r.bit = end >> 3, end & 7
    return vals


def _read_rice_block(r: _BitReader, count: int, k: int):
    """count Rice(k) residuals as int64.  The unary quotients come from a
    pointer walk over the precomputed one-positions list (amortized O(ones
    consumed)); the k remainder bits come straight off the byte buffer via
    one int.from_bytes window per value — ~10 plain-int ops per sample
    instead of the former per-bit reader (the r10 verdict's named sf1
    hot loop)."""
    import numpy as np
    from bisect import bisect_left

    data = r.data
    ones = r._ones
    total_bits = r._bits.size
    pos = (r.byte << 3) + r.bit
    j = bisect_left(ones, pos)
    out = np.empty(count, dtype=np.int64)
    mask = (1 << k) - 1
    for i in range(count):
        t = ones[j]  # unary terminator: next 1-bit at/after pos
        if t >= total_bits:
            raise ValueError("FLAC: bitstream truncated")
        q = t - pos
        if k:
            start = t + 1
            b0 = start >> 3
            chunk = data[b0 : b0 + 5]
            window = int.from_bytes(chunk, "big") << (8 * (5 - len(chunk)))
            u = (q << k) | ((window >> (40 - (start & 7) - k)) & mask)
            pos = start + k
            if pos > total_bits:
                # payload ends mid-remainder: contracted truncation error,
                # not an off-the-end walk past the ones sentinel
                raise ValueError("FLAC: bitstream truncated")
            j += 1
            n_ones = len(ones)
            while j < n_ones and ones[j] < pos:
                j += 1  # skip 1s consumed as remainder bits
        else:
            u = q
            pos = t + 1
            j += 1
        out[i] = u
    r.byte, r.bit = pos >> 3, pos & 7
    return (out >> 1) ^ -(out & 1)  # unzigzag, vectorized


def _reconstruct_fixed(warm, residual, order: int):
    """Invert the order-th binomial difference: ``order`` cumulative sums,
    each seeded with the matching difference level of the warm-up samples —
    the vectorized twin of the per-sample predictor recurrence (bit-exact:
    integer adds in a different association order only)."""
    import numpy as np

    res = np.asarray(residual, dtype=np.int64)
    if order == 0:
        return res
    w = np.asarray(warm, dtype=np.int64)
    a = res
    for level in range(order, 0, -1):
        init = np.diff(w, n=level - 1)[-1] if level > 1 else w[-1]
        a = np.cumsum(a) + init
    return np.concatenate([w, a])


def _decode_subframe(r: _BitReader, bs: int):
    import numpy as np

    if not hasattr(r, "_bits"):
        _attach_bit_index(r)
    if r.read(1) != 0:
        raise ValueError("FLAC: invalid subframe padding bit")
    sf_type = r.read(6)
    if r.read(1) != 0:
        raise NotImplementedError(
            "FLAC wasted-bits shifting not supported (flag bit set); "
            "this encoder never emits it"
        )
    if sf_type == 0b000000:  # CONSTANT
        v = r.read(16)
        v = v - 0x10000 if v & 0x8000 else v
        return np.full(bs, v, dtype=np.int64)
    if sf_type == 0b000001:  # VERBATIM
        return _read_block(r, bs, 16)
    if sf_type & 0b100000:
        raise NotImplementedError(
            f"FLAC LPC subframe (order {(sf_type & 0x1F) + 1}) not "
            "supported — fixed predictors only; re-encode with flac -0 "
            "--no-lpc or this module's encoder"
        )
    if not (0b001000 <= sf_type <= 0b001100):
        raise ValueError(f"FLAC: reserved subframe type {sf_type:#08b}")
    order = sf_type & 0b000111
    warm = _read_block(r, order, 16)
    method = r.read(2)
    if method > 1:
        raise ValueError(f"FLAC: reserved residual coding method {method}")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    porder = r.read(4)
    nparts = 1 << porder
    if bs % nparts:
        raise ValueError("FLAC: block size not divisible by partitions")
    parts = []
    for p in range(nparts):
        count = bs // nparts - (order if p == 0 else 0)
        k = r.read(pbits)
        if k == escape:
            width = r.read(5)
            parts.append(_read_block(r, count, width))
        else:
            parts.append(_read_rice_block(r, count, k))
    residual = np.concatenate(parts) if len(parts) > 1 else parts[0]
    return _reconstruct_fixed(warm, residual, order)


def decode_flac(payload: bytes) -> tuple[int, "np.ndarray"]:
    """FLAC stream → (sample_rate, int16 array (n,) mono or (n, ch)).
    Verifies frame CRC-8/CRC-16 and the STREAMINFO MD5."""
    import numpy as np

    if payload[:4] != b"fLaC":
        raise ValueError("not a FLAC payload")
    pos = 4
    streaminfo = None
    while True:
        hdr = payload[pos : pos + 4]
        if len(hdr) < 4:
            raise ValueError("FLAC: truncated metadata block header")
        last = bool(hdr[0] & 0x80)
        btype = hdr[0] & 0x7F
        blen = int.from_bytes(hdr[1:4], "big")
        body = payload[pos + 4 : pos + 4 + blen]
        if btype == 0:
            streaminfo = body
        pos += 4 + blen
        if last:
            break
    if streaminfo is None or len(streaminfo) != 34:
        raise ValueError("FLAC: missing or malformed STREAMINFO")
    r = _BitReader(streaminfo)
    r.read(16)  # min block
    r.read(16)  # max block
    r.read(24)
    r.read(24)
    sample_rate = r.read(20)
    ch = r.read(3) + 1
    bps = r.read(5) + 1
    total = r.read(36)
    md5_expect = streaminfo[18:34]
    if bps != 16:
        raise NotImplementedError(
            f"FLAC {bps}-bit samples not supported (16-bit only)"
        )

    chans: list[list] = [[] for _ in range(ch)]
    shared_bits = shared_ones = None
    while pos < len(payload):
        frame_start = pos
        r = _BitReader(payload, pos)
        # one payload-wide bit index, shared by every frame's reader
        if shared_bits is None:
            _attach_bit_index(r)
            shared_bits, shared_ones = r._bits, r._ones
        else:
            r._bits, r._ones = shared_bits, shared_ones
        if r.read(14) != 0b11111111111110:
            raise ValueError("FLAC: lost frame sync")
        r.read(1)
        blocking = r.read(1)
        if blocking:
            raise NotImplementedError(
                "FLAC variable-blocksize streams not supported"
            )
        bs_code = r.read(4)
        sr_code = r.read(4)
        ca = r.read(4)
        if ca >= 8:
            raise NotImplementedError(
                "FLAC left/right/mid-side stereo decorrelation not "
                "supported (independent channels only)"
            )
        if ca + 1 != ch:
            raise ValueError("FLAC: frame channel count != STREAMINFO")
        ss_code = r.read(3)
        if ss_code != 0b100:
            raise NotImplementedError(
                "FLAC frame sample size != 16 bits not supported"
            )
        r.read(1)
        _read_utf8_coded(r)
        if bs_code == 0b0110:
            bs = r.read(8) + 1
        elif bs_code == 0b0111:
            bs = r.read(16) + 1
        elif bs_code == 0b0001:
            bs = 192
        elif 0b0010 <= bs_code <= 0b0101:
            bs = 576 << (bs_code - 2)
        elif bs_code >= 0b1000:
            bs = 256 << (bs_code - 8)
        else:
            raise ValueError("FLAC: reserved block size code")
        if sr_code not in (0b0000,):
            raise NotImplementedError(
                "FLAC frame-local sample rates not supported "
                "(STREAMINFO rate only)"
            )
        r.align()
        crc8_expect = payload[r.byte]
        if _crc8(payload[frame_start : r.byte]) != crc8_expect:
            raise ValueError("FLAC: frame header CRC-8 mismatch")
        r.byte += 1

        for c in range(ch):
            chans[c].append(_decode_subframe(r, bs))
        r.align()
        crc16_expect = struct.unpack(
            ">H", payload[r.byte : r.byte + 2]
        )[0]
        if _crc16(payload[frame_start : r.byte]) != crc16_expect:
            raise ValueError("FLAC: frame CRC-16 mismatch")
        pos = r.byte + 2

    arr = np.stack(
        [
            np.concatenate(c)[:total].astype(np.int16)
            if c
            else np.empty(0, dtype=np.int16)
            for c in chans
        ],
        axis=1,
    )
    if hashlib.md5(arr.astype("<i2").tobytes()).digest() != md5_expect:
        raise ValueError("FLAC: STREAMINFO MD5 mismatch after decode")
    if ch == 1:
        arr = arr[:, 0]
    return sample_rate, arr
