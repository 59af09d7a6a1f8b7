"""Pure-stdlib GIF87a codec: real LZW compression, both directions.

Extends the engine's codec line (BMP/PPM → PNG zlib-inflate → baseline
+ progressive JPEG → Motion-JPEG AVI) with the remaining everyday
raster container: GIF's palette-indexed LZW stream, implemented from
the GIF87a specification — variable-width codes (LSB-first bit
packing), clear/EOI codes, dictionary growth to 12 bits with reset,
255-byte data sub-blocks, and the KwKwK decoder case.

GIF is LOSSLESS for images of ≤256 unique colors, which is exactly the
engine's gate-image class (8×8 grayscale rasters derived from
embeddings), so the value-hash gate can pin the full
encode→container-walk→LZW-decode→palette-lookup path bit-for-bit
(q_gif_pipeline): the oracle recomputes the aHash arithmetically and a
match proves encoder and decoder agree on every pixel.

Encoder/decoder width-synchronization uses the standard "late change"
rule (the decoder widens after the table reaches the current code
ceiling; the encoder mirrors it one step ahead) and is pinned by
round-trip tests that force both the width-growth and the KwKwK paths.
Compliance beyond self-consistency is untestable in this container
(no external image library is installed — the same honest boundary
PNG/JPEG documented); the bitstream follows the published spec.

Reference parity note: the reference engine (kafka_stream/kafka_s.py)
has no media path at all; this extends SURVEY §2.14's multimodal
family.
"""

from __future__ import annotations

import struct

_MAX_WIDTH = 12


def _lzw_encode(indices: list[int], mcs: int) -> bytes:
    """LZW-compress an index stream (GIF variable-width, LSB-first)."""
    clear = 1 << mcs
    eoi = clear + 1

    def fresh() -> dict[tuple[int, ...], int]:
        return {(i,): i for i in range(clear)}

    table = fresh()
    next_code = eoi + 1
    width = mcs + 1
    out_codes: list[tuple[int, int]] = [(clear, width)]
    cur: tuple[int, ...] = ()
    for k in indices:
        nxt = cur + (k,)
        if nxt in table:
            cur = nxt
            continue
        out_codes.append((table[cur], width))
        table[nxt] = next_code
        next_code += 1
        # late change: widen once the next code to ASSIGN would not fit
        if next_code == (1 << width) + 1 and width < _MAX_WIDTH:
            width += 1
        if next_code == (1 << _MAX_WIDTH) + 1:
            out_codes.append((clear, _MAX_WIDTH))
            table = fresh()
            next_code = eoi + 1
            width = mcs + 1
        cur = (k,)
    if cur:
        out_codes.append((table[cur], width))
    out_codes.append((eoi, width))

    buf = bytearray()
    acc = 0
    nbits = 0
    for code, w in out_codes:
        acc |= code << nbits
        nbits += w
        while nbits >= 8:
            buf.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        buf.append(acc & 0xFF)
    return bytes(buf)


def _lzw_decode(data: bytes, mcs: int) -> list[int]:
    """Inverse of :func:`_lzw_encode`, including the KwKwK case."""
    clear = 1 << mcs
    eoi = clear + 1

    def fresh() -> list[tuple[int, ...]]:
        return [(i,) for i in range(clear)] + [(), ()]

    acc = 0
    nbits = 0
    pos = 0

    def read(width: int) -> int:
        nonlocal acc, nbits, pos
        while nbits < width:
            if pos >= len(data):
                raise ValueError("truncated LZW stream")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        return code

    table = fresh()
    width = mcs + 1
    out: list[int] = []
    prev: tuple[int, ...] | None = None
    while True:
        code = read(width)
        if code == clear:
            table = fresh()
            width = mcs + 1
            prev = None
            continue
        if code == eoi:
            return out
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = prev + (prev[0],)  # KwKwK
        else:
            raise ValueError("corrupt LZW code")
        out.extend(entry)
        if prev is not None:
            table.append(prev + (entry[0],))
            if len(table) == (1 << width) and width < _MAX_WIDTH:
                width += 1
        prev = entry


def encode_gif(width: int, height: int, rgb: bytes) -> bytes:
    """RGB24 → GIF87a with a global color table built from the image's
    palette (≤256 unique colors required — GIF's own constraint)."""
    if len(rgb) != width * height * 3:
        raise ValueError("rgb length mismatch")
    pixels = [rgb[i : i + 3] for i in range(0, len(rgb), 3)]
    palette = sorted(set(pixels))
    if len(palette) > 256:
        raise ValueError("GIF needs <=256 unique colors")
    index = {c: i for i, c in enumerate(palette)}
    k = 0
    while (2 << k) < len(palette):
        k += 1
    table_len = 2 << k
    mcs = max(2, k + 1)
    out = bytearray(b"GIF87a")
    out += struct.pack("<HHBBB", width, height, 0x80 | k, 0, 0)
    out += b"".join(palette)
    out += b"\x00\x00\x00" * (table_len - len(palette))
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, 0)
    out.append(mcs)
    data = _lzw_encode([index[p] for p in pixels], mcs)
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)


def _unpack_at(fmt: str, payload: bytes, off: int):
    """Bounds-checked struct.unpack over a payload slice: a truncated
    stream raises the codec's documented ValueError instead of leaking
    struct.error (same malformed-input hardening as jpeg._BitReader)."""
    size = struct.calcsize(fmt)
    if off + size > len(payload):
        raise ValueError("truncated GIF stream")
    return struct.unpack(fmt, payload[off : off + size])


def _byte_at(payload: bytes, pos: int) -> int:
    if pos >= len(payload):
        raise ValueError("truncated GIF stream")
    return payload[pos]


def _sub_blocks(payload: bytes, pos: int) -> tuple[bytes, int]:
    """Collect GIF data sub-blocks starting at ``pos``; returns
    (data, position after the 0x00 terminator). Bounds-checked — a
    payload that ends mid-block or without the terminator raises
    ValueError rather than IndexError."""
    data = bytearray()
    while True:
        ln = _byte_at(payload, pos)
        if ln == 0:
            return bytes(data), pos + 1
        if pos + 1 + ln > len(payload):
            raise ValueError("truncated GIF stream")
        data += payload[pos + 1 : pos + 1 + ln]
        pos += ln + 1


def _color_table(payload: bytes, pos: int, n: int) -> tuple[list[bytes], int]:
    if pos + 3 * n > len(payload):
        raise ValueError("truncated GIF stream")
    return [payload[pos + 3 * i : pos + 3 * i + 3] for i in range(n)], pos + 3 * n


def decode_gif(payload: bytes) -> tuple[int, int, bytes]:
    """GIF87a/89a → (width, height, RGB24).  Walks extensions, reads
    the global color table, LZW-decodes the first image frame.
    Interlaced frames and local color tables raise
    NotImplementedError (the documented boundary — animated/89a
    feature territory)."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    sw, sh, flags, _bg, _ar = _unpack_at("<HHBBB", payload, 6)
    pos = 13
    gct: list[bytes] = []
    if flags & 0x80:
        gct, pos = _color_table(payload, pos, 2 << (flags & 0x07))
    while pos < len(payload):
        b0 = payload[pos]
        if b0 == 0x21:  # extension: label + sub-blocks
            _, pos = _sub_blocks(payload, pos + 2)
        elif b0 == 0x2C:
            left, top, w, h, iflags = _unpack_at("<HHHHB", payload, pos + 1)
            pos += 10
            if iflags & 0x40:
                raise NotImplementedError("interlaced GIF")
            if iflags & 0x80:
                raise NotImplementedError("local color table")
            mcs = _byte_at(payload, pos)
            pos += 1
            data, pos = _sub_blocks(payload, pos)
            indices = _lzw_decode(data, mcs)
            if len(indices) < w * h:
                raise ValueError("short GIF index stream")
            if any(i >= len(gct) for i in indices[: w * h]):
                raise ValueError("index out of palette")
            rgb = b"".join(gct[i] for i in indices[: w * h])
            return w, h, rgb
        elif b0 == 0x3B:
            break
        else:
            raise ValueError(f"unexpected GIF block 0x{b0:02x}")
    raise ValueError("no image frame in GIF")


# ---------------------------------------------------------------------------
# GIF89a animation: graphic-control extensions, disposal methods,
# transparency, inter-frame delta rectangles
# ---------------------------------------------------------------------------


def _bbox_of_change(prev: list[bytes], cur: list[bytes], w: int, h: int):
    """Bounding rectangle (left, top, rw, rh) of pixels differing
    between two composed canvases, or None when identical."""
    xs: list[int] = []
    ys: list[int] = []
    for y in range(h):
        for x in range(w):
            if prev[y * w + x] != cur[y * w + x]:
                xs.append(x)
                ys.append(y)
    if not xs:
        return None
    return min(xs), min(ys), max(xs) - min(xs) + 1, max(ys) - min(ys) + 1


def encode_gif_animation(
    width: int,
    height: int,
    frames: list[bytes],
    delay_cs: int = 10,
    loop: int = 0,
    disposals: list[int] | None = None,
) -> bytes:
    """Composed RGB24 frames → animated GIF89a.

    Default mode (``disposals=None``) is the production layout: every
    frame after the first is stored as the DELTA RECTANGLE against the
    previous composed canvas under disposal method 1 ("do not
    dispose"), with unchanged pixels inside the rectangle written as
    the transparent index — the standard animated-GIF size
    optimization. An unchanged frame still emits a 1×1 transparent
    rect so frame count and timing survive.

    With an explicit ``disposals`` list each frame is stored FULL with
    that disposal method (0–3) — the compatibility path tests use to
    pin the decoder's disposal semantics independently of the delta
    optimizer.

    The global color table is the union palette of all frames plus one
    reserved transparent slot, so composed-frame round-trips stay
    bit-exact for ≤255 unique colors (GIF is lossless there — the same
    gate-image class as :func:`encode_gif`)."""
    if not frames:
        raise ValueError("need at least one frame")
    for f in frames:
        if len(f) != width * height * 3:
            raise ValueError("rgb length mismatch")
    split = [
        [f[i : i + 3] for i in range(0, len(f), 3)] for f in frames
    ]
    palette = sorted({p for fr in split for p in fr})
    if len(palette) > 255:
        raise ValueError("animated GIF needs <=255 unique colors")
    index = {c: i for i, c in enumerate(palette)}
    trans_idx = len(palette)  # reserved transparent slot
    k = 0
    while (2 << k) < len(palette) + 1:
        k += 1
    table_len = 2 << k
    mcs = max(2, k + 1)

    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", width, height, 0x80 | k, 0, 0)
    out += b"".join(palette)
    out += b"\x00\x00\x00" * (table_len - len(palette))
    # NETSCAPE2.0 looping application extension
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01" + struct.pack("<H", loop)
    out += b"\x00"

    def emit_frame(
        left: int, top: int, w: int, h: int,
        idxs: list[int], disposal: int, transparent: bool,
    ) -> None:
        packed = (disposal & 0x07) << 2 | (1 if transparent else 0)
        out.extend(
            b"\x21\xf9\x04"
            + bytes((packed,))
            + struct.pack("<H", delay_cs)
            + bytes((trans_idx if transparent else 0, 0))
        )
        out.extend(b"\x2c" + struct.pack("<HHHHB", left, top, w, h, 0))
        out.append(mcs)
        data = _lzw_encode(idxs, mcs)
        for i in range(0, len(data), 255):
            chunk = data[i : i + 255]
            out.append(len(chunk))
            out.extend(chunk)
        out.append(0)

    if disposals is not None:
        if len(disposals) != len(frames):
            raise ValueError("disposals length mismatch")
        for fr, disp in zip(split, disposals):
            emit_frame(
                0, 0, width, height, [index[p] for p in fr], disp, False
            )
    else:
        emit_frame(
            0, 0, width, height, [index[p] for p in split[0]], 1, False
        )
        for prev, cur in zip(split, split[1:]):
            box = _bbox_of_change(prev, cur, width, height)
            if box is None:
                emit_frame(0, 0, 1, 1, [trans_idx], 1, True)
                continue
            left, top, rw, rh = box
            idxs = [
                index[cur[y * width + x]]
                if cur[y * width + x] != prev[y * width + x]
                else trans_idx
                for y in range(top, top + rh)
                for x in range(left, left + rw)
            ]
            emit_frame(left, top, rw, rh, idxs, 1, True)
    out += b"\x3b"
    return bytes(out)


def decode_gif_animation(payload: bytes) -> tuple[int, int, list[bytes]]:
    """Animated GIF87a/89a → (width, height, [composed RGB24 frame]).

    Full inter-frame composition: graphic-control extensions supply
    per-frame disposal method, transparency index and delay; each
    frame's rectangle is composited onto the logical-screen canvas
    (transparent pixels leave the canvas unchanged), the composed
    canvas is snapshotted as that frame's output, then the disposal
    method runs — 0/1 leave the canvas, 2 restores the frame rect to
    the background color, 3 restores the pre-frame canvas. Interlaced
    frames and local color tables stay NotImplementedError (the
    documented boundary)."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    sw, sh, flags, bg_idx, _ar = _unpack_at("<HHBBB", payload, 6)
    pos = 13
    gct: list[bytes] = []
    if flags & 0x80:
        gct, pos = _color_table(payload, pos, 2 << (flags & 0x07))
    bg = gct[bg_idx] if gct and bg_idx < len(gct) else b"\x00\x00\x00"
    canvas: list[bytes] = [bg] * (sw * sh)
    frames: list[bytes] = []
    disposal = 0
    trans_idx: int | None = None
    while pos < len(payload):
        b0 = payload[pos]
        if b0 == 0x21:
            label = _byte_at(payload, pos + 1)
            pos += 2
            if label == 0xF9:  # graphic control
                ln = _byte_at(payload, pos)
                if ln < 4:
                    # packed/trans_idx live at pos+1..pos+4; a declared
                    # size below 4 would read outside the sub-block
                    raise ValueError("truncated GIF stream")
                packed = _byte_at(payload, pos + 1)
                disposal = (packed >> 2) & 0x07
                trans_idx = (
                    _byte_at(payload, pos + 4) if packed & 0x01 else None
                )
                pos += ln + 1
                if _byte_at(payload, pos) != 0:
                    raise ValueError("unterminated GCE")
                pos += 1
            else:  # other extensions: skip sub-blocks
                _, pos = _sub_blocks(payload, pos)
        elif b0 == 0x2C:
            left, top, w, h, iflags = _unpack_at("<HHHHB", payload, pos + 1)
            pos += 10
            if iflags & 0x40:
                raise NotImplementedError("interlaced GIF")
            if iflags & 0x80:
                raise NotImplementedError("local color table")
            mcs_f = _byte_at(payload, pos)
            pos += 1
            data, pos = _sub_blocks(payload, pos)
            indices = _lzw_decode(data, mcs_f)
            if len(indices) < w * h:
                raise ValueError("short GIF index stream")
            before = list(canvas)
            for y in range(h):
                for x in range(w):
                    i = indices[y * w + x]
                    if trans_idx is not None and i == trans_idx:
                        continue
                    if i >= len(gct):
                        raise ValueError("index out of palette")
                    canvas[(top + y) * sw + (left + x)] = gct[i]
            frames.append(b"".join(canvas))
            if disposal == 2:
                for y in range(h):
                    for x in range(w):
                        canvas[(top + y) * sw + (left + x)] = bg
            elif disposal == 3:
                canvas = before
            disposal = 0
            trans_idx = None
        elif b0 == 0x3B:
            break
        else:
            raise ValueError(f"unexpected GIF block 0x{b0:02x}")
    if not frames:
        raise ValueError("no image frame in GIF")
    return sw, sh, frames


# ---------------------------------------------------------------------------
# Interlaced frames + local color tables (closing two documented
# boundaries of the round-5 decoder)
# ---------------------------------------------------------------------------

_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _interlace_order(height: int) -> list[int]:
    """Source-row order of an interlaced GIF frame (4-pass)."""
    return [
        y for start, step in _INTERLACE_PASSES
        for y in range(start, height, step)
    ]


def decode_gif_frame(payload: bytes) -> tuple[int, int, bytes]:
    """GIF87a/89a single frame → (width, height, RGB24), handling
    interlaced row order and local color tables — the full static-GIF
    feature surface. (decode_gif remains the round-5 strict decoder;
    this supersedes its NotImplementedError territory.)"""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    sw, sh, flags, _bg, _ar = _unpack_at("<HHBBB", payload, 6)
    pos = 13
    gct: list[bytes] = []
    if flags & 0x80:
        gct, pos = _color_table(payload, pos, 2 << (flags & 0x07))
    while pos < len(payload):
        b0 = payload[pos]
        if b0 == 0x21:
            _, pos = _sub_blocks(payload, pos + 2)
        elif b0 == 0x2C:
            left, top, w, h, iflags = _unpack_at("<HHHHB", payload, pos + 1)
            pos += 10
            table = gct
            if iflags & 0x80:  # local color table
                table, pos = _color_table(payload, pos, 2 << (iflags & 0x07))
            mcs = _byte_at(payload, pos)
            pos += 1
            data, pos = _sub_blocks(payload, pos)
            indices = _lzw_decode(data, mcs)
            if len(indices) < w * h:
                raise ValueError("short GIF index stream")
            if any(i >= len(table) for i in indices[: w * h]):
                raise ValueError("index out of palette")
            rows = (
                _interlace_order(h) if iflags & 0x40 else list(range(h))
            )
            out = [b""] * h
            for stored, y in enumerate(rows):
                start = stored * w
                out[y] = b"".join(
                    table[i] for i in indices[start : start + w]
                )
            return w, h, b"".join(out)
        elif b0 == 0x3B:
            break
        else:
            raise ValueError(f"unexpected GIF block 0x{b0:02x}")
    raise ValueError("no image frame in GIF")
