"""Pure-stdlib GIF codec (87a/89a, 8-bit palettized, REAL LZW) — narrows
the compressed-media waiver: GIF's LZW is lossless *entropy coding*, fully
and exactly decodable with nothing but integer arithmetic, unlike the
numerical signal-processing codecs (JPEG/H.264/MP3) that stay waived. PNG
(r6) proved zlib scanlines, WAV (r8) PCM, AVI (r9) uncompressed DIB; this
module proves a variable-width LZW bitstream survives the engine intact.

Both directions are implemented:

* :func:`encode_gif` — spec-conformant writer: ``GIF89a`` header, logical
  screen descriptor, 256-entry global color table, image descriptor
  (optionally INTERLACED — the four-pass row order), and a real LZW
  compressor (variable code width 9→12 bits LSB-first, CLEAR emitted on
  table overflow at 4096) packed into ≤255-byte sub-blocks.
* :func:`decode_gif` — strict reader: validates magic/descriptors, skips
  89a extension blocks by sub-block lengths, honors local color tables,
  decompresses the LZW stream (KwKwK case, deferred-clear tolerance,
  width growth after each table add), de-interlaces when flagged, and
  raises ``ValueError`` on every corruption class — bad magic, truncated
  descriptor/palette/sub-block, an LZW code beyond the table, pixel
  overflow/underflow vs the descriptor dimensions, a second image
  (animation is out of scope), or a missing trailer. Never a struct.error,
  never a silent wrong answer.

Scope: 8-bit-or-less palettized GIFs. :func:`decode_gif` is the strict
STILL reader (multi-image input fails loudly, pointing at the animation
API); :func:`decode_gif_animation` / :func:`encode_gif_animation` handle
multi-frame GIF89a with per-frame Graphic Control Extension delays —
full-frame, disposal-none animation only (partial-frame composition and
transparency are a renderer concern and refuse loudly). The reference connector never interprets bytes (its contract
ends at the stream: ``CephRgwInputStream.java:103-120``); this codec is
engine-side value-add for the multimodal-column family (SURVEY.md §2B
north-star rows), used by ``operators/multimodal.py::mm_gif_decode``
under ``mapInPandas``.
"""

from __future__ import annotations

import struct

_MAGICS = (b"GIF87a", b"GIF89a")
_MAX_CODE = 4096  # LZW table ceiling (12-bit codes)

# interlace passes: (first row, step)
_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _interlace_order(height: int) -> list[int]:
    """Row indices in GIF interlace (four-pass) transmission order."""
    order = []
    for first, step in _INTERLACE_PASSES:
        order.extend(range(first, height, step))
    return order


# --------------------------------------------------------------------- LZW
class _BitWriter:
    """LSB-first bit packer (GIF's LZW bit order)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, code: int, width: int) -> None:
        self._acc |= code << self._n
        self._n += width
        while self._n >= 8:
            self.out.append(self._acc & 0xFF)
            self._acc >>= 8
            self._n -= 8

    def flush(self) -> bytes:
        if self._n:
            self.out.append(self._acc & 0xFF)
            self._acc = 0
            self._n = 0
        return bytes(self.out)


def lzw_encode(data: bytes, min_code_size: int) -> bytes:
    """GIF LZW compress ``data`` (palette indices < 2^min_code_size).

    Emits CLEAR first (as real encoders do), grows the code width after
    each table add, and resets via CLEAR when the table hits 4096 — the
    exact dual of :func:`lzw_decode`'s growth rule, and decodable by any
    conformant reader."""
    if not 2 <= min_code_size <= 8:
        raise ValueError(f"bad LZW min code size {min_code_size}")
    clear = 1 << min_code_size
    end = clear + 1
    bw = _BitWriter()

    def fresh() -> dict[bytes, int]:
        return {bytes([i]): i for i in range(clear)}

    table = fresh()
    next_code = end + 1
    width = min_code_size + 1
    bw.write(clear, width)
    buf = b""
    for b in data:
        cand = buf + bytes([b])
        if cand in table:
            buf = cand
            continue
        bw.write(table[buf], width)
        if next_code < _MAX_CODE:
            table[cand] = next_code
            next_code += 1
            # the decoder's table trails the encoder's by ONE entry (it
            # reconstructs each phrase a step later), so the encoder must
            # switch width one add later than the decoder: after entry
            # 1<<width exists (next_code passes it), not after (1<<width)-1
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        else:
            bw.write(clear, width)
            table = fresh()
            next_code = end + 1
            width = min_code_size + 1
        buf = bytes([b])
    if buf:
        bw.write(table[buf], width)
    bw.write(end, width)
    return bw.flush()


def lzw_decode(data: bytes, min_code_size: int, expect: int) -> bytes:
    """GIF LZW decompress exactly ``expect`` output bytes.

    Implements the KwKwK special case (code == next free slot), tolerates
    deferred clear (table full, encoder keeps emitting existing codes),
    and raises ``ValueError`` on a code beyond the table, output past
    ``expect``, or stream exhaustion before ``expect`` bytes arrive."""
    if not 2 <= min_code_size <= 8:
        raise ValueError(f"bad LZW min code size {min_code_size}")
    clear = 1 << min_code_size
    end = clear + 1
    width = min_code_size + 1
    acc = n = pos = 0
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    prev: bytes | None = None

    def read_code() -> int | None:
        nonlocal acc, n, pos
        while n < width:
            if pos >= len(data):
                return None
            acc |= data[pos] << n
            n += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        n -= width
        return code

    while True:
        code = read_code()
        if code is None:
            raise ValueError(
                f"LZW stream exhausted: {len(out)} of {expect} pixels decoded"
            )
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = min_code_size + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError(f"first LZW code {code} is not a literal")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table) and len(table) < _MAX_CODE:
            entry = prev + prev[:1]  # KwKwK
        else:
            raise ValueError(
                f"invalid LZW code {code} (table size {len(table)})"
            )
        out += entry
        if len(out) > expect:
            raise ValueError(
                f"LZW output overflow: {len(out)} > {expect} declared pixels"
            )
        if prev is not None and len(table) < _MAX_CODE:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    if len(out) != expect:
        raise ValueError(
            f"LZW stream ended at {len(out)} of {expect} declared pixels"
        )
    return bytes(out)


# --------------------------------------------------------------- container
def _sub_blocks(payload: bytes) -> bytes:
    """Pack a payload into GIF data sub-blocks (≤255 bytes + terminator)."""
    out = bytearray()
    for i in range(0, len(payload), 255):
        chunk = payload[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


def encode_gif(
    width: int,
    height: int,
    pixels: bytes,
    *,
    interlace: bool = False,
    palette: bytes | None = None,
) -> bytes:
    """Encode row-major 8-bit ``pixels`` (palette indices) as a GIF89a.

    ``palette`` is 3·256 RGB bytes (default: grayscale identity, index i →
    (i, i, i)). With ``interlace=True`` rows are written in the four-pass
    interlace order and the descriptor flag is set."""
    if width <= 0 or height <= 0 or width > 0xFFFF or height > 0xFFFF:
        raise ValueError(f"bad dimensions {width}x{height}")
    if len(pixels) != width * height:
        raise ValueError(f"{len(pixels)} pixels for {width}x{height}")
    if palette is None:
        palette = bytes(v for g in range(256) for v in (g, g, g))
    if len(palette) != 768:
        raise ValueError(f"palette must be 768 bytes, got {len(palette)}")
    # logical screen descriptor: GCT present, 8-bit color res, 256 entries
    lsd = struct.pack("<HHBBB", width, height, 0b1111_0111, 0, 0)
    flags = 0b0100_0000 if interlace else 0
    descriptor = struct.pack("<BHHHHB", 0x2C, 0, 0, width, height, flags)
    if interlace:
        rows = [pixels[y * width : (y + 1) * width] for y in range(height)]
        body = b"".join(rows[y] for y in _interlace_order(height))
    else:
        body = pixels
    lzw = lzw_encode(body, 8)
    return (
        b"GIF89a"
        + lsd
        + palette
        + descriptor
        + bytes([8])  # LZW minimum code size
        + _sub_blocks(lzw)
        + b"\x3b"  # trailer
    )


def _read_sub_blocks(data: bytes, pos: int) -> tuple[bytes, int]:
    """Concatenate data sub-blocks starting at ``pos``; return (payload,
    position after the 0-length terminator). Raises on truncation."""
    out = bytearray()
    while True:
        if pos >= len(data):
            raise ValueError("truncated sub-block length")
        n = data[pos]
        pos += 1
        if n == 0:
            return bytes(out), pos
        if pos + n > len(data):
            raise ValueError(f"truncated sub-block body ({n} bytes declared)")
        out += data[pos : pos + n]
        pos += n


def _walk(data: bytes):
    """Walk a GIF block by block — the one parser both decoders share.

    Yields ``(kind, value)`` events in stream order:

    * ``("screen", (sw, sh))`` once, after the header and global table;
    * ``("ext", (label, payload))`` per extension block;
    * ``("image", n)`` at the n-th image introducer (0-based), before its
      descriptor is read;
    * ``("descriptor", (left, top, w, h))`` once that descriptor is read,
      before its color table and data;
    * ``("pixels", (body, palette, interlaced))`` once its LZW data is
      decoded and de-interlaced.

    A decoder refuses an image it cannot take by raising at an event.
    The walker raises ``ValueError`` on every corruption class (see the
    module docstring), including a stream with no image or no trailer."""
    if len(data) < 13:
        raise ValueError("truncated GIF header")
    if data[:6] not in _MAGICS:
        raise ValueError(f"not a GIF: bad magic {data[:6]!r}")
    sw, sh, packed, _bg, _aspect = struct.unpack("<HHBBB", data[6:13])
    pos = 13
    gct: bytes | None = None
    if packed & 0x80:
        n = 3 * (2 << (packed & 0x07))
        if pos + n > len(data):
            raise ValueError("truncated global color table")
        gct = data[pos : pos + n]
        pos += n
    yield "screen", (sw, sh)

    n_images = 0
    saw_trailer = False
    while pos < len(data):
        introducer = data[pos]
        pos += 1
        if introducer == 0x3B:  # trailer
            saw_trailer = True
            break
        if introducer == 0x21:  # extension: label + sub-blocks
            if pos >= len(data):
                raise ValueError("truncated extension label")
            label = data[pos]
            payload, pos = _read_sub_blocks(data, pos + 1)
            yield "ext", (label, payload)
            continue
        if introducer != 0x2C:
            raise ValueError(f"unknown GIF block introducer 0x{introducer:02x}")
        yield "image", n_images
        if pos + 9 > len(data):
            raise ValueError("truncated image descriptor")
        left, top, w, h, flags = struct.unpack("<HHHHB", data[pos : pos + 9])
        pos += 9
        yield "descriptor", (left, top, w, h)
        lct = None
        if flags & 0x80:
            n = 3 * (2 << (flags & 0x07))
            if pos + n > len(data):
                raise ValueError("truncated local color table")
            lct = data[pos : pos + n]
            pos += n
        palette = lct if lct is not None else gct
        if palette is None:
            raise ValueError("no color table (neither global nor local)")
        if pos >= len(data):
            raise ValueError("missing LZW minimum code size")
        min_code = data[pos]
        pos += 1
        lzw, pos = _read_sub_blocks(data, pos)
        body = lzw_decode(lzw, min_code, w * h)
        if max(body) >= len(palette) // 3:
            raise ValueError(
                f"pixel index {max(body)} outside {len(palette) // 3}-entry "
                "color table"
            )
        interlaced = bool(flags & 0x40)
        if interlaced:
            rows = [body[y * w : (y + 1) * w] for y in range(h)]
            ordered: list[bytes] = [b""] * h
            for src, dst in enumerate(_interlace_order(h)):
                ordered[dst] = rows[src]
            body = b"".join(ordered)
        n_images += 1
        yield "pixels", (body, palette, interlaced)
    if n_images == 0:
        raise ValueError("GIF contains no image descriptor")
    if not saw_trailer:
        raise ValueError("missing GIF trailer")


def decode_gif(data: bytes) -> dict:
    """Strict decode of a single-image GIF.

    Returns ``{"width", "height", "pixels", "palette", "interlaced"}`` —
    ``pixels`` are row-major top-down palette indices (de-interlaced if
    the image was interlaced), ``palette`` the effective (local-overrides-
    global) color table bytes. Raises ``ValueError`` on every corruption
    class (see module docstring).

    Note (ADVICE r9): ``width``/``height`` are the IMAGE DESCRIPTOR's
    dimensions, which real-world GIFs may declare smaller than the
    logical screen — the returned pixel buffer is image-local, NOT
    composited onto the screen canvas; callers must not read these as
    screen dimensions. (A descriptor larger than the screen still
    refuses loudly.)"""
    image: dict = {}
    for kind, value in _walk(data):
        if kind == "screen":
            sw, sh = value
        elif kind == "image" and value > 0:
            raise ValueError(
                "multi-image GIF (animation) is not supported by the "
                "still-image reader — use decode_gif_animation"
            )
        elif kind == "descriptor":
            left, top, w, h = value
            if w <= 0 or h <= 0 or left + w > sw or top + h > sh:
                raise ValueError(
                    f"image {w}x{h}@({left},{top}) exceeds screen {sw}x{sh}"
                )
        elif kind == "pixels":
            body, palette, interlaced = value
            image = {
                "width": w,
                "height": h,
                "pixels": body,
                "palette": palette,
                "interlaced": interlaced,
            }
    return image


# ------------------------------------------------------------- animation
def encode_gif_animation(
    width: int,
    height: int,
    frames: list[bytes],
    delays_cs: list[int],
    *,
    interlace: bool = False,
) -> bytes:
    """Encode full-frame 8-bit grayscale ``frames`` as an animated
    GIF89a: one Graphic Control Extension (delay in centiseconds,
    disposal 'none') + one full-screen image descriptor + LZW data per
    frame, sharing the 256-entry global color table. The strict
    still-image reader (:func:`decode_gif`) refuses this by design;
    :func:`decode_gif_animation` is its multi-frame dual."""
    if width <= 0 or height <= 0 or width > 0xFFFF or height > 0xFFFF:
        raise ValueError(f"bad dimensions {width}x{height}")
    if not frames:
        raise ValueError("animation needs at least one frame")
    if len(delays_cs) != len(frames):
        raise ValueError(
            f"{len(delays_cs)} delays for {len(frames)} frames"
        )
    for i, f in enumerate(frames):
        if len(f) != width * height:
            raise ValueError(f"frame {i}: {len(f)} bytes for {width}x{height}")
    for i, d in enumerate(delays_cs):
        if not 0 <= d <= 0xFFFF:
            raise ValueError(f"frame {i}: delay {d} outside u16")
    palette = bytes(v for g in range(256) for v in (g, g, g))
    lsd = struct.pack("<HHBBB", width, height, 0b1111_0111, 0, 0)
    out = bytearray(b"GIF89a" + lsd + palette)
    flags = 0b0100_0000 if interlace else 0
    for f, d in zip(frames, delays_cs):
        # GCE: disposal none, no transparency, delay in 1/100 s
        out += struct.pack("<BBBBHBB", 0x21, 0xF9, 4, 0, d, 0, 0)
        out += struct.pack("<BHHHHB", 0x2C, 0, 0, width, height, flags)
        if interlace:
            rows = [f[y * width : (y + 1) * width] for y in range(height)]
            body = b"".join(rows[y] for y in _interlace_order(height))
        else:
            body = f
        out += bytes([8]) + _sub_blocks(lzw_encode(body, 8))
    out += b"\x3b"
    return bytes(out)


def decode_gif_animation(data: bytes) -> dict:
    """Strict decode of an animated (or single-image) GIF into frames.

    Returns ``{"width", "height", "n_frames", "delays_cs", "frames",
    "palette"}`` — ``frames`` are top-down row-major palette indices
    (de-interlaced per frame), ``delays_cs`` the per-frame Graphic
    Control Extension delay (0 when a frame carries no GCE). Scope:
    every image must be FULL-SCREEN (left=top=0, image size == screen
    size) with disposal 'none'/'unspecified' and no transparency —
    partial-frame composition and restore-disposal are refused loudly
    (compositing is a renderer concern, not a byte-exact decode).
    Raises ``ValueError`` on every corruption class the still decoder
    does."""
    frames: list[bytes] = []
    delays: list[int] = []
    palette_out: bytes | None = None
    pending_delay = 0
    for kind, value in _walk(data):
        if kind == "screen":
            sw, sh = value
        elif kind == "ext":
            label, payload = value
            if label == 0xF9:  # Graphic Control Extension
                if len(payload) < 4:
                    raise ValueError("truncated graphic control extension")
                gce_flags = payload[0]
                if gce_flags & 0x01:
                    raise ValueError(
                        "transparency is not supported (compositing is a "
                        "renderer concern)"
                    )
                disposal = (gce_flags >> 2) & 0x07
                if disposal > 1:
                    raise ValueError(
                        f"disposal method {disposal} is not supported "
                        "(full-frame animation only)"
                    )
                (pending_delay,) = struct.unpack("<H", payload[1:3])
        elif kind == "descriptor":
            left, top, w, h = value
            if value != (0, 0, sw, sh):
                raise ValueError(
                    f"partial frame {w}x{h}@({left},{top}) on screen {sw}x{sh} "
                    "is not supported (full-frame animation only)"
                )
        elif kind == "pixels":
            body, palette_out, _interlaced = value
            frames.append(body)
            delays.append(pending_delay)
            pending_delay = 0
    return {
        "width": sw,
        "height": sh,
        "n_frames": len(frames),
        "delays_cs": delays,
        "frames": frames,
        "palette": palette_out,
    }
