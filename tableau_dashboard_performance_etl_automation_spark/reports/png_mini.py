"""Dependency-free PNG raster canvas — the fallback renderer behind
the day-wise trend chart (tabjolt_email.py:81-122) for containers
without matplotlib.

Everything here is stdlib: the canvas is a flat RGBA ``bytearray``,
drawing is Bresenham lines / filled discs / a built-in 5×7 bitmap
font, and :func:`encode_png` emits a valid 8-bit RGBA PNG through
``zlib`` + ``struct`` (IHDR/IDAT/IEND with CRCs, filter byte 0 per
scanline). Output matches the reference golden's header shape
(1000×600, bit depth 8, color type 6 = RGBA).

The font is hand-drawn string art (rows of ``.``/``#``), original to
this repo — legibility over beauty; glyphs cover the characters the
chart actually emits (A–Z, digits, basic punctuation), lowercase maps
to uppercase.
"""

from __future__ import annotations

import struct
import zlib

#: 5×7 glyphs. Row strings use '#' for set pixels. Lowercase input
#: renders via the uppercase glyph; unknown characters render blank.
_FONT: dict[str, tuple[str, ...]] = {
    "A": (".###.", "#...#", "#...#", "#####", "#...#", "#...#", "#...#"),
    "B": ("####.", "#...#", "#...#", "####.", "#...#", "#...#", "####."),
    "C": (".###.", "#...#", "#....", "#....", "#....", "#...#", ".###."),
    "D": ("####.", "#...#", "#...#", "#...#", "#...#", "#...#", "####."),
    "E": ("#####", "#....", "#....", "####.", "#....", "#....", "#####"),
    "F": ("#####", "#....", "#....", "####.", "#....", "#....", "#...."),
    "G": (".###.", "#...#", "#....", "#.###", "#...#", "#...#", ".###."),
    "H": ("#...#", "#...#", "#...#", "#####", "#...#", "#...#", "#...#"),
    "I": ("#####", "..#..", "..#..", "..#..", "..#..", "..#..", "#####"),
    "J": ("..###", "...#.", "...#.", "...#.", "...#.", "#..#.", ".##.."),
    "K": ("#...#", "#..#.", "#.#..", "##...", "#.#..", "#..#.", "#...#"),
    "L": ("#....", "#....", "#....", "#....", "#....", "#....", "#####"),
    "M": ("#...#", "##.##", "#.#.#", "#.#.#", "#...#", "#...#", "#...#"),
    "N": ("#...#", "##..#", "#.#.#", "#..##", "#...#", "#...#", "#...#"),
    "O": (".###.", "#...#", "#...#", "#...#", "#...#", "#...#", ".###."),
    "P": ("####.", "#...#", "#...#", "####.", "#....", "#....", "#...."),
    "Q": (".###.", "#...#", "#...#", "#...#", "#.#.#", "#..#.", ".##.#"),
    "R": ("####.", "#...#", "#...#", "####.", "#.#..", "#..#.", "#...#"),
    "S": (".####", "#....", "#....", ".###.", "....#", "....#", "####."),
    "T": ("#####", "..#..", "..#..", "..#..", "..#..", "..#..", "..#.."),
    "U": ("#...#", "#...#", "#...#", "#...#", "#...#", "#...#", ".###."),
    "V": ("#...#", "#...#", "#...#", "#...#", "#...#", ".#.#.", "..#.."),
    "W": ("#...#", "#...#", "#...#", "#.#.#", "#.#.#", "##.##", "#...#"),
    "X": ("#...#", "#...#", ".#.#.", "..#..", ".#.#.", "#...#", "#...#"),
    "Y": ("#...#", "#...#", ".#.#.", "..#..", "..#..", "..#..", "..#.."),
    "Z": ("#####", "....#", "...#.", "..#..", ".#...", "#....", "#####"),
    "0": (".###.", "#...#", "#..##", "#.#.#", "##..#", "#...#", ".###."),
    "1": ("..#..", ".##..", "..#..", "..#..", "..#..", "..#..", "#####"),
    "2": (".###.", "#...#", "....#", "...#.", "..#..", ".#...", "#####"),
    "3": (".###.", "#...#", "....#", "..##.", "....#", "#...#", ".###."),
    "4": ("...#.", "..##.", ".#.#.", "#..#.", "#####", "...#.", "...#."),
    "5": ("#####", "#....", "####.", "....#", "....#", "#...#", ".###."),
    "6": (".###.", "#....", "#....", "####.", "#...#", "#...#", ".###."),
    "7": ("#####", "....#", "...#.", "..#..", ".#...", ".#...", ".#..."),
    "8": (".###.", "#...#", "#...#", ".###.", "#...#", "#...#", ".###."),
    "9": (".###.", "#...#", "#...#", ".####", "....#", "....#", ".###."),
    "-": (".....", ".....", ".....", "#####", ".....", ".....", "....."),
    ".": (".....", ".....", ".....", ".....", ".....", ".##..", ".##.."),
    ",": (".....", ".....", ".....", ".....", ".##..", "..#..", ".#..."),
    ":": (".....", ".##..", ".##..", ".....", ".##..", ".##..", "....."),
    "/": ("....#", "....#", "...#.", "..#..", ".#...", "#....", "#...."),
    "(": ("...#.", "..#..", ".#...", ".#...", ".#...", "..#..", "...#."),
    ")": (".#...", "..#..", "...#.", "...#.", "...#.", "..#..", ".#..."),
    "%": ("##..#", "##..#", "...#.", "..#..", ".#...", "#..##", "#..##"),
    " ": (".....",) * 7,
}

GLYPH_W, GLYPH_H = 5, 7
#: inter-glyph advance (glyph width + 1px gap)
ADVANCE = GLYPH_W + 1


class Canvas:
    """Flat RGBA raster with the primitives the chart needs."""

    def __init__(self, width: int, height: int, bg=(255, 255, 255, 255)):
        self.width = width
        self.height = height
        self.buf = bytearray(bg) * (width * height)

    def set_pixel(self, x: int, y: int, rgba) -> None:
        if 0 <= x < self.width and 0 <= y < self.height:
            i = 4 * (y * self.width + x)
            self.buf[i : i + 4] = bytes(rgba)

    def line(self, x0: int, y0: int, x1: int, y1: int, rgba, thick: int = 1) -> None:
        """Bresenham; ``thick`` widens perpendicular-ish by stamping a
        small square at each step (fine at chart line widths)."""
        dx, dy = abs(x1 - x0), -abs(y1 - y0)
        sx, sy = (1 if x0 < x1 else -1), (1 if y0 < y1 else -1)
        err = dx + dy
        r = thick // 2
        while True:
            for ox in range(-r, thick - r):
                for oy in range(-r, thick - r):
                    self.set_pixel(x0 + ox, y0 + oy, rgba)
            if x0 == x1 and y0 == y1:
                break
            e2 = 2 * err
            if e2 >= dy:
                err += dy
                x0 += sx
            if e2 <= dx:
                err += dx
                y0 += sy

    def disc(self, cx: int, cy: int, r: int, rgba) -> None:
        for y in range(-r, r + 1):
            for x in range(-r, r + 1):
                if x * x + y * y <= r * r:
                    self.set_pixel(cx + x, cy + y, rgba)

    def text(
        self,
        x: int,
        y: int,
        s: str,
        rgba,
        scale: int = 1,
        rot: int = 0,
    ) -> None:
        """Draw ``s`` with top-left anchor (x, y).

        ``rot`` ∈ {0, 90, 45}: 0 = horizontal; 90 = vertical
        bottom-to-top (axis label); 45 = glyphs stepped diagonally
        (rotated date ticks — per-glyph stepping, not true raster
        rotation; deterministic and legible at tick sizes). For 45
        the anchor is the LAST character and earlier characters step
        down-left — matplotlib's ``rotation=45`` tick layout, where
        the label's upper-right end sits at the tick.
        """
        for i, ch in enumerate(s):
            g = _FONT.get(ch.upper())
            if g is None:
                continue
            if rot == 0:
                gx, gy = x + i * ADVANCE * scale, y
            elif rot == 90:
                gx, gy = x, y - i * ADVANCE * scale
            else:  # 45: last char at anchor, earlier chars down-left
                step = int(ADVANCE * scale * 0.7071)
                back = (len(s) - 1 - i) * step
                gx, gy = x - back, y + back
            for ry, row in enumerate(g):
                for rx, c in enumerate(row):
                    if c != "#":
                        continue
                    if rot == 90:
                        # rotate glyph 90° CCW: (rx, ry) -> (ry, -rx)
                        px, py = gx + ry * scale, gy - rx * scale
                    else:
                        px, py = gx + rx * scale, gy + ry * scale
                    for ox in range(scale):
                        for oy in range(scale):
                            self.set_pixel(px + ox, py + oy, rgba)

    def text_width(self, s: str, scale: int = 1) -> int:
        return max(len(s) * ADVANCE * scale - scale, 0)


def encode_png(canvas: Canvas) -> bytes:
    """Serialize the canvas as an 8-bit RGBA PNG (filter 0 rows)."""

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    w, h, buf = canvas.width, canvas.height, canvas.buf
    stride = w * 4
    raw = b"".join(
        b"\x00" + bytes(buf[y * stride : (y + 1) * stride]) for y in range(h)
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def decode_png_header(data: bytes) -> tuple[int, int, int, int]:
    """(width, height, bit_depth, color_type) from a PNG byte string —
    the test-side twin of :func:`encode_png`."""
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    w, h = struct.unpack(">II", data[16:24])
    return w, h, data[24], data[25]


def decode_png(data: bytes) -> tuple[int, int, int, bytes]:
    """Full stdlib PNG decode → ``(width, height, channels,
    row-major samples)`` — the read-side twin of :func:`encode_png`,
    the reference decoder the tests check the encoder against.

    Supports the non-interlaced 8-bit-per-sample formats (grayscale,
    gray+alpha, RGB, RGBA) with all five scanline filters (None /
    Sub / Up / Average / Paeth, per the PNG spec §9) — which covers
    every PNG this repo emits plus library-written charts like the
    reference golden. Palette/16-bit/interlaced images raise
    ``NotImplementedError`` (they need a real image library)."""
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, idat = 8, []
    w = h = channels = None
    while pos + 8 <= len(data):
        (ln,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        chunk = data[pos + 8 : pos + 8 + ln]
        if tag == b"IHDR":
            w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", chunk
            )
            channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(ctype)
            if depth != 8 or interlace or channels is None:
                raise NotImplementedError(
                    f"PNG variant not supported by the stdlib decoder "
                    f"(depth={depth}, color_type={ctype}, "
                    f"interlace={interlace})"
                )
        elif tag == b"IDAT":
            idat.append(chunk)
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if w is None:
        raise ValueError("no IHDR chunk")
    raw = zlib.decompress(b"".join(idat))
    stride = w * channels
    if len(raw) != h * (1 + stride):
        raise ValueError("IDAT size mismatch")
    out = bytearray(h * stride)
    prev = bytearray(stride)
    pos = 0
    for y in range(h):
        f = raw[pos]
        pos += 1
        line = bytearray(raw[pos : pos + stride])
        pos += stride
        if f == 1:  # Sub
            for i in range(channels, stride):
                line[i] = (line[i] + line[i - channels]) & 0xFF
        elif f == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif f == 3:  # Average
            for i in range(stride):
                a = line[i - channels] if i >= channels else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for i in range(stride):
                a = line[i - channels] if i >= channels else 0
                c = prev[i - channels] if i >= channels else 0
                b = prev[i]
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                line[i] = (line[i] + pr) & 0xFF
        elif f != 0:
            raise ValueError(f"unknown PNG filter {f}")
        out[y * stride : (y + 1) * stride] = line
        prev = line
    return w, h, channels, bytes(out)
