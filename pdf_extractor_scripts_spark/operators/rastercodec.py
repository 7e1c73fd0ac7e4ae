"""Pure-stdlib legacy raster codecs: GIF, BMP, TIFF.

With PNG and JPEG real, these three close out the raster formats the
office/web containers actually embed (DOCX `word/media`, MHTML stored
resources, ODT `Pictures/`): GIF87a/89a (LSB-first variable-width LZW,
palette, interlace, first frame of animations, transparency over
white), uncompressed BMP (1/4/8/24/32-bit, bottom-up or top-down),
and baseline TIFF (strips; compression 1 = none, 5 = LZW — the
MSB-first EarlyChange coder the PDF parser already implements as
/LZWDecode — and 32773 = PackBits, plus horizontal-differencing
predictor 2). All emit 8-bit luma (BT.601, the channel-reduction
convention shared by every codec here); unsupported variants raise so
the media audit's fallback accounting stays honest.
"""

from __future__ import annotations

import math
import struct

from .pngcodec import MAX_PIXELS

_LR, _LG, _LB = 299, 587, 114


class RasterError(ValueError):
    pass


def _luma_rgb(r: int, g: int, b: int) -> int:
    return (_LR * r + _LG * g + _LB * b + 500) // 1000


# ---------------------------------------------------------------------------
# GIF


def _gif_lzw_decode(data: bytes, min_code: int, npix: int) -> bytes:
    """GIF-variant LZW: LSB-first bit packing, per-image minimum code
    size, clear = 2^min, EOI = clear+1 (spec: GIF89a Appendix F)."""
    clear = 1 << min_code
    eoi = clear + 1
    width = min_code + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    out = bytearray()
    buf = bits = 0
    prev: bytes | None = None
    for byte in data:
        buf |= byte << bits
        bits += 8
        while bits >= width:
            code = buf & ((1 << width) - 1)
            buf >>= width
            bits -= width
            if code == clear:
                table = [bytes([i]) for i in range(clear)] + [b"", b""]
                width = min_code + 1
                prev = None
                continue
            if code == eoi:
                return bytes(out)
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise RasterError("GIF LZW code out of range")
            out += entry
            prev = entry
            if len(table) == (1 << width) and width < 12:
                width += 1
            if len(out) >= npix:
                return bytes(out)
    return bytes(out)


def decode_gif(data: bytes) -> tuple[int, int, bytes]:
    """First frame of a GIF → (width, height, 8-bit luma); transparent
    pixels composite to white."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise RasterError("not a GIF signature")
    if len(data) < 13:
        raise RasterError("truncated GIF header")
    sw, sh, flags, _bg, _ar = struct.unpack("<HHBBB", data[6:13])
    pos = 13
    gct = b""
    if flags & 0x80:
        n = 2 << (flags & 7)
        gct = data[pos:pos + 3 * n]
        pos += 3 * n
    transparent = -1
    while pos < len(data):
        b0 = data[pos]
        if b0 == 0x3B:  # trailer
            break
        if b0 == 0x21:  # extension
            label = data[pos + 1]
            pos += 2
            if label == 0xF9 and data[pos] >= 4:  # graphic control
                gflags = data[pos + 1]
                if gflags & 1:
                    transparent = data[pos + 4]
            while pos < len(data) and data[pos]:
                pos += 1 + data[pos]
            pos += 1
            continue
        if b0 != 0x2C:
            raise RasterError(f"unknown GIF block 0x{b0:02x}")
        if pos + 10 > len(data):
            raise RasterError("truncated GIF image descriptor")
        left, top, w, h, iflags = struct.unpack("<HHHHB", data[pos + 1:pos + 10])
        pos += 10
        lct = gct
        if iflags & 0x80:
            n = 2 << (iflags & 7)
            lct = data[pos:pos + 3 * n]
            pos += 3 * n
        if not lct:
            raise RasterError("GIF image with no color table")
        min_code = data[pos]
        pos += 1
        comp = bytearray()
        while pos < len(data) and data[pos]:
            ln = data[pos]
            comp += data[pos + 1:pos + 1 + ln]
            pos += 1 + ln
        pos += 1
        if w == 0 or h == 0:
            raise RasterError("zero-dimension GIF frame")
        if w * h > MAX_PIXELS:
            raise RasterError(f"GIF frame {w}x{h} exceeds the {MAX_PIXELS}-pixel cap")
        idx = _gif_lzw_decode(bytes(comp), min_code, w * h)
        if len(idx) < w * h:
            raise RasterError("GIF pixel data underruns the frame")
        lum = bytearray(w * h)
        pal = [(_luma_rgb(lct[3 * i], lct[3 * i + 1], lct[3 * i + 2])
                if 3 * i + 2 < len(lct) else 0)
               for i in range(len(lct) // 3)]
        rows: list[int]
        if iflags & 0x40:  # interlaced: 4 passes
            rows = (list(range(0, h, 8)) + list(range(4, h, 8))
                    + list(range(2, h, 4)) + list(range(1, h, 2)))
        else:
            rows = list(range(h))
        for src_y, y in enumerate(rows):
            for x in range(w):
                i = idx[src_y * w + x]
                if i == transparent:
                    lum[y * w + x] = 255
                elif i < len(pal):
                    lum[y * w + x] = pal[i]
                else:
                    raise RasterError("GIF index outside color table")
        return w, h, bytes(lum)  # first frame only
    raise RasterError("GIF with no image descriptor")


def encode_gif(indices: bytes, width: int, height: int, palette: bytes,
               interlace: bool = False, transparent: int = -1) -> bytes:
    """Encoder twin: palette indices → single-frame GIF89a. Emits
    9-bit-max LZW with a clear code per 256 codes (legal and simple)."""
    if len(palette) % 3:
        raise RasterError("palette must be RGB triples")
    n = max(2, len(palette) // 3)
    bits = max(1, (n - 1).bit_length())
    size_field = bits - 1
    pal = palette + b"\x00" * (3 * (1 << bits) - len(palette))
    min_code = max(2, bits)
    clear = 1 << min_code

    # plain per-pixel emission with periodic clear: every code is a
    # root code, so width stays min_code+1 as long as we clear before
    # the table grows past the width ceiling
    out_bits = []
    out_bits.append(clear)
    budget = (1 << (min_code + 1)) - clear - 3
    if interlace:
        order = (list(range(0, height, 8)) + list(range(4, height, 8))
                 + list(range(2, height, 4)) + list(range(1, height, 2)))
    else:
        order = list(range(height))
    count = 0
    for y in order:
        for x in range(width):
            if count == budget:
                out_bits.append(clear)
                count = 0
            out_bits.append(indices[y * width + x])
            count += 1
    out_bits.append(clear + 1)  # EOI

    buf = bits_n = 0
    comp = bytearray()
    for code in out_bits:
        buf |= code << bits_n
        bits_n += min_code + 1
        while bits_n >= 8:
            comp.append(buf & 0xFF)
            buf >>= 8
            bits_n -= 8
    if bits_n:
        comp.append(buf & 0xFF)

    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", width, height, 0x80 | size_field, 0, 0)
    out += pal
    if transparent >= 0:
        out += bytes([0x21, 0xF9, 4, 1, 0, 0, transparent, 0])
    out += bytes([0x2C]) + struct.pack(
        "<HHHHB", 0, 0, width, height, 0x40 if interlace else 0)
    out += bytes([min_code])
    for i in range(0, len(comp), 255):
        chunk = comp[i:i + 255]
        out += bytes([len(chunk)]) + chunk
    out += bytes([0, 0x3B])
    return bytes(out)


# ---------------------------------------------------------------------------
# BMP


def decode_bmp(data: bytes) -> tuple[int, int, bytes]:
    """Uncompressed BI_RGB BMP (1/4/8-bit palette, 24/32-bit true
    color) → (width, height, luma)."""
    if data[:2] != b"BM" or len(data) < 54:
        raise RasterError("not a BMP")
    (pix_off,) = struct.unpack("<I", data[10:14])
    (hdr_size,) = struct.unpack("<I", data[14:18])
    if hdr_size < 40:
        raise RasterError("pre-BITMAPINFOHEADER BMP")
    w, h_raw = struct.unpack("<ii", data[18:26])
    planes, bpp = struct.unpack("<HH", data[26:30])
    (comp,) = struct.unpack("<I", data[30:34])
    if comp not in (0, 3):  # BI_RGB / BI_BITFIELDS-with-default-masks
        raise RasterError(f"unsupported BMP compression {comp}")
    if bpp not in (1, 4, 8, 24, 32):
        raise RasterError(f"unsupported BMP bpp {bpp}")
    top_down = h_raw < 0
    h = abs(h_raw)
    if w <= 0 or h == 0:
        raise RasterError("bad BMP dimensions")
    if w * h > MAX_PIXELS:
        # r7 (ADVICE): header dims are attacker-controlled 32-bit ints — a
        # 70-byte file could otherwise demand a multi-GB luma buffer
        raise RasterError(f"BMP {w}x{h} exceeds the {MAX_PIXELS}-pixel cap")
    pal = []
    if bpp <= 8:
        (ncol,) = struct.unpack("<I", data[46:50])
        ncol = ncol or (1 << bpp)
        base = 14 + hdr_size
        for i in range(ncol):
            b, g, r = data[base + 4 * i:base + 4 * i + 3]
            pal.append(_luma_rgb(r, g, b))
    rowlen = ((w * bpp + 31) // 32) * 4
    lum = bytearray(w * h)
    for ry in range(h):
        y = ry if top_down else h - 1 - ry
        row = data[pix_off + ry * rowlen:pix_off + (ry + 1) * rowlen]
        if len(row) < (w * bpp + 7) // 8:
            raise RasterError("BMP pixel data underrun")
        for x in range(w):
            if bpp == 24 or bpp == 32:
                step = bpp // 8
                b, g, r = row[step * x:step * x + 3]
                lum[y * w + x] = _luma_rgb(r, g, b)
            else:
                per = 8 // bpp
                v = (row[x // per] >> (8 - bpp * (x % per + 1))) \
                    & ((1 << bpp) - 1)
                if v >= len(pal):
                    raise RasterError("BMP palette index out of range")
                lum[y * w + x] = pal[v]
    return w, h, bytes(lum)


def encode_bmp(pixels: bytes, width: int, height: int,
               bpp: int = 24, top_down: bool = False) -> bytes:
    """Encoder twin: luma bytes → gray BMP (24-bit RGB triples of the
    value, or 8-bit with a gray palette)."""
    if bpp == 8:
        pal = b"".join(bytes([i, i, i, 0]) for i in range(256))
        rowlen = ((width * 8 + 31) // 32) * 4
        rows = []
        for y in range(height):
            row = bytearray(pixels[y * width:(y + 1) * width])
            row += b"\x00" * (rowlen - len(row))
            rows.append(bytes(row))
    elif bpp == 24:
        pal = b""
        rowlen = ((width * 24 + 31) // 32) * 4
        rows = []
        for y in range(height):
            row = bytearray()
            for x in range(width):
                v = pixels[y * width + x]
                row += bytes([v, v, v])
            row += b"\x00" * (rowlen - len(row))
            rows.append(bytes(row))
    else:
        raise RasterError("encoder supports 8/24 bpp")
    if not top_down:
        rows.reverse()
    body = b"".join(rows)
    pix_off = 14 + 40 + len(pal)
    hdr = b"BM" + struct.pack("<IHHI", pix_off + len(body), 0, 0, pix_off)
    dib = struct.pack("<IiiHHIIiiII", 40, width,
                      -height if top_down else height, 1, bpp, 0,
                      len(body), 2835, 2835, len(pal) // 4, 0)
    return hdr + dib + pal + body


# ---------------------------------------------------------------------------
# TIFF


def _tiff_packbits(data: bytes, need: int) -> bytes:
    out = bytearray()
    i = 0
    while i < len(data) and len(out) < need:
        n = data[i]
        i += 1
        if n < 128:
            out += data[i:i + n + 1]
            i += n + 1
        elif n > 128:
            out += data[i:i + 1] * (257 - n)
            i += 1
    return bytes(out)


def decode_tiff(data: bytes) -> tuple[int, int, bytes]:
    """Baseline strip TIFF → (width, height, luma): gray or RGB,
    8-bit samples, compression 1 (none) / 5 (LZW, MSB-first
    EarlyChange — shared with the PDF /LZWDecode implementation) /
    32773 (PackBits), predictor 2 supported. Tiled, 16-bit and palette
    TIFFs reject honestly."""
    from ..sources.pdfparse import _lzw_decode, _unpredict

    if data[:4] == b"II*\x00":
        e = "<"
    elif data[:4] == b"MM\x00*":
        e = ">"
    else:
        raise RasterError("not a TIFF")
    (ifd_off,) = struct.unpack(e + "I", data[4:8])
    if ifd_off + 2 > len(data):
        raise RasterError("truncated IFD offset")
    (n_entries,) = struct.unpack(e + "H", data[ifd_off:ifd_off + 2])
    if ifd_off + 2 + 12 * n_entries > len(data):
        raise RasterError("truncated IFD")
    tags: dict[int, list[int]] = {}
    type_size = {1: 1, 3: 2, 4: 4}
    for i in range(n_entries):
        base = ifd_off + 2 + 12 * i
        tag, typ, cnt = struct.unpack(e + "HHI", data[base:base + 8])
        if typ not in type_size:
            continue
        sz = type_size[typ] * cnt
        raw = data[base + 8:base + 12] if sz <= 4 else None
        if raw is None:
            (off,) = struct.unpack(e + "I", data[base + 8:base + 12])
            raw = data[off:off + sz]
        fmt = {1: "B", 3: "H", 4: "I"}[typ]
        vals = list(struct.unpack(e + fmt * cnt, raw[:sz]))
        tags[tag] = vals

    def one(tag, default=None):
        v = tags.get(tag)
        if v is None:
            if default is None:
                raise RasterError(f"TIFF missing tag {tag}")
            return default
        return v[0]

    w, h = one(256), one(257)
    if w * h > MAX_PIXELS:
        raise RasterError(f"TIFF {w}x{h} exceeds the {MAX_PIXELS}-pixel cap")
    comp = one(259, 1)
    photometric = one(262, 1)
    spp = one(277, 1)
    bits = tags.get(258, [8])
    predictor = one(317, 1)
    if any(b != 8 for b in bits):
        raise RasterError("non-8-bit TIFF samples unsupported")
    if photometric not in (0, 1, 2):
        raise RasterError(f"unsupported photometric {photometric}")
    if 322 in tags:
        raise RasterError("tiled TIFF unsupported")
    offsets = tags.get(273)
    counts = tags.get(279)
    if not offsets or not counts or len(offsets) != len(counts):
        raise RasterError("bad strip tables")
    rps = one(278, h)
    raw = bytearray()
    for row0, (off, cnt) in enumerate(zip(offsets, counts)):
        strip = data[off:off + cnt]
        nrows = min(rps, h - row0 * rps)
        need = nrows * w * spp
        if comp == 1:
            dec = strip[:need]
        elif comp == 5:
            # max_out caps the LZW expansion at the strip's geometry (r7,
            # ADVICE: unbounded decode could balloon ~2700x before slicing).
            # Decoding stops once ``need`` bytes are out, so a strip that is
            # corrupt only after its first ``need`` decoded bytes decodes to
            # that valid prefix instead of raising: the codes past it would
            # only have made bytes the strip's rows have no room for.
            dec = _lzw_decode(strip, max_out=need)
        elif comp == 32773:
            dec = _tiff_packbits(strip, need)
        else:
            raise RasterError(f"unsupported TIFF compression {comp}")
        if len(dec) < need:
            raise RasterError("TIFF strip underrun")
        if predictor == 2:
            dec = _unpredict(dec, {"Predictor": 2, "Colors": spp,
                                   "BitsPerComponent": 8, "Columns": w})
        raw += dec
    lum = bytearray(w * h)
    if spp == 1:
        for i in range(w * h):
            v = raw[i]
            lum[i] = 255 - v if photometric == 0 else v
    elif spp >= 3:
        for i in range(w * h):
            lum[i] = _luma_rgb(raw[spp * i], raw[spp * i + 1],
                               raw[spp * i + 2])
    else:
        raise RasterError(f"unsupported samples/pixel {spp}")
    return w, h, bytes(lum)


def encode_tiff(pixels: bytes, width: int, height: int,
                compression: int = 1, rows_per_strip: int = 8,
                predictor: int = 1, big_endian: bool = False) -> bytes:
    """Encoder twin: gray 8-bit strip TIFF with compression 1/5/32773
    and optional predictor 2."""
    from ..sources.pdfparse import _lzw_encode

    e = ">" if big_endian else "<"

    def pack_strip(rows: bytes) -> bytes:
        if predictor == 2:
            out = bytearray(rows)
            for r in range(0, len(out), width):
                for i in range(r + width - 1, r, -1):
                    out[i] = (out[i] - out[i - 1]) & 0xFF
            rows = bytes(out)
        if compression == 1:
            return rows
        if compression == 5:
            return _lzw_encode(rows)
        if compression == 32773:
            # naive PackBits: literal runs of ≤128
            out = bytearray()
            for i in range(0, len(rows), 128):
                chunk = rows[i:i + 128]
                out += bytes([len(chunk) - 1]) + chunk
            return bytes(out)
        raise RasterError("encoder compression must be 1/5/32773")

    strips = []
    for y0 in range(0, height, rows_per_strip):
        rows = pixels[y0 * width:min(height, y0 + rows_per_strip) * width]
        strips.append(pack_strip(rows))

    n_tags = 9 + (1 if predictor == 2 else 0)
    ifd_off = 8
    data_off = ifd_off + 2 + 12 * n_tags + 4
    multi = len(strips) > 1
    strip_off_tbl = data_off
    strip_cnt_tbl = strip_off_tbl + (4 * len(strips) if multi else 0)
    pix_start = strip_cnt_tbl + (4 * len(strips) if multi else 0)
    offs = []
    pos = pix_start
    for s in strips:
        offs.append(pos)
        pos += len(s)

    def entry(tag, typ, cnt, val):
        # inline values are LEFT-justified in the 4-byte field, so a
        # big-endian SHORT must be packed as H + 2 pad bytes, not I
        if typ == 3 and cnt == 1:
            payload = struct.pack(e + "H", val) + b"\x00\x00"
        else:
            payload = struct.pack(e + "I", val)
        return struct.pack(e + "HHI", tag, typ, cnt) + payload

    entries = [
        entry(256, 4, 1, width),
        entry(257, 4, 1, height),
        entry(258, 3, 1, 8),
        entry(259, 3, 1, compression),
        entry(262, 3, 1, 1),
        entry(273, 4, len(strips), offs[0] if not multi else strip_off_tbl),
        entry(277, 3, 1, 1),
        entry(278, 4, 1, rows_per_strip),
        entry(279, 4, len(strips),
              len(strips[0]) if not multi else strip_cnt_tbl),
    ]
    if predictor == 2:
        entries.append(entry(317, 3, 1, 2))
    assert len(entries) == n_tags
    out = bytearray()
    out += (b"MM\x00*" if big_endian else b"II*\x00")
    out += struct.pack(e + "I", ifd_off)
    out += struct.pack(e + "H", len(entries))
    out += b"".join(entries)
    out += struct.pack(e + "I", 0)
    if multi:
        out += b"".join(struct.pack(e + "I", o) for o in offs)
        out += b"".join(struct.pack(e + "I", len(s)) for s in strips)
    for s in strips:
        out += s
    return bytes(out)


# ---------------------------------------------------------------------------
# decode_media adapters


def _stats(fn):
    def run(payload: bytes) -> list[float]:
        w, h, px = fn(payload)
        n = len(px)
        mean = sum(px) / n
        var = sum((p - mean) ** 2 for p in px) / n
        dark = sum(1 for p in px if p < 64) / n
        return [float(w), float(h), mean, math.sqrt(var), dark]

    return run


gif_pixel_stats = _stats(decode_gif)
bmp_pixel_stats = _stats(decode_bmp)
tiff_pixel_stats = _stats(decode_tiff)
