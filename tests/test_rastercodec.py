"""Legacy raster codecs (operators/rastercodec.py): GIF/BMP/TIFF
decode with hand-built spec vectors + encoder round-trips, and the
office-media dispatch."""

from __future__ import annotations

import struct
import zlib  # noqa: F401  (parity with other codec tests' imports)

import pytest

from pdf_extractor_scripts_spark.operators.rastercodec import (
    RasterError,
    bmp_pixel_stats,
    decode_bmp,
    decode_gif,
    decode_tiff,
    encode_bmp,
    encode_gif,
    encode_tiff,
    gif_pixel_stats,
    tiff_pixel_stats,
)

GRAY4 = bytes([0, 85, 170, 255] * 3)  # 4x3 gray ramp


# ----------------------------------------------------------------- GIF

PAL_GRAY = bytes(v for i in (0, 85, 170, 255) for v in (i, i, i))


def test_gif_roundtrip_plain_and_interlaced():
    idx = bytes([0, 1, 2, 3] * 6)  # 4x6
    for inter in (False, True):
        w, h, px = decode_gif(encode_gif(idx, 4, 6, PAL_GRAY,
                                         interlace=inter))
        assert (w, h) == (4, 6)
        assert list(px) == [0, 85, 170, 255] * 6


def test_gif_transparency_composites_white():
    idx = bytes([0, 1, 0, 1])
    data = encode_gif(idx, 2, 2, PAL_GRAY, transparent=0)
    assert list(decode_gif(data)[2]) == [255, 85, 255, 85]


def test_gif_color_palette_luma():
    pal = bytes([255, 0, 0, 0, 255, 0])  # red, green
    w, h, px = decode_gif(encode_gif(bytes([0, 1]), 2, 1, pal))
    assert list(px) == [76, 150]  # BT.601 integer luma


def test_gif_hand_built_minimal():
    # hand-framed 2x1, 2-entry palette, explicit LZW stream:
    # codes (width 3, min_code=2): clear=4, pixels 0,1, EOI=5
    buf = 0
    bits = 0
    comp = bytearray()
    for code in (4, 0, 1, 5):
        buf |= code << bits
        bits += 3
        while bits >= 8:
            comp.append(buf & 0xFF)
            buf >>= 8
            bits -= 8
    if bits:
        comp.append(buf & 0xFF)
    data = (b"GIF89a" + struct.pack("<HHBBB", 2, 1, 0x80, 0, 0)
            + bytes([10, 10, 10, 200, 200, 200])  # size field 0 → 2 entries
            + bytes([0x2C]) + struct.pack("<HHHHB", 0, 0, 2, 1, 0)
            + bytes([2, len(comp)]) + bytes(comp) + bytes([0, 0x3B]))
    w, h, px = decode_gif(data)
    assert (w, h) == (2, 1) and list(px) == [10, 200]


def test_gif_rejects():
    with pytest.raises(RasterError):
        decode_gif(b"GIF89a" + b"\x00" * 4)  # truncated
    with pytest.raises(RasterError):
        decode_gif(b"NOTGIF" + b"\x00" * 20)
    good = encode_gif(bytes([0, 1, 2, 3]), 2, 2, PAL_GRAY)
    with pytest.raises(RasterError):
        decode_gif(good[:-12])  # pixel data underrun / no descriptor end


# ----------------------------------------------------------------- BMP

def test_bmp_24bit_bottom_up_roundtrip():
    w, h, px = decode_bmp(encode_bmp(GRAY4, 4, 3))
    assert (w, h) == (4, 3) and bytes(px) == GRAY4


def test_bmp_8bit_palette_and_top_down():
    w, h, px = decode_bmp(encode_bmp(GRAY4, 4, 3, bpp=8, top_down=True))
    assert (w, h) == (4, 3) and bytes(px) == GRAY4


def test_bmp_hand_built_1bit():
    # 2x1 1-bit: palette black/white, pixels 1,0 → bits 0b10
    pal = bytes([0, 0, 0, 0]) + bytes([255, 255, 255, 0])
    row = bytes([0b10000000]) + b"\x00\x00\x00"  # padded to 4
    pix_off = 14 + 40 + len(pal)
    hdr = b"BM" + struct.pack("<IHHI", pix_off + 4, 0, 0, pix_off)
    dib = struct.pack("<IiiHHIIiiII", 40, 2, 1, 1, 1, 0, 4, 0, 0, 2, 0)
    w, h, px = decode_bmp(hdr + dib + pal + row)
    assert (w, h) == (2, 1) and list(px) == [255, 0]


def test_bmp_rejects():
    with pytest.raises(RasterError):
        decode_bmp(b"BM" + b"\x00" * 10)
    data = bytearray(encode_bmp(GRAY4, 4, 3))
    data[30] = 1  # BI_RLE8
    with pytest.raises(RasterError):
        decode_bmp(bytes(data))


# ---------------------------------------------------------------- TIFF

@pytest.mark.parametrize("comp", [1, 5, 32773])
@pytest.mark.parametrize("big", [False, True])
def test_tiff_roundtrip_compressions_endians(comp, big):
    px = bytes((x * 7 + y * 3) % 256 for y in range(9) for x in range(5))
    data = encode_tiff(px, 5, 9, compression=comp, rows_per_strip=4,
                       big_endian=big)
    w, h, out = decode_tiff(data)
    assert (w, h) == (5, 9) and bytes(out) == px


def test_tiff_lzw_with_predictor():
    px = bytes((x * 11) % 256 for _ in range(6) for x in range(8))
    data = encode_tiff(px, 8, 6, compression=5, predictor=2)
    assert bytes(decode_tiff(data)[2]) == px


def test_tiff_rejects():
    with pytest.raises(RasterError):
        decode_tiff(b"II*\x00" + b"\x00" * 4)
    good = bytearray(encode_tiff(GRAY4, 4, 3))
    # flip compression tag value to JPEG-in-TIFF (7): honest reject
    idx = good.find(struct.pack("<HHI", 259, 3, 1))
    good[idx + 8] = 7
    with pytest.raises(RasterError):
        decode_tiff(bytes(good))


# ------------------------------------------------------------ dispatch

def test_stats_contract_all_three():
    for stats, data in [
        (gif_pixel_stats, encode_gif(bytes([0, 3] * 2), 2, 2, PAL_GRAY)),
        (bmp_pixel_stats, encode_bmp(bytes([0, 255, 0, 255]), 2, 2)),
        (tiff_pixel_stats, encode_tiff(bytes([0, 255, 0, 255]), 2, 2)),
    ]:
        s = stats(data)
        assert s[0] == 2.0 and s[1] == 2.0 and abs(s[2] - 127.5) < 1e-9


def test_office_media_audit_decodes_legacy_rasters(spark, tmp_path):
    from pdf_extractor_scripts_spark.operators.multimodal import (
        decode_pdf_media,
        media_from_pdfs,
    )
    from pdf_extractor_scripts_spark.sources.docxparse import build_docx
    from pdf_extractor_scripts_spark.sources.spans import read_binary_docs

    with open(tmp_path / "legacy.docx", "wb") as f:
        f.write(build_docx(
            ["three legacy rasters"],
            images={0: ("a.gif", encode_gif(bytes([0, 1, 2, 3]), 2, 2,
                                            PAL_GRAY))},
            external_images={},
            tables={0: [["x"]]}))
    with open(tmp_path / "legacy2.docx", "wb") as f:
        f.write(build_docx(
            ["bmp and tiff"],
            images={0: ("b.bmp", encode_bmp(GRAY4, 4, 3))}))
    with open(tmp_path / "legacy3.docx", "wb") as f:
        f.write(build_docx(
            ["tiff doc"],
            images={0: ("c.tif", encode_tiff(GRAY4, 4, 3))}))
    feats = decode_pdf_media(
        media_from_pdfs(read_binary_docs(spark, str(tmp_path),
                                         glob="*.docx"))).collect()
    got = {r["filter"]: r["decoded"] for r in feats}
    assert got == {"GIF": True, "BMP": True, "TIFF": True}


# -------------------------------------------------- r7 allocation guards

def test_bmp_guard_rejects_attacker_dims():
    """r7 (ADVICE): header dims are attacker-controlled — a tiny file must
    not demand a multi-GB luma buffer."""
    data = bytearray(encode_bmp(GRAY4, 4, 3))
    struct.pack_into("<ii", data, 18, 50_000, 50_000)  # 2.5 Gpx claim
    with pytest.raises(RasterError, match="pixel cap"):
        decode_bmp(bytes(data))


def test_gif_guard_rejects_huge_frame():
    data = bytearray(encode_gif(bytes([0, 1, 2, 3]), 2, 2, PAL_GRAY))
    # image descriptor follows header(6)+LSD(7)+GCT(12): find 0x2C intro
    pos = bytes(data).index(b"\x2c")
    struct.pack_into("<HH", data, pos + 5, 60_000, 60_000)  # frame w,h
    with pytest.raises(RasterError, match="pixel cap"):
        decode_gif(bytes(data))


def test_tiff_guard_rejects_huge_dims():
    data = bytearray(encode_tiff(GRAY4, 4, 3))
    # patch ImageWidth (tag 256) value in the IFD
    import pdf_extractor_scripts_spark.operators.rastercodec as rc
    (off,) = struct.unpack_from("<I", data, 4)
    (n,) = struct.unpack_from("<H", data, off)
    for i in range(n):
        base = off + 2 + 12 * i
        (tag,) = struct.unpack_from("<H", data, base)
        if tag in (256, 257):
            struct.pack_into("<I", data, base + 8, 70_000)
    with pytest.raises(RasterError, match="pixel cap"):
        decode_tiff(bytes(data))


def test_tiff_lzw_decode_is_capped():
    """The LZW expansion is capped at the strip geometry: decoding still
    succeeds for well-formed input (cap == exact need)."""
    w, h, px = decode_tiff(encode_tiff(GRAY4, 4, 3, compression=5))
    assert (w, h, bytes(px)) == (4, 3, GRAY4)


def test_tiff_lzw_strip_corrupt_past_its_rows_decodes_the_valid_prefix(monkeypatch):
    """A strip whose LZW codes turn corrupt only after the strip's ``need``
    bytes decodes to those bytes: the decode stops at ``need`` and never
    reads the corrupt codes, which raise when decoded in full."""
    from pdf_extractor_scripts_spark.sources import pdfparse

    def pack9(codes):  # MSB-first 9-bit codes: few enough to never widen
        bits = "".join(f"{c:09b}" for c in codes)
        bits += "0" * (-len(bits) % 8)
        return bytes(int(bits[i:i + 8], 2) for i in range(0, len(bits), 8))

    # clear, the 12 pixels as literals, then clear + an undefined code
    strip = pack9([256, *GRAY4, 256, 300, 257])
    with pytest.raises(KeyError):
        pdfparse._lzw_decode(strip)
    monkeypatch.setattr(pdfparse, "_lzw_encode", lambda rows: strip)
    data = encode_tiff(GRAY4, 4, 3, compression=5)
    assert decode_tiff(data) == (4, 3, GRAY4)
