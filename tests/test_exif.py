"""Exif metadata: parse/build round trips, PII scrub, orientation.

The image-modality PII surface (GPS, serials, owner names, MakerNote,
IFD1 thumbnail, XMP) — the byte-stream counterpart of the caption
scrub's entity classes.  The load-bearing invariants:

* scrub never changes decoded pixels (entropy stream copied verbatim),
* scrub is idempotent,
* every malformed input raises ValueError and nothing else (the
  poison-row guards catch exactly that),
* orientation normalization transforms compose to identity with their
  Exif inverses.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from pii_redactor_spark.fixtures import exif as E
from pii_redactor_spark.fixtures.jpeg import decode_jpeg, encode_jpeg


def _px(h=16, w=24, seed=3):
    return np.random.default_rng(seed).integers(
        0, 256, (h, w, 3), dtype=np.uint8
    )


def _full_ifds(orientation=6):
    return {
        "ifd0": {
            t.tag: t
            for t in [
                E.ExifTag(E.TAG_MAKE, E.TYPE_ASCII, "ExampleCam"),
                E.ExifTag(E.TAG_MODEL, E.TYPE_ASCII, "X100"),
                E.ExifTag(E.TAG_ORIENTATION, E.TYPE_SHORT, [orientation]),
                E.ExifTag(0x013B, E.TYPE_ASCII, "Jane Photographer"),
                E.ExifTag(0x8298, E.TYPE_ASCII, "(c) Jane P."),
                E.ExifTag(0x0132, E.TYPE_ASCII, "2026:08:19 10:00:00"),
            ]
        },
        "exif": {
            0xA431: E.ExifTag(0xA431, E.TYPE_ASCII, "SN-12345"),
            0xA435: E.ExifTag(0xA435, E.TYPE_ASCII, "LENS-9"),
            0xA430: E.ExifTag(0xA430, E.TYPE_ASCII, "Jane"),
            0x9003: E.ExifTag(0x9003, E.TYPE_ASCII, "2026:08:19 10:00:00"),
            0x927C: E.ExifTag(0x927C, E.TYPE_UNDEFINED, b"\x01\x02secret"),
            0x9286: E.ExifTag(0x9286, E.TYPE_UNDEFINED, b"ASCII\x00\x00\x00hi"),
            0xA420: E.ExifTag(0xA420, E.TYPE_ASCII, "deadbeef"),
        },
        "gps": {
            1: E.ExifTag(1, E.TYPE_ASCII, "N"),
            2: E.ExifTag(2, E.TYPE_RATIONAL, [(40, 1), (44, 1), (3000, 100)]),
            3: E.ExifTag(3, E.TYPE_ASCII, "E"),
            4: E.ExifTag(4, E.TYPE_RATIONAL, [(73, 1), (59, 1), (0, 1)]),
        },
    }


def _tagged_jpeg(orientation=6, quality=95):
    jp = encode_jpeg(_px(), quality=quality)
    return jp, E.insert_exif(jp, _full_ifds(orientation))


# ---------------------------------------------------------------------------
# TIFF build/parse round trips


def test_build_parse_round_trip_all_types():
    ifds = {
        "ifd0": {
            t.tag: t
            for t in [
                E.ExifTag(0x0100, E.TYPE_LONG, [640]),
                E.ExifTag(0x0101, E.TYPE_SHORT, [480, 7, 9]),
                E.ExifTag(0x010F, E.TYPE_ASCII, "abc"),
                E.ExifTag(0x9999, E.TYPE_UNDEFINED, b"\x00\xff\x10"),
                E.ExifTag(0x9998, E.TYPE_BYTE, b"\x05"),
                E.ExifTag(0x9997, E.TYPE_SLONG, [-5, 6]),
                E.ExifTag(0x9996, E.TYPE_SRATIONAL, [(-1, 3)]),
                E.ExifTag(0x9995, E.TYPE_RATIONAL, [(1, 2), (3, 4)]),
                E.ExifTag(0x9994, E.TYPE_SBYTE, [-3, 4]),
                E.ExifTag(0x9993, E.TYPE_SSHORT, [-300, 12]),
                E.ExifTag(0x9992, E.TYPE_FLOAT, [0.5, -2.25]),
                E.ExifTag(0x9991, E.TYPE_DOUBLE, [40.7437]),
            ]
        },
        "exif": {},
        "gps": {},
    }
    parsed = E.parse_tiff(E.build_tiff(ifds))
    for tag, want in ifds["ifd0"].items():
        assert parsed["ifd0"][tag] == want
    assert parsed["exif"] == {} and parsed["gps"] == {}


def test_inline_vs_offset_values():
    # <=4 bytes inline, >4 bytes out-of-line with word padding; both must
    # survive, including an odd-length ASCII forcing a pad byte.
    ifds = {
        "ifd0": {
            1: E.ExifTag(1, E.TYPE_ASCII, "ab"),        # 3B inline
            2: E.ExifTag(2, E.TYPE_ASCII, "abcd"),      # 5B offset, odd pad
            3: E.ExifTag(3, E.TYPE_SHORT, [1, 2]),      # 4B inline
            4: E.ExifTag(4, E.TYPE_SHORT, [1, 2, 3]),   # 6B offset
        },
        "exif": {},
        "gps": {},
    }
    parsed = E.parse_tiff(E.build_tiff(ifds))
    for tag, want in ifds["ifd0"].items():
        assert parsed["ifd0"][tag] == want


def test_parse_big_endian_stream():
    # Hand-assembled MM stream: one IFD, orientation=8 (builder is
    # canonical little-endian, so the MM path only exists in the parser).
    ifd = struct.pack(">H", 1) + struct.pack(
        ">HHI4s", E.TAG_ORIENTATION, E.TYPE_SHORT, 1,
        struct.pack(">H", 8) + b"\x00\x00",
    ) + struct.pack(">I", 0)
    data = struct.pack(">2sHI", b"MM", 42, 8) + ifd
    parsed = E.parse_tiff(data)
    assert parsed["ifd0"][E.TAG_ORIENTATION].values == [8]


def test_thumbnail_ifd1_parsed():
    # IFD0 with next-IFD pointer to IFD1 holding an embedded "JPEG".
    thumb = b"\xff\xd8thumbnail-bytes\xff\xd9"
    ifd0 = struct.pack("<H", 1) + struct.pack(
        "<HHI4s", E.TAG_ORIENTATION, E.TYPE_SHORT, 1,
        struct.pack("<H", 1) + b"\x00\x00",
    )
    ifd1_off = 8 + len(ifd0) + 4
    ifd1 = struct.pack("<H", 2)
    thumb_off = ifd1_off + 2 + 24 + 4
    ifd1 += struct.pack("<HHII", E.TAG_JPEG_IF, E.TYPE_LONG, 1, thumb_off)
    ifd1 += struct.pack("<HHII", E.TAG_JPEG_IF_LEN, E.TYPE_LONG, 1,
                        len(thumb))
    ifd1 += struct.pack("<I", 0)
    data = (struct.pack("<2sHI", b"II", 42, 8) + ifd0
            + struct.pack("<I", ifd1_off) + ifd1 + thumb)
    parsed = E.parse_tiff(data)
    assert parsed["thumbnail"] == thumb


# ---------------------------------------------------------------------------
# JPEG insert / extract / scrub


def test_insert_extract_pixels_untouched():
    jp, jx = _tagged_jpeg()
    parsed = E.extract_exif(jx)
    assert parsed["ifd0"][E.TAG_MAKE].values == "ExampleCam"
    assert parsed["gps"][2].values[0] == (40, 1)
    assert E.orientation_of(jx) == 6
    assert E.extract_exif(jp) is None and E.orientation_of(jp) == 1
    assert np.array_equal(decode_jpeg(jx), decode_jpeg(jp))


def test_scrub_removes_pii_keeps_rest():
    jp, jx = _tagged_jpeg()
    clean, rep = E.scrub_exif(jx)
    assert rep["had_exif"] and rep["had_gps"]
    assert rep["orientation"] == 6
    for name in ("GPS", "Artist", "Copyright", "MakerNote",
                 "UserComment", "ImageUniqueID", "CameraOwnerName",
                 "BodySerialNumber", "LensSerialNumber"):
        assert name in rep["removed"], name
    parsed = E.extract_exif(clean)
    assert not parsed["gps"]
    assert 0xA431 not in parsed["exif"] and 0x013B not in parsed["ifd0"]
    # non-PII survives: device, orientation, timestamps (default policy)
    assert parsed["ifd0"][E.TAG_MAKE].values == "ExampleCam"
    assert parsed["ifd0"][E.TAG_ORIENTATION].values == [6]
    assert parsed["exif"][0x9003].values == "2026:08:19 10:00:00"
    # and the pixels are byte-identical
    assert np.array_equal(decode_jpeg(clean), decode_jpeg(jp))


def test_scrub_policy_flags():
    _, jx = _tagged_jpeg()
    clean, _ = E.scrub_exif(jx, strip_device=True, strip_timestamps=True)
    parsed = E.extract_exif(clean)
    assert E.TAG_MAKE not in parsed["ifd0"]
    assert 0x0132 not in parsed["ifd0"] and 0x9003 not in parsed["exif"]


def test_scrub_idempotent():
    _, jx = _tagged_jpeg()
    once, _ = E.scrub_exif(jx)
    twice, rep2 = E.scrub_exif(once)
    assert twice == once
    assert not rep2["had_gps"] and rep2["removed"] == []


def test_scrub_drops_thumbnail():
    # Splice a hand-built IFD1 (with embedded thumbnail) onto a built
    # TIFF by rewriting IFD0's next-IFD pointer — the builder itself
    # never emits IFD1, which is the point of the scrub contract.
    jp = encode_jpeg(_px(), quality=95)
    tiff = bytearray(E.build_tiff(_full_ifds()))
    (n,) = struct.unpack_from("<H", tiff, 8)
    next_ptr_at = 8 + 2 + 12 * n
    thumb = b"\xff\xd8tiny\xff\xd9"
    ifd1_off = len(tiff)
    thumb_off = ifd1_off + 2 + 24 + 4
    ifd1 = struct.pack("<H", 2)
    ifd1 += struct.pack("<HHII", E.TAG_JPEG_IF, E.TYPE_LONG, 1, thumb_off)
    ifd1 += struct.pack("<HHII", E.TAG_JPEG_IF_LEN, E.TYPE_LONG, 1,
                        len(thumb))
    ifd1 += struct.pack("<I", 0)
    struct.pack_into("<I", tiff, next_ptr_at, ifd1_off)
    tiff += ifd1 + thumb
    payload = b"Exif\x00\x00" + bytes(tiff)
    jx = (jp[:2]
          + struct.pack(">BBH", 0xFF, 0xE1, len(payload) + 2) + payload
          + jp[2:])
    assert E.extract_exif(jx)["thumbnail"] == thumb
    clean, rep = E.scrub_exif(jx)
    assert rep["had_thumbnail"] and "Thumbnail" in rep["removed"]
    assert E.extract_exif(clean)["thumbnail"] is None
    assert E.extract_exif(clean)["ifd1"] == {}


def test_scrub_drops_xmp():
    jp = encode_jpeg(_px(), quality=95)
    xmp = (b"http://ns.adobe.com/xap/1.0/\x00"
           b"<x:xmpmeta><gps>40.7,-73.9</gps></x:xmpmeta>")
    seg = struct.pack(">BBH", 0xFF, 0xE1, len(xmp) + 2) + xmp
    jx = jp[:2] + seg + jp[2:]
    clean, rep = E.scrub_exif(jx)
    assert "XMP" in rep["removed"]
    assert b"xmpmeta" not in clean
    assert np.array_equal(decode_jpeg(clean), decode_jpeg(jp))


# ---------------------------------------------------------------------------
# Poison inputs: ValueError and nothing else


@pytest.mark.parametrize(
    "mutate",
    [
        lambda b: b[:20],                              # truncated TIFF
        lambda b: b"XX" + b[2:],                       # bad byte order
        lambda b: b[:2] + struct.pack("<H", 41) + b[4:],  # bad magic
        lambda b: b[:4] + struct.pack("<I", 10**6) + b[8:],  # IFD0 OOB
    ],
)
def test_parse_tiff_poison(mutate):
    good = E.build_tiff(_full_ifds())
    with pytest.raises(ValueError):
        E.parse_tiff(mutate(good))


def test_scrub_non_jpeg_raises_value_error():
    with pytest.raises(ValueError):
        E.scrub_exif(b"not a jpeg at all")


def test_exif_fuzz_value_error_only():
    # Bit-flips over the APP1 region must raise ValueError or succeed —
    # never KeyError/struct.error/IndexError (the r4 ADVICE failure
    # class for decode_jpeg).
    _, jx = _tagged_jpeg()
    rng = np.random.default_rng(11)
    for _ in range(300):
        buf = bytearray(jx)
        i = int(rng.integers(2, min(len(buf), 400)))
        buf[i] ^= 1 << int(rng.integers(0, 8))
        try:
            E.scrub_exif(bytes(buf))
        except ValueError:
            pass


def test_normalize_orientation_inverses_and_shapes():
    a = np.arange(2 * 4 * 3, dtype=np.uint8).reshape(2, 4, 3)
    for o, inv in [(1, 1), (2, 2), (3, 3), (4, 4), (5, 5), (6, 8),
                   (7, 7), (8, 6)]:
        once = E.normalize_orientation(a, o)
        if o in (5, 6, 7, 8):
            assert once.shape == (4, 2, 3)
        back = E.normalize_orientation(once, inv)
        assert np.array_equal(back, a), (o, inv)
    with pytest.raises(ValueError):
        E.normalize_orientation(a, 9)


def test_normalize_orientation_hand_case():
    # 2x2: [[a,b],[c,d]]; orientation 6 (stored 90 CCW) -> display
    # rotates 90 CW: [[c,a],[d,b]]; transverse (7) flips the
    # anti-diagonal: [[d,b],[c,a]].
    a = np.array([[[1], [2]], [[3], [4]]], dtype=np.uint8)
    assert E.normalize_orientation(a, 6)[:, :, 0].tolist() == [[3, 1], [4, 2]]
    assert E.normalize_orientation(a, 7)[:, :, 0].tolist() == [[4, 2], [3, 1]]
    assert E.normalize_orientation(a, 5)[:, :, 0].tolist() == [[1, 3], [2, 4]]


# ---------------------------------------------------------------------------
# PNG / WebP / GIF carriers


def _png_chunk(typ: bytes, payload: bytes) -> bytes:
    import zlib

    return (struct.pack(">I", len(payload)) + typ + payload
            + struct.pack(">I", zlib.crc32(typ + payload)))


def test_scrub_png_text_and_exif_chunk():
    from pii_redactor_spark.fixtures.codecs import decode_png, encode_png

    png = encode_png(_px())
    tiff = E.build_tiff(_full_ifds(orientation=3))
    # splice tEXt + iTXt + eXIf right after IHDR (sig 8 + IHDR 25)
    cut = 8 + 25
    tagged = (png[:cut]
              + _png_chunk(b"tEXt", b"Author\x00Jane Photographer")
              + _png_chunk(b"iTXt", b"XML:com.adobe.xmp\x00\x00\x00\x00\x00<x/>")
              + _png_chunk(b"eXIf", tiff)
              + png[cut:])
    clean, rep = E.scrub_png_metadata(tagged)
    assert rep["had_exif"] and rep["had_gps"] and rep["orientation"] == 3
    for name in ("tEXt", "iTXt", "GPS", "Artist", "BodySerialNumber"):
        assert name in rep["removed"], name
    assert b"Jane Photographer" not in clean
    assert b"eXIf" in clean  # scrubbed-and-rebuilt, orientation survives
    assert np.array_equal(decode_png(clean), decode_png(png))
    # idempotent, and a plain PNG is untouched
    again, rep2 = E.scrub_png_metadata(clean)
    assert again == clean and not rep2["had_gps"]
    same, rep3 = E.scrub_png_metadata(png)
    assert same == png and rep3["removed"] == []


def test_scrub_png_poison():
    with pytest.raises(ValueError):
        E.scrub_png_metadata(b"not a png")
    from pii_redactor_spark.fixtures.codecs import encode_png

    png = encode_png(_px())
    with pytest.raises(ValueError):
        E.scrub_png_metadata(png[:20])  # truncated chunk


def test_scrub_webp_exif_xmp_chunks():
    from pii_redactor_spark.fixtures.webp import decode_webp, encode_webp

    wp = encode_webp(_px())
    tiff = E.build_tiff(_full_ifds(orientation=6))

    def chunk(tag, payload):
        pad = b"\x00" if len(payload) & 1 else b""
        return tag + struct.pack("<I", len(payload)) + payload + pad

    # rebuild container: VP8X (EXIF+XMP flags set) + image chunks + metadata
    h, w = _px().shape[:2]
    vp8x = struct.pack("<B3s", 0x0C, b"\x00\x00\x00")
    vp8x += struct.pack("<I", w - 1)[:3] + struct.pack("<I", h - 1)[:3]
    body = (chunk(b"VP8X", vp8x) + wp[12:]
            + chunk(b"EXIF", b"Exif\x00\x00" + tiff)
            + chunk(b"XMP ", b"<x:xmpmeta gps='40.7,-73.9'/>"))
    tagged = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WEBP" + body
    clean, rep = E.scrub_webp_metadata(tagged)
    assert rep["had_exif"] and rep["had_gps"] and rep["orientation"] == 6
    assert "EXIF" in rep["removed"] and "XMP" in rep["removed"]
    assert b"xmpmeta" not in clean and b"Exif\x00\x00" not in clean
    # VP8X flags cleared, RIFF size consistent, pixels identical
    vp8x_off = clean.index(b"VP8X") + 8
    assert clean[vp8x_off] & 0x0C == 0
    assert struct.unpack("<I", clean[4:8])[0] == len(clean) - 8
    assert np.array_equal(decode_webp(clean), decode_webp(wp))
    again, rep2 = E.scrub_webp_metadata(clean)
    assert again == clean and rep2["removed"] == []
    with pytest.raises(ValueError):
        E.scrub_webp_metadata(b"RIFFxxxxNOPE")


def test_scrub_gif_comment_and_xmp():
    from pii_redactor_spark.fixtures.gif import decode_gif, encode_gif

    gf = encode_gif(_px())
    # comment extension + XMP application extension + NETSCAPE (kept),
    # spliced right after header + GCT, before the image descriptor
    packed = gf[10]
    hdr_end = 13 + (3 * (2 << (packed & 0x07)) if packed & 0x80 else 0)
    comment = b"\x21\xfe" + bytes([25]) + b"shot by Jane at the cabin" + b"\x00"
    xmp_payload = b"<x:xmpmeta gps='40.7'/>"
    # magic trailer: 0x01 then 255..0 descending (spec hack) — makes the
    # generic sub-block walk terminate correctly
    trailer = b"\x01" + bytes(range(255, -1, -1))
    xmp = b"\x21\xff\x0bXMP DataXMP" + xmp_payload + trailer + b"\x00"
    netscape = b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    tagged = gf[:hdr_end] + comment + xmp + netscape + gf[hdr_end:]
    clean, rep = E.scrub_gif_metadata(tagged)
    assert "Comment" in rep["removed"] and "XMP" in rep["removed"]
    assert b"Jane" not in clean and b"xmpmeta" not in clean
    assert b"NETSCAPE2.0" in clean
    assert np.array_equal(decode_gif(clean), decode_gif(gf))
    again, rep2 = E.scrub_gif_metadata(clean)
    assert again == clean and rep2["removed"] == []
    with pytest.raises(ValueError):
        E.scrub_gif_metadata(b"GIF89a\x00")


# ---------------------------------------------------------------------------
# Spark operator


def test_scrub_image_metadata_spark(spark):
    from pii_redactor_spark.operators.vision import scrub_image_metadata

    from pii_redactor_spark.fixtures.codecs import encode_png

    jp, jx = _tagged_jpeg()
    png = encode_png(_px())
    png_tagged = (png[:33]
                  + _png_chunk(b"tEXt", b"Author\x00Jane")
                  + png[33:])
    rows = [
        ("with_gps", bytearray(jx), "jpeg"),
        ("plain", bytearray(jp), "jpeg"),
        ("png_row", bytearray(png_tagged), "png"),
        ("bmp_row", bytearray(b"BM fake"), "bmp"),
        ("corrupt", bytearray(b"\xff\xd8\xff"), "jpeg"),
        ("null_bytes", None, "jpeg"),
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")
    out = {r["image_id"]: r for r in scrub_image_metadata(df).collect()}
    assert out["with_gps"]["had_gps"] and out["with_gps"]["flag"] == "ok"
    assert out["with_gps"]["orientation"] == 6
    assert "GPS" in out["with_gps"]["removed"]
    clean = bytes(out["with_gps"]["bytes"])
    assert E.extract_exif(clean)["gps"] == {}
    assert np.array_equal(decode_jpeg(clean), decode_jpeg(jp))
    assert out["plain"]["flag"] == "ok" and not out["plain"]["had_exif"]
    assert bytes(out["plain"]["bytes"]) == jp
    assert out["png_row"]["flag"] == "ok"
    assert "tEXt" in out["png_row"]["removed"]
    assert b"Jane" not in bytes(out["png_row"]["bytes"])
    assert out["bmp_row"]["flag"] == "unsupported_fmt"
    # a stream that fails to scrub fails closed: NULL bytes
    assert out["corrupt"]["flag"] == "corrupt"
    assert out["corrupt"]["bytes"] is None
    # a NULL payload is corrupt, not a dead stage
    assert out["null_bytes"]["flag"] == "corrupt"
    assert out["null_bytes"]["bytes"] is None
    assert out["null_bytes"]["had_gps"] is None


def _raw_exif_jpeg(tiff: bytes) -> tuple[bytes, bytes]:
    """(plain JPEG, the same JPEG with ``tiff`` spliced in verbatim as its
    Exif APP1) — no rebuild, so crafted structure survives."""
    jp = encode_jpeg(_px())
    payload = b"Exif\x00\x00" + tiff
    app1 = struct.pack(">BBH", 0xFF, 0xE1, len(payload) + 2) + payload
    return jp, jp[:2] + app1 + jp[2:]


def _retyped_pointer_tiff(tag: int, typ: int) -> bytes:
    """IFD0 holding only a sub-IFD pointer declared ASCII (inline "ab")
    or RATIONAL (one out-of-line value at offset 26)."""
    head = struct.pack("<2sHIH", b"II", 42, 8, 1)
    if typ == E.TYPE_ASCII:
        return head + struct.pack("<HHI4sI", tag, typ, 3, b"ab", 0)
    return head + struct.pack("<HHIII", tag, typ, 1, 26, 0) + struct.pack(
        "<II", 8, 1
    )


def _oversized_app1_tiff() -> bytes:
    """A valid TIFF whose APP1 length field reads 64,622: 3,796 ASCII
    values of 5 bytes packed without the word padding the canonical
    rebuild adds, a 26-byte filler value and a GPS IFD.  Rebuilt, the
    APP1 outgrows 0xFFFF."""
    values = [b"abcd\x00"] * 3796 + [b"x" * 25 + b"\x00"]
    ifd_end = 8 + 2 + 12 * (len(values) + 1) + 4
    gps_off = ifd_end + sum(map(len, values))
    tiff = bytearray(struct.pack("<2sHIH", b"II", 42, 8, len(values) + 1))
    off = ifd_end
    for i, v in enumerate(values):
        tiff += struct.pack("<HHII", 0x2000 + i, E.TYPE_ASCII, len(v), off)
        off += len(v)
    tiff += struct.pack("<HHII", E.TAG_GPS_IFD, E.TYPE_LONG, 1, gps_off)
    tiff += struct.pack("<I", 0) + b"".join(values)
    # GPS IFD: GPSVersionID 2.3.0.0
    tiff += struct.pack("<HHHI4sI", 1, 0, E.TYPE_BYTE, 4, b"\x02\x03", 0)
    assert len(tiff) + 8 == 64_622
    return bytes(tiff)


@pytest.mark.parametrize("row", [
    "exif_pointer_ascii", "gps_pointer_rational", "app1_64622_bytes",
])
def test_scrub_image_metadata_crafted_exif_row(spark, row):
    """Crafted rows that used to kill the whole stage: a pointer tag typed
    ASCII or RATIONAL (TypeError) and a 64,622-byte APP1 whose rebuild
    needs more than 0xFFFF bytes (struct.error).  A retyped pointer is a
    malformed stream (``corrupt``); the oversized APP1 is dropped whole,
    GPS with it."""
    from pii_redactor_spark.operators.vision import scrub_image_metadata

    tiff = {
        "exif_pointer_ascii": lambda: _retyped_pointer_tiff(
            E.TAG_EXIF_IFD, E.TYPE_ASCII),
        "gps_pointer_rational": lambda: _retyped_pointer_tiff(
            E.TAG_GPS_IFD, E.TYPE_RATIONAL),
        "app1_64622_bytes": _oversized_app1_tiff,
    }[row]()
    jp, jx = _raw_exif_jpeg(tiff)
    df = spark.createDataFrame(
        [(row, bytearray(jx), "jpeg")],
        "image_id string, bytes binary, fmt string",
    )
    (r,) = scrub_image_metadata(df).collect()
    if row != "app1_64622_bytes":
        assert r["flag"] == "corrupt"
        return
    assert r["flag"] == "ok" and r["had_gps"]
    assert "GPS" in r["removed"] and "Exif" in r["removed"]
    clean = bytes(r["bytes"])
    assert E.extract_exif(clean) is None
    assert np.array_equal(decode_jpeg(clean), decode_jpeg(jp))


def test_scrub_image_metadata_latin1_tag_beside_gps(spark):
    """A Latin-1 byte in a kept ASCII tag must not turn the row corrupt
    (which keeps the original bytes, GPS included): ASCII values
    round-trip byte for byte and the GPS IFD goes."""
    from pii_redactor_spark.operators.vision import scrub_image_metadata

    ifds = _full_ifds()
    ifds["ifd0"][0x010E] = E.ExifTag(0x010E, E.TYPE_ASCII, "Caf? owner")
    jx = E.insert_exif(encode_jpeg(_px()), ifds)
    assert jx.count(b"Caf? owner") == 1
    jx = jx.replace(b"Caf? owner", b"Caf\xe9 owner")
    df = spark.createDataFrame(
        [("latin1", bytearray(jx), "jpeg")],
        "image_id string, bytes binary, fmt string",
    )
    (r,) = scrub_image_metadata(df).collect()
    assert r["flag"] == "ok" and r["had_gps"]
    parsed = E.extract_exif(bytes(r["bytes"]))
    assert parsed["gps"] == {} and E.TAG_GPS_IFD not in parsed["ifd0"]
    assert parsed["ifd0"][0x010E].values == "Caf\xe9 owner"
    assert b"Caf\xe9 owner\x00" in bytes(r["bytes"])


def test_with_metadata_scrub_in_place(spark):
    from pii_redactor_spark.operators.vision import with_metadata_scrub

    jp, jx = _tagged_jpeg()
    df = spark.createDataFrame(
        [("a", bytearray(jx), "jpeg", "a cat", 7),
         ("b", bytearray(jp), "jpeg", "a dog", 8),
         ("bmp", bytearray(b"BM fake"), "bmp", "a bird", 9),
         ("trunc", bytearray(jx[:len(jx) // 2]), "jpeg", "a fox", 10),
         ("null", None, "jpeg", "an owl", 11)],
        "image_id string, bytes binary, fmt string, caption string, "
        "phash long",
    )
    out = {r["image_id"]: r for r in with_metadata_scrub(df).collect()}
    # in-place: bytes column replaced, every other column passed through
    assert out["a"]["caption"] == "a cat" and out["a"]["phash"] == 7
    assert out["a"]["meta_had_gps"] and "GPS" in out["a"]["meta_removed"]
    assert E.extract_exif(bytes(out["a"]["bytes"]))["gps"] == {}
    assert np.array_equal(
        decode_jpeg(bytes(out["a"]["bytes"])), decode_jpeg(jp)
    )
    assert bytes(out["b"]["bytes"]) == jp and not out["b"]["meta_had_gps"]
    assert out["b"]["meta_flag"] == "ok"
    # unknown formats pass through with an empty report
    bmp = out["bmp"]
    assert bytes(bmp["bytes"]) == b"BM fake"
    assert (bmp["meta_had_gps"], bmp["meta_removed"], bmp["meta_flag"]) == (
        False, "", "unsupported_fmt")
    # an undecodable stream fails closed: NULL bytes, never the original
    trunc = out["trunc"]
    assert trunc["bytes"] is None
    assert (trunc["meta_had_gps"], trunc["meta_removed"],
            trunc["meta_flag"]) == (None, None, "corrupt")
    assert trunc["caption"] == "a fox"
    # a NULL payload is corrupt, not a dead stage
    null = out["null"]
    assert null["bytes"] is None
    assert (null["meta_had_gps"], null["meta_removed"], null["meta_flag"]) == (
        None, None, "corrupt")


def test_pipeline_materialize_scrubs_metadata(spark, tmp_root):
    from pii_redactor_spark.fixtures.codecs import phash64, phash_prefix
    from pii_redactor_spark.pipeline.run import run_pipeline

    jp, jx = _tagged_jpeg()
    ph = phash64(_px())
    rows = [
        (f"img{i}", bytearray(jx if i % 2 else jp), 24, 16, "jpeg",
         f"caption {i} with email a{i}@example.com", ph, phash_prefix(ph))
        for i in range(8)
    ]
    src = f"{tmp_root}/exif_pipe_src"
    spark.createDataFrame(
        rows,
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long, phash_prefix int",
    ).write.mode("overwrite").partitionBy("phash_prefix").parquet(src)
    out = f"{tmp_root}/exif_pipe_out"
    summary = run_pipeline(
        spark, src, out, materialize_bytes=True, scrub_metadata=True
    )
    assert summary["n_in"] == 8
    data = spark.read.parquet(f"{out}/data")
    got = {r["image_id"]: r for r in data.collect()}
    for i in range(8):
        b = bytes(got[f"img{i}"]["bytes"])
        parsed = E.extract_exif(b)
        if i % 2:
            assert got[f"img{i}"]["meta_had_gps"]
            assert parsed is not None and parsed["gps"] == {}
        else:
            assert parsed is None
        assert np.array_equal(decode_jpeg(b), decode_jpeg(jp))
    # decisions mode refuses by contract
    with pytest.raises(ValueError, match="materialize"):
        run_pipeline(spark, src, f"{tmp_root}/exif_pipe_bad",
                     materialize_bytes=False, scrub_metadata=True)


def test_scrub_exif_progressive_jpeg():
    # Progressive streams carry MULTIPLE SOS segments; the walker stops
    # at the first and copies the remaining scan sequence verbatim, so
    # the scrub must leave a multi-scan file decodable and bit-identical.
    jp = encode_jpeg(_px(), quality=90, progressive=True)
    jx = E.insert_exif(jp, _full_ifds(orientation=8))
    clean, rep = E.scrub_exif(jx)
    assert rep["had_gps"] and rep["orientation"] == 8
    assert E.extract_exif(clean)["gps"] == {}
    assert np.array_equal(decode_jpeg(clean), decode_jpeg(jp))


# ---------------------------------------------------------------------------
# Property: arbitrary well-formed tag sets round-trip through build/parse

from hypothesis import given, settings
from hypothesis import strategies as st


def _tag_strategy():
    ascii_text = st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=126),
        max_size=24,
    )
    u16 = st.integers(0, 0xFFFF)
    u32 = st.integers(0, 0xFFFFFFFF)
    i32 = st.integers(-(2**31), 2**31 - 1)
    by_type = st.one_of(
        st.tuples(st.just(E.TYPE_ASCII), ascii_text),
        st.tuples(st.just(E.TYPE_BYTE),
                  st.binary(min_size=1, max_size=12)),
        st.tuples(st.just(E.TYPE_UNDEFINED),
                  st.binary(min_size=1, max_size=12)),
        st.tuples(st.just(E.TYPE_SHORT),
                  st.lists(u16, min_size=1, max_size=6)),
        st.tuples(st.just(E.TYPE_LONG),
                  st.lists(u32, min_size=1, max_size=4)),
        st.tuples(st.just(E.TYPE_SLONG),
                  st.lists(i32, min_size=1, max_size=4)),
        st.tuples(st.just(E.TYPE_SSHORT),
                  st.lists(st.integers(-(2**15), 2**15 - 1),
                           min_size=1, max_size=6)),
        st.tuples(st.just(E.TYPE_SBYTE),
                  st.lists(st.integers(-128, 127),
                           min_size=1, max_size=8)),
        st.tuples(st.just(E.TYPE_RATIONAL),
                  st.lists(st.tuples(u32, u32), min_size=1, max_size=3)),
        st.tuples(st.just(E.TYPE_SRATIONAL),
                  st.lists(st.tuples(i32, i32), min_size=1, max_size=3)),
        st.tuples(st.just(E.TYPE_DOUBLE),
                  st.lists(st.floats(allow_nan=False, allow_infinity=False,
                                     width=64),
                           min_size=1, max_size=3)),
    )
    # avoid the pointer tags (rebuilt from structure, not round-tripped)
    tag_id = st.integers(1, 0xFFFF).filter(
        lambda t: t not in (E.TAG_EXIF_IFD, E.TAG_GPS_IFD)
    )
    return st.tuples(tag_id, by_type)


@settings(max_examples=60, deadline=None)
@given(
    ifd0=st.dictionaries(st.integers(1, 3), _tag_strategy(),
                         min_size=0, max_size=6),
    exif=st.dictionaries(st.integers(1, 3), _tag_strategy(),
                         min_size=0, max_size=4),
    gps=st.dictionaries(st.integers(1, 3), _tag_strategy(),
                        min_size=0, max_size=4),
)
def test_build_parse_round_trip_property(ifd0, exif, gps):
    def mk(d):
        out = {}
        for _, (tid, (typ, vals)) in d.items():
            if typ == E.TYPE_BYTE or typ == E.TYPE_UNDEFINED:
                vals = bytes(vals)
            elif typ == E.TYPE_SBYTE or typ == E.TYPE_SSHORT:
                vals = list(vals)
            out[tid] = E.ExifTag(tid, typ, vals)
        return out

    ifds = {"ifd0": mk(ifd0), "exif": mk(exif), "gps": mk(gps)}
    parsed = E.parse_tiff(E.build_tiff(ifds))
    for key in ("ifd0", "exif", "gps"):
        want = dict(ifds[key])
        # the builder adds pointer tags to ifd0 when sub-IFDs exist;
        # ignore them in the comparison
        got = {
            t: v for t, v in parsed[key].items()
            if t not in (E.TAG_EXIF_IFD, E.TAG_GPS_IFD)
        }
        want = {
            t: v for t, v in want.items()
            if t not in (E.TAG_EXIF_IFD, E.TAG_GPS_IFD)
        }
        assert got == want, (key, got, want)


def test_metadata_scrub_passes_integrity_gate(spark):
    """Composition: the north-star differential-diff gate
    (verify_integrity, A8) over a metadata-scrubbed table — every
    container's scrubbed bytes must decode to the exact source pixels
    (PSNR inf / allclose), proving the scrub touched only metadata."""
    from pii_redactor_spark.fixtures.codecs import encode_png
    from pii_redactor_spark.fixtures.gif import encode_gif
    from pii_redactor_spark.fixtures.webp import encode_webp
    from pii_redactor_spark.operators.vision import (
        scrub_image_metadata,
        verify_integrity,
    )

    _, jx = _tagged_jpeg()
    png = encode_png(_px())
    png_tagged = png[:33] + _png_chunk(b"tEXt", b"Author\x00Jane") + png[33:]
    gf = encode_gif(_px())
    note = b"\x21\xfe\x04Jane\x00"
    packed = gf[10]
    cut = 13 + (3 * (2 << (packed & 0x07)) if packed & 0x80 else 0)
    gif_tagged = gf[:cut] + note + gf[cut:]
    wp = encode_webp(_px())
    xmp = b"XMP " + struct.pack("<I", 4) + b"<x/>"
    wp_tagged = (b"RIFF" + struct.pack("<I", 4 + len(wp[12:] + xmp))
                 + b"WEBP" + wp[12:] + xmp)
    rows = [
        ("j", bytearray(jx), "jpeg"),
        ("p", bytearray(png_tagged), "png"),
        ("g", bytearray(gif_tagged), "gif"),
        ("w", bytearray(wp_tagged), "webp"),
    ]
    src = spark.createDataFrame(
        rows, "image_id string, bytes binary, fmt string"
    )
    scrubbed = scrub_image_metadata(src)
    res = {r["image_id"]: r
           for r in verify_integrity(scrubbed, src).collect()}
    assert all(res[k]["ok"] for k in "jpgw"), res


def test_decode_stats_apply_orientation(spark):
    """Orientation 6 (stored 90deg CCW): display w/h must swap relative
    to the sensor decode, channel means are rotation-invariant, and the
    phash check (raw-decode contract) still passes."""
    from pii_redactor_spark.fixtures.codecs import phash64
    from pii_redactor_spark.operators.vision import decode_stats

    jp = encode_jpeg(_px(h=16, w=24), quality=95)
    jx = E.insert_exif(jp, _full_ifds(orientation=6))
    ph = phash64(decode_jpeg(jp))
    df = spark.createDataFrame(
        [("r", bytearray(jx), "jpeg", ph)],
        "image_id string, bytes binary, fmt string, phash long",
    )
    raw = decode_stats(df).collect()[0]
    disp = decode_stats(df, apply_orientation=True).collect()[0]
    assert (raw["w"], raw["h"]) == (24, 16)
    assert (disp["w"], disp["h"]) == (16, 24)
    assert abs(raw["mean_r"] - disp["mean_r"]) < 1e-9
    assert disp["phash_check"]


# ---------------------------------------------------------------------------
# Fail-closed metadata scrub: orientation range, duplicate APP1s, the
# corrupt row's keep, and a mutation fuzz of the guarded row function


def test_scrub_image_metadata_orientation_out_of_range(spark):
    """An orientation outside Exif's 1..8 (here a LONG 2^32-1, which
    overflowed the ``orientation int`` column and killed the stage) is
    treated as absent: the row scrubs ``ok`` with orientation 1."""
    from pii_redactor_spark.operators.vision import scrub_image_metadata

    ifds = _full_ifds()
    ifds["ifd0"][E.TAG_ORIENTATION] = E.ExifTag(
        E.TAG_ORIENTATION, E.TYPE_LONG, [2**32 - 1])
    jx = E.insert_exif(encode_jpeg(_px()), ifds)
    df = spark.createDataFrame(
        [("o", bytearray(jx), "jpeg")],
        "image_id string, bytes binary, fmt string",
    )
    (r,) = scrub_image_metadata(df).collect()
    assert (r["flag"], r["orientation"], r["had_gps"]) == ("ok", 1, True)
    parsed = E.extract_exif(bytes(r["bytes"]))
    assert parsed["gps"] == {} and E.TAG_GPS_IFD not in parsed["ifd0"]


def test_scrub_exif_two_app1_segments():
    """Only the first Exif APP1 is scrubbed; a later one is dropped
    whole.  One APP1 out, no GPS, no duplicate ``removed`` names, and
    the first segment's orientation."""
    jp = encode_jpeg(_px())
    jx = E.insert_exif(E.insert_exif(jp, _full_ifds(orientation=3)),
                       _full_ifds(orientation=6))
    clean, rep = E.scrub_exif(jx)
    app1 = [s for m, s, _ in E.iter_segments(clean)
            if m == 0xE1 and clean[s + 4:s + 10] == b"Exif\x00\x00"]
    assert len(app1) == 1
    assert E.extract_exif(clean)["gps"] == {}
    assert rep["had_gps"] and rep["orientation"] == 6
    assert len(rep["removed"]) == len(set(rep["removed"]))
    assert "Exif" in rep["removed"]
    assert np.array_equal(decode_jpeg(clean), decode_jpeg(jp))


def test_scrub_images_corrupt_metadata_row_not_kept(spark):
    """``scrub_images(scrub_metadata=True)`` never keeps a row whose
    metadata scrub failed: its bytes are NULL and ``keep`` is false,
    while the same caption on a good stream is kept."""
    from pii_redactor_spark.pipeline.run import scrub_images

    _, jx = _tagged_jpeg()
    cap = "A golden retriever puppy playing with a red ball on the grass"
    df = spark.createDataFrame(
        [("good", bytearray(jx), 24, 16, "jpeg", cap, 0, 0),
         ("bad", bytearray(jx[:len(jx) // 3]), 24, 16, "jpeg", cap, 0, 0)],
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long, phash_prefix int",
    )
    out = {r["image_id"]: r
           for r in scrub_images(df, scrub_metadata=True).collect()}
    assert out["good"]["keep"] and out["good"]["meta_flag"] == "ok"
    assert out["bad"]["meta_flag"] == "corrupt"
    assert out["bad"]["bytes"] is None and not out["bad"]["keep"]


_PLANTED = (b"SN-PLANTED", b"OWNER-PLANTED", b"GPS-PLANTED")


def _planted_ifds() -> dict:
    """IFDs carrying the planted serial, owner and GPS strings, beside a
    kept Latin-1 ``ImageDescription``."""
    ifds = _full_ifds()
    ifds["ifd0"][0x010E] = E.ExifTag(0x010E, E.TYPE_ASCII, "Caf\xe9 photo")
    ifds["ifd0"][0x013B] = E.ExifTag(0x013B, E.TYPE_ASCII, "OWNER-PLANTED")
    ifds["exif"][0xA431] = E.ExifTag(0xA431, E.TYPE_ASCII, "SN-PLANTED-77")
    ifds["gps"][0x1B] = E.ExifTag(0x1B, E.TYPE_ASCII, "GPS-PLANTED 40N")
    return ifds


def _retype_pointer(tiff: bytes, tag: int, typ: int) -> bytes:
    """A canonical (little-endian) TIFF with IFD0's ``tag`` entry
    retyped in place, its value field untouched."""
    (n,) = struct.unpack_from("<H", tiff, 8)
    for i in range(n):
        at = 10 + 12 * i
        if struct.unpack_from("<H", tiff, at)[0] == tag:
            return tiff[:at + 2] + struct.pack("<H", typ) + tiff[at + 4:]
    raise AssertionError(f"tag 0x{tag:04X} not in IFD0")


def _planted_streams() -> dict[str, tuple[bytes, str, int]]:
    """name -> (stream, fmt, end of its metadata carriers).  Every
    container carries the planted strings in its native vehicles; the
    JPEG variants add two Exif APP1s, a GPS pointer retyped ASCII or
    RATIONAL, and the 64,622-byte APP1."""
    from pii_redactor_spark.fixtures.codecs import encode_png
    from pii_redactor_spark.fixtures.gif import encode_gif
    from pii_redactor_spark.fixtures.webp import encode_webp

    tiff = E.build_tiff(_planted_ifds())

    def jpeg(*tiffs):
        jp = encode_jpeg(_px())
        app1 = b"".join(
            struct.pack(">BBH", 0xFF, 0xE1, len(t) + 8) + b"Exif\x00\x00" + t
            for t in tiffs
        )
        return jp[:2] + app1 + jp[2:], "jpeg", 2 + len(app1)

    def png(*chunks):
        body = b"".join(chunks)
        p = encode_png(_px())
        return p[:33] + body + p[33:], "png", 33 + len(body)

    def webp(*chunks):
        body = b"".join(t + struct.pack("<I", len(c)) + c + b"\x00" * (len(c) & 1)
                        for t, c in chunks)
        w = encode_webp(_px())
        riff = body + w[12:]
        return (b"RIFF" + struct.pack("<I", 4 + len(riff)) + b"WEBP" + riff,
                "webp", 12 + len(body))

    g = encode_gif(_px())
    cut = 13 + (3 * (2 << (g[10] & 0x07)) if g[10] & 0x80 else 0)
    note = b" ".join(_PLANTED)
    comment = b"\x21\xfe" + bytes([len(note)]) + note + b"\x00"
    owner = _png_chunk(b"tEXt", b"Author\x00OWNER-PLANTED")
    return {
        "jpeg": jpeg(tiff),
        "jpeg_two_app1": jpeg(tiff, tiff),
        "jpeg_gps_ascii": jpeg(_retype_pointer(tiff, E.TAG_GPS_IFD,
                                               E.TYPE_ASCII)),
        "jpeg_gps_rational": jpeg(_retype_pointer(tiff, E.TAG_GPS_IFD,
                                                  E.TYPE_RATIONAL)),
        "jpeg_app1_64622": jpeg(_oversized_app1_tiff()),
        "png": png(owner, _png_chunk(b"eXIf", tiff)),
        "png_gps_rational": png(_png_chunk(b"eXIf", _retype_pointer(
            tiff, E.TAG_GPS_IFD, E.TYPE_RATIONAL))),
        "webp": webp((b"EXIF", tiff), (b"XMP ", b"<x>OWNER-PLANTED</x>")),
        "webp_gps_ascii": webp((b"EXIF", _retype_pointer(
            tiff, E.TAG_GPS_IFD, E.TYPE_ASCII))),
        "gif": (g[:cut] + comment + g[cut:], "gif", cut + len(comment)),
    }


_STREAMS = _planted_streams()


@st.composite
def _mutation(draw):
    """(stream name, mutated bytes, whether the planted strings must be
    gone).  Truncation anywhere and bit flips after the metadata
    carriers must leave no planted string; bit flips anywhere need only
    leave the row function standing (see the test docstring)."""
    name = draw(st.sampled_from(sorted(_STREAMS)))
    data, _, end = _STREAMS[name]
    kind = draw(st.sampled_from(("as_is", "truncate", "flip_payload",
                                 "flip_any")))
    if kind == "truncate":
        return name, data[:draw(st.integers(0, len(data) - 1))], True
    buf = bytearray(data)
    if kind != "as_is":
        lo = 0 if kind == "flip_any" else end
        for pos in draw(st.lists(st.integers(lo, len(buf) - 1),
                                 min_size=1, max_size=4)):
            buf[pos] ^= 1 << draw(st.integers(0, 7))
    return name, bytes(buf), kind != "flip_any"


@settings(max_examples=400, deadline=None)
@given(_mutation())
def test_metadata_scrub_row_fuzz_fails_closed(mutation):
    """The guarded metadata-scrub row, in process, over mutated JPEG,
    PNG, WebP and GIF streams that plant a GPS IFD, a serial and an
    owner string: it never raises, a ``corrupt`` row has NULL bytes, and
    no output holds a planted string or (JPEG) a GPS IFD.

    Flips inside the carriers themselves are held only to the first
    property: the scrub removes tags and chunks by name, so a flip that
    renames a carrier (an APP1 marker, a PNG chunk type, a GIF label, a
    PII tag id) or widens a kept tag's count over other bytes carries
    them through as unknown data."""
    from pii_redactor_spark.operators.rows import guard
    from pii_redactor_spark.operators.vision import _metadata_scrub_row

    name, data, must_be_clean = mutation
    fmt = _STREAMS[name][1]
    scrub = guard(*_metadata_scrub_row(strip_device=False,
                                       strip_timestamps=False))
    (row,) = scrub("x", data, fmt)
    out, flag = row[1], row[-1]
    assert flag in ("ok", "corrupt")
    assert (out is None) == (flag == "corrupt")
    if out is None or not must_be_clean:
        return
    assert not any(m in out for m in _PLANTED), name
    if fmt == "jpeg":
        parsed = E.extract_exif(out)
        assert parsed is None or parsed["gps"] == {}, name


def test_planted_streams_scrub_clean_as_is():
    """Unmutated, every planted stream scrubs ``ok`` with nothing planted
    left, except a JPEG whose GPS pointer is retyped: that one is
    ``corrupt`` (a PNG ``eXIf`` or WebP ``EXIF`` carrier holding the same
    TIFF is dropped whole instead)."""
    from pii_redactor_spark.operators.rows import guard
    from pii_redactor_spark.operators.vision import _metadata_scrub_row

    scrub = guard(*_metadata_scrub_row(strip_device=False,
                                       strip_timestamps=False))
    flags = {}
    for name, (data, fmt, _) in _STREAMS.items():
        assert sum(data.count(m) for m in _PLANTED) > 0 or "64622" in name
        (row,) = scrub("x", data, fmt)
        flags[name] = row[-1]
        if row[-1] == "ok":
            assert not any(m in row[1] for m in _PLANTED), name
    assert flags == {
        name: "corrupt" if name.startswith("jpeg_gps_") else "ok"
        for name in _STREAMS
    }
