"""Exif metadata: parse, build, and PII-scrub JPEG APP1 segments.

The reference engine redacts PII from *text* (entity classes at
/root/reference/src/inference.py:161-186); web-crawled *images* carry
their own PII in Exif metadata — GPS coordinates, camera body/lens
serial numbers, owner/artist names, opaque MakerNote blobs, and the
IFD1 thumbnail (which can show the pre-crop frame of an edited photo).
This module extends the engine's scrub stage to that modality: parse
the TIFF 6.0 / Exif 2.3 structure (both public specifications), drop
the PII tag classes, and REBUILD a canonical little-endian APP1 so the
output never depends on offset surgery.  The compressed pixel stream
is copied verbatim — scrubbing 10^12 images never runs a single DCT.

Structure (TIFF 6.0 §2, Exif 2.3 §4.6):
  APP1 = 0xFFE1 len "Exif\\0\\0" + TIFF stream
  TIFF = byte order ("II"/"MM") + 42 + offset to IFD0
  IFD  = count, then 12-byte entries (tag u16, type u16, count u32,
         value-or-offset u32), then next-IFD offset (IFD1 = thumbnail)
  IFD0 tag 0x8769 points to the Exif sub-IFD, 0x8825 to the GPS IFD.

Every malformed input raises ``ValueError`` (the poison-row contract
the vision operators' guards rely on).
"""

from __future__ import annotations

import struct

import numpy as np

# TIFF value types (TIFF 6.0 §2: Types).
TYPE_BYTE = 1
TYPE_ASCII = 2
TYPE_SHORT = 3
TYPE_LONG = 4
TYPE_RATIONAL = 5
TYPE_SBYTE = 6
TYPE_UNDEFINED = 7
TYPE_SSHORT = 8
TYPE_SLONG = 9
TYPE_SRATIONAL = 10
TYPE_FLOAT = 11
TYPE_DOUBLE = 12

_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4,
              10: 8, 11: 4, 12: 8}

# Pointer tags (IFD0 -> sub-IFDs).
TAG_EXIF_IFD = 0x8769
TAG_GPS_IFD = 0x8825

TAG_ORIENTATION = 0x0112
TAG_MAKE = 0x010F
TAG_MODEL = 0x0110

# IFD1 thumbnail stream location/length.
TAG_JPEG_IF = 0x0201
TAG_JPEG_IF_LEN = 0x0202

# PII tag classes stripped by default.  GPS is handled as a whole IFD.
PII_TAGS_IFD0 = {
    0x013B: "Artist",
    0x8298: "Copyright",
}
PII_TAGS_EXIF = {
    0x927C: "MakerNote",        # opaque vendor blob; serials inside
    0x9286: "UserComment",
    0xA420: "ImageUniqueID",
    0xA430: "CameraOwnerName",
    0xA431: "BodySerialNumber",
    0xA435: "LensSerialNumber",
}

_EXIF_PREFIX = b"Exif\x00\x00"
_XMP_PREFIX = b"http://ns.adobe.com/xap/1.0/\x00"


class ExifTag:
    """One IFD entry: ``tag`` id, TIFF ``type``, decoded ``values``.

    values: str for ASCII (no trailing NUL; each byte one latin-1 char,
    so any byte round-trips), bytes for BYTE/UNDEFINED,
    list[int] for SHORT/LONG/SLONG, list[(num, den)] for rationals.
    """

    __slots__ = ("tag", "type", "values")

    def __init__(self, tag: int, type_: int, values):
        self.tag = tag
        self.type = type_
        self.values = values

    def __repr__(self):  # pragma: no cover - debugging aid
        return f"ExifTag(0x{self.tag:04X}, t{self.type}, {self.values!r})"

    def __eq__(self, other):
        return (
            isinstance(other, ExifTag)
            and (self.tag, self.type, self.values)
            == (other.tag, other.type, other.values)
        )


def _decode_values(type_: int, count: int, raw: bytes, endian: str):
    if type_ == TYPE_ASCII:
        return raw.split(b"\x00", 1)[0].decode("latin-1")
    if type_ in (TYPE_BYTE, TYPE_UNDEFINED):
        return raw[:count]
    if type_ == TYPE_SHORT:
        return list(struct.unpack(f"{endian}{count}H", raw[: 2 * count]))
    if type_ == TYPE_LONG:
        return list(struct.unpack(f"{endian}{count}I", raw[: 4 * count]))
    if type_ == TYPE_SLONG:
        return list(struct.unpack(f"{endian}{count}i", raw[: 4 * count]))
    if type_ == TYPE_SBYTE:
        return list(struct.unpack(f"{endian}{count}b", raw[:count]))
    if type_ == TYPE_SSHORT:
        return list(struct.unpack(f"{endian}{count}h", raw[: 2 * count]))
    if type_ == TYPE_FLOAT:
        return list(struct.unpack(f"{endian}{count}f", raw[: 4 * count]))
    if type_ == TYPE_DOUBLE:
        return list(struct.unpack(f"{endian}{count}d", raw[: 8 * count]))
    if type_ == TYPE_RATIONAL:
        flat = struct.unpack(f"{endian}{2 * count}I", raw[: 8 * count])
        return [(flat[i], flat[i + 1]) for i in range(0, len(flat), 2)]
    if type_ == TYPE_SRATIONAL:
        flat = struct.unpack(f"{endian}{2 * count}i", raw[: 8 * count])
        return [(flat[i], flat[i + 1]) for i in range(0, len(flat), 2)]
    raise ValueError(f"exif: unsupported TIFF type {type_}")


def _encode_values(tag: ExifTag) -> tuple[int, bytes]:
    """-> (count, payload bytes), little-endian canonical."""
    t, v = tag.type, tag.values
    if t == TYPE_ASCII:
        data = v.encode("latin-1") + b"\x00"
        return len(data), data
    if t in (TYPE_BYTE, TYPE_UNDEFINED):
        return len(v), bytes(v)
    if t == TYPE_SHORT:
        return len(v), struct.pack(f"<{len(v)}H", *v)
    if t == TYPE_LONG:
        return len(v), struct.pack(f"<{len(v)}I", *v)
    if t == TYPE_SLONG:
        return len(v), struct.pack(f"<{len(v)}i", *v)
    if t == TYPE_SBYTE:
        return len(v), struct.pack(f"<{len(v)}b", *v)
    if t == TYPE_SSHORT:
        return len(v), struct.pack(f"<{len(v)}h", *v)
    if t == TYPE_FLOAT:
        return len(v), struct.pack(f"<{len(v)}f", *v)
    if t == TYPE_DOUBLE:
        return len(v), struct.pack(f"<{len(v)}d", *v)
    if t == TYPE_RATIONAL:
        flat = [x for pair in v for x in pair]
        return len(v), struct.pack(f"<{len(flat)}I", *flat)
    if t == TYPE_SRATIONAL:
        flat = [x for pair in v for x in pair]
        return len(v), struct.pack(f"<{len(flat)}i", *flat)
    raise ValueError(f"exif: unsupported TIFF type {t}")


def _parse_ifd(data: bytes, off: int, endian: str):
    """-> (tags dict {id: ExifTag}, next-IFD offset)."""
    if off + 2 > len(data):
        raise ValueError("exif: IFD offset out of bounds")
    (n,) = struct.unpack_from(f"{endian}H", data, off)
    end = off + 2 + 12 * n
    if end + 4 > len(data):
        raise ValueError("exif: IFD entries out of bounds")
    tags: dict[int, ExifTag] = {}
    for i in range(n):
        tag, typ, count = struct.unpack_from(
            f"{endian}HHI", data, off + 2 + 12 * i
        )
        if typ not in _TYPE_SIZE:
            # Unknown type: skip the entry (TIFF readers must tolerate).
            continue
        size = _TYPE_SIZE[typ] * count
        voff = off + 2 + 12 * i + 8
        if size > 4:
            (vptr,) = struct.unpack_from(f"{endian}I", data, voff)
            if vptr + size > len(data):
                raise ValueError("exif: value offset out of bounds")
            raw = data[vptr : vptr + size]
        else:
            raw = data[voff : voff + 4]
        tags[tag] = ExifTag(tag, typ, _decode_values(typ, count, raw, endian))
    (nxt,) = struct.unpack_from(f"{endian}I", data, end)
    return tags, nxt


def _first_int(tag: ExifTag | None) -> int | None:
    """First value of a pointer, thumbnail or orientation tag (None when
    absent or empty).  A crafted type (ASCII, RATIONAL, FLOAT) or a
    negative value is a malformed stream: ValueError, not TypeError."""
    if tag is None or not tag.values:
        return None
    v = tag.values[0]
    if not isinstance(v, int) or v < 0:
        raise ValueError(f"exif: tag 0x{tag.tag:04X} needs an int >= 0")
    return v


def parse_tiff(data: bytes) -> dict:
    """TIFF stream -> {'ifd0': {...}, 'exif': {...}, 'gps': {...},
    'ifd1': {...}, 'thumbnail': bytes | None}.  Handles both byte
    orders; raises ValueError on any structural fault."""
    if len(data) < 8:
        raise ValueError("exif: TIFF header truncated")
    order = data[:2]
    if order == b"II":
        endian = "<"
    elif order == b"MM":
        endian = ">"
    else:
        raise ValueError("exif: bad TIFF byte order")
    magic, ifd0_off = struct.unpack_from(f"{endian}HI", data, 2)
    if magic != 42:
        raise ValueError("exif: bad TIFF magic")
    out = {"ifd0": {}, "exif": {}, "gps": {}, "ifd1": {},
           "thumbnail": None}
    out["ifd0"], next_off = _parse_ifd(data, ifd0_off, endian)
    for key, ptr_tag in (("exif", TAG_EXIF_IFD), ("gps", TAG_GPS_IFD)):
        ptr = _first_int(out["ifd0"].get(ptr_tag))
        if ptr is not None:
            out[key], _ = _parse_ifd(data, ptr, endian)
    if next_off:
        out["ifd1"], _ = _parse_ifd(data, next_off, endian)
        start = _first_int(out["ifd1"].get(TAG_JPEG_IF))
        length = _first_int(out["ifd1"].get(TAG_JPEG_IF_LEN))
        if start is not None and length is not None:
            if start + length > len(data):
                raise ValueError("exif: thumbnail out of bounds")
            out["thumbnail"] = data[start : start + length]
    return out


def _ifd_sizes(tags: list[ExifTag]) -> tuple[int, int]:
    """-> (table bytes, out-of-line value bytes incl. word padding)."""
    table = 2 + 12 * len(tags) + 4
    extra = 0
    for t in tags:
        _, payload = _encode_values(t)
        if len(payload) > 4:
            extra += len(payload) + (len(payload) & 1)
    return table, extra


def _build_ifd(tags: list[ExifTag], ifd_off: int, next_off: int = 0) -> bytes:
    """Serialize one IFD at absolute TIFF offset ``ifd_off``; out-of-line
    values follow the table immediately."""
    tags = sorted(tags, key=lambda t: t.tag)  # TIFF requires ascending
    table_len = 2 + 12 * len(tags) + 4
    body = bytearray(struct.pack("<H", len(tags)))
    extra = bytearray()
    for t in tags:
        count, payload = _encode_values(t)
        body += struct.pack("<HHI", t.tag, t.type, count)
        if len(payload) > 4:
            body += struct.pack("<I", ifd_off + table_len + len(extra))
            extra += payload
            if len(extra) & 1:
                extra += b"\x00"
        else:
            body += payload.ljust(4, b"\x00")
    body += struct.pack("<I", next_off)
    return bytes(body) + bytes(extra)


def build_tiff(ifds: dict) -> bytes:
    """{'ifd0'/'exif'/'gps': {id: ExifTag}} -> canonical little-endian
    TIFF stream (no IFD1 — the scrubbed output never carries a
    thumbnail)."""
    ifd0 = {t.tag: t for t in ifds.get("ifd0", {}).values()}
    exif = dict(ifds.get("exif", {}))
    gps = dict(ifds.get("gps", {}))
    ifd0.pop(TAG_EXIF_IFD, None)
    ifd0.pop(TAG_GPS_IFD, None)
    if exif:
        ifd0[TAG_EXIF_IFD] = ExifTag(TAG_EXIF_IFD, TYPE_LONG, [0])
    if gps:
        ifd0[TAG_GPS_IFD] = ExifTag(TAG_GPS_IFD, TYPE_LONG, [0])

    ifd0_list = list(ifd0.values())
    t0, e0 = _ifd_sizes(ifd0_list)
    off0 = 8
    off_exif = off0 + t0 + e0
    if exif:
        t1, e1 = _ifd_sizes(list(exif.values()))
        off_gps = off_exif + t1 + e1
    else:
        off_gps = off_exif
    if exif:
        ifd0[TAG_EXIF_IFD] = ExifTag(TAG_EXIF_IFD, TYPE_LONG, [off_exif])
    if gps:
        ifd0[TAG_GPS_IFD] = ExifTag(TAG_GPS_IFD, TYPE_LONG, [off_gps])

    out = bytearray(struct.pack("<2sHI", b"II", 42, off0))
    out += _build_ifd(list(ifd0.values()), off0)
    if exif:
        out += _build_ifd(list(exif.values()), off_exif)
    if gps:
        out += _build_ifd(list(gps.values()), off_gps)
    return bytes(out)


# ---------------------------------------------------------------------------
# JPEG segment surgery

_STANDALONE = set(range(0xD0, 0xD8)) | {0xD8, 0xD9, 0x01}


def iter_segments(data: bytes):
    """Yield (marker, start, end) for every segment up to and including
    SOS; the entropy-coded tail after SOS is NOT walked (0xFF bytes
    inside it are byte-stuffed or RSTn).  Raises ValueError on a
    malformed stream."""
    if len(data) < 2 or data[0] != 0xFF or data[1] != 0xD8:
        raise ValueError("exif: not a JPEG (no SOI)")
    yield 0xD8, 0, 2
    pos = 2
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError("exif: expected marker")
        while pos < len(data) and data[pos] == 0xFF:
            pos += 1  # fill bytes (T.81 §B.1.1.2)
        if pos >= len(data):
            raise ValueError("exif: truncated at marker")
        marker = data[pos]
        pos += 1
        if marker in _STANDALONE:
            yield marker, pos - 2, pos
            if marker == 0xD9:
                return
            continue
        if pos + 2 > len(data):
            raise ValueError("exif: truncated segment length")
        (ln,) = struct.unpack_from(">H", data, pos)
        if ln < 2 or pos + ln > len(data):
            raise ValueError("exif: bad segment length")
        yield marker, pos - 2, pos + ln
        pos += ln
        if marker == 0xDA:  # SOS: entropy data follows
            return


def extract_exif(jpeg: bytes) -> dict | None:
    """First Exif APP1's parsed TIFF (see parse_tiff), or None."""
    for marker, s, e in iter_segments(jpeg):
        if marker == 0xE1 and jpeg[s + 4 : s + 10] == _EXIF_PREFIX:
            return parse_tiff(jpeg[s + 10 : e])
    return None


def insert_exif(jpeg: bytes, ifds: dict) -> bytes:
    """Insert a canonical Exif APP1 right after SOI (Exif 2.3 §4.5.4)."""
    tiff = build_tiff(ifds)
    payload = _EXIF_PREFIX + tiff
    if len(payload) + 2 > 0xFFFF:
        raise ValueError("exif: APP1 would exceed 64 KiB")
    seg = struct.pack(">BBH", 0xFF, 0xE1, len(payload) + 2) + payload
    if len(jpeg) < 2 or jpeg[:2] != b"\xff\xd8":
        raise ValueError("exif: not a JPEG (no SOI)")
    return jpeg[:2] + seg + jpeg[2:]


def orientation_of(jpeg: bytes) -> int:
    """Exif orientation tag value (1 when absent)."""
    parsed = extract_exif(jpeg)
    if not parsed:
        return 1
    o = _first_int(parsed["ifd0"].get(TAG_ORIENTATION))
    return 1 if o is None else o


def _fresh_report() -> dict:
    return {
        "had_exif": False,
        "had_gps": False,
        "had_thumbnail": False,
        "orientation": 1,
        "removed": [],
    }


def _scrub_tiff_payload(
    tiff: bytes,
    report: dict,
    *,
    strip_device: bool,
    strip_timestamps: bool,
) -> bytes:
    """Parse one Exif TIFF payload, drop the PII tag classes into
    ``report``, and return the rebuilt canonical stream.  Shared by the
    JPEG APP1, PNG ``eXIf``, and WebP ``EXIF`` carriers."""
    parsed = parse_tiff(tiff)
    report["had_exif"] = True
    if parsed["gps"]:
        report["had_gps"] = True
        report["removed"].append("GPS")
    if parsed["ifd1"] or parsed["thumbnail"] is not None:
        report["had_thumbnail"] = True
        report["removed"].append("Thumbnail")
    o = _first_int(parsed["ifd0"].get(TAG_ORIENTATION))
    if o is not None and 1 <= o <= 8:
        # Exif 2.3 defines 1..8; any other value is treated as absent
        report["orientation"] = o
    drop0 = dict(PII_TAGS_IFD0)
    drop1 = dict(PII_TAGS_EXIF)
    if strip_device:
        drop0.update({TAG_MAKE: "Make", TAG_MODEL: "Model"})
        drop1.update({0xA433: "LensMake", 0xA434: "LensModel"})
    if strip_timestamps:
        drop0[0x0132] = "DateTime"
        drop1.update(
            {0x9003: "DateTimeOriginal", 0x9004: "DateTimeDigitized"}
        )
    for ifd, dropmap in (("ifd0", drop0), ("exif", drop1)):
        for tid, name in sorted(dropmap.items()):
            if tid in parsed[ifd]:
                del parsed[ifd][tid]
                report["removed"].append(name)
    return build_tiff(
        {"ifd0": parsed["ifd0"], "exif": parsed["exif"], "gps": {}}
    )


def scrub_exif(
    jpeg: bytes,
    *,
    strip_device: bool = False,
    strip_timestamps: bool = False,
) -> tuple[bytes, dict]:
    """Strip PII metadata from a JPEG byte stream.

    Removed unconditionally: the whole GPS IFD, Artist/Copyright,
    MakerNote, UserComment, ImageUniqueID, CameraOwnerName, body and
    lens serial numbers, the IFD1 thumbnail (pre-crop privacy leak),
    and whole XMP APP1 segments (XMP can carry GPS and creator identity in
    XML, which this module does not parse).
    Orientation, Make/Model (unless ``strip_device``), and timestamps
    (unless ``strip_timestamps``) survive.  Only the first Exif APP1 is
    scrubbed and rebuilt; a later one, and one whose rebuild would not
    fit a segment, is dropped whole (``removed`` gets ``Exif`` once).
    The compressed image data is copied verbatim: decoded pixels are
    byte-identical.

    -> (scrubbed bytes, report dict).
    """
    report = _fresh_report()
    out = bytearray()
    consumed = 0
    for marker, s, e in iter_segments(jpeg):
        if marker == 0xE1 and jpeg[s + 4 : s + 10] == _EXIF_PREFIX:
            out += jpeg[consumed:s]
            consumed = e
            payload = None
            if not report["had_exif"]:  # the first Exif APP1
                payload = _EXIF_PREFIX + _scrub_tiff_payload(
                    jpeg[s + 10 : e], report,
                    strip_device=strip_device,
                    strip_timestamps=strip_timestamps,
                )
            # the canonical rebuild pads odd-length values, so a
            # near-limit APP1 can outgrow its length field: drop it
            if payload is not None and len(payload) + 2 <= 0xFFFF:
                out += struct.pack(">BBH", 0xFF, 0xE1, len(payload) + 2)
                out += payload
            elif "Exif" not in report["removed"]:
                report["removed"].append("Exif")
        elif marker == 0xE1 and jpeg[s + 4 : e].startswith(_XMP_PREFIX):
            report["removed"].append("XMP")
            out += jpeg[consumed:s]
            consumed = e
    out += jpeg[consumed:]
    return bytes(out), report


# ---------------------------------------------------------------------------
# PNG / WebP / GIF metadata carriers (container-level PII scrub)

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_TEXT_CHUNKS = (b"tEXt", b"zTXt", b"iTXt")


def scrub_png_metadata(
    png: bytes,
    *,
    strip_device: bool = False,
    strip_timestamps: bool = False,
) -> tuple[bytes, dict]:
    """Strip PII metadata chunks from a PNG byte stream.

    Dropped wholesale: ``tEXt``/``zTXt``/``iTXt`` (free-text key-value
    pairs — author, comment, GPS-in-text, XMP rides ``iTXt``).  The
    ``eXIf`` chunk (PNG 1.5 extension: a whole Exif TIFF) is scrubbed
    through the shared TIFF path and REBUILT, so orientation survives;
    an unparseable ``eXIf`` is dropped wholesale.  Pixel chunks (IHDR /
    PLTE / IDAT / IEND / everything else) are copied verbatim with
    their original CRCs — decoded pixels byte-identical.
    """
    import zlib

    if png[:8] != _PNG_SIG:
        raise ValueError("exif: not a PNG (signature missing)")
    report = _fresh_report()
    out = bytearray(png[:8])
    pos = 8
    while pos < len(png):
        if pos + 8 > len(png):
            raise ValueError("exif: truncated PNG chunk header")
        (ln,) = struct.unpack_from(">I", png, pos)
        typ = png[pos + 4 : pos + 8]
        end = pos + 8 + ln + 4
        if end > len(png):
            raise ValueError("exif: truncated PNG chunk")
        if typ in _PNG_TEXT_CHUNKS:
            report["removed"].append(typ.decode("ascii"))
        elif typ == b"eXIf":
            try:
                tiff = _scrub_tiff_payload(
                    png[pos + 8 : pos + 8 + ln], report,
                    strip_device=strip_device,
                    strip_timestamps=strip_timestamps,
                )
                out += struct.pack(">I", len(tiff)) + b"eXIf" + tiff
                out += struct.pack(">I", zlib.crc32(b"eXIf" + tiff))
            except ValueError:
                report["removed"].append("eXIf")
        else:
            out += png[pos:end]
        pos = end
        if typ == b"IEND":
            out += png[pos:]  # trailing bytes, copied verbatim
            break
    return bytes(out), report


_RIFF = b"RIFF"
_WEBP = b"WEBP"


def scrub_webp_metadata(
    webp: bytes,
    *,
    strip_device: bool = False,
    strip_timestamps: bool = False,
) -> tuple[bytes, dict]:
    """Strip the ``EXIF`` and ``XMP `` chunks from a WebP RIFF container.

    The EXIF payload (raw TIFF, optionally ``Exif\\0\\0``-prefixed) is
    parsed through the shared path for the report (GPS presence,
    orientation) but the chunk is DROPPED, not rebuilt — WebP viewers
    ignore orientation anyway and the rebuilt chunk would only re-grow
    the container.  The VP8X feature-flags byte has its EXIF (0x08) and
    XMP (0x04) bits cleared; the RIFF size field is recomputed.  Image
    chunks (VP8L/VP8/ALPH/ANIM/ANMF/ICCP) are copied verbatim.
    """
    if webp[:4] != _RIFF or webp[8:12] != _WEBP:
        raise ValueError("exif: not a WebP (RIFF/WEBP header missing)")
    report = _fresh_report()
    body = bytearray()
    pos = 12
    vp8x_at = None
    while pos + 8 <= len(webp):
        tag = webp[pos : pos + 4]
        (size,) = struct.unpack_from("<I", webp, pos + 4)
        end = pos + 8 + size + (size & 1)
        if pos + 8 + size > len(webp):
            raise ValueError("exif: truncated WebP chunk")
        if tag == b"EXIF":
            payload = webp[pos + 8 : pos + 8 + size]
            if payload[:6] == _EXIF_PREFIX:
                payload = payload[6:]
            try:
                _scrub_tiff_payload(
                    payload, report,
                    strip_device=strip_device,
                    strip_timestamps=strip_timestamps,
                )
            except ValueError:
                report["had_exif"] = True
            if "EXIF" not in report["removed"]:
                report["removed"].append("EXIF")
        elif tag == b"XMP ":
            report["removed"].append("XMP")
        else:
            if tag == b"VP8X" and size >= 1:
                vp8x_at = len(body) + 8
            body += webp[pos:end]
        pos = end
    if vp8x_at is not None:
        body[vp8x_at] &= ~0x0C  # clear EXIF (0x08) + XMP (0x04) flags
    out = _RIFF + struct.pack("<I", 4 + len(body)) + _WEBP + bytes(body)
    return out, report


_GIF_SIGS = (b"GIF87a", b"GIF89a")


def scrub_gif_metadata(gif: bytes) -> tuple[bytes, dict]:
    """Strip comment extensions (0x21 0xFE — free text: author, tool,
    location notes) and the XMP application extension (``XMP DataXMP``
    — its payload survives GIF sub-block framing via the spec's
    magic-trailer hack, so the generic sub-block walk skips it
    correctly) from a GIF stream.  NETSCAPE2.0 (loop control), graphic
    control, plain-text, and all image blocks are copied verbatim.
    """
    from .gif import _skip_subblocks

    if gif[:6] not in _GIF_SIGS:
        raise ValueError("exif: not a GIF")
    report = _fresh_report()
    if len(gif) < 13:
        raise ValueError("exif: truncated GIF header")
    pos = 13
    packed = gif[10]
    if packed & 0x80:
        pos += 3 * (2 << (packed & 0x07))
    out = bytearray(gif[:pos])
    try:
        while True:
            if pos >= len(gif):
                raise ValueError("exif: truncated GIF (no trailer)")
            block = gif[pos]
            if block == 0x3B:  # trailer
                out += gif[pos:]
                break
            if block == 0x21:
                label = gif[pos + 1]
                if label == 0xFE:
                    end = _skip_subblocks(gif, pos + 2)
                    report["removed"].append("Comment")
                    pos = end
                    continue
                if label == 0xFF:
                    app_id = gif[pos + 3 : pos + 14]
                    end = _skip_subblocks(gif, pos + 2)
                    if app_id == b"XMP DataXMP":
                        report["removed"].append("XMP")
                        pos = end
                        continue
                    out += gif[pos:end]
                    pos = end
                    continue
                end = _skip_subblocks(gif, pos + 2)
                out += gif[pos:end]
                pos = end
                continue
            if block != 0x2C:
                raise ValueError(f"exif: unknown GIF block 0x{block:02x}")
            # image descriptor + optional local color table + LZW data
            ipacked = gif[pos + 9]
            seg = pos + 10
            if ipacked & 0x80:
                seg += 3 * (2 << (ipacked & 0x07))
            end = _skip_subblocks(gif, seg + 1)
            out += gif[pos:end]
            pos = end
    except IndexError:
        raise ValueError("exif: truncated GIF block") from None
    return bytes(out), report


# ---------------------------------------------------------------------------
# Orientation normalization (Exif 2.3 §4.6.4 orientation semantics; the
# transform table matches PIL's ImageOps.exif_transpose mapping).

def normalize_orientation(pixels: np.ndarray, orientation: int) -> np.ndarray:
    """Undo the Exif orientation: returns pixels in display order."""
    o = int(orientation)
    if o in (0, 1):
        return pixels
    if o == 2:  # mirror horizontal
        return pixels[:, ::-1]
    if o == 3:  # rotate 180
        return pixels[::-1, ::-1]
    if o == 4:  # mirror vertical
        return pixels[::-1, :]
    if o == 5:  # transpose (TL-BR diagonal flip)
        return pixels.swapaxes(0, 1)
    if o == 6:  # stored rotated 90 CCW -> display needs 90 CW
        return np.rot90(pixels, k=-1)
    if o == 7:  # transverse (TR-BL diagonal flip)
        return np.rot90(pixels, k=-1)[::-1, :]
    if o == 8:  # stored rotated 90 CW -> display needs 90 CCW
        return np.rot90(pixels, k=1)
    raise ValueError(f"exif: bad orientation {orientation}")
