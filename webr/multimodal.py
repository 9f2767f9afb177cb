"""Media container sniffing: format and pixel dimensions of PNG, JPEG and
GIF payloads from their headers, in pure Python with no codec, plus the
byte builders that make spec-valid payloads. The driver query
``q_media_sniff`` runs both inside Arrow batches.
"""

from __future__ import annotations

# ---------------------------------------------------------------------------
# Real container sniffing — pure-Python header parsing, no codec needed.
# PNG (IHDR), JPEG (segment walk to SOFn), GIF (logical screen descriptor)
# per their public format specs; everything else -> (None, None, None).

_JPEG_SOF = frozenset(
    # SOF0-15 minus DHT(0xC4) / JPG(0xC8) / DAC(0xCC), per ITU T.81
    m for m in range(0xC0, 0xD0) if m not in (0xC4, 0xC8, 0xCC))


def sniff_media(b: bytes) -> tuple[str | None, int | None, int | None]:
    """(format, width, height) from real container headers; unknown or
    truncated input -> (None, None, None); a recognized container whose
    dimensions can't be located keeps the format with NULL dims."""
    if len(b) >= 24 and b[:8] == b"\x89PNG\r\n\x1a\n" \
            and b[12:16] == b"IHDR":
        return ("png", int.from_bytes(b[16:20], "big"),
                int.from_bytes(b[20:24], "big"))
    if len(b) >= 4 and b[:2] == b"\xff\xd8":
        i = 2
        while i + 4 <= len(b):
            if b[i] != 0xFF:
                break
            marker = b[i + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2  # standalone markers carry no length
                continue
            if marker in (0xD9, 0xDA):  # EOI / SOS before any SOF
                break
            seglen = int.from_bytes(b[i + 2:i + 4], "big")
            if seglen < 2:
                break
            if marker in _JPEG_SOF and i + 9 <= len(b):
                return ("jpeg", int.from_bytes(b[i + 7:i + 9], "big"),
                        int.from_bytes(b[i + 5:i + 7], "big"))
            i += 2 + seglen
        return ("jpeg", None, None)
    if len(b) >= 10 and b[:6] in (b"GIF87a", b"GIF89a"):
        return ("gif", int.from_bytes(b[6:8], "little"),
                int.from_bytes(b[8:10], "little"))
    return (None, None, None)


def png_bytes(w: int, h: int) -> bytes:
    """Minimal spec-valid PNG prefix (signature + IHDR incl. real CRC);
    33 bytes. Used to synthesize deterministic test/oracle payloads."""
    import zlib
    ihdr = (w.to_bytes(4, "big") + h.to_bytes(4, "big")
            + bytes([8, 0, 0, 0, 0]))
    chunk = b"IHDR" + ihdr
    return (b"\x89PNG\r\n\x1a\n" + len(ihdr).to_bytes(4, "big") + chunk
            + zlib.crc32(chunk).to_bytes(4, "big"))


def jpeg_bytes(w: int, h: int) -> bytes:
    """SOI + APP0(JFIF) + SOF0 + EOI; 34 bytes. The APP0 segment forces
    the sniffer's walker to skip a non-SOF segment correctly."""
    app0 = b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    sof = (bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
           + bytes([1, 0x11, 0]))
    return (b"\xff\xd8"
            + b"\xff\xe0" + (len(app0) + 2).to_bytes(2, "big") + app0
            + b"\xff\xc0" + (len(sof) + 2).to_bytes(2, "big") + sof
            + b"\xff\xd9")


def gif_bytes(w: int, h: int) -> bytes:
    """GIF89a header + logical screen descriptor + trailer; 14 bytes."""
    return (b"GIF89a" + w.to_bytes(2, "little") + h.to_bytes(2, "little")
            + bytes([0, 0, 0]) + b"\x3b")
