"""Multimodal column plumbing (SURVEY §7.7).

Image/audio/video content is carried as an opaque ``binary`` column plus a
typed metadata struct; decode / feature-extraction runs as an Arrow-batched
pandas stage (``mapInPandas``) — the one place Python belongs, because the
work is per-byte, not relational. The Spark-side contract (schema,
partitioning, batch shape) is real and tested, and since round 6 so is the
codec for uncompressed formats:

- :func:`decode_image` REALLY decodes PPM (P6), uncompressed 24-bit BMP,
  — via stdlib zlib — 8-bit non-interlaced PNG (gray/RGB/RGBA, all
  five scanline filters), and — since r14, via
  :mod:`ibc_spark.ext.jpegcodec` — baseline AND progressive JFIF/JPEG,
  all in pure numpy (plus :func:`encode_ppm` / :func:`encode_png` /
  :func:`resize_nearest` / :func:`image_channel_stats`; the
  encode→decode identity is oracle-checked by
  ``multimodal_image_roundtrip_stats`` and its PNG sibling, the JPEG
  loop by the flat-MCU entries). Only arithmetic-coded JPEG and
  VP8-family formats (WebP/AVIF) remain a loud ``NotImplementedError``
  seam where Pillow/torchvision/ffmpeg plugs in.
- :func:`extract_features` computes DETERMINISTIC fake features from the
  raw bytes, so the full pipeline (including the pandas boundary) is
  hash-checkable against a SQL oracle.

At 100 TB: ``spark.read.format("binaryFile")`` (or parquet with a binary
column) partitions by file/row-group; the pandas stage is a narrow map —
no shuffle; ``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds batch
memory for large payloads.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("head_byte", T.LongType()),
        T.StructField("fake_embedding", T.ArrayType(T.FloatType())),
    ]
)


def attach_binary(docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Attach an opaque payload + typed metadata to each row (stand-in for a
    real media column; payload = UTF-8 bytes of the text head so every
    engine can reproduce it)."""
    payload = F.encode(F.substring(F.col(text_col), 1, 64), "UTF-8")
    return docs.select(
        F.col(id_col),
        payload.alias("payload"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.length(payload).alias("n_bytes"),
            F.lit("fake").alias("codec"),
        ).alias("media_meta"),
    )


def encode_ppm(arr) -> bytes:
    """Encode an (H, W, 3) uint8 array as binary PPM (P6) — the test-side
    twin of :func:`decode_image`'s PPM path."""
    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim != 3 or a.shape[2] != 3:
        raise ValueError("expected (H, W, 3) uint8 array")
    h, w = a.shape[:2]
    return f"P6\n{w} {h}\n255\n".encode() + a.tobytes()


def _decode_ppm(payload: bytes):
    """P6 header = ASCII tokens (magic, width, height, maxval) separated by
    whitespace, '#' comments allowed, one whitespace byte before the raw
    RGB plane."""
    import numpy as np

    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            pos = payload.index(b"\n", pos) + 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(payload[start:pos]))
    w, h, maxval = tokens
    if maxval != 255:
        raise NotImplementedError("only 8-bit PPM supported")
    pos += 1  # single whitespace after maxval
    plane = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=pos)
    return plane.reshape(h, w, 3).copy()


def _decode_bmp(payload: bytes):
    """BMP decode: little-endian BITMAPINFOHEADER, rows padded to 4
    bytes, stored bottom-up (top-down when height is negative), BGR
    order. Since r14 the full common matrix: uncompressed 24-bit,
    32-bit BGRX (pad byte dropped), 8-bit palette (BI_RGB), and
    RLE8-compressed 8-bit palette (BI_RLE8, shared opcode decoder with
    the AVI 'MRLE' branch). 16-bit bitfield / 4-bit / 1-bit variants
    stay the loud seam."""
    import struct

    import numpy as np

    (data_off,) = struct.unpack_from("<I", payload, 10)
    (hdr_size,) = struct.unpack_from("<I", payload, 14)
    w, h = struct.unpack_from("<ii", payload, 18)
    (bpp,) = struct.unpack_from("<H", payload, 28)
    (compression,) = struct.unpack_from("<I", payload, 30)
    (clr_used,) = struct.unpack_from("<I", payload, 46)
    flip = h > 0
    h = abs(h)
    if bpp == 8 and compression in (0, 1):
        ncol = clr_used or 256
        pal_off = 14 + hdr_size
        quads = np.frombuffer(
            payload, np.uint8, count=ncol * 4, offset=pal_off
        ).reshape(ncol, 4)
        pal = quads[:, [2, 1, 0]].copy()  # BGR0 -> RGB
        if compression == 1:  # BI_RLE8 — spec stores bottom-up only
            idx = _rle8_decode_plane(payload[data_off:], h, w)
            if int(idx.max(initial=0)) >= ncol:
                raise ValueError("BMP palette index out of range")
            img = pal[idx]
            return (img[::-1] if flip else img).copy()
        stride = ((w + 3) // 4) * 4
        rows = np.frombuffer(
            payload, np.uint8, count=stride * h, offset=data_off
        ).reshape(h, stride)
        idx = rows[:, :w]
        if int(idx.max(initial=0)) >= ncol:
            raise ValueError("BMP palette index out of range")
        img = pal[idx]
        return (img[::-1] if flip else img).copy()
    if bpp in (24, 32) and compression == 0:
        nb = bpp // 8
        stride = ((w * nb + 3) // 4) * 4
        rows = np.frombuffer(
            payload, dtype=np.uint8, count=stride * h, offset=data_off
        ).reshape(h, stride)
        img = rows[:, : w * nb].reshape(h, w, nb)[:, :, 2::-1]  # BGR(X) -> RGB
        return (img[::-1] if flip else img).copy()
    raise NotImplementedError(
        "only 24/32-bit uncompressed and 8-bit palette (BI_RGB/BI_RLE8) "
        "BMP supported"
    )


def encode_bmp_palette(idx, palette, *, rle: bool = False) -> bytes:
    """Encode an (H, W) palette-index grid + (N, 3) RGB palette as an
    8-bit BMP — uncompressed (BI_RGB, DWORD-padded rows) or
    RLE8-compressed (BI_RLE8, same opcode emitter as the AVI 'MRLE'
    frames). The test-side twin of :func:`_decode_bmp`'s r14 paths."""
    import struct

    import numpy as np

    a = np.asarray(idx, dtype=np.uint8)
    pal = np.asarray(palette, dtype=np.uint8)
    if a.ndim != 2 or pal.ndim != 2 or pal.shape[1] != 3:
        raise ValueError("expected (H, W) indices and (N, 3) palette")
    if int(a.max(initial=0)) >= len(pal):
        raise ValueError("palette index out of range")
    h, w = a.shape
    quads = b"".join(bytes([int(b_), int(g_), int(r_), 0]) for r_, g_, b_ in pal)
    if rle:
        pix = _rle8_encode_plane(a)
        compression = 1
    else:
        stride = ((w + 3) // 4) * 4
        padded = np.zeros((h, stride), np.uint8)
        padded[:, :w] = a[::-1]  # bottom-up
        pix = padded.tobytes()
        compression = 0
    data_off = 14 + 40 + len(quads)
    header = struct.pack(
        "<2sIHHI", b"BM", data_off + len(pix), 0, 0, data_off
    ) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 8, compression, len(pix), 0, 0, len(pal), 0
    )
    return header + quads + pix


TGA_FOOTER = b"TRUEVISION-XFILE.\x00"


def encode_tga(arr, *, rle: bool = False) -> bytes:
    """Encode an (H, W, 3) uint8 RGB array as a 24-bit Truevision TGA
    (type 2 uncompressed or type 10 RLE, bottom-up BGR) with the
    new-style footer signature — the footer is what lets
    :func:`decode_image` route TGA, which has no leading magic (r14)."""
    import struct

    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim != 3 or a.shape[2] != 3:
        raise ValueError("expected (H, W, 3) uint8 array")
    h, w = a.shape[:2]
    hdr = struct.pack("<BBBHHBHHHHBB", 0, 0, 10 if rle else 2, 0, 0, 0, 0, 0, w, h, 24, 0)
    bgr = a[::-1, :, ::-1]  # bottom-up BGR
    if not rle:
        body = bgr.tobytes()
    else:
        out = bytearray()
        for row in bgr.reshape(h, w, 3):
            i = 0
            while i < w:
                j = i
                while j + 1 < w and (row[j + 1] == row[i]).all() and j - i < 127:
                    j += 1
                if j > i:  # run packet
                    out.append(0x80 | (j - i))
                    out += row[i].tobytes()
                    i = j + 1
                    continue
                j = i
                while j < w and j - i < 128:
                    if (
                        j + 2 < w
                        and (row[j] == row[j + 1]).all()
                        and (row[j + 1] == row[j + 2]).all()
                    ):
                        break
                    j += 1
                out.append(j - i - 1)
                out += row[i:j].tobytes()
                i = j
        body = bytes(out)
    footer = struct.pack("<II", 0, 0) + TGA_FOOTER
    return hdr + body + footer


def _decode_tga(payload: bytes):
    """Truevision TGA: 18-byte header, types 2/10 truecolor (24/32-bit)
    and 3/11 grayscale, RLE packets, bottom-up or top-down via the
    descriptor bit. Colormapped types stay the loud seam."""
    import struct

    import numpy as np

    (id_len, cmap_type, itype, _f, _l, _e, _x, _y, w, h, depth, desc) = struct.unpack_from(
        "<BBBHHBHHHHBB", payload, 0
    )
    if cmap_type != 0 or itype not in (2, 3, 10, 11):
        raise NotImplementedError("only truecolor/grayscale TGA supported")
    nb = depth // 8
    if (itype in (2, 10) and depth not in (24, 32)) or (
        itype in (3, 11) and depth != 8
    ):
        raise ValueError("TGA pixel depth does not match image type")
    pos = 18 + id_len
    npx = h * w
    if itype in (2, 3):  # uncompressed
        raw = np.frombuffer(payload, np.uint8, npx * nb, pos)
    else:  # RLE packets
        out = bytearray()
        while len(out) < npx * nb:
            if pos >= len(payload):
                # truncated payload: past the end every slice below is
                # empty and `out` stops growing — error out instead of
                # spinning forever (ADVICE r14)
                raise ValueError("truncated TGA RLE stream")
            n = payload[pos]
            pos += 1
            if n & 0x80:  # run
                cnt = (n & 0x7F) + 1
                pix = payload[pos : pos + nb]
                if len(pix) < nb:
                    raise ValueError("truncated TGA RLE stream")
                out += pix * cnt
                pos += nb
            else:  # literal
                cnt = (n + 1) * nb
                lit = payload[pos : pos + cnt]
                if len(lit) < cnt:
                    raise ValueError("truncated TGA RLE stream")
                out += lit
                pos += cnt
        if len(out) != npx * nb:
            raise ValueError("TGA RLE overruns the pixel count")
        raw = np.frombuffer(bytes(out), np.uint8)
    px = raw.reshape(h, w, nb)
    if nb == 1:
        img = np.repeat(px, 3, axis=2)
    else:
        img = px[:, :, 2::-1]  # BGR(A) -> RGB
    if not desc & 0x20:  # bottom-up unless the top-down bit is set
        img = img[::-1]
    return img.copy()


def _decode_ico(payload: bytes):
    """ICO container (r14): directory walk, first image decoded — PNG
    payloads route to the PNG decoder; classic entries are headerless
    DIBs (BITMAPINFOHEADER with doubled biHeight for the AND mask),
    24/32-bit or 8-bit palette, bottom-up BGR; the AND mask is ignored
    (alpha dropped like everywhere else in this pipeline)."""
    import struct

    import numpy as np

    _z, typ, count = struct.unpack_from("<HHH", payload, 0)
    if typ not in (1, 2) or count < 1:
        raise ValueError("not an ICO/CUR payload")
    w0, h0 = payload[6], payload[7]
    (size,) = struct.unpack_from("<I", payload, 14)
    (off,) = struct.unpack_from("<I", payload, 18)
    data = payload[off : off + size]
    if data[:8] == PNG_SIG:
        return _decode_png(data)
    (hdr_size, bw, bh2, _pl, bpp, comp) = struct.unpack_from("<IiiHHI", data, 0)
    w = bw or (w0 or 256)
    h = (bh2 // 2) if bh2 else (h0 or 256)
    if comp != 0:
        raise NotImplementedError("compressed ICO DIB not supported")
    pos = hdr_size
    if bpp == 8:
        (clr_used,) = struct.unpack_from("<I", data, 32)
        ncol = clr_used or 256
        quads = np.frombuffer(data, np.uint8, ncol * 4, pos).reshape(ncol, 4)
        pal = quads[:, [2, 1, 0]].copy()
        pos += ncol * 4
        stride = ((w + 3) // 4) * 4
        rows = np.frombuffer(data, np.uint8, stride * h, pos).reshape(h, stride)
        idx = rows[:, :w]
        if int(idx.max(initial=0)) >= ncol:
            raise ValueError("ICO palette index out of range")
        return pal[idx][::-1].copy()
    if bpp in (24, 32):
        nb = bpp // 8
        stride = ((w * nb + 3) // 4) * 4
        rows = np.frombuffer(data, np.uint8, stride * h, pos).reshape(h, stride)
        img = rows[:, : w * nb].reshape(h, w, nb)[:, :, 2::-1]
        return img[::-1].copy()
    raise NotImplementedError(f"{bpp}-bit ICO DIB not supported")


def decode_image(payload: bytes):
    """Decode a media payload into an (H, W, 3) uint8 numpy array.

    REAL pure-numpy decoders for PPM (P6), uncompressed 24-bit BMP, —
    via stdlib zlib — 8-bit non-interlaced PNG (gray/RGB/RGBA, all five
    scanline filters), and — since r14 — baseline JFIF/JPEG
    (:mod:`ibc_spark.ext.jpegcodec`: DQT/DHT/SOF0/SOS parse, Huffman
    entropy decode, fixed-point integer IDCT, 4:2:0 upsample). The
    ``NotImplementedError`` seam now covers only arithmetic-coded JPEG,
    WebP and other formats whose entropy machinery goes beyond JPEG
    Huffman (baseline AND progressive decode natively since r14), where
    Pillow/torchvision would plug in."""
    import numpy as np

    if payload[:2] == b"P6":
        return _decode_ppm(payload)
    if payload[:2] == b"BM":
        return _decode_bmp(payload)
    if payload[:8] == PNG_SIG:
        return _decode_png(payload)
    if payload[:2] == b"\xff\xd8":
        from ibc_spark.ext.jpegcodec import decode_jpeg_baseline

        img = decode_jpeg_baseline(bytes(payload))
        if img.ndim == 2:  # grayscale scan → replicate to RGB
            img = np.stack([img, img, img], axis=-1)
        return img
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        from ibc_spark.ext.gifcodec import decode_gif

        _delays, frames = decode_gif(bytes(payload))
        if len(frames) == 0:
            raise ValueError("GIF without image frames")
        return frames[0]
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        from ibc_spark.ext.tiffcodec import decode_tiff

        return decode_tiff(bytes(payload))
    if payload[-18:] == TGA_FOOTER:
        # TGA has no leading magic (footer-routed) — and an uncompressed
        # truecolor TGA header is byte-identical to the CUR magic, so
        # the footer check must come first
        return _decode_tga(payload)
    if payload[:4] in (b"\x00\x00\x01\x00", b"\x00\x00\x02\x00"):
        return _decode_ico(payload)
    raise NotImplementedError(
        "WebP/AVIF and other non-baseline entropy-coded codecs require an "
        "imaging library not present in this environment; PPM(P6), BMP "
        "(24/32-bit + 8-bit palette/RLE8), PNG (all color types/depths, "
        "Adam7), GIF (LZW, animated -> first frame), TIFF (none/LZW/"
        "PackBits strips), and baseline + progressive JFIF/JPEG decode "
        "natively"
    )


# ---------------------------------------------------------------------------
# RIFF/AVI video container (r13) — the video seam upgraded from "stubbed
# decode" to a REAL container: uncompressed 24-bit DIB frames ('DIB '
# handler, BI_RGB) inside the standard hdrl/movi/idx1 structure. The
# frame payload is byte-for-byte the BMP pixel-plane layout the image
# codec already decodes (bottom-up BGR rows padded to 4 bytes), so the
# container loop is losslessly hash-checkable; DCT-coded video (H.264
# etc.) stays the documented entropy seam, same as JPEG/MP3.
# ---------------------------------------------------------------------------


def encode_avi_raw(frames, *, fps: int = 10) -> bytes:
    """Encode an (N, H, W, 3) uint8 RGB frame stack as a standards-
    conforming RIFF/AVI file with uncompressed DIB frames: LIST hdrl
    (avih + LIST strl with a 'vids'/'DIB ' strh and a BITMAPINFOHEADER
    strf), LIST movi with one '00db' chunk per frame (bottom-up BGR rows
    padded to 4 bytes — exactly the BMP pixel plane), and an idx1 index.
    Pure struct+numpy, no media library."""
    import struct

    import numpy as np

    a = np.asarray(frames, dtype=np.uint8)
    if a.ndim != 4 or a.shape[3] != 3:
        raise ValueError("expected (N, H, W, 3) uint8 frame stack")
    if fps < 1:
        raise ValueError("fps must be >= 1")
    n, h, w = a.shape[:3]
    stride = ((w * 3 + 3) // 4) * 4
    frame_bytes = stride * h
    # avih: usec/frame, maxbytes/sec, padding, flags(HASINDEX=0x10),
    # total frames, initial, streams, bufsize, w, h, reserved[4]
    avih = struct.pack(
        "<IIIIIIIIII4I",
        1_000_000 // fps, frame_bytes * fps, 0, 0x10, n, 0, 1, frame_bytes,
        w, h, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"vids", b"DIB ", 0, 0, 0, 0, 1, fps, 0, n, frame_bytes, 0, 0,
        0, 0, w, h,
    )
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, frame_bytes, 0, 0, 0, 0)

    def chunk(cc: bytes, data: bytes) -> bytes:
        return cc + struct.pack("<I", len(data)) + data + (b"\x00" if len(data) & 1 else b"")

    def lst(cc: bytes, data: bytes) -> bytes:
        return chunk(b"LIST", cc + data)

    strl = lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf))
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + strl)
    # frame payload: bottom-up BGR rows, zero-padded to the DWORD stride
    padded = np.zeros((n, h, stride), dtype=np.uint8)
    padded[:, :, : w * 3] = a[:, ::-1, :, ::-1].reshape(n, h, w * 3)
    movi_frames = b"".join(chunk(b"00db", padded[i].tobytes()) for i in range(n))
    movi = lst(b"movi", movi_frames)
    # idx1 offsets are relative to the start of the 'movi' fourcc
    idx = bytearray()
    off = 4
    for _ in range(n):
        idx += struct.pack("<4sIII", b"00db", 0x10, off, frame_bytes)
        off += 8 + frame_bytes + (frame_bytes & 1)
    body = b"AVI " + hdrl + movi + chunk(b"idx1", bytes(idx))
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _rle8_encode_plane(idx_rows) -> bytes:
    """MS-RLE8-encode one (H, W) uint8 palette-index frame (IMAGE
    orientation, top-down) into the DIB bottom-up compressed stream:
    encoded runs ``(count, index)`` chopped at 255, ABSOLUTE mode
    (``00 n b1..bn``, word-padded) for literal stretches of ≥3
    singletons, ``00 00`` end-of-line after every row but the last,
    ``00 01`` end-of-bitmap. Fixed-table run-length — NOT entropy-coded,
    which is why it is closable in-sandbox (VERDICT r13 #4) while MJPEG
    stays behind the JPEG codec."""
    import numpy as np

    a = np.asarray(idx_rows, dtype=np.uint8)
    h, w = a.shape
    out = bytearray()
    for ri in range(h - 1, -1, -1):  # bottom-up
        row = a[ri]
        # split into (value, length) runs
        runs = []
        i = 0
        while i < w:
            j = i
            while j < w and row[j] == row[i]:
                j += 1
            runs.append((int(row[i]), j - i))
            i = j
        # group consecutive singleton runs into literal segments
        k = 0
        while k < len(runs):
            if runs[k][1] == 1:
                k2 = k
                while k2 < len(runs) and runs[k2][1] == 1:
                    k2 += 1
                lit = [v for v, _ in runs[k:k2]]
                if len(lit) >= 3:
                    o = 0
                    while o < len(lit):
                        seg = lit[o : o + 255]
                        if len(seg) < 3:  # tail too short for absolute mode
                            for v in seg:
                                out += bytes([1, v])
                        else:
                            out += bytes([0, len(seg)]) + bytes(seg)
                            if len(seg) & 1:
                                out += b"\x00"  # word padding
                        o += len(seg)
                else:
                    for v in lit:
                        out += bytes([1, v])
                k = k2
            else:
                v, ln = runs[k]
                while ln > 255:
                    out += bytes([255, v])
                    ln -= 255
                if ln:
                    out += bytes([ln, v])
                k += 1
        out += b"\x00\x01" if ri == 0 else b"\x00\x00"  # EOB on last row, else EOL
    return bytes(out)


def _rle8_decode_plane(data: bytes, h: int, w: int):
    """Decode an MS-RLE8 stream onto a zero-initialized (H, W) canvas in
    DIB bottom-up orientation (row 0 = bottom). Supports all four spec
    opcodes: encoded runs, end-of-line, end-of-bitmap, DELTA skips
    (pixels jumped by ``00 02 dx dy`` keep their prior value — the
    frame-differencing hook), and absolute literal segments."""
    import numpy as np

    canvas = np.zeros((h, w), dtype=np.uint8)
    x = y = 0
    pos = 0
    while pos + 1 < len(data) + 1:
        if pos + 2 > len(data):
            raise ValueError("truncated RLE8 stream")
        n, v = data[pos], data[pos + 1]
        pos += 2
        if n > 0:  # encoded run
            if y >= h or x + n > w:
                raise ValueError("RLE8 run past row end")
            canvas[y, x : x + n] = v
            x += n
        elif v == 0:  # end of line
            y += 1
            x = 0
            if y > h:
                raise ValueError("RLE8 EOL past bitmap end")
        elif v == 1:  # end of bitmap
            return canvas
        elif v == 2:  # delta
            if pos + 2 > len(data):
                raise ValueError("truncated RLE8 delta")
            dx, dy = data[pos], data[pos + 1]
            pos += 2
            x += dx
            y += dy
            if x > w or y > h:
                raise ValueError("RLE8 delta past bitmap end")
        else:  # absolute mode: v literal bytes, word-padded
            if pos + v > len(data):
                raise ValueError("truncated RLE8 absolute segment")
            if y >= h or x + v > w:
                raise ValueError("RLE8 absolute segment past row end")
            canvas[y, x : x + v] = np.frombuffer(data, np.uint8, count=v, offset=pos)
            x += v
            pos += v + (v & 1)
    raise ValueError("RLE8 stream without end-of-bitmap")


def default_rle_palette():
    """The deterministic 256-entry RGB palette the RLE video pipeline
    uses: ``palette[i] = (i, (i·3) % 256, (i·7) % 256)`` — shared with
    the SQL oracle the way the scene-cut threshold is (corpus data, not
    algorithm; the container/codec loop computes everything for real)."""
    import numpy as np

    i = np.arange(256, dtype=np.int64)
    return np.stack([i, (i * 3) % 256, (i * 7) % 256], axis=1).astype(np.uint8)


def encode_avi_rle8(frames_idx, palette, *, fps: int = 10) -> bytes:
    """Encode an (N, H, W) uint8 palette-index frame stack as a RIFF/AVI
    file with MS-RLE8-compressed 8-bit frames ('MRLE' handler,
    biCompression = BI_RLE8): same hdrl/movi/idx1 skeleton as
    :func:`encode_avi_raw`, strf carries the 40-byte BITMAPINFOHEADER
    plus the 256-entry BGR0 palette, one '00dc' chunk per frame."""
    import struct

    import numpy as np

    a = np.asarray(frames_idx, dtype=np.uint8)
    if a.ndim != 3:
        raise ValueError("expected (N, H, W) uint8 palette-index frame stack")
    pal = np.asarray(palette, dtype=np.uint8)
    if pal.shape != (256, 3):
        raise ValueError("palette must be (256, 3) uint8 RGB")
    if fps < 1:
        raise ValueError("fps must be >= 1")
    n, h, w = a.shape
    encoded = [_rle8_encode_plane(a[i]) for i in range(n)]
    bufsize = max((len(e) for e in encoded), default=0)
    avih = struct.pack(
        "<IIIIIIIIII4I",
        1_000_000 // fps, bufsize * fps, 0, 0x10, n, 0, 1, bufsize,
        w, h, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"vids", b"MRLE", 0, 0, 0, 0, 1, fps, 0, n, bufsize, 0, 0,
        0, 0, w, h,
    )
    # BITMAPINFOHEADER: biCompression=1 (BI_RLE8), biClrUsed=256, then
    # the palette as 256 RGBQUADs (B, G, R, reserved)
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 1, h * w, 0, 0, 256, 0)
    strf += b"".join(bytes([int(b_), int(g_), int(r_), 0]) for r_, g_, b_ in pal)

    def chunk(cc: bytes, data: bytes) -> bytes:
        return cc + struct.pack("<I", len(data)) + data + (b"\x00" if len(data) & 1 else b"")

    def lst(cc: bytes, data: bytes) -> bytes:
        return chunk(b"LIST", cc + data)

    strl = lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf))
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + strl)
    movi = lst(b"movi", b"".join(chunk(b"00dc", e) for e in encoded))
    idx = bytearray()
    off = 4
    for e in encoded:
        idx += struct.pack("<4sIII", b"00dc", 0x10, off, len(e))
        off += 8 + len(e) + (len(e) & 1)
    body = b"AVI " + hdrl + movi + chunk(b"idx1", bytes(idx))
    return b"RIFF" + struct.pack("<I", len(body)) + body


#: BI_... fourcc for motion-JPEG streams ('MJPG' little-endian)
BI_MJPG = 0x47504A4D


def encode_avi_mjpeg(
    frames,
    *,
    fps: int = 10,
    quality: int | None = None,
    quant_luma=None,
    quant_chroma=None,
    subsampling: str = "420",
) -> bytes:
    """Encode an (N, H, W, 3) uint8 RGB frame stack as a motion-JPEG AVI
    (r14 — the seam VERDICT r13 noted as unlocked by the JPEG codec):
    same hdrl/movi/idx1 skeleton as :func:`encode_avi_raw`, strh handler
    'MJPG', strf ``biCompression = 'MJPG'``, one baseline-JFIF stream
    per '00dc' chunk via :func:`ibc_spark.ext.jpegcodec
    .encode_jpeg_baseline` (tables forwarded, so the all-ones flat-MCU
    exactness carries through to the container)."""
    import struct

    import numpy as np

    from ibc_spark.ext.jpegcodec import encode_jpeg_baseline_batch

    a = np.asarray(frames, dtype=np.uint8)
    if a.ndim != 4 or a.shape[3] != 3:
        raise ValueError("expected (N, H, W, 3) uint8 frame stack")
    if fps < 1:
        raise ValueError("fps must be >= 1")
    n, h, w = a.shape[:3]
    # r15: frame-batched writer (shared color/pad/subsample/DCT matmuls
    # across frames; per-frame streams byte-identical to
    # encode_jpeg_baseline)
    encoded = encode_jpeg_baseline_batch(
        a, quality=quality, quant_luma=quant_luma,
        quant_chroma=quant_chroma, subsampling=subsampling,
    )
    bufsize = max((len(e) for e in encoded), default=0)
    avih = struct.pack(
        "<IIIIIIIIII4I",
        1_000_000 // fps, bufsize * fps, 0, 0x10, n, 0, 1, bufsize,
        w, h, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"vids", b"MJPG", 0, 0, 0, 0, 1, fps, 0, n, bufsize, 0, 0,
        0, 0, w, h,
    )
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, BI_MJPG, h * w * 3, 0, 0, 0, 0)

    def chunk(cc: bytes, data: bytes) -> bytes:
        return cc + struct.pack("<I", len(data)) + data + (b"\x00" if len(data) & 1 else b"")

    def lst(cc: bytes, data: bytes) -> bytes:
        return chunk(b"LIST", cc + data)

    strl = lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf))
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + strl)
    movi = lst(b"movi", b"".join(chunk(b"00dc", e) for e in encoded))
    idx = bytearray()
    off = 4
    for e in encoded:
        idx += struct.pack("<4sIII", b"00dc", 0x10, off, len(e))
        off += 8 + len(e) + (len(e) & 1)
    body = b"AVI " + hdrl + movi + chunk(b"idx1", bytes(idx))
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_avi(payload: bytes):
    """Parse a RIFF/AVI container: chunk/LIST walk, avih (dimensions,
    frame count, frame interval), strh/strf validation, frame chunks
    decoded per the stream format — uncompressed 24-bit DIB ('00db',
    BMP row discipline: bottom-up BGR, DWORD-padded rows),
    MS-RLE8-compressed 8-bit palette frames (r14: BI_RLE8 '00dc' chunks
    through :func:`_rle8_decode_plane` + the strf palette), or
    motion-JPEG (r14: 'MJPG' '00dc' chunks, each a baseline JFIF stream
    through the real JPEG decoder). Returns ``(fps, (N, H, W, 3) uint8
    RGB array)``. Inter-frame-predicted codecs (H.264/VP9/...) raise
    the documented seam."""
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")

    def walk(buf: bytes, pos: int, end: int):
        while pos + 8 <= end:
            cc = buf[pos : pos + 4]
            (ln,) = struct.unpack_from("<I", buf, pos + 4)
            if pos + 8 + ln > end:
                raise ValueError("truncated AVI chunk")
            yield cc, pos + 8, ln
            pos += 8 + ln + (ln & 1)

    avih = strh = strf = strf_extra = None
    strf_clr_used = 0
    frames_raw: list[bytes] = []
    for cc, off, ln in walk(payload, 12, len(payload)):
        if cc != b"LIST":
            continue
        kind = payload[off : off + 4]
        if kind == b"hdrl":
            for c2, o2, l2 in walk(payload, off + 4, off + ln):
                if c2 == b"avih":
                    avih = struct.unpack_from("<IIIIIIIIII", payload, o2)
                elif c2 == b"LIST" and payload[o2 : o2 + 4] == b"strl":
                    for c3, o3, l3 in walk(payload, o2 + 4, o2 + l2):
                        if c3 == b"strh":
                            strh = struct.unpack_from("<4s4s", payload, o3)
                        elif c3 == b"strf":
                            strf = struct.unpack_from("<IiiHHI", payload, o3)
                            strf_clr_used = (
                                struct.unpack_from("<I", payload, o3 + 32)[0]
                                if l3 >= 36
                                else 0
                            )
                            strf_extra = payload[o3 + 40 : o3 + l3]
        elif kind == b"movi":
            for c2, o2, l2 in walk(payload, off + 4, off + ln):
                if c2 in (b"00db", b"00dc"):
                    frames_raw.append(payload[o2 : o2 + l2])
    if avih is None or strh is None or strf is None:
        raise ValueError("AVI without avih/strh/strf headers")
    usec, _mbps, _pad, _flags, total, _init, _streams, _buf, w, h = avih
    if strh[0] != b"vids":
        raise ValueError("first AVI stream is not video")
    _size, bw, bh, _planes, bpp, compression = strf
    raw_dib = (
        strh[1] in (b"DIB ", b"\x00\x00\x00\x00") and bpp == 24 and compression == 0
    )
    rle8 = (
        strh[1] in (b"MRLE", b"mrle", b"DIB ", b"\x00\x00\x00\x00")
        and bpp == 8
        and compression == 1
    )
    mjpeg = strh[1] in (b"MJPG", b"mjpg") and compression == BI_MJPG
    if not raw_dib and not rle8 and not mjpeg:
        raise NotImplementedError(
            "only uncompressed 24-bit DIB, MS-RLE8 8-bit, and motion-JPEG "
            "AVI supported; inter-frame-predicted video (H.264/VP9/...) "
            "requires a media library not present in this environment"
        )
    if bh < 0:
        # ADVICE r13: the decoder only implements the bottom-up row
        # discipline; silently decoding a top-down DIB would flip it.
        raise NotImplementedError("top-down DIB AVI (negative biHeight) not supported")
    if (bw, bh) != (w, h):
        raise ValueError("AVI strf dimensions disagree with avih")
    if len(frames_raw) != total:
        raise ValueError("AVI frame count disagrees with avih dwTotalFrames")
    if usec < 1:
        raise ValueError("AVI frame interval must be positive")
    out = np.zeros((len(frames_raw), h, w, 3), dtype=np.uint8)
    if mjpeg:
        from ibc_spark.ext.jpegcodec import decode_jpeg_baseline_batch

        # r15: entropy decode stays per frame; the dequant/IDCT/upsample/
        # color back half batches across the stream's frames (bit-exact)
        for i, img in enumerate(decode_jpeg_baseline_batch(frames_raw)):
            if img.ndim == 2:
                img = np.stack([img, img, img], axis=-1)
            if img.shape[:2] != (h, w):
                raise ValueError("MJPEG frame dimensions disagree with avih")
            out[i] = img
        return 1_000_000 // usec, out
    if rle8:
        # biClrUsed < 256 is conformant: accept clr_used*4 palette bytes
        # and zero-pad to 256 entries, like _decode_bmp's sibling path
        # (ADVICE r14); biClrUsed == 0 means the full 256-entry table
        n_pal = strf_clr_used if 0 < strf_clr_used <= 256 else 256
        if strf_extra is None or len(strf_extra) < n_pal * 4:
            raise ValueError("RLE8 AVI without its strf palette")
        quads = np.zeros((256, 4), dtype=np.uint8)
        quads[:n_pal] = np.frombuffer(
            strf_extra, np.uint8, count=n_pal * 4
        ).reshape(n_pal, 4)
        pal = quads[:, [2, 1, 0]].copy()  # BGR0 -> RGB
        for i, raw in enumerate(frames_raw):
            idx = _rle8_decode_plane(raw, h, w)[::-1]  # bottom-up -> image rows
            out[i] = pal[idx]
        return 1_000_000 // usec, out
    stride = ((w * 3 + 3) // 4) * 4
    for i, raw in enumerate(frames_raw):
        if len(raw) != stride * h:
            raise ValueError("AVI frame chunk is not a whole DIB plane")
        rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride)
        out[i] = rows[:, : w * 3].reshape(h, w, 3)[::-1, :, ::-1]  # flip+BGR
    return 1_000_000 // usec, out


PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


#: Adam7 interlace pass layout: (x_start, y_start, x_step, y_step)
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _png_pack_rows(samples, depth: int):
    """Pack an (H, N) integer sample grid into PNG scanline bytes at the
    given bit depth (sub-byte samples MSB-first, 16-bit big-endian)."""
    import numpy as np

    h, n = samples.shape
    if depth == 8:
        return samples.astype(np.uint8)
    if depth == 16:
        out = np.zeros((h, n * 2), np.uint8)
        out[:, 0::2] = (samples >> 8) & 0xFF
        out[:, 1::2] = samples & 0xFF
        return out
    per = 8 // depth
    pad = (-n) % per
    s = np.pad(samples, ((0, 0), (0, pad))).astype(np.uint8)
    bits = np.unpackbits(s[:, :, None], axis=2, count=8)[:, :, 8 - depth :]
    return np.packbits(bits.reshape(h, -1), axis=1)


def _png_unpack_rows(rows_bytes, depth: int, nsamples: int):
    """Inverse of :func:`_png_pack_rows` (16-bit samples downscale to
    their high byte — the spec's sample-depth rescale)."""
    import numpy as np

    if depth == 8:
        return rows_bytes[:, :nsamples].astype(np.int32)
    if depth == 16:
        return rows_bytes[:, 0 : 2 * nsamples : 2].astype(np.int32)
    h = rows_bytes.shape[0]
    bits = np.unpackbits(rows_bytes, axis=1)
    usable = (bits.shape[1] // depth) * depth
    vals = bits[:, :usable].reshape(h, -1, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.int32)
    return (vals * weights).sum(axis=2)[:, :nsamples].astype(np.int32)


def _png_filter_rows(rows, bpp: int, filter_mode: str) -> bytearray:
    """Apply per-scanline filters to an (H, stride) byte grid and emit the
    filter-type-prefixed scanline stream. ``"mixed"`` cycles 1→4
    (Sub/Up/Average/Paeth) so decodes exercise every unfilter branch."""
    import numpy as np

    h, stride = rows.shape
    rows = rows.astype(np.int32)
    out = bytearray()
    for y in range(h):
        f = (y % 4) + 1 if filter_mode == "mixed" else 0
        cur = rows[y]
        prior = rows[y - 1] if y else np.zeros(stride, dtype=np.int32)
        left = np.concatenate([np.zeros(bpp, dtype=np.int32), cur[:-bpp]])
        ul = np.concatenate([np.zeros(bpp, dtype=np.int32), prior[:-bpp]])
        if f == 0:
            filt = cur
        elif f == 1:
            filt = cur - left
        elif f == 2:
            filt = cur - prior
        elif f == 3:
            filt = cur - ((left + prior) >> 1)
        else:  # Paeth
            p = left + prior - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - prior), np.abs(p - ul)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prior, ul)
            )
            filt = cur - pred
        out.append(f)
        out += (filt & 0xFF).astype(np.uint8).tobytes()
    return out


def _encode_png_core(samples, color: int, depth: int, palette, filter_mode: str, interlace: bool) -> bytes:
    """Shared PNG writer: ``samples`` is (H, W, channels) ints already in
    range for ``depth``; emits IHDR/(PLTE)/IDAT/IEND with per-pass
    filtering (Adam7 when ``interlace``)."""
    import struct
    import zlib

    import numpy as np

    h, w, channels = samples.shape
    bpp = max(1, channels * depth // 8)

    def pass_bytes(sub):
        hh, ww = sub.shape[:2]
        packed = _png_pack_rows(sub.reshape(hh, ww * channels), depth)
        return _png_filter_rows(packed, bpp, filter_mode)

    if interlace:
        stream = bytearray()
        for x0, y0, dx, dy in _ADAM7:
            sub = samples[y0::dy, x0::dx]
            if sub.shape[0] and sub.shape[1]:
                stream += pass_bytes(sub)
    else:
        stream = pass_bytes(samples)
    ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, 1 if interlace else 0)
    out = PNG_SIG + _png_chunk(b"IHDR", ihdr)
    if palette is not None:
        pal = np.asarray(palette, dtype=np.uint8)
        out += _png_chunk(b"PLTE", pal.tobytes())
    return out + _png_chunk(b"IDAT", zlib.compress(bytes(stream))) + _png_chunk(b"IEND", b"")


def encode_png(arr, *, filter_mode: str = "mixed", interlace: bool = False) -> bytes:
    """Encode an (H, W, 3) uint8 array as a REAL standards-conforming PNG
    (8-bit truecolor) using only stdlib zlib — no imaging library.
    ``filter_mode``: ``"none"`` writes every scanline with filter 0;
    ``"mixed"`` cycles row filters 1→4 (Sub/Up/Average/Paeth — the
    non-trivial branches), so a decode of the output exercises every
    non-trivial unfilter branch EVEN on 4-row images. ``interlace``
    writes Adam7 passes (r14). Unknown modes raise."""
    import numpy as np

    if filter_mode not in ("none", "mixed"):
        raise ValueError(f"unknown filter_mode {filter_mode!r}")
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim != 3 or a.shape[2] != 3:
        raise ValueError("expected (H, W, 3) uint8 array")
    return _encode_png_core(a, 2, 8, None, filter_mode, interlace)


def encode_png_palette(idx, palette, *, bit_depth: int = 8, filter_mode: str = "mixed", interlace: bool = False) -> bytes:
    """Encode an (H, W) palette-index grid + (N, 3) RGB palette as an
    indexed-color PNG (color type 3) at bit depth 1/2/4/8 (r14)."""
    import numpy as np

    if bit_depth not in (1, 2, 4, 8):
        raise ValueError("palette PNG bit depth must be 1/2/4/8")
    a = np.asarray(idx, dtype=np.uint8)
    pal = np.asarray(palette, dtype=np.uint8)
    if a.ndim != 2 or pal.ndim != 2 or pal.shape[1] != 3:
        raise ValueError("expected (H, W) indices and (N, 3) palette")
    if len(pal) > (1 << bit_depth):
        raise ValueError("palette larger than bit depth allows")
    if a.max(initial=0) >= len(pal):
        raise ValueError("palette index out of range")
    return _encode_png_core(a[:, :, None], 3, bit_depth, pal, filter_mode, interlace)


def encode_png_gray(arr, *, bit_depth: int = 8, filter_mode: str = "mixed", interlace: bool = False) -> bytes:
    """Encode an (H, W) grayscale grid as a color-type-0 PNG at bit depth
    1/2/4/8/16 (values must already fit the depth; 16-bit input is
    uint16) (r14)."""
    import numpy as np

    if bit_depth not in (1, 2, 4, 8, 16):
        raise ValueError("gray PNG bit depth must be 1/2/4/8/16")
    a = np.asarray(arr, dtype=np.uint16 if bit_depth == 16 else np.uint8)
    if a.ndim != 2:
        raise ValueError("expected (H, W) array")
    if int(a.max(initial=0)) >= (1 << bit_depth):
        raise ValueError("sample out of range for bit depth")
    return _encode_png_core(
        a[:, :, None].astype(np.int64), 0, bit_depth, None, filter_mode, interlace
    )


def _png_unfilter(raw: bytes, h: int, stride: int, bpp: int):
    """Reverse the per-scanline PNG filters (spec §9: None/Sub/Up/Average/
    Paeth). Up/None vectorize; Sub/Average/Paeth are sequential in the
    pixel recurrence, done per-row in a small loop — fine at metadata/test
    image sizes; a 100 TB decode fleet would swap in an optimized codec at
    this exact seam."""
    import numpy as np

    out = np.zeros((h, stride), dtype=np.uint8)
    pos = 0
    for y in range(h):
        ftype = raw[pos]
        pos += 1
        row = np.frombuffer(raw, np.uint8, stride, pos).astype(np.int32)
        pos += stride
        prior = out[y - 1].astype(np.int32) if y else np.zeros(stride, np.int32)
        if ftype == 0:
            rec = row
        elif ftype == 2:
            rec = (row + prior) & 0xFF
        elif ftype in (1, 3, 4):
            rec = np.zeros(stride, np.int32)
            for i in range(stride):
                a = int(rec[i - bpp]) if i >= bpp else 0
                b = int(prior[i])
                if ftype == 1:
                    rec[i] = (row[i] + a) & 0xFF
                elif ftype == 3:
                    rec[i] = (row[i] + ((a + b) >> 1)) & 0xFF
                else:
                    c = int(prior[i - bpp]) if i >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    rec[i] = (row[i] + pred) & 0xFF
        else:
            raise NotImplementedError(f"PNG filter type {ftype}")
        out[y] = rec.astype(np.uint8)
    return out


_PNG_VALID_DEPTHS = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8), 4: (8, 16), 6: (8, 16)}
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _decode_png(payload: bytes):
    """Real PNG decode via stdlib zlib: chunk walk (IHDR/PLTE/IDAT*/IEND),
    inflate, per-scanline unfilter, bit unpack. Since r14 this is the
    FULL static-PNG matrix: all five color types (gray, truecolor,
    indexed/PLTE, gray+alpha, truecolor+alpha — alpha dropped), every
    legal bit depth (1/2/4/8/16; 16-bit rescales to its high byte), and
    Adam7 interlacing (7 independently-filtered passes scattered onto
    the output grid). Ancillary chunks are skipped."""
    import struct
    import zlib

    import numpy as np

    if payload[:8] != PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, idat, ihdr, plte = 8, b"", None, None
    while pos + 8 <= len(payload):
        (ln,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + ln]
        pos += 12 + ln
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            plte = np.frombuffer(data, np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    if ihdr is None:
        raise ValueError("PNG without IHDR")
    w, h, depth, color, comp, filt, interlace = ihdr
    if comp != 0 or filt != 0:
        raise ValueError("PNG: unknown compression/filter method")
    if color not in _PNG_VALID_DEPTHS or depth not in _PNG_VALID_DEPTHS[color]:
        raise ValueError(f"PNG: illegal color/depth combination {color}/{depth}")
    if interlace not in (0, 1):
        raise ValueError("PNG: unknown interlace method")
    if color == 3 and plte is None:
        raise ValueError("PNG: indexed color without PLTE")
    channels = _PNG_CHANNELS[color]
    bpp = max(1, channels * depth // 8)
    raw = zlib.decompress(idat)

    def decode_region(off: int, ww: int, hh: int):
        stride = (ww * channels * depth + 7) // 8
        need = (1 + stride) * hh
        if off + need > len(raw):
            raise ValueError("PNG: truncated scanline data")
        un = _png_unfilter(raw[off : off + need], hh, stride, bpp)
        vals = _png_unpack_rows(un, depth, ww * channels)
        return vals.reshape(hh, ww, channels), off + need

    if interlace == 0:
        samples, _ = decode_region(0, w, h)
    else:
        samples = np.zeros((h, w, channels), dtype=np.int32)
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            ww = (w - x0 + dx - 1) // dx
            hh = (h - y0 + dy - 1) // dy
            if ww and hh:
                sub, off = decode_region(off, ww, hh)
                samples[y0::dy, x0::dx] = sub

    if color == 3:
        idx = samples[:, :, 0]
        if int(idx.max(initial=0)) >= len(plte):
            raise ValueError("PNG: palette index out of range")
        return plte[idx].copy()
    if color in (0, 4):  # gray / gray+alpha: scale sub-byte depths to 8-bit
        g = samples[:, :, 0]
        if depth < 8:
            g = g * (255 // ((1 << depth) - 1))
        return np.repeat(g.astype(np.uint8)[:, :, None], 3, axis=2)
    return samples[:, :, :3].astype(np.uint8).copy()  # truecolor / +alpha


def resize_nearest(arr, *, width: int, height: int):
    """Nearest-neighbor resample of an (H, W, C) array via integer index
    maps — the numpy form of the classic box-free resize (deterministic,
    no interpolation kernel)."""
    import numpy as np

    a = np.asarray(arr)
    h, w = a.shape[:2]
    rows = (np.arange(height) * h) // height
    cols = (np.arange(width) * w) // width
    return a[rows][:, cols].copy()


# output of the payload-to-payload kernels (resample, transcode)
PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def _map_payloads(df: DataFrame, schema: T.StructType, rows, decode=list) -> DataFrame:
    """One Arrow-batched ``mapInPandas`` stage over ``df``'s ``(doc_id,
    payload)`` columns — only the two the kernels read cross the Python
    boundary (``media_meta`` from the attach stages would ship for
    nothing). ``decode`` maps one batch's payload list to one item per
    row: the payload bytes themselves by default, or a batch decoder's
    per-row result, where a row that failed carries its exception.
    ``rows(item)`` yields the non-id values of each output row of
    ``schema``. A row whose item is an exception, or whose ``rows``
    raises, gets one all-NULL row after whatever rows it already yielded
    (errors-as-data: an undecodable payload never fails the task)."""
    names = schema.fieldNames()
    nulls = (None,) * (len(names) - 1)

    def _map(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            out = []
            for doc_id, item in zip(pdf["doc_id"], decode(list(pdf["payload"]))):
                try:
                    if isinstance(item, Exception):
                        raise item
                    for vals in rows(item):
                        out.append((doc_id, *vals))
                except Exception:
                    out.append((doc_id, *nulls))
            yield pd.DataFrame(out, columns=names)

    return df.select("doc_id", "payload").mapInPandas(_map, schema)


def image_channel_stats(df: DataFrame) -> DataFrame:
    """REAL decode pipeline over the binary column: parse each payload with
    :func:`decode_image` and emit (doc_id, width, height, per-channel mean)
    — Arrow-batched ``mapInPandas``, the exact production shape with the
    stub removed for uncompressed formats. Undecodable payloads yield a
    NULL row (errors-as-data, engine convention)."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("mean_r", T.DoubleType()),
            T.StructField("mean_g", T.DoubleType()),
            T.StructField("mean_b", T.DoubleType()),
        ]
    )

    def rows(payload):
        img = decode_image(payload)
        m = img.reshape(-1, 3).mean(axis=0)
        yield img.shape[1], img.shape[0], float(m[0]), float(m[1]), float(m[2])

    return _map_payloads(df, schema, rows)


def extract_features(df: DataFrame, *, dim: int = 8) -> DataFrame:
    """Arrow-batched pandas feature extraction over the binary column.

    Features are deterministic functions of the payload bytes (length, first
    byte, and a tiny linear-congruential fake embedding), so the output is
    oracle-checkable while exercising the exact mapInPandas shape a real
    decoder uses (batch iterator in, batch iterator out, columnar transfer).
    """

    def _extract(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            payloads = pdf["payload"]
            byte_len = payloads.map(len)
            head = payloads.map(lambda b: int(b[0]) if len(b) else -1)
            fake = [
                [float((ln * (i + 1)) % 97) for i in range(dim)] for ln in byte_len
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": byte_len.astype("int64"),
                    "head_byte": head.astype("int64"),
                    "fake_embedding": fake,
                }
            )

    return df.select("doc_id", "payload").mapInPandas(_extract, FEATURE_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("pixels", T.BinaryType()),
    ]
)


def resize_images(
    df: DataFrame, *, width: int = 4, height: int = 4
) -> DataFrame:
    """Resize stage over the binary column (Arrow-batched ``mapInPandas``).

    The interpolation kernel is STUBBED with a deterministic byte
    down-sample (stride slicing of the payload into width·height bytes,
    zero-padded) — the seam where a real decoder+resampler (Pillow/
    torchvision) plugs in. Schema, batch iteration, and binary-out plumbing
    are the real contract a production resize uses.
    """

    def _resize(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        n = width * height
        out_px = []

        def px(b: bytes) -> bytes:
            if not b:
                return bytes(n)
            stride = max(len(b) // n, 1)
            sampled = b[::stride][:n]
            return sampled + bytes(n - len(sampled))

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": width,
                    "height": height,
                    "pixels": pdf["payload"].map(px),
                }
            )

    return df.mapInPandas(_resize, RESIZED_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_offset", T.LongType()),
        T.StructField("frame_bytes", T.BinaryType()),
    ]
)


def sample_frames(
    df: DataFrame, *, n_frames: int = 3, frame_size: int = 8
) -> DataFrame:
    """Frame-sampling stage (video analogue): emit ``n_frames`` evenly-
    spaced byte windows per payload — a 1:N ``mapInPandas`` fan-out (one
    media row in, one row per sampled frame out), which is exactly the
    shape a real keyframe extractor produces. Codec seam stubbed; the
    offsets are deterministic so the output is oracle-checkable."""

    def _frames(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            ids, idxs, offs, chunks = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = payload or b""
                span = max(len(b) - frame_size, 0)
                for i in range(n_frames):
                    off = (span * i) // max(n_frames - 1, 1)
                    ids.append(doc_id)
                    idxs.append(i)
                    offs.append(off)
                    chunks.append(bytes(b[off : off + frame_size]))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_offset": pd.Series(offs, dtype="int64"),
                    "frame_bytes": chunks,
                }
            )

    return df.select("doc_id", "payload").mapInPandas(_frames, FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# Audio: REAL RIFF/WAVE PCM codec (pure struct + numpy, stdlib-only)
# ---------------------------------------------------------------------------

WAV_SIG = b"RIFF"


def encode_wav(samples, *, sample_rate: int = 16000, channels: int = 1) -> bytes:
    """Encode int16 PCM samples as a REAL standards-conforming RIFF/WAVE
    file (format code 1, 16-bit) using only ``struct`` — no audio library.
    ``samples`` is a 1-D int16 array of interleaved frames (length must be
    a multiple of ``channels``). The encode→decode identity is
    oracle-checked by ``multimodal_audio_features`` and property-tested
    over random waveforms."""
    import struct

    import numpy as np

    a = np.asarray(samples, dtype=np.int16)
    if a.ndim != 1:
        raise ValueError("expected a 1-D int16 sample array (interleaved)")
    if channels < 1 or len(a) % channels:
        raise ValueError("sample count must be a multiple of channels")
    data = a.tobytes()
    byte_rate = sample_rate * channels * 2
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate, byte_rate, channels * 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_wav_float(samples, *, sample_rate: int = 16000, channels: int = 1) -> bytes:
    """Encode float32 PCM samples as a RIFF/WAVE file with format code 3
    (IEEE float, 32-bit) — the second real WAVE PCM variant after int16.
    ``samples`` is a 1-D float32 array of interleaved frames in [-1, 1].
    The float encode → :func:`_decode_wav` quantize loop is the identity
    on every k/32768 waveform (k int16), which is exactly what
    ``multimodal_audio_float_pcm`` hash-checks."""
    import struct

    import numpy as np

    a = np.asarray(samples, dtype="<f4")
    if a.ndim != 1:
        raise ValueError("expected a 1-D float32 sample array (interleaved)")
    if channels < 1 or len(a) % channels:
        raise ValueError("sample count must be a multiple of channels")
    data = a.tobytes()
    byte_rate = sample_rate * channels * 4
    fmt = struct.pack("<HHIIHH", 3, channels, sample_rate, byte_rate, channels * 4, 32)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_wav_pcm8(samples, *, sample_rate: int = 16000, channels: int = 1) -> bytes:
    """Encode int16 PCM as 8-bit UNSIGNED PCM WAVE (format code 1, 8-bit —
    the WAVE spec's one unsigned variant, 128-biased): ``u8 = (s >> 8) +
    128`` with ARITHMETIC shift, so the quantizer is ``floor(s/256)`` —
    exactly SQL-replayable. Decoding inverts to ``(u8-128) << 8 =
    floor(s/256)·256``; on attach_audio waveforms (every sample a
    multiple of 256 by construction) the int16→8-bit→int16 loop is the
    identity, which is what the registry entry hash-checks — the lossy
    quantizer itself is pinned by hypothesis over arbitrary waveforms."""
    import struct

    import numpy as np

    a = np.asarray(samples, dtype=np.int16)
    if a.ndim != 1:
        raise ValueError("expected a 1-D int16 sample array (interleaved)")
    if channels < 1 or len(a) % channels:
        raise ValueError("sample count must be a multiple of channels")
    data = ((a.astype(np.int32) >> 8) + 128).astype(np.uint8).tobytes()
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate, sample_rate * channels, channels, 8)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_wav_pcm24(samples, *, sample_rate: int = 16000, channels: int = 1) -> bytes:
    """Encode int16 PCM as 24-bit signed little-endian PCM WAVE (format
    code 1, 24-bit, 3 bytes/sample packed): ``v24 = s << 8``. The decoder
    takes ``v24 >> 8`` back, so the int16→24-bit→int16 loop is LOSSLESS on
    the whole int16 range — the 24-bit counterpart of the float-PCM
    identity attestation."""
    import struct

    import numpy as np

    a = np.asarray(samples, dtype=np.int16)
    if a.ndim != 1:
        raise ValueError("expected a 1-D int16 sample array (interleaved)")
    if channels < 1 or len(a) % channels:
        raise ValueError("sample count must be a multiple of channels")
    vv = ((a.astype(np.int32) << 8) & 0xFFFFFF).astype(np.uint32)
    b = np.empty((len(a), 3), dtype=np.uint8)
    b[:, 0] = vv & 0xFF
    b[:, 1] = (vv >> 8) & 0xFF
    b[:, 2] = (vv >> 16) & 0xFF
    data = b.tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate, sample_rate * channels * 3, channels * 3, 24
    )
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


# IMA ADPCM (WAVE format code 0x11) — the one compressed WAVE format that
# is NOT entropy-coded: a fixed-table 4-bit predictive codec (step-size
# table + index-adaptation table, integer state machine), so it is
# implementable with the same integer-exact numpy discipline as the Rice
# codec and REPLAYABLE declaratively (the registry oracle folds the exact
# encode→decode recurrence with a recursive CTE). MP3/FLAC stay the
# documented entropy-coding seam. Tables are the IMA/DVI spec constants.
IMA_STEP_TABLE = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)
# index adaptation over the 3 magnitude bits (sign bit ignored)
IMA_INDEX_TABLE = (-1, -1, -1, -1, 2, 4, 6, 8)
# 4 nibble words (4 bytes = 8 samples each) per channel per block →
# 33 frames/block: small enough that the 64-sample registry corpus spans
# a block boundary, so the header-resync path is hash-attested too.
ADPCM_WORDS_PER_CHANNEL = 4
ADPCM_SAMPLES_PER_BLOCK = 1 + 8 * ADPCM_WORDS_PER_CHANNEL  # 33


def _ima_encode_step(pred: int, idx: int, sample: int):
    """One IMA ADPCM encoder step (scalar, pure int — the reference the
    numpy kernels and the SQL oracle both mirror). Returns
    ``(nibble, new_pred, new_idx)`` where ``new_pred`` IS the decoder's
    reconstruction for this sample (encoder and decoder share the state
    machine, which is what makes the recurrence oracle-replayable)."""
    step = IMA_STEP_TABLE[idx]
    diff = sample - pred
    sign = 8 if diff < 0 else 0
    ad = -diff if diff < 0 else diff
    b2 = 1 if ad >= step else 0
    ad -= b2 * step
    b1 = 1 if ad >= step >> 1 else 0
    ad -= b1 * (step >> 1)
    b0 = 1 if ad >= step >> 2 else 0
    delta = 4 * b2 + 2 * b1 + b0
    diffq = (step >> 3) + b2 * step + b1 * (step >> 1) + b0 * (step >> 2)
    new_pred = pred - diffq if sign else pred + diffq
    new_pred = max(-32768, min(32767, new_pred))
    new_idx = max(0, min(88, idx + IMA_INDEX_TABLE[delta]))
    return sign | delta, new_pred, new_idx


def ima_adpcm_reference(frames):
    """Pure-scalar reference of the IMA encode→decode recurrence over a
    ``(n_frames, channels)`` int array: block starts store the sample
    verbatim (header predictor) and carry the running index; every other
    sample reconstructs through :func:`_ima_encode_step`. Returns the
    decoded ``(n_frames, channels)`` int16 array — what
    ``_decode_wav(encode_wav_adpcm(x))`` must equal, pinned by the
    hypothesis round-trip test."""
    import numpy as np

    a = np.asarray(frames, dtype=np.int64)
    if a.ndim != 2:
        raise ValueError("expected a (frames, channels) array")
    out = np.empty_like(a)
    spb = ADPCM_SAMPLES_PER_BLOCK
    for c in range(a.shape[1]):
        pred, idx = 0, 0
        for t in range(a.shape[0]):
            if t % spb == 0:
                pred = int(a[t, c])  # block header: verbatim, index carries
            else:
                _, pred, idx = _ima_encode_step(pred, idx, int(a[t, c]))
            out[t, c] = pred
    return out.astype(np.int16)


def _ima_tables_np():
    """(step, index) tables as int32 arrays — shared by the vectorized
    encode/decode kernels (r15: the per-sample Python state machine was 3
    of the top-11 bench entries; the recurrence is sequential per stream
    but embarrassingly parallel ACROSS payloads, so the batch kernels run
    it with numpy lanes = (payload, channel) — guide §4.2)."""
    import numpy as np

    return (
        np.asarray(IMA_STEP_TABLE, dtype=np.int32),
        np.asarray(IMA_INDEX_TABLE, dtype=np.int32),
    )


def _ima_step_np(pred, idx, sample, step_tbl, index_tbl):
    """Vectorized :func:`_ima_encode_step` over int32 lanes. Returns
    ``(nibble, new_pred, new_idx)`` — element-wise identical to the
    scalar reference (hypothesis-pinned via the byte-exact encode)."""
    import numpy as np

    step = step_tbl[idx]
    diff = sample - pred
    sign = np.where(diff < 0, 8, 0).astype(np.int32)
    ad = np.abs(diff)
    b2 = (ad >= step).astype(np.int32)
    ad = ad - b2 * step
    h = step >> 1
    b1 = (ad >= h).astype(np.int32)
    ad = ad - b1 * h
    q = step >> 2
    b0 = (ad >= q).astype(np.int32)
    delta = 4 * b2 + 2 * b1 + b0
    diffq = (step >> 3) + b2 * step + b1 * h + b0 * q
    new_pred = np.where(sign != 0, pred - diffq, pred + diffq)
    np.clip(new_pred, -32768, 32767, out=new_pred)
    new_idx = np.clip(idx + index_tbl[delta], 0, 88)
    return sign | delta, new_pred, new_idx


# Lane budget for the batched ADPCM kernels: chunk payload groups so the
# padded (payload, frame, channel) working set stays ~32 MB regardless
# of Arrow batch size (a 16k-sample sweep batch would otherwise inflate
# the padded array past the worker overhead budget).
_ADPCM_BATCH_ELEMS = 4 << 20


def encode_wav_adpcm_batch(items):
    """Batched :func:`encode_wav_adpcm`: ``items`` is a list of
    ``(int16 interleaved samples, sample_rate, channels)``; returns the
    payload bytes list, byte-exact with the scalar encoder. The encoder
    state machine chains across blocks (the step index carries), so the
    sequential loop stays — but it runs ONCE per batch with numpy lanes
    = (payload, channel), not once per payload."""
    import struct

    import numpy as np

    step_tbl, index_tbl = _ima_tables_np()
    results: list[bytes | None] = [None] * len(items)
    spb = ADPCM_SAMPLES_PER_BLOCK
    words = ADPCM_WORDS_PER_CHANNEL
    by_ch: dict[int, list] = {}
    for i, (s, rate, ch) in enumerate(items):
        a = np.asarray(s, dtype=np.int16)
        if a.ndim != 1:
            raise ValueError("expected a 1-D int16 sample array (interleaved)")
        if ch < 1 or len(a) % ch:
            raise ValueError("sample count must be a multiple of channels")
        by_ch.setdefault(ch, []).append((i, a.reshape(-1, ch), rate))
    for ch, group in by_ch.items():
        block_align = ch * 4 * (1 + words)
        # chunk the group so the padded lane array stays bounded
        start = 0
        while start < len(group):
            nmax_seen = 0
            end = start
            while end < len(group):
                nmax_seen = max(nmax_seen, group[end][1].shape[0])
                if (end - start + 1) * max(nmax_seen, 1) * ch > _ADPCM_BATCH_ELEMS:
                    break
                end += 1
            end = max(end, start + 1)
            chunk = group[start:end]
            start = end
            lens = np.asarray([g[1].shape[0] for g in chunk])
            nmax = int(lens.max()) if len(lens) else 0
            ndocs = len(chunk)
            fr = np.zeros((ndocs, max(nmax, 1), ch), dtype=np.int32)
            for gi, (_i, f, _r) in enumerate(chunk):
                fr[gi, : f.shape[0]] = f
            n_blocks_max = (nmax + spb - 1) // spb
            preds = np.zeros((ndocs, n_blocks_max, ch), dtype=np.int32)
            idxs = np.zeros((ndocs, n_blocks_max, ch), dtype=np.int32)
            nibs = np.zeros((ndocs, n_blocks_max, ch, spb - 1), dtype=np.uint8)
            idx = np.zeros((ndocs, ch), dtype=np.int32)
            for b in range(n_blocks_max):
                t0 = b * spb
                act = (lens > t0)[:, None]
                pred = np.where(act, fr[:, t0, :], 0).astype(np.int32)
                preds[:, b] = pred
                idxs[:, b] = np.where(act, idx, 0)
                for k in range(1, spb):
                    t = t0 + k
                    if t >= nmax:
                        break
                    nib, n_pred, n_idx = _ima_step_np(
                        pred, idx, fr[:, t, :], step_tbl, index_tbl
                    )
                    live = (lens > t)[:, None]
                    nibs[:, b, :, k - 1] = np.where(live, nib, 0)
                    pred = np.where(live, n_pred, pred)
                    idx = np.where(live, n_idx, idx)
            for gi, (i, f, rate) in enumerate(chunk):
                n = f.shape[0]
                nb = (n + spb - 1) // spb
                data = bytearray()
                if nb:
                    # headers: (<h pred, B idx, B 0) per channel per block
                    hdr = np.zeros((nb, ch, 4), dtype=np.uint8)
                    p16 = preds[gi, :nb].astype("<i2").view(np.uint8).reshape(
                        nb, ch, 2
                    )
                    hdr[:, :, :2] = p16
                    hdr[:, :, 2] = idxs[gi, :nb].astype(np.uint8)
                    nb_blk = nibs[gi, :nb]  # (nb, ch, spb-1)
                    packed = (
                        nb_blk[:, :, 0::2] | (nb_blk[:, :, 1::2] << 4)
                    ).reshape(nb, ch, words, 4)
                    # per block: headers then channel-interleaved words
                    body = np.concatenate(
                        [
                            hdr.reshape(nb, ch * 4),
                            packed.transpose(0, 2, 1, 3).reshape(nb, -1),
                        ],
                        axis=1,
                    )
                    data = bytearray(body.tobytes())
                byte_rate = (rate * block_align + spb - 1) // spb
                fmt = struct.pack(
                    "<HHIIHHHH", 0x11, ch, rate, byte_rate, block_align, 4, 2, spb
                )
                body_b = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                body_b += b"fact" + struct.pack("<II", 4, n)
                body_b += b"data" + struct.pack("<I", len(data)) + bytes(data)
                results[i] = b"RIFF" + struct.pack("<I", len(body_b)) + body_b
    return results


def _decode_adpcm_batch(parts):
    """Batched IMA ADPCM data-chunk decode: ``parts`` is a list of
    ``(data bytes, channels, spb, fact)`` rows that already passed the
    scalar decoder's geometry validation. Blocks are INDEPENDENT on
    decode (each block header carries predictor + step index), so lanes
    = (block, channel) across every payload of a (channels, spb) group.
    Returns int16 interleaved arrays, sample-exact with
    :func:`_decode_wav`'s scalar branch."""
    import numpy as np

    step_tbl, index_tbl = _ima_tables_np()
    results = [None] * len(parts)
    groups: dict[tuple[int, int], list[int]] = {}
    for i, (_data, ch, spb, _fact) in enumerate(parts):
        groups.setdefault((ch, spb), []).append(i)
    for (ch, spb), idxs_g in groups.items():
        words = (spb - 1) // 8
        block_align = ch * 4 * (1 + words)
        datas = [parts[i][0] for i in idxs_g]
        nb = [len(d) // block_align for d in datas]
        raw_all = np.frombuffer(b"".join(datas), dtype=np.uint8).reshape(
            -1, block_align
        )
        # chunk so (blocks, spb, ch) output stays bounded
        total_blocks = raw_all.shape[0]
        max_blocks = max(_ADPCM_BATCH_ELEMS // (spb * ch), 1)
        decoded_chunks = []
        for c0 in range(0, total_blocks, max_blocks):
            raw = raw_all[c0 : c0 + max_blocks]
            n_blocks = raw.shape[0]
            hdr = raw[:, : 4 * ch].reshape(n_blocks, ch, 4).astype(np.int32)
            pred = hdr[:, :, 0] | (hdr[:, :, 1] << 8)
            pred = np.where(pred >= 32768, pred - 65536, pred).astype(np.int32)
            idx = hdr[:, :, 2]
            if (idx > 88).any():
                raise ValueError("IMA ADPCM step index out of range")
            wb = raw[:, 4 * ch :].reshape(n_blocks, words, ch, 4)
            cb = wb.transpose(0, 2, 1, 3).reshape(n_blocks, ch, 4 * words)
            nibs = np.empty((n_blocks, ch, 8 * words), dtype=np.int32)
            nibs[:, :, 0::2] = cb & 0x0F
            nibs[:, :, 1::2] = cb >> 4
            out = np.empty((n_blocks, spb, ch), dtype=np.int32)
            out[:, 0, :] = pred
            for k in range(8 * words):
                nib = nibs[:, :, k]
                step = step_tbl[idx]
                delta = nib & 7
                diffq = (
                    (step >> 3)
                    + np.where(delta & 4, step, 0)
                    + np.where(delta & 2, step >> 1, 0)
                    + np.where(delta & 1, step >> 2, 0)
                )
                pred = pred + np.where(nib & 8, -diffq, diffq)
                np.clip(pred, -32768, 32767, out=pred)
                idx = np.clip(idx + index_tbl[delta], 0, 88)
                out[:, k + 1, :] = pred
            decoded_chunks.append(out)
        out_all = (
            np.concatenate(decoded_chunks, axis=0)
            if decoded_chunks
            else np.zeros((0, spb, ch), np.int32)
        )
        pos = 0
        for j, i in enumerate(idxs_g):
            fact = parts[i][3]
            blk = out_all[pos : pos + nb[j]]
            pos += nb[j]
            results[i] = blk.reshape(-1, ch)[:fact].reshape(-1).astype(np.int16)
    return results


def decode_audio_batch(payloads):
    """Decode a BATCH of audio payloads → list of
    ``(sample_rate, channels, int16 samples)`` or the per-row exception
    (errors-as-data: one bad payload never poisons the batch). WAV PCM /
    float / G.711 rows take the scalar per-row path (already one numpy
    expression each); IMA ADPCM rows — the per-sample state machine —
    are grouped and decoded by the vectorized batch kernel, falling back
    to the scalar decoder per row if a group trips a validation error."""
    import struct

    results: list = [None] * len(payloads)
    adpcm_rows: list[int] = []
    adpcm_parts: list = []
    adpcm_meta: list = []
    for i, payload in enumerate(payloads):
        try:
            payload = bytes(payload)
            if payload[:4] != WAV_SIG or payload[8:12] != b"WAVE":
                results[i] = decode_audio(payload)  # non-WAV seam/raise
                continue
            pos, fmt, fmt_raw, fact, data = 12, None, None, None, None
            while pos + 8 <= len(payload):
                ctype = payload[pos : pos + 4]
                (ln,) = struct.unpack_from("<I", payload, pos + 4)
                if pos + 8 + ln > len(payload):
                    raise ValueError("truncated WAVE chunk")
                chunk = payload[pos + 8 : pos + 8 + ln]
                pos += 8 + ln + (ln & 1)
                if ctype == b"fmt ":
                    fmt = struct.unpack_from("<HHIIHH", chunk)
                    fmt_raw = chunk
                elif ctype == b"fact":
                    (fact,) = struct.unpack_from("<I", chunk)
                elif ctype == b"data":
                    data = chunk
            if fmt is None or data is None:
                raise ValueError("WAVE without fmt /data chunks")
            code, channels, rate, _byte_rate, _block, bits = fmt
            if code == 0x11 and bits == 4 and channels >= 1:
                # same geometry validation as _decode_wav, per row so a
                # bad row errors alone
                if fmt_raw is None or len(fmt_raw) < 20:
                    raise ValueError(
                        "IMA ADPCM WAVE without the samples-per-block extension"
                    )
                (spb,) = struct.unpack_from("<H", fmt_raw, 18)
                words = (spb - 1) // 8
                block_align = channels * 4 * (1 + words)
                if spb < 1 or (spb - 1) % 8 or _block != block_align:
                    raise ValueError("inconsistent IMA ADPCM block geometry")
                if fact is None:
                    raise ValueError("IMA ADPCM WAVE without a fact chunk")
                if len(data) % block_align:
                    raise ValueError(
                        "WAVE data chunk is not a whole number of blocks"
                    )
                n_blocks = len(data) // block_align
                if fact > n_blocks * spb or (
                    fact and n_blocks != (fact + spb - 1) // spb
                ):
                    raise ValueError(
                        "IMA ADPCM fact count inconsistent with data size"
                    )
                adpcm_rows.append(i)
                adpcm_parts.append((data, channels, spb, fact))
                adpcm_meta.append((rate, channels, payload))
            else:
                results[i] = _decode_wav(payload)
        except Exception as exc:
            results[i] = exc
    if adpcm_parts:
        try:
            decoded = _decode_adpcm_batch(adpcm_parts)
            for i, (rate, channels, _p), s in zip(
                adpcm_rows, adpcm_meta, decoded
            ):
                results[i] = (rate, channels, s)
        except Exception:
            # a row the per-row validation missed: decode each scalar so
            # only the offending row carries the error
            for i, (_rate, _channels, payload) in zip(adpcm_rows, adpcm_meta):
                try:
                    results[i] = _decode_wav(payload)
                except Exception as exc:
                    results[i] = exc
    return results


def encode_wav_adpcm(samples, *, sample_rate: int = 16000, channels: int = 1) -> bytes:
    """Encode int16 PCM as a REAL IMA ADPCM WAVE file (format code 0x11,
    4 bits/sample): per block and channel a 4-byte header (predictor
    int16 = first frame verbatim, running step index, reserved byte) then
    nibble pairs packed low-first in 4-byte words, words channel-
    interleaved per the IMA-in-RIFF layout; a ``fact`` chunk records the
    true per-channel frame count (required for compressed WAVE) so the
    zero-padded final block truncates exactly on decode. The encoder
    tracks the decoder's state machine, so
    ``_decode_wav(encode_wav_adpcm(x))`` equals
    :func:`ima_adpcm_reference` — the hypothesis-pinned contract."""
    import struct

    import numpy as np

    a = np.asarray(samples, dtype=np.int16)
    if a.ndim != 1:
        raise ValueError("expected a 1-D int16 sample array (interleaved)")
    if channels < 1 or len(a) % channels:
        raise ValueError("sample count must be a multiple of channels")
    frames = a.reshape(-1, channels).astype(np.int64)
    n = frames.shape[0]
    spb = ADPCM_SAMPLES_PER_BLOCK
    words = ADPCM_WORDS_PER_CHANNEL
    block_align = channels * 4 * (1 + words)
    data = bytearray()
    pred = [0] * channels
    idx = [0] * channels
    for t0 in range(0, n, spb):
        for c in range(channels):
            pred[c] = int(frames[t0, c])
            data += struct.pack("<hBB", pred[c], idx[c], 0)
        # nibbles: per channel, samples t0+1 .. t0+spb-1 (zero-padded tail)
        nibs = np.zeros((channels, spb - 1), dtype=np.uint8)
        for c in range(channels):
            p, ix = pred[c], idx[c]
            for k in range(1, spb):
                t = t0 + k
                if t >= n:
                    break  # final partial block: remaining nibbles stay 0
                nib, p, ix = _ima_encode_step(p, ix, int(frames[t, c]))
                nibs[c, k - 1] = nib
            pred[c], idx[c] = p, ix
        # pack: 4-byte words of 8 nibbles (low nibble first), words
        # channel-interleaved: ch0 word, ch1 word, ch0 word, ...
        packed = (nibs[:, 0::2] | (nibs[:, 1::2] << 4)).reshape(channels, words, 4)
        data += packed.transpose(1, 0, 2).tobytes()
    byte_rate = (sample_rate * block_align + spb - 1) // spb
    fmt = struct.pack(
        "<HHIIHHHH", 0x11, channels, sample_rate, byte_rate, block_align, 4, 2, spb
    )
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"fact" + struct.pack("<II", 4, n)
    body += b"data" + struct.pack("<I", len(data)) + bytes(data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


# G.711 companding (WAVE format codes 6 = A-law, 7 = mu-law) — the
# telephony PCM variants: fixed 8-segment logarithmic quantizers,
# MEMORYLESS (one byte per sample, no state), so encode and decode are
# pure numpy vector expressions and the lossy decode∘encode composition
# is replayable as a scalar SQL expression — no recursion needed, unlike
# ADPCM. Formulas follow the ITU G.711 / CCITT reference shapes; anchor
# bytes match the spec (mu-law silence 0xFF, A-law silence 0xD5, mu-law
# max-negative 0x00, A-law max-positive 0xAA).
_G711_CODES = {"alaw": 6, "mulaw": 7}


def _mulaw_encode_np(x):
    import numpy as np

    x = np.asarray(x, dtype=np.int32)
    sign = np.where(x < 0, 0x80, 0)
    mag = np.minimum(np.abs(x), 32635) + 132
    e = sum((mag >= (1 << j)).astype(np.int32) for j in range(8, 15))
    m = (mag >> (e + 3)) & 0xF
    return (~(sign | (e << 4) | m) & 0xFF).astype(np.uint8)


def _mulaw_decode_np(b):
    import numpy as np

    v = (~np.asarray(b, dtype=np.uint8)) & 0xFF
    e = (v.astype(np.int32) >> 4) & 7
    m = v.astype(np.int32) & 0xF
    mag = ((m * 8 + 132) << e) - 132
    return np.where(v & 0x80, -mag, mag).astype(np.int16)


def _alaw_encode_np(x):
    import numpy as np

    x = np.asarray(x, dtype=np.int32)
    p0 = x >> 3  # 13-bit domain, arithmetic shift
    mask = np.where(p0 >= 0, 0xD5, 0x55)
    p = np.where(p0 >= 0, p0, -p0 - 1)
    seg = sum((p > t).astype(np.int32) for t in (31, 63, 127, 255, 511, 1023, 2047))
    nib = np.where(seg < 2, (p >> 1) & 0xF, (p >> seg) & 0xF)
    return (((seg << 4) | nib) ^ mask).astype(np.uint8)


def _alaw_decode_np(b):
    import numpy as np

    v = np.asarray(b, dtype=np.uint8).astype(np.int32) ^ 0x55
    t = (v & 0xF) << 4
    seg = (v >> 4) & 7
    mag = np.where(
        seg == 0, t + 8, (t + 0x108) << np.maximum(seg - 1, 0)
    )
    return np.where(v & 0x80, mag, -mag).astype(np.int16)


def g711_reference(samples, law: str):
    """decode(encode(x)) composition for one G.711 law — the scalar
    quantizer the SQL oracles replay and the hypothesis tests pin."""
    if law == "mulaw":
        return _mulaw_decode_np(_mulaw_encode_np(samples))
    if law == "alaw":
        return _alaw_decode_np(_alaw_encode_np(samples))
    raise ValueError("law must be 'mulaw' or 'alaw'")


def encode_wav_g711(
    samples, *, law: str, sample_rate: int = 16000, channels: int = 1
) -> bytes:
    """Encode int16 PCM as a G.711 companded WAVE file (format code 7 =
    mu-law or 6 = A-law, 8 bits/sample, one byte per sample interleaved
    as the input is). Non-PCM WAVE carries a ``fact`` chunk with the
    per-stream sample-frame count per the spec."""
    import struct

    import numpy as np

    if law not in _G711_CODES:
        raise ValueError("law must be 'mulaw' or 'alaw'")
    a = np.asarray(samples, dtype=np.int16)
    if a.ndim != 1:
        raise ValueError("expected a 1-D int16 sample array (interleaved)")
    if channels < 1 or len(a) % channels:
        raise ValueError("sample count must be a multiple of channels")
    enc = _mulaw_encode_np if law == "mulaw" else _alaw_encode_np
    data = enc(a).tobytes()
    code = _G711_CODES[law]
    fmt = struct.pack(
        "<HHIIHHH", code, channels, sample_rate, sample_rate * channels, channels, 8, 0
    )
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"fact" + struct.pack("<II", 4, len(a) // channels)
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _decode_wav(payload: bytes):
    """Parse a RIFF/WAVE container: chunk walk (fmt /data), little-endian
    header fields; decodes 8-bit unsigned, 16-bit and 24-bit signed
    integer PCM (format code 1) and 32-bit IEEE float PCM (format code 3,
    quantized to int16 by ``clip(rint(x * 32768), -32768, 32767)`` —
    round-half-even, the exact inverse of the ``k/32768`` float encoding;
    8/24-bit land in the int16 domain via ``(u8-128)<<8`` / arithmetic
    ``>> 8``). Also decodes IMA ADPCM (format code 0x11 — fixed-table
    4-bit predictive coding, NOT entropy-coded, so it decodes with the
    same integer-exact discipline). Returns ``(sample_rate, channels,
    int16 array of interleaved frames)``. Entropy-coded WAVE formats
    (MP3-in-WAV) raise — the same seam as JPEG on the image side."""
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, fmt_raw, fact, data = 12, None, None, None, None
    while pos + 8 <= len(payload):
        ctype = payload[pos : pos + 4]
        (ln,) = struct.unpack_from("<I", payload, pos + 4)
        if pos + 8 + ln > len(payload):
            # a declared chunk extending past the payload end is a
            # truncated file — error out rather than silently decoding
            # a prefix as if it were the whole waveform (review, r10)
            raise ValueError("truncated WAVE chunk")
        chunk = payload[pos + 8 : pos + 8 + ln]
        pos += 8 + ln + (ln & 1)  # chunks are word-aligned
        if ctype == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", chunk)
            fmt_raw = chunk
        elif ctype == b"fact":
            (fact,) = struct.unpack_from("<I", chunk)
        elif ctype == b"data":
            data = chunk
    if fmt is None or data is None:
        raise ValueError("WAVE without fmt /data chunks")
    code, channels, rate, _byte_rate, _block, bits = fmt
    if channels < 1:
        raise ValueError("WAVE with zero channels")
    if code == 1 and bits == 16:
        if len(data) % (2 * channels):
            # an odd/ragged data chunk is a truncated final frame — same
            # policy as the truncated-chunk error above, never a silent
            # half-sample drop (ADVICE r10)
            raise ValueError("WAVE data chunk is not a whole number of frames")
        return rate, channels, np.frombuffer(data, dtype="<i2").copy()
    if code == 3 and bits == 32:
        if len(data) % (4 * channels):
            raise ValueError("WAVE data chunk is not a whole number of frames")
        f = np.frombuffer(data, dtype="<f4").astype(np.float64)
        if not np.isfinite(f).all():
            # NaN/Inf samples would quantize to platform-dependent values —
            # corrupt float payloads take the errors-as-data seam instead
            raise ValueError("non-finite float PCM sample")
        q = np.clip(np.rint(f * 32768.0), -32768, 32767).astype(np.int16)
        return rate, channels, q
    if code == 1 and bits == 8:
        # 8-bit PCM is UNSIGNED with a 128 bias (the WAVE spec's one
        # asymmetry); int16 value = (u8 - 128) << 8
        if len(data) % channels:
            raise ValueError("WAVE data chunk is not a whole number of frames")
        u = np.frombuffer(data, dtype=np.uint8).astype(np.int16)
        return rate, channels, ((u - 128) << 8).astype(np.int16)
    if code == 1 and bits == 24:
        # 24-bit little-endian signed, packed 3 bytes/sample; decode to
        # the int16 pipeline domain by ARITHMETIC >> 8 (floor — the SQL
        # replay is floor(x/256)). Lossless against encode_wav_pcm24's
        # s<<8 payloads by construction.
        if len(data) % (3 * channels):
            raise ValueError("WAVE data chunk is not a whole number of frames")
        b = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3).astype(np.int32)
        v = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
        v = np.where(v >= 1 << 23, v - (1 << 24), v)  # sign-extend
        return rate, channels, (v >> 8).astype(np.int16)
    if code in (6, 7) and bits == 8:
        # G.711 A-law (6) / mu-law (7): memoryless byte-per-sample
        # companding — vector table inversion, no state machine
        if len(data) % channels:
            raise ValueError("WAVE data chunk is not a whole number of frames")
        b = np.frombuffer(data, dtype=np.uint8)
        dec = _mulaw_decode_np(b) if code == 7 else _alaw_decode_np(b)
        return rate, channels, dec
    if code == 0x11 and bits == 4:
        # IMA ADPCM: 4-byte per-channel block headers (predictor verbatim,
        # step index), then channel-interleaved 4-byte nibble words. The
        # fact chunk gives the true frame count (the final block is
        # zero-padded); state machine = _ima_encode_step's decode half.
        if fmt_raw is None or len(fmt_raw) < 20:
            raise ValueError("IMA ADPCM WAVE without the samples-per-block extension")
        (spb,) = struct.unpack_from("<H", fmt_raw, 18)
        words = (spb - 1) // 8
        block_align = channels * 4 * (1 + words)
        if spb < 1 or (spb - 1) % 8 or _block != block_align:
            raise ValueError("inconsistent IMA ADPCM block geometry")
        if fact is None:
            raise ValueError("IMA ADPCM WAVE without a fact chunk")
        if len(data) % block_align:
            raise ValueError("WAVE data chunk is not a whole number of blocks")
        n_blocks = len(data) // block_align
        if fact > n_blocks * spb or (fact and n_blocks != (fact + spb - 1) // spb):
            raise ValueError("IMA ADPCM fact count inconsistent with data size")
        out = np.zeros((n_blocks * spb, channels), dtype=np.int64)
        raw = np.frombuffer(data, dtype=np.uint8).reshape(n_blocks, block_align)
        for bi in range(n_blocks):
            blk = raw[bi]
            hdr = blk[: 4 * channels].reshape(channels, 4)
            # nibble words: (words, channels, 4 bytes) channel-interleaved
            wb = blk[4 * channels :].reshape(words, channels, 4)
            for c in range(channels):
                v = int(hdr[c, 0]) | (int(hdr[c, 1]) << 8)
                pred = v - 65536 if v >= 32768 else v  # sign-extend int16
                idx = int(hdr[c, 2])
                if idx > 88:
                    raise ValueError("IMA ADPCM step index out of range")
                out[bi * spb, c] = pred
                cb = wb[:, c, :].reshape(-1)
                nibs = np.empty(8 * words, dtype=np.uint8)
                nibs[0::2] = cb & 0x0F
                nibs[1::2] = cb >> 4
                for k, nib in enumerate(nibs, start=1):
                    step = IMA_STEP_TABLE[idx]
                    delta = int(nib) & 7
                    diffq = (step >> 3) + (
                        (step if delta & 4 else 0)
                        + ((step >> 1) if delta & 2 else 0)
                        + ((step >> 2) if delta & 1 else 0)
                    )
                    pred += -diffq if nib & 8 else diffq
                    pred = max(-32768, min(32767, pred))
                    idx = max(0, min(88, idx + IMA_INDEX_TABLE[delta]))
                    out[bi * spb + k, c] = pred
        return rate, channels, out[:fact].reshape(-1).astype(np.int16)
    raise NotImplementedError(
        "only 8/16/24-bit integer, 32-bit IEEE-float, IMA ADPCM (0x11), "
        "and G.711 mu-law/A-law (7/6) WAVE supported; MP3-in-WAV and other "
        "entropy-coded formats require an audio library not present in "
        "this environment"
    )


def decode_audio(payload: bytes):
    """Decode an audio payload → ``(sample_rate, channels, int16 samples)``.
    REAL decoder for RIFF/WAVE 16-bit integer and 32-bit IEEE-float PCM;
    entropy-coded codecs (MP3/FLAC/OGG/AAC) are the documented
    ``NotImplementedError`` seam where a real audio library plugs in —
    container parsing is free, psychoacoustic entropy coding is not worth
    reimplementing."""
    if payload[:4] == WAV_SIG:
        return _decode_wav(payload)
    raise NotImplementedError(
        "MP3/FLAC/OGG and other entropy-coded audio codecs require an audio "
        "library not present in this environment; 16-bit PCM WAVE decodes "
        "natively"
    )


MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "media_meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("n_bytes", T.LongType()),
                    T.StructField("codec", T.StringType()),
                ]
            ),
        ),
    ]
)


def _attach_payloads(docs: DataFrame, head_len: int, mime: str, codec: str, encode) -> DataFrame:
    """Attach a synthetic media payload per row of ``docs``: ``encode(cp)``
    maps the int64 codepoints of the first ``head_len`` characters of
    ``text`` to the payload bytes, and ``media_meta`` records ``mime``,
    the payload length and ``codec``. Codepoints, not UTF-8 bytes, so
    SQL ``ascii(substring(text, i, 1))`` re-derives every input on any
    Unicode text. Runs as one Arrow-batched ``mapInPandas`` (payload
    synthesis is per-char work, the slot a binary-file scan occupies at
    100 TB)."""
    # cast the id at plan time so a non-long id column fails (or coerces)
    # here, not inside the Arrow stage at runtime
    src = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.substring(F.col("text"), 1, head_len).alias("head"),
    )

    def _attach(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import numpy as np
        import pandas as pd

        for pdf in batches:
            # utf-32-le gives the codepoint array without a per-char
            # Python loop (ord() over 16 k chars dominated the
            # realistic-payload sweep)
            payloads = [
                encode(
                    np.frombuffer((head or "").encode("utf-32-le"), dtype="<u4").astype(
                        np.int64
                    )
                )
                for head in pdf["head"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": payloads,
                    "media_meta": [
                        {"mime": mime, "n_bytes": len(p), "codec": codec}
                        for p in payloads
                    ],
                }
            )

    return src.mapInPandas(_attach, MEDIA_SCHEMA)


def attach_audio(docs: DataFrame, *, head_len: int = 64, channels: int = 1) -> DataFrame:
    """Attach a REAL 16 kHz WAV payload per row: a deterministic synthetic
    int16 waveform derived from the codepoints of the text head
    (``s_{i,c} = ((cp_i*37 + i*11 + c*53) % 256 - 128) * 256``, i 0-based
    frame, c 0-based channel), interleaved frame-major and encoded
    through :func:`encode_wav`. The default ``channels=1`` payload is the
    mono formula ``((cp_i*37 + i*11) % 256 - 128) * 256`` (the ``c*53``
    term vanishes at c=0); ``channels=2`` gives the stereo corpus the multichannel DSP entries
    attest on — channel 1 is a deterministic, DIFFERENT waveform over the
    same text, so a kernel that mixed channels would hash-mismatch. Every
    engine can reproduce the waveform from the text, so downstream REAL
    decodes are hash-checkable. ``head_len`` bounds the waveform length:
    registry entries pin the oracle-matched 64; the payload-size sweeps
    use 16384 (a 1 s clip at 16 kHz) so Arrow overhead doesn't mask
    per-sample cost."""
    import numpy as np

    if channels < 1:
        raise ValueError("channels must be >= 1")

    def encode(cp):
        mix = cp * 37 + np.arange(len(cp), dtype=np.int64) * 11
        if channels > 1:
            # (frames, ch) → interleave frame-major via reshape
            mix = mix[:, None] + np.arange(channels, dtype=np.int64) * 53
        samples = ((mix % 256) - 128) * 256
        return encode_wav(samples.reshape(-1).astype(np.int16), channels=channels)

    return _attach_payloads(docs, head_len, "audio/wav", "pcm_s16le", encode)


def attach_video(docs: DataFrame) -> DataFrame:
    """Attach a REAL AVI payload per row: one 4×4 RGB frame per codepoint
    of the first 16 characters of the text, pixel ``(t,y,x,c) = (cp_t·7 +
    y·13 + x·17 + c·29 + (t-1)·3) % 256`` (t 1-based frame), encoded at
    10 fps through :func:`encode_avi_raw`. Every engine can re-derive
    each pixel from the text, so downstream REAL decodes are
    hash-checkable — the video twin of :func:`attach_audio`."""
    import numpy as np

    y, x, c = np.ogrid[:4, :4, :3]
    base = y * 13 + x * 17 + c * 29

    def encode(cp):
        t = np.arange(len(cp), dtype=np.int64)  # 0-based (t-1)
        frames = ((cp * 7 + t * 3)[:, None, None, None] + base[None]) % 256
        return encode_avi_raw(frames.astype(np.uint8))

    return _attach_payloads(docs, 16, "video/x-msvideo", "rawvideo", encode)


def attach_video_rle(docs: DataFrame) -> DataFrame:
    """Attach a REAL MS-RLE8-compressed AVI payload per row: one 8×8
    palette-index frame per codepoint of the first 16 characters of the
    text, index ``(t,y,x) = (cp_t·3 + (t-1)·11 + y·5 + x//4) % 256``
    (x//4 gives 4-pixel runs so the run-length coder has real runs to
    compress), palette :func:`default_rle_palette`, encoded at 10 fps
    through :func:`encode_avi_rle8`. Every decoded pixel is re-derivable
    from the text in SQL, so the full compressed-container loop is
    hash-checkable."""
    import numpy as np

    pal = default_rle_palette()
    y, x = np.ogrid[:8, :8]
    base = y * 5 + x // 4

    def encode(cp):
        t = np.arange(len(cp), dtype=np.int64)  # 0-based (t-1)
        frames = ((cp * 3 + t * 11)[:, None, None] + base[None]) % 256
        return encode_avi_rle8(frames.astype(np.uint8), pal)

    return _attach_payloads(docs, 16, "video/x-msvideo", "msrle", encode)


def attach_video_mjpeg(docs: DataFrame) -> DataFrame:
    """Attach a REAL motion-JPEG AVI payload per row: one 16×16 frame per
    codepoint of the first 16 characters of the text — exactly one 4:2:0
    MCU, flat color ``(cp_t·7 + (t-1)·3, cp_t·11 + (t-1)·5, cp_t·13 +
    (t-1)·7) % 256`` — encoded at 10 fps with all-ones quantization
    tables through :func:`encode_avi_mjpeg`, so every decoded pixel is
    the pinned-order YCbCr round trip of a value any engine can re-derive
    from the text (the flat-MCU exactness contract in
    ``ext/jpegcodec.py``)."""
    import numpy as np

    ones = [1] * 64

    def encode(cp):
        t = np.arange(len(cp), dtype=np.int64)  # 0-based (t-1)
        colors = np.stack(
            [(cp * 7 + t * 3) % 256, (cp * 11 + t * 5) % 256, (cp * 13 + t * 7) % 256],
            axis=1,
        ).astype(np.uint8)
        frames = np.repeat(np.repeat(colors[:, None, None, :], 16, axis=1), 16, axis=2)
        return encode_avi_mjpeg(frames, quant_luma=ones, quant_chroma=ones)

    return _attach_payloads(docs, 16, "video/x-msvideo", "mjpeg", encode)


VIDEO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("fps", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("sum_pix", T.LongType()),
        T.StructField("max_pix", T.IntegerType()),
        T.StructField("checksum", T.LongType()),
    ]
)


def video_frame_features(df: DataFrame) -> DataFrame:
    """REAL decode pipeline over the video binary column: parse each AVI
    with :func:`decode_avi` and emit one row per frame with integer
    stats — pixel sum, max, and a POSITION-WEIGHTED checksum
    ``sum(p · (y·3·W + x·3 + c + 1))`` that any row flip, BGR/RGB swap,
    or stride mis-padding in the container loop would change. 1:N
    ``mapInPandas`` fan-out, narrow map; undecodable payloads → NULL
    row (errors-as-data)."""
    import numpy as np

    def rows(payload):
        fps, frames = decode_avi(payload)
        n, h, w = frames.shape[:3]
        weights = np.arange(1, h * w * 3 + 1, dtype=np.int64)
        # explicit shape: reshape(n, -1) raises on n == 0 (numpy cannot
        # infer -1 from a size-0 array), and a 0-frame video is a
        # decodable payload, not an error row
        flat = frames.reshape(n, h * w * 3).astype(np.int64)
        for i in range(n):
            yield (
                i, fps, h, w,
                int(flat[i].sum()),
                int(flat[i].max()),
                int((flat[i] * weights).sum()),
            )

    return _map_payloads(df, VIDEO_FRAME_SCHEMA, rows)


# Scene-cut threshold: L1 frame difference at which a transition counts
# as a shot boundary. 3200 ≈ the corpus median inter-frame L1 (quantiles
# 816/1536/3152/4920/6048 at sf0.01), so the flag is discriminative —
# shared with the SQL oracle like the spectral-VAD constants.
SCENE_CUT_L1_THRESHOLD = 3200


def scene_cut_frames(df: DataFrame) -> DataFrame:
    """Shot-boundary detection over the video binary column — the classic
    video-corpus preprocessing screen (keyframe selection / clip
    segmentation for training pipelines): REAL AVI decode, per-frame L1
    distance to the previous frame, ``is_cut = l1 >=
    SCENE_CUT_L1_THRESHOLD``. Emits one row per frame TRANSITION
    (frame_idx ≥ 1); 0/1-frame videos emit nothing. Integer arithmetic
    end to end so the decisions are SQL-replayable. 1:N ``mapInPandas``
    fan-out, narrow map; undecodable payloads → NULL row
    (errors-as-data)."""
    import numpy as np

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("l1_diff", T.LongType()),
            T.StructField("is_cut", T.BooleanType()),
        ]
    )

    def rows(payload):
        _fps, frames = decode_avi(payload)
        f = frames.astype(np.int64)
        diffs = np.abs(f[1:] - f[:-1]).reshape(max(len(f) - 1, 0), -1).sum(axis=1) if len(f) > 1 else np.zeros(0, np.int64)
        for i, d in enumerate(diffs, start=1):
            yield i, int(d), bool(d >= SCENE_CUT_L1_THRESHOLD)

    return _map_payloads(df, schema, rows)


AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("peak_abs", T.LongType()),
        T.StructField("sum_abs", T.LongType()),
        T.StructField("zero_crossings", T.LongType()),
    ]
)


def audio_features(df: DataFrame) -> DataFrame:
    """REAL decode pipeline over the audio binary column: parse each WAV
    with :func:`decode_audio` and emit integer waveform features
    (duration, peak amplitude, total magnitude, zero-crossing count — the
    classic VAD/energy screen). Channel-aware: ``n_samples``/``duration_ms``
    count FRAMES (not interleaved samples) and zero-crossings are counted
    per channel after de-interleaving, never across L/R boundaries.
    Arrow-batched ``mapInPandas``, narrow map, no shuffle; payloads decode
    a whole batch at a time through :func:`decode_audio_batch` (ADPCM
    rows run the vectorized block kernel), and undecodable payloads yield
    a NULL row (errors-as-data)."""
    import numpy as np

    def rows(dec):
        rate, ch, s = dec
        if rate > 0x7FFFFFFF:
            # the fmt field is uint32 but the feature column is int32 —
            # route the overflow to the NULL row instead of failing the
            # whole Arrow batch
            raise ValueError("sample_rate exceeds int32")
        planes = s.astype(np.int64).reshape(-1, ch)  # (frames, ch)
        absd = np.abs(planes)
        yield (
            rate,
            planes.shape[0],
            planes.shape[0] * 1000 // rate,
            int(absd.max()) if planes.size else 0,
            int(absd.sum()),
            int(np.count_nonzero(planes[1:] * planes[:-1] < 0)),
        )

    return _map_payloads(df, AUDIO_FEATURE_SCHEMA, rows, decode_audio_batch)


# Anti-alias FIR for integer-factor decimation: windowed-sinc low-pass,
# INTEGER taps (scaled by FIR_SCALE, adjusted so the DC gain is exactly 1)
# so the filtered waveform is reproducible bit-for-bit in any engine —
# including the SQL oracle, which replays the same convolution as a
# bounded-lag self-join. Design: 2*FIR_HALF_WIDTH+1 taps, Hamming window,
# cutoff 1/(2*factor) (the new Nyquist). For factor 4 this measures
# -6 dB at the band edge and <= -49 dB across the folded stopband.
FIR_SCALE = 4096
FIR_HALF_WIDTH = 15


def fir_decimation_taps(factor: int) -> "np.ndarray":  # noqa: F821
    """Integer windowed-sinc low-pass taps for decimation by ``factor``.
    Deterministic pure-integer output: round each scaled ideal tap, then
    absorb the rounding residue into the center tap so ``sum(taps) ==
    FIR_SCALE`` exactly (unity DC gain)."""
    import numpy as np

    if factor < 1:
        raise ValueError("factor must be >= 1")
    n = np.arange(-FIR_HALF_WIDTH, FIR_HALF_WIDTH + 1)
    window = 0.54 + 0.46 * np.cos(np.pi * n / FIR_HALF_WIDTH)
    cutoff = 1.0 / (2 * factor)
    ideal = 2 * cutoff * np.sinc(2 * cutoff * n)
    taps = np.rint(FIR_SCALE * ideal * window).astype(np.int64)
    taps[FIR_HALF_WIDTH] += FIR_SCALE - taps.sum()
    return taps


def fir_lowpass_int(samples, taps) -> "np.ndarray":  # noqa: F821
    """Apply an integer FIR (zero-padded edges) to an int16 waveform:
    ``y[i] = clip(floor(sum_k taps[k] * x[i + k - C] / FIR_SCALE))`` with
    floor division and int16 clipping — every step integer-exact, so the
    SQL spelling (bounded-lag self-join + ``floor(SUM(c*smp)/4096.0)``)
    reproduces it bit-for-bit (sums stay < 2^31, exact in float64)."""
    import numpy as np

    x = np.asarray(samples, dtype=np.int64)
    if len(x) == 0:
        return x.astype(np.int16)
    # taps are symmetric, so 'full' convolution sliced at the center lag
    # equals the correlation form in the docstring
    conv = np.convolve(x, np.asarray(taps, dtype=np.int64), mode="full")
    y = conv[FIR_HALF_WIDTH : FIR_HALF_WIDTH + len(x)]
    y = np.floor_divide(y, FIR_SCALE)
    return np.clip(y, -32768, 32767).astype(np.int16)


def resample_audio(df: DataFrame, *, factor: int, antialias: bool = True) -> DataFrame:
    """Integer-factor resampler over the audio column: REAL decode →
    anti-alias low-pass (:func:`fir_lowpass_int`, integer windowed-sinc
    FIR cut at the new Nyquist — no aliased energy folds into the output
    band) → keep every ``factor``-th frame → REAL re-encode at
    ``rate // factor``. Channel-aware: frames deinterleave, the SAME
    integer FIR filters each channel independently (never across L/R
    boundaries), decimation drops whole FRAMES, and the surviving frames
    reinterleave — so mono payloads are bit-unchanged and stereo is
    oracled with one extra channel index in the SQL join. Because the
    filter is integer-exact, the full decode→filter→decimate→encode loop
    is hash-checked against a SQL oracle that replays the convolution as
    a bounded-lag self-join. ``antialias=False`` gives plain index
    decimation (kept as the tests' reference arm). 1:1 ``mapInPandas``,
    narrow map. A payload whose rate is below ``factor`` (so the target
    rate would be 0 Hz) is rejected → NULL row, never emitted at a
    fabricated rate."""
    import numpy as np

    if factor < 1:
        raise ValueError("factor must be >= 1")
    taps = fir_decimation_taps(factor) if antialias and factor > 1 else None

    def rows(payload):
        rate, ch, s = decode_audio(payload)
        if rate // factor == 0:
            raise ValueError("decimation factor exceeds sample rate")
        planes = s.reshape(-1, ch)  # (frames, ch)
        if taps is not None:
            planes = np.stack(
                [fir_lowpass_int(planes[:, c], taps) for c in range(ch)], axis=1
            )
        dec = planes[::factor]  # every factor-th FRAME
        yield (
            encode_wav(
                dec.reshape(-1).astype(np.int16), sample_rate=rate // factor, channels=ch
            ),
        )

    return _map_payloads(df, PAYLOAD_SCHEMA, rows)


def fir_rational_taps(up: int, down: int) -> "np.ndarray":  # noqa: F821
    """Integer windowed-sinc taps for rational L/M resampling, designed in
    the L-times-upsampled domain: cutoff ``1/(2*max(L,M))`` (the tighter
    of the anti-imaging and anti-aliasing constraints), passband gain L
    (restores amplitude after zero-stuffing), half-width ``4*max(L,M)``
    so the transition band stays proportionate. Deterministic pure-integer
    output; per-phase DC gain is within the window's ripple of unity
    (exact normalization would retouch one tap per phase — deliberately
    skipped, determinism is the contract, not 0.1 dB flatness)."""
    import numpy as np

    if up < 1 or down < 1:
        raise ValueError("up/down factors must be >= 1")
    half = 4 * max(up, down)
    n = np.arange(-half, half + 1)
    window = 0.54 + 0.46 * np.cos(np.pi * n / half)
    cutoff = 1.0 / (2 * max(up, down))
    ideal = up * 2 * cutoff * np.sinc(2 * cutoff * n)
    return np.rint(FIR_SCALE * ideal * window).astype(np.int64)


def resample_rational_kernel(samples, up: int, down: int) -> "np.ndarray":  # noqa: F821
    """Polyphase-equivalent L/M resample of an int16 waveform, spelled as
    the literal definition (zero-stuff by L → integer FIR → take every
    M-th) so the SQL oracle can replay it as a modular-index join:
    ``y[j] = clip(floor(sum_n c[n] * x[(j*M + n)/L] / SCALE))`` over the
    ``n`` with ``(j*M + n) % L == 0``, zero-padded at the edges. Output
    length ``ceil(len * L / M)``. A real polyphase implementation
    computes the same values phase-by-phase without materializing the
    zero-stuffed stream; at 16 k samples the dense spelling is already
    numpy-bound and bit-identical."""
    import numpy as np

    taps = fir_rational_taps(up, down)
    half = (len(taps) - 1) // 2
    x = np.asarray(samples, dtype=np.int64)
    n_out = -(-len(x) * up // down)  # ceil
    if len(x) == 0:
        return x.astype(np.int16)
    x_up = np.zeros(len(x) * up, dtype=np.int64)
    x_up[::up] = x
    conv = np.convolve(x_up, taps, mode="full")[half : half + len(x_up)]
    y = np.floor_divide(conv, FIR_SCALE)
    y = np.clip(y, -32768, 32767)[::down]
    return y[:n_out].astype(np.int16)


def resample_audio_rational(df: DataFrame, *, up: int, down: int) -> DataFrame:
    """Rational-rate (L/M) resampler over the audio column, with the same
    integer-exact discipline as the decimator: REAL decode → zero-stuff
    by L → integer windowed-sinc FIR (anti-image + anti-alias, gain L) →
    keep every M-th → REAL re-encode at ``rate * L / M``. Channel-aware:
    each channel runs the SAME :func:`resample_rational_kernel`
    independently after frame deinterleaving (every channel yields the
    identical ``ceil(n·L/M)`` output length, so reinterleaving is a plain
    reshape) — mono payloads are bit-unchanged. Payloads whose ``rate *
    L`` is not divisible by M (a non-integral target rate) or below M are
    rejected → NULL row. 1:1 ``mapInPandas``, narrow map."""
    import numpy as np

    if up < 1 or down < 1:
        raise ValueError("up/down factors must be >= 1")

    def rows(payload):
        rate, ch, s = decode_audio(payload)
        if (rate * up) % down or rate * up < down:
            raise ValueError("target rate is not a positive integer")
        planes = s.reshape(-1, ch)  # (frames, ch)
        y = np.stack(
            [resample_rational_kernel(planes[:, c], up, down) for c in range(ch)],
            axis=1,
        ).reshape(-1)
        yield (encode_wav(y, sample_rate=rate * up // down, channels=ch),)

    return _map_payloads(df, PAYLOAD_SCHEMA, rows)


def transcode_audio_pcm(df: DataFrame, *, bits: int) -> DataFrame:
    """Transcode WAV payloads to 8-bit unsigned or 24-bit signed PCM WAVE
    (format code 1): REAL decode → :func:`encode_wav_pcm8` /
    :func:`encode_wav_pcm24`. 24-bit is lossless on the whole int16 range
    (``s<<8`` then ``>>8``); 8-bit quantizes by ``floor(s/256)`` — on
    attach_audio waveforms (multiples of 256) that loop is the identity
    too, which is what the registry entries hash-check. 1:1
    ``mapInPandas``, narrow map; undecodable payloads → NULL row."""
    if bits not in (8, 24):
        raise ValueError("bits must be 8 or 24")
    enc = encode_wav_pcm8 if bits == 8 else encode_wav_pcm24

    def rows(payload):
        rate, ch, s = decode_audio(payload)
        yield (enc(s, sample_rate=rate, channels=ch),)

    return _map_payloads(df, PAYLOAD_SCHEMA, rows)


def transcode_audio_g711(df: DataFrame, *, law: str) -> DataFrame:
    """Transcode WAV payloads to G.711 companded WAVE (mu-law code 7 /
    A-law code 6): REAL decode → :func:`encode_wav_g711`. Lossy but
    MEMORYLESS — downstream decodes equal :func:`g711_reference`, a pure
    scalar quantizer the registry oracles replay as a SQL expression, so
    the whole companded-container loop is hash-checked. 1:1
    ``mapInPandas``, narrow map; undecodable payloads → NULL row."""
    if law not in _G711_CODES:
        raise ValueError("law must be 'mulaw' or 'alaw'")

    def rows(payload):
        rate, ch, s = decode_audio(payload)
        yield (encode_wav_g711(s, law=law, sample_rate=rate, channels=ch),)

    return _map_payloads(df, PAYLOAD_SCHEMA, rows)


def transcode_audio_adpcm(df: DataFrame) -> DataFrame:
    """Transcode WAV payloads to IMA ADPCM (format code 0x11): REAL decode
    → :func:`encode_wav_adpcm`. The codec is LOSSY (4-bit residuals), but
    deterministically so — downstream decodes equal
    :func:`ima_adpcm_reference`, an integer recurrence the registry
    oracle replays declaratively with a recursive CTE, so the full
    compressed-container loop (block headers, nibble packing, fact-chunk
    truncation, state machine) is hash-checked, not just attested. 1:1
    ``mapInPandas``, narrow map; undecodable payloads → NULL row."""

    def encode_batch(payloads):
        # per-row decode errors stay in their rows; good rows batch-encode
        # through the vectorized lane kernel
        out = decode_audio_batch(payloads)
        good = [i for i, d in enumerate(out) if not isinstance(d, Exception)]
        items = [(out[i][2], out[i][0], out[i][1]) for i in good]
        try:
            encoded = encode_wav_adpcm_batch(items)
        except Exception:
            # a row the batch validation rejected: encode each scalar so
            # only the offending row carries the error
            encoded = []
            for s, rate, ch in items:
                try:
                    encoded.append(encode_wav_adpcm(s, sample_rate=rate, channels=ch))
                except Exception as exc:
                    encoded.append(exc)
        for i, enc in zip(good, encoded):
            out[i] = enc
        return out

    return _map_payloads(df, PAYLOAD_SCHEMA, lambda enc: [(enc,)], encode_batch)


def transcode_audio_flac(df: DataFrame, *, mid_side: bool = False) -> DataFrame:
    """Transcode WAV payloads through the FLAC codec: REAL WAV decode →
    :func:`ibc_spark.ext.flaccodec.encode_flac` (STREAMINFO with real
    MD5, fixed-predictor subframes, Rice residuals, CRC-8/16) →
    :func:`decode_flac` (CRC- and MD5-verified) → WAV re-encode. FLAC is
    LOSSLESS, so the downstream features oracle hash-proves the whole
    compressed loop is the identity — the strongest attestation a codec
    path can get. ``mid_side`` exercises the stereo decorrelation
    assignment. 1:1 ``mapInPandas``, narrow map; undecodable payloads →
    NULL row."""
    import numpy as np

    from ibc_spark.ext.flaccodec import decode_flac, encode_flac

    def rows(payload):
        rate, ch, s = decode_audio(payload)
        arr = np.asarray(s, dtype=np.int64).reshape(-1, ch)
        fl = encode_flac(
            arr if ch > 1 else arr[:, 0], sample_rate=rate, mid_side=mid_side and ch == 2
        )
        r2, dec = decode_flac(fl)
        yield (encode_wav(dec.reshape(-1), sample_rate=r2, channels=ch),)

    return _map_payloads(df, PAYLOAD_SCHEMA, rows)


def transcode_audio_float(df: DataFrame) -> DataFrame:
    """Transcode int16-PCM WAV payloads to 32-bit IEEE-float PCM WAV
    (format code 3): REAL decode → ``k / 32768`` float32 (exact in binary
    floating point for every int16 ``k``) → :func:`encode_wav_float`.
    Downstream decodes quantize back with ``rint(x * 32768)``, so the
    int16→float→int16 loop is the identity on the full int16 range — the
    property ``multimodal_audio_float_pcm`` hash-checks. 1:1
    ``mapInPandas``, narrow map; undecodable payloads → NULL row."""
    import numpy as np

    def rows(payload):
        rate, ch, s = decode_audio(payload)
        f = (s.astype(np.float64) / 32768.0).astype("<f4")
        yield (encode_wav_float(f, sample_rate=rate, channels=ch),)

    return _map_payloads(df, PAYLOAD_SCHEMA, rows)


# Spectral VAD: single-pass DFT band energy, INTEGER arithmetic end to
# end so the frame decisions are SQL-replayable. Frame width 32, speech
# band = bins 1..6 (500–3000 Hz at 16 kHz); coefficient tables are
# rint(1024·cos/sin) — deterministic in any engine.
SPECTRAL_FRAME = 32
SPECTRAL_BINS = tuple(range(1, 7))
SPECTRAL_COEF_SCALE = 1024
# voiced iff in-band spectral fraction 2·Eb/(W·Et) >= 3/8, in integer
# form Eb >= 6·Et for W=32 (calibrated: ~half the synthetic frames pass)
SPECTRAL_THRESH_MULT = 6


def spectral_coef_tables():
    """(C, D): int64 arrays of shape (|bins|, W) with
    ``C[k][n] = rint(1024·cos(2π·bin_k·n/W))`` (D with sin) — shared by
    the Arrow kernel and, serialized to a VALUES list, the SQL oracle."""
    import numpy as np

    n = np.arange(SPECTRAL_FRAME)
    c = np.array(
        [
            np.rint(SPECTRAL_COEF_SCALE * np.cos(2 * np.pi * k * n / SPECTRAL_FRAME))
            for k in SPECTRAL_BINS
        ],
        dtype=np.int64,
    )
    d = np.array(
        [
            np.rint(SPECTRAL_COEF_SCALE * np.sin(2 * np.pi * k * n / SPECTRAL_FRAME))
            for k in SPECTRAL_BINS
        ],
        dtype=np.int64,
    )
    return c, d


SPECTRAL_VAD_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("channel", T.IntegerType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("band_energy", T.LongType()),
        T.StructField("total_energy", T.LongType()),
        T.StructField("voiced", T.BooleanType()),
    ]
)


def spectral_vad_frames(df: DataFrame) -> DataFrame:
    """SPECTRAL voice-activity gate (a band-energy decision, not a bare
    energy threshold): REAL WAV decode → non-overlapping 32-sample
    frames (partial tail frame dropped) → per-frame speech-band energy
    via a 6-bin integer DFT (``a_k = floor(Σ x·c_k / 1024)``, ``E_band = Σ_k a_k² +
    b_k²``) → voiced iff the in-band spectral fraction clears 3/8
    (integer form ``E_band >= 6·E_total``). Every step is integer-exact,
    so frame decisions — not just energies — are hash-checked against the
    SQL replay of the same dot products. All sums fit int64 by
    construction (|a_k| ≤ 2^20, E_band ≤ 2^43, E_total ≤ 2^35). A real
    speech stack swaps in mel filterbanks + a learned model here; the
    plumbing (frame shape, per-frame fan-out, integer band energies) is
    the production layout. Channel-aware: frames deinterleave and each
    channel is framed and scored INDEPENDENTLY, one output row per (doc,
    channel, frame) with an explicit ``channel`` index (0 for mono corpora) — the
    one extra join key the SQL oracle needs. 1:N ``mapInPandas``, narrow
    map; undecodable payloads emit no frames."""
    C, D = spectral_coef_tables()

    def _frames(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import numpy as np
        import pandas as pd

        cols = [f.name for f in SPECTRAL_VAD_SCHEMA.fields]
        for pdf in batches:
            acc = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    _rate, ch, s = decode_audio(bytes(payload))
                except Exception:
                    continue
                planes = s.astype(np.int64).reshape(-1, ch)  # (frames, ch)
                nf = planes.shape[0] // SPECTRAL_FRAME
                if nf == 0:
                    continue
                # (ch, nf, W): channel-major so rows emit sorted by
                # (channel, frame_idx) — deterministic fan-out order
                fr = planes[: nf * SPECTRAL_FRAME].T.reshape(
                    ch, nf, SPECTRAL_FRAME
                )
                a = np.floor_divide(fr @ C.T, SPECTRAL_COEF_SCALE)
                b = np.floor_divide(fr @ D.T, SPECTRAL_COEF_SCALE)
                band = (a * a + b * b).sum(axis=2).reshape(-1)
                total = (fr * fr).sum(axis=2).reshape(-1)
                chan = np.repeat(np.arange(ch, dtype=np.int32), nf)
                fidx = np.tile(np.arange(nf, dtype=np.int32), ch)
                acc.append((doc_id, chan, fidx, band, total))
            if not acc:
                yield pd.DataFrame({c: [] for c in cols})
                continue
            n_per = [len(t[3]) for t in acc]
            band = np.concatenate([t[3] for t in acc])
            total = np.concatenate([t[4] for t in acc])
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat([t[0] for t in acc], n_per),
                    "channel": np.concatenate([t[1] for t in acc]),
                    "frame_idx": np.concatenate([t[2] for t in acc]),
                    "band_energy": band,
                    "total_energy": total,
                    "voiced": band >= SPECTRAL_THRESH_MULT * total,
                }
            )

    return df.select("doc_id", "payload").mapInPandas(_frames, SPECTRAL_VAD_SCHEMA)


VAD_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("channel", T.IntegerType()),
        T.StructField("seg_idx", T.IntegerType()),
        T.StructField("start_frame", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("seg_peak", T.LongType()),
    ]
)


# |sample| at or above which a frame counts as voiced in vad_segments —
# shared with the SQL oracle like the spectral-VAD constants
VAD_THRESHOLD = 8192


def vad_segments(df: DataFrame) -> DataFrame:
    """Energy-based voice-activity segmentation: REAL WAV decode →
    maximal runs of ``|sample| >= VAD_THRESHOLD`` → one row per voiced
    segment (start frame, length, peak) — a 1:N ``mapInPandas`` fan-out,
    the exact shape a production VAD emits. Channel-aware, matching the
    spectral gate: frames deinterleave and each channel segments
    INDEPENDENTLY, rows carrying an explicit ``channel`` index (0 for
    mono; ``seg_idx`` restarts per channel). Pure index arithmetic on the
    decoded PCM (the spectral/model-based VAD a speech stack adds is the
    documented seam); segment boundaries are therefore deterministic and
    oracle-checkable against the relational gaps-and-islands spelling
    with one extra channel key. Undecodable payloads emit no segments
    (errors-as-data: silence, not task failure)."""

    def _segs(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import numpy as np
        import pandas as pd

        cols = [f.name for f in VAD_SCHEMA.fields]
        for pdf in batches:
            # per-(doc,channel) numpy arrays accumulated and concatenated
            # ONCE per Arrow batch — a per-segment Python append was
            # O(total segments) interpreter work and dominated the
            # realistic-payload sweep (a 16 k-sample clip yields
            # thousands of runs)
            acc: list[tuple] = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    _rate, ch, s = decode_audio(bytes(payload))
                    planes = np.abs(s.astype(np.int64)).reshape(-1, ch)
                except Exception:
                    continue
                for c in range(ch):
                    s64 = planes[:, c]
                    active = s64 >= VAD_THRESHOLD
                    if not active.any():
                        continue
                    # run boundaries: starts where active rises, ends
                    # where it falls
                    edges = np.flatnonzero(np.diff(active.astype(np.int8)))
                    starts = np.concatenate([[0], edges + 1])[
                        np.concatenate([[active[0]], active[edges + 1]])
                    ]
                    ends_all = np.concatenate([edges + 1, [len(active)]])
                    ends = ends_all[np.searchsorted(ends_all, starts, side="right")]
                    # per-segment peak via maximum.reduceat over the
                    # active sample stream (segments are contiguous)
                    offsets = np.searchsorted(np.flatnonzero(active), starts)
                    peaks = np.maximum.reduceat(s64[active], offsets)
                    acc.append((doc_id, c, starts, ends, peaks))
            if not acc:
                yield pd.DataFrame({c: [] for c in cols})
                continue
            n_per = [len(a[2]) for a in acc]
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat([a[0] for a in acc], n_per),
                    "channel": np.repeat(
                        np.array([a[1] for a in acc], dtype=np.int32), n_per
                    ),
                    "seg_idx": np.concatenate(
                        [np.arange(k, dtype=np.int32) for k in n_per]
                    ),
                    "start_frame": np.concatenate([a[2] for a in acc]).astype(np.int64),
                    "n_frames": np.concatenate(
                        [a[3] - a[2] for a in acc]
                    ).astype(np.int64),
                    "seg_peak": np.concatenate([a[4] for a in acc]).astype(np.int64),
                }
            )

    return df.select("doc_id", "payload").mapInPandas(_segs, VAD_SCHEMA)
