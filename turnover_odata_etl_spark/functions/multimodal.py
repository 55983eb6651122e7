"""Multimodal column plumbing (SURVEY §2.12 E11).

Images/audio/video are opaque ``binary`` columns with typed metadata
structs. The Spark-side plumbing — schema, Arrow batch shape,
``mapInPandas`` signature, partitioning — is real and tested, and
since round 4 the codec step is REAL for uncompressed formats:
``decode_image`` parses PPM(P6) and 24/32-bit BMP byte streams with
pure numpy (no imaging library), ``resize_nearest`` downsamples by
integer index mapping, and ``plans/llm.m_image_decode_features`` runs
decode→resize→features end-to-end against a closed-form SQL oracle.
Round 5 extended the codec ladder to compressed formats whose
primitives are stdlib/numpy: PNG (zlib DEFLATE + all five scanline
unfilters; 8-bit gray/RGB/RGBA, paletted PLTE, and 16-bit gray/RGB —
``_decode_png``) and baseline-sequential JPEG (pure-numpy Huffman +
dequant + IDCT, ``functions/jpeg.py``); round 6 added Adam7
interlace for every supported PNG variant (seven independently-
filtered pass sub-images) AND the sub-byte depths 1/2/4 for gray and
paletted — the complete non-exotic PNG surface, sequential and
interlaced — and full Huffman progressive JPEG (SOF2: spectral
selection, successive approximation, AND restart markers in every
scan kind, decoded bit-identically to baseline). Round 7 added GIF
(87a/89a with real variable-width LZW, interlace, and first-frame
compositing — ``_decode_gif``), stereo/multi-channel IMA ADPCM
(per-channel interleaved nibble words), and G.711 µ-law/A-law
telephony audio (exact ITU expansion tables). WebP and the JPEG
corners outside that (arithmetic coding, 12-bit precision) still
require an external codec; those branches are the documented
extension points and fail loudly.
``extract_binary_features`` keeps the byte-level feature path for
payloads that are not images at all.

At scale: mapInPandas streams Arrow batches through one Python worker
per core; batch size is controlled by
``spark.sql.execution.arrow.maxRecordsPerBatch``. Decode-heavy stages
should repartition first so batches are uniform, and keep binary
columns OUT of shuffle keys.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Module-LEVEL codec imports (not runtime imports inside
# ``decode_image``): a runtime ``from .jpeg import ...`` executes a
# real package import in the WORKER, which fails when the package is
# not importable there (the /tmp-driven-session trap) even if every
# module was registered for by-value pickling. As module globals,
# these ride along when a query registers multimodal+jpeg+tiff by
# value, and the dispatch needs no worker-side import at all.
from .jpeg import decode_jpeg as _dispatch_decode_jpeg
from .tiff import decode_tiff as _dispatch_decode_tiff


def register_codecs_by_value() -> None:
    """Register multimodal + jpeg + tiff for BY-VALUE cloudpickle
    serialization — the one call a query must make before closing
    over ``decode_image`` (or any module-level codec API). Because
    ``decode_image`` reaches its JPEG/TIFF branches through module
    globals, registering multimodal ALONE leaves those globals as
    by-reference pickles of the jpeg/tiff modules, and a worker that
    cannot import the package dies unpickling them — all three must
    ship together. Idempotent and process-global."""
    from pyspark import cloudpickle

    from . import flac as _flac_mod
    from . import jpeg as _jpeg_mod
    from . import multimodal as _mm_mod
    from . import tiff as _tiff_mod

    for _mod in (_mm_mod, _jpeg_mod, _tiff_mod, _flac_mod):
        cloudpickle.register_pickle_by_value(_mod)


def decode_image(data: bytes):
    """REAL image decode for the formats a pure-numpy decoder can
    handle — no imaging library required:

    * **PPM (P6)** — ASCII header (``P6``, width, height, maxval,
      ``#`` comments allowed) followed by packed RGB bytes.
    * **BMP** — BITMAPINFOHEADER-family, 24- or 32-bit, uncompressed
      (BI_RGB), top-down or bottom-up, with the 4-byte row padding the
      format mandates; BGR(A) is reordered to RGB.
    * **PNG** — 8-bit gray/RGB/RGBA, sequential or Adam7-interlaced:
      zlib-inflated IDAT (stdlib ``zlib``) + full scanline
      unfiltering (None / Sub / Up / Average / Paeth) in numpy. Gray
      expands to 3 channels, alpha drops — the first COMPRESSED
      format in the ladder (round 5; it needs no external codec
      because DEFLATE is stdlib).
    * **JPEG** — baseline sequential (SOF0), 8-bit, 1/3 components,
      4:4:4 / 4:2:2 / 4:2:0, restart markers: canonical Huffman +
      zigzag dequant + orthonormal 8x8 IDCT + chroma upsampling, all
      numpy (``functions/jpeg.py``). Progressive (SOF2) / arithmetic
      / 12-bit raise loudly.

    * **GIF** — 87a/89a paletted with REAL LZW decompression
      (variable-width LSB-first codes, CLEAR/EOI, 4096-entry cap),
      4-pass interlace, extension skip, first-frame compositing onto
      the background-filled logical screen (round 7).

    Returns an ``(H, W, 3) uint8`` numpy array. WebP still requires
    an external VP8 codec — that remains the documented extension
    point: add an ``elif`` on its magic bytes delegating to the
    library of choice. ``ValueError`` on anything unrecognized
    (never a silent wrong decode)."""
    import numpy as np

    if data[:2] == b"P6":
        return _decode_ppm(data)
    if data[:2] == b"BM":
        return _decode_bmp(data)
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return _decode_png(data)
    if data[:2] == b"\xff\xd8":
        return _dispatch_decode_jpeg(data)
    if data[:4] == b"GIF8":
        return _decode_gif(data)
    if data[:4] in (b"II*\x00", b"MM\x00*"):
        return _dispatch_decode_tiff(data)
    raise ValueError(
        f"unsupported image format (magic {data[:4]!r}); pure-numpy "
        "decode covers PPM(P6)/BMP/PNG/GIF/TIFF/baseline+progressive "
        "JPEG — wire a codec library here for WebP"
    )


def _decode_ppm(data: bytes):
    """P6 PPM: tokenized header (whitespace-separated, ``#`` comments
    run to end-of-line), then ``H*W*3`` raw bytes."""
    import numpy as np

    pos = 2  # past magic
    tokens: list[int] = []
    while len(tokens) < 3:
        # skip whitespace and comments
        while pos < len(data) and data[pos : pos + 1].isspace():
            pos += 1
        if pos < len(data) and data[pos : pos + 1] == b"#":
            while pos < len(data) and data[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(data) and not data[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(data[start:pos]))
    pos += 1  # single whitespace after maxval, then raster
    w, h, maxval = tokens
    if maxval != 255:
        raise ValueError(f"PPM maxval {maxval} unsupported (need 8-bit)")
    raster = np.frombuffer(data, dtype=np.uint8, count=h * w * 3, offset=pos)
    return raster.reshape(h, w, 3).copy()


def _decode_bmp(data: bytes):
    """BMP BITMAPINFOHEADER: 24/32-bit BI_RGB only."""
    import struct

    import numpy as np

    pixel_off = struct.unpack_from("<I", data, 10)[0]
    w, h_signed = struct.unpack_from("<ii", data, 18)
    bpp = struct.unpack_from("<H", data, 28)[0]
    compression = struct.unpack_from("<I", data, 30)[0]
    if compression != 0 or bpp not in (24, 32):
        raise ValueError(
            f"BMP variant unsupported (bpp={bpp}, compression={compression}); "
            "only uncompressed 24/32-bit"
        )
    h = abs(h_signed)
    row_bytes = ((bpp * w + 31) // 32) * 4
    nch = bpp // 8
    rows = np.frombuffer(
        data, dtype=np.uint8, count=h * row_bytes, offset=pixel_off
    ).reshape(h, row_bytes)
    px = rows[:, : w * nch].reshape(h, w, nch)
    if h_signed > 0:  # bottom-up storage
        px = px[::-1]
    return px[:, :, [2, 1, 0]].copy()  # BGR(A) → RGB, alpha dropped


def _make_binary_codecs():
    """Factory for the PNG/WAV codec functions.

    Defining them inside a factory gives them ``<locals>``
    qualnames, so cloudpickle ships them BY VALUE into
    mapInPandas closures (``plans/llm.m_png_decode_features`` /
    ``m_wav_decode_features`` close over them directly) — the
    same executor-import-free pattern as ``sources/warc.py``.
    Each function keeps its imports inside its own body and
    references no module globals, which is what makes the
    by-value ship self-contained.
    """

    def _decode_png(data: bytes):
        """PNG decode → ``(H, W, 3) uint8`` RGB. Supported variants:
        8-bit gray/RGB/RGBA (color types 0/2/6), 8-bit PALETTED
        (color type 3, PLTE lookup), 16-bit gray/RGB (down-scaled by
        high byte — the standard 16→8 approximation), and SUB-BYTE
        depths 1/2/4 for gray and paletted (the only color types the
        spec allows below 8 bits; MSB-first bit unpacking, exact
        integer gray scaling ×255/85/17), each in both sequential AND
        Adam7-interlaced layouts. That is the complete non-exotic PNG
        surface; nothing fails loudly anymore except corrupt streams.

        Chunk walk → concatenated-IDAT zlib inflate → per-scanline
        unfilter. PNG filters operate on BYTES with the left-neighbor
        offset equal to the bytes-per-pixel of the encoded layout
        (1 for palette indices, 2·channels for 16-bit) — hence ``bpp``
        below, not channel count. Sub is a per-byte-lane prefix sum
        (one vectorized cumsum); Up is one vectorized add;
        Average/Paeth are inherently sequential in x (each pixel
        depends on the DECODED left neighbor) so they fall back to a
        per-byte loop — fine for thumbnail-scale payloads, and a real
        100 TB pipeline decodes each image exactly once inside its
        Arrow batch anyway.

        Adam7: the raster is SEVEN independently-filtered sub-images
        (pass k holds the pixels at ``(x0+i·dx, y0+j·dy)``); each
        pass restarts the filter state (prev row = zeros), empty
        passes (sub-width or sub-height 0) contribute NO bytes — the
        two classic interlace decoder bugs, both fuzz-covered."""
        import struct
        import zlib

        import numpy as np

        pos, ihdr, idat, plte = 8, None, [], None
        while pos + 8 <= len(data):
            (length,) = struct.unpack_from(">I", data, pos)
            ctype = data[pos + 4 : pos + 8]
            chunk = data[pos + 8 : pos + 8 + length]
            pos += 12 + length  # len + type + payload + crc
            if ctype == b"IHDR":
                ihdr = struct.unpack(">IIBBBBB", chunk)
            elif ctype == b"PLTE":
                plte = chunk
            elif ctype == b"IDAT":
                idat.append(chunk)
            elif ctype == b"IEND":
                break
        if ihdr is None or not idat:
            raise ValueError("PNG missing IHDR/IDAT")
        w, h, depth, color_type, _comp, _filt, interlace = ihdr
        supported = (
            (depth == 8 and color_type in (0, 2, 3, 6))
            or (depth == 16 and color_type in (0, 2))
            or (depth in (1, 2, 4) and color_type in (0, 3))
        )
        if interlace not in (0, 1) or not supported:
            raise ValueError(
                f"PNG variant unsupported (depth={depth}, color={color_type}, "
                f"interlace={interlace}); supported: 1/2/4-bit "
                "gray/paletted, 8-bit gray/RGB/paletted/RGBA and "
                "16-bit gray/RGB, sequential or Adam7"
            )
        if color_type == 3 and plte is None:
            raise ValueError("PNG paletted image missing PLTE chunk")
        nch = {0: 1, 2: 3, 3: 1, 6: 4}[color_type]
        sub_byte = depth < 8
        # Filter unit: bytes per complete pixel, ROUNDED UP TO ONE for
        # sub-byte depths (the spec's bpp definition — filters always
        # operate on whole bytes of the packed layout).
        bpp = 1 if sub_byte else nch * (depth // 8)

        def rowbytes(pw: int) -> int:
            return (pw * depth + 7) // 8 if sub_byte else pw * bpp

        if sub_byte:
            bit_weights = 1 << np.arange(depth - 1, -1, -1)

        def to_vals(bytes2d, npix):
            """Packed sub-byte rows → per-pixel values (MSB first)."""
            bits = np.unpackbits(bytes2d, axis=1)[:, : npix * depth]
            return (
                (bits.reshape(-1, npix, depth) * bit_weights)
                .sum(axis=2)
                .astype(np.uint8)
            )

        stride = rowbytes(w)
        raw = np.frombuffer(zlib.decompress(b"".join(idat)), dtype=np.uint8)

        def unfilter(seg, ph, rb):
            """One filtered sub-raster (``ph`` scanlines of ``rb``
            bytes, each prefixed by its filter type) → decoded bytes.
            Filter state starts fresh (prev = zeros): true for the
            whole image in sequential layout and for EACH PASS in
            Adam7."""
            rowbytes = rb
            seg = seg.reshape(ph, rowbytes + 1)
            dec = np.empty((ph, rowbytes), dtype=np.uint8)
            prev = np.zeros(rowbytes, dtype=np.int32)
            npx = rowbytes // bpp
            for y in range(ph):
                f = int(seg[y, 0])
                line = seg[y, 1:].astype(np.int32)
                if f == 0:
                    cur = line
                elif f == 1:  # Sub: prefix sum per byte lane
                    cur = (
                        np.cumsum(line.reshape(npx, bpp), axis=0, dtype=np.int64)
                        .reshape(rowbytes) % 256
                    ).astype(np.int32)
                elif f == 2:  # Up
                    cur = (line + prev) % 256
                elif f in (3, 4):  # Average / Paeth: sequential in x
                    cur = line
                    for x in range(rowbytes):
                        a = int(cur[x - bpp]) if x >= bpp else 0
                        b = int(prev[x])
                        if f == 3:
                            pred = (a + b) >> 1
                        else:
                            c = int(prev[x - bpp]) if x >= bpp else 0
                            p = a + b - c
                            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                            pred = (
                                a
                                if pa <= pb and pa <= pc
                                else (b if pb <= pc else c)
                            )
                        cur[x] = (cur[x] + pred) % 256
                else:
                    raise ValueError(f"PNG filter type {f} invalid")
                dec[y] = cur
                prev = cur
            return dec

        vals = None  # sub-byte path: (h, w) per-pixel values
        if interlace == 0:
            if raw.size != h * (stride + 1):
                raise ValueError("PNG raster size mismatch")
            out = unfilter(raw, h, stride)
            if sub_byte:
                vals = to_vals(out, w)
        else:  # Adam7: seven independently-filtered sub-images
            passes = (
                (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
                (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
            )
            # Sub-byte passes pack bits per PASS row, so packed bytes
            # cannot be scattered into a full-row layout — scatter
            # unpacked VALUES instead; full-byte passes scatter bytes.
            if sub_byte:
                vals = np.empty((h, w), dtype=np.uint8)
            else:
                out = np.empty((h, w, bpp), dtype=np.uint8)
            pos2 = 0
            for x0, y0, dx, dy in passes:
                pw = max(0, (w - x0 + dx - 1) // dx)
                ph = max(0, (h - y0 + dy - 1) // dy)
                if pw == 0 or ph == 0:
                    continue  # empty pass: zero bytes, not ph filter bytes
                prb = rowbytes(pw)
                need = ph * (prb + 1)
                seg = raw[pos2 : pos2 + need]
                if seg.size != need:
                    raise ValueError("PNG raster size mismatch")
                pos2 += need
                dec = unfilter(seg, ph, prb)
                if sub_byte:
                    vals[y0::dy, x0::dx] = to_vals(dec, pw)
                else:
                    out[y0::dy, x0::dx, :] = dec.reshape(ph, pw, bpp)
            if pos2 != raw.size:
                raise ValueError("PNG raster size mismatch")
            if not sub_byte:
                out = out.reshape(h, stride)
        if color_type == 3:  # palette lookup
            palette = np.frombuffer(plte, dtype=np.uint8)
            if len(palette) % 3:
                raise ValueError("PNG PLTE length not a multiple of 3")
            palette = palette.reshape(-1, 3)
            idx = vals if sub_byte else out
            if idx.max(initial=0) >= len(palette):
                raise ValueError("PNG palette index out of range")
            return palette[idx].reshape(h, w, 3).copy()
        if sub_byte:  # gray 1/2/4-bit: exact integer scale to 0..255
            px = (vals * (255 // ((1 << depth) - 1))).astype(np.uint8)
            return np.repeat(px[:, :, None], 3, axis=2).copy()
        if depth == 16:  # big-endian u16 → high byte
            px = out.reshape(h, w, nch, 2)[:, :, :, 0]
        else:
            px = out.reshape(h, w, nch)
        if nch == 1:
            px = np.repeat(px, 3, axis=2)
        return px[:, :, :3].copy()  # RGBA → RGB, alpha dropped


    def encode_png(img, filters=None, palette=None, depth=8,
                   interlace=False) -> bytes:
        """Image → PNG bytes (the test/oracle payload generator).

        Layouts: default ``(H, W, C) uint8`` (C ∈ {1, 3, 4} → color
        types 0/2/6); ``palette=(N, 3) uint8`` makes ``img`` an
        ``(H, W)`` index array (color type 3, PLTE written);
        ``depth=16`` takes ``(H, W[, C]) uint16`` (C ∈ {1, 3},
        big-endian samples on the wire); ``depth ∈ {1, 2, 4}`` takes
        an ``(H, W)`` value/index array (gray, or paletted when
        ``palette`` is also given — the spec's two sub-byte color
        types), packed MSB-first into scanline bytes. ``filters``
        cycles per-row filter types (default all-0) — ``[0, 1, 2, 3,
        4]`` exercises every unfilter path with a single image.
        Filtering always operates on the BYTE layout with the encoded
        bytes-per-pixel (1 for sub-byte) as the left offset, mirroring
        the decoder. ``interlace=True`` writes the Adam7 layout: seven
        pass sub-images, each filtered independently (filter cycle
        restarts per pass, matching the decoder's per-pass state
        reset); empty passes emit nothing — sub-byte passes pack their
        bits within the pass's own rows."""
        import struct
        import zlib

        import numpy as np

        pix_vals = None  # sub-byte path: (H, W) values, packed per raster
        if depth in (1, 2, 4):
            img = np.asarray(img, dtype=np.uint8)
            if img.ndim != 2:
                raise ValueError("sub-byte image must be (H, W) values")
            if img.max(initial=0) >= (1 << depth):
                raise ValueError(f"value out of range for depth {depth}")
            if palette is not None:
                palette = np.asarray(palette, dtype=np.uint8)
                if (
                    palette.ndim != 2
                    or palette.shape[1] != 3
                    or len(palette) > (1 << depth)
                ):
                    raise ValueError(
                        f"palette must be (N<={1 << depth}, 3) uint8"
                    )
                if img.max(initial=0) >= len(palette):
                    raise ValueError("palette index out of range")
                color_type = 3
            else:
                color_type = 0
            h, w = img.shape
            bpp = 1
            pix_vals = img
            sub_weights = np.arange(depth - 1, -1, -1, dtype=np.uint8)

            def pack_rows(vals):
                """(ph, pw) sub-byte values → (ph, rowbytes) int32,
                MSB-first, zero-padded to the byte boundary."""
                ph, pw = vals.shape
                bits = ((vals[:, :, None] >> sub_weights) & 1).reshape(
                    ph, pw * depth
                )
                return np.packbits(bits, axis=1).astype(np.int32)

            flat = pack_rows(pix_vals)
        elif palette is not None:
            palette = np.asarray(palette, dtype=np.uint8)
            if palette.ndim != 2 or palette.shape[1] != 3 or len(palette) > 256:
                raise ValueError("palette must be (N<=256, 3) uint8")
            img = np.asarray(img, dtype=np.uint8)
            if img.ndim != 2:
                raise ValueError("paletted image must be (H, W) indices")
            if img.max(initial=0) >= len(palette):
                raise ValueError("palette index out of range")
            h, w = img.shape
            color_type, bpp = 3, 1
            flat = img.reshape(h, w).astype(np.int32)
        elif depth == 16:
            img = np.asarray(img, dtype=np.uint16)
            h, w = img.shape[0], img.shape[1]
            nch = 1 if img.ndim == 2 else img.shape[2]
            color_type = {1: 0, 3: 2}[nch]
            bpp = nch * 2
            flat = (
                img.reshape(h, w * nch)
                .astype(">u2")
                .view(np.uint8)
                .reshape(h, w * bpp)
                .astype(np.int32)
            )
        else:
            img = np.asarray(img, dtype=np.uint8)
            h, w = img.shape[0], img.shape[1]
            nch = 1 if img.ndim == 2 else img.shape[2]
            color_type = {1: 0, 3: 2, 4: 6}[nch]
            bpp = nch
            flat = img.reshape(h, w * nch).astype(np.int32)
        zeros = np.zeros(bpp, dtype=np.int32)

        def filter_rows(sub):
            """Filter one (ph, rowbytes) byte sub-raster — the whole
            image in sequential layout, one pass in Adam7. Filter
            state (prev row, cycle position) starts fresh here,
            mirroring the decoder's per-pass reset."""
            ph, rowbytes = sub.shape
            rows = []
            prev = np.zeros(rowbytes, dtype=np.int32)
            for y in range(ph):
                f = filters[y % len(filters)] if filters else 0
                line = sub[y]
                left = np.concatenate([zeros, line[:-bpp]])
                if f == 0:
                    res = line
                elif f == 1:
                    res = (line - left) % 256
                elif f == 2:
                    res = (line - prev) % 256
                elif f == 3:
                    res = (line - ((left + prev) >> 1)) % 256
                elif f == 4:
                    upleft = np.concatenate([zeros, prev[:-bpp]])
                    p = left + prev - upleft
                    pa, pb, pc = abs(p - left), abs(p - prev), abs(p - upleft)
                    pred = np.where(
                        (pa <= pb) & (pa <= pc),
                        left,
                        np.where(pb <= pc, prev, upleft),
                    )
                    res = (line - pred) % 256
                else:
                    raise ValueError(f"PNG filter type {f} invalid")
                rows.append(bytes([f]) + res.astype(np.uint8).tobytes())
                prev = line
            return rows

        if not interlace:
            rows = filter_rows(flat)
        else:
            passes = (
                (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
                (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
            )
            rows = []
            if pix_vals is not None:
                # Sub-byte: pass extraction happens in PIXEL space and
                # each pass packs its own rows (bit offsets restart
                # per pass row — a byte-space slice would be wrong).
                for x0, y0, dx, dy in passes:
                    sub = pix_vals[y0::dy, x0::dx]
                    if sub.shape[0] == 0 or sub.shape[1] == 0:
                        continue
                    rows.extend(filter_rows(pack_rows(sub)))
            else:
                px = flat.reshape(h, w, bpp)
                for x0, y0, dx, dy in passes:
                    sub = px[y0::dy, x0::dx, :]
                    if sub.shape[0] == 0 or sub.shape[1] == 0:
                        continue
                    rows.extend(
                        filter_rows(sub.reshape(sub.shape[0], -1))
                    )

        def chunk(ctype: bytes, payload: bytes) -> bytes:
            return (
                struct.pack(">I", len(payload))
                + ctype
                + payload
                + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
            )

        ihdr = struct.pack(
            ">IIBBBBB", w, h, depth, color_type, 0, 0, 1 if interlace else 0
        )
        body = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        if palette is not None:
            body += chunk(b"PLTE", palette.tobytes())
        return (
            body
            + chunk(b"IDAT", zlib.compress(b"".join(rows)))
            + chunk(b"IEND", b"")
        )


    def decode_wav(data: bytes):
        """REAL audio decode — RIFF/WAVE with 16-bit PCM (format tag
        1, mono or multi-channel), 4-bit IMA/DVI ADPCM (format tag
        0x11; mono round 6, multi-channel round 7), or 8-bit G.711
        A-law/µ-law (format tags 6/7, round 7) — pure stdlib. Chunk walk (``fmt `` for the header,
        ``data`` for the payload; unknown chunks skipped per spec, odd
        sizes padded); PCM de-interleaves little-endian int16, ADPCM
        runs the adaptive-step nibble reconstruction per block.
        Returns ``(samples, sample_rate)`` with samples
        ``(n_frames, n_channels) int16``. MP3/AAC/Opus require an
        external codec — same loud-failure contract as JPEG/WebP on
        the image side."""
        import struct

        import numpy as np

        if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
            raise ValueError(f"not a RIFF/WAVE stream (magic {data[:4]!r})")
        pos, fmt, payload, fact_samples = 12, None, None, None
        while pos + 8 <= len(data):
            ctype = data[pos : pos + 4]
            (length,) = struct.unpack_from("<I", data, pos + 4)
            body = data[pos + 8 : pos + 8 + length]
            pos += 8 + length + (length & 1)  # chunks pad to even size
            if ctype == b"fmt ":
                fmt = struct.unpack_from("<HHIIHH", body, 0)
            elif ctype == b"fact" and len(body) >= 4:
                # Total sample count — compressed formats use it to
                # mark where the final block's padding nibbles start.
                (fact_samples,) = struct.unpack_from("<I", body, 0)
            elif ctype == b"data":
                payload = body
        if fmt is None or payload is None:
            raise ValueError("WAV missing fmt/data chunk")
        audio_format, n_channels, sample_rate, _byte_rate, block, bits = fmt
        if audio_format == 0x11 and bits == 4:
            # IMA/DVI ADPCM (round 6; stereo/multi-channel round 7) —
            # the first COMPRESSED audio rung: 4-bit adaptive
            # differential coding, public spec, stdlib-only. Each
            # channel runs its own predictor state over interleaved
            # 4-byte nibble words.
            samples = _ima_adpcm_decode(payload, block, n_channels)
            if fact_samples is not None:
                # Honor the fact chunk: a foreign encoder whose sample
                # count doesn't fill the final block pads its nibbles;
                # without truncation those decode into garbage tails.
                samples = samples[:fact_samples]
            return samples, sample_rate
        if audio_format in (6, 7) and bits == 8:
            # G.711 A-law (6) / µ-law (7), round 7 — the companded
            # 8-bit telephony rung: one 256-entry expansion table
            # built from the ITU formulas, decode is an exact table
            # gather per byte (channels interleave per frame as in
            # PCM).
            table = (
                _alaw_table() if audio_format == 6 else _mulaw_table()
            )
            samples = table[
                np.frombuffer(payload, dtype=np.uint8)
            ].reshape(-1, n_channels)
            if fact_samples is not None:
                samples = samples[:fact_samples]
            return samples, sample_rate
        if audio_format != 1 or bits != 16:
            raise ValueError(
                f"WAV variant unsupported (format={audio_format}, bits={bits}); "
                "16-bit PCM, 4-bit IMA ADPCM (0x11), and 8-bit G.711 "
                "A-law/µ-law (6/7) — wire a codec library for "
                "MP3/AAC/Opus"
            )
        samples = np.frombuffer(
            payload, dtype="<i2", count=len(payload) // 2
        ).reshape(-1, n_channels)
        return samples.copy(), sample_rate


    def encode_wav(samples, sample_rate: int = 16000) -> bytes:
        """``(n_frames, n_channels) int16`` → RIFF/WAVE bytes (16-bit
        PCM) — the synthetic-payload generator for tests and the
        oracle-checked audio decode operator."""
        import struct

        import numpy as np

        samples = np.asarray(samples, dtype="<i2")
        if samples.ndim == 1:
            samples = samples[:, None]
        n_channels = samples.shape[1]
        payload = samples.tobytes()
        fmt = struct.pack(
            "<HHIIHH",
            1,
            n_channels,
            sample_rate,
            sample_rate * n_channels * 2,
            n_channels * 2,
            16,
        )
        chunks = (
            b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(payload)) + payload
            + (b"\x00" if len(payload) & 1 else b"")
        )
        return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

    def _mulaw_table():
        """G.711 µ-law byte → int16 expansion (the exact ITU decode
        formula, vectorized over all 256 codes): complement, unpack
        (sign, 3-bit exponent, 4-bit mantissa), magnitude =
        ((mantissa·8 + 132) << exponent) − 132."""
        import numpy as np

        b = np.arange(256, dtype=np.int32)
        u = (~b) & 0xFF
        t = ((((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 0x07))
        return np.where(u & 0x80, 0x84 - t, t - 0x84).astype(np.int16)

    def _alaw_table():
        """G.711 A-law byte → int16 expansion (ITU formula: XOR 0x55,
        then segment 0 → mantissa·16 + 8, segment s ≥ 1 →
        (mantissa·16 + 264) << (s − 1); sign bit SET means
        positive)."""
        import numpy as np

        vals = []
        for byte in range(256):
            a = byte ^ 0x55
            t = (a & 0x0F) << 4
            seg = (a & 0x70) >> 4
            if seg == 0:
                t += 8
            else:
                t = (t + 0x108) << (seg - 1)
            vals.append(t if a & 0x80 else -t)
        return np.array(vals, dtype=np.int16)

    def encode_wav_g711(
        samples, sample_rate: int = 8000, law: str = "mulaw"
    ) -> bytes:
        """Int16 PCM — mono ``(n,)`` or ``(n, ch)`` — → RIFF/WAVE
        with G.711 companded 8-bit payload (format tag 7 µ-law / 6
        A-law) — the telephony-audio test-vector generator. Encoding
        picks the NEAREST expansion level via searchsorted over the
        decode table: optimal companding by construction, and it
        agrees with the ITU bit-twiddling encoder everywhere except
        exact midpoint ties (the decode side, which is what foreign
        streams exercise, is the exact ITU formula either way)."""
        import struct

        import numpy as np

        if law not in ("mulaw", "alaw"):
            raise ValueError(f"unknown companding law {law!r}")
        table = _mulaw_table() if law == "mulaw" else _alaw_table()
        order = np.argsort(table, kind="stable")
        levels = table[order]
        s = np.asarray(samples, dtype=np.int16)
        if s.ndim == 1:
            s = s[:, None]
        if s.size == 0:
            raise ValueError("empty sample array")
        n_ch = s.shape[1]
        flat = s.reshape(-1).astype(np.int32)
        pos = np.clip(np.searchsorted(levels, flat), 1, 255)
        left, right = levels[pos - 1].astype(np.int32), levels[pos].astype(np.int32)
        idx = np.where(flat - left <= right - flat, pos - 1, pos)
        payload = order[idx].astype(np.uint8).tobytes()
        fmt = struct.pack(
            "<HHIIHH",
            7 if law == "mulaw" else 6,
            n_ch,
            sample_rate,
            sample_rate * n_ch,
            n_ch,
            8,
        )
        chunks = (
            b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"fact" + struct.pack("<II", 4, s.shape[0])
            + b"data" + struct.pack("<I", len(payload)) + payload
            + (b"\x00" if len(payload) & 1 else b"")
        )
        return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

    # IMA/DVI ADPCM tables (public spec: IMA Digital Audio Focus and
    # Technical Working Groups recommendation, as carried in WAV
    # format tag 0x11).
    _IMA_INDEX = [-1, -1, -1, -1, 2, 4, 6, 8] * 2
    _IMA_STEP = [
        7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
        34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118,
        130, 143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371,
        408, 449, 494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166,
        1282, 1411, 1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024,
        3327, 3660, 4026, 4428, 4871, 5358, 5894, 6484, 7132, 7845,
        8630, 9493, 10442, 11487, 12635, 13899, 15289, 16818, 18500,
        20350, 22385, 24623, 27086, 29794, 32767,
    ]

    def _ima_reconstruct(pred, index, nibble):
        """One ADPCM state step — THE shared transition: the encoder
        must track exactly what the decoder will reconstruct, so both
        call this one function (divergence here is the classic ADPCM
        drift bug)."""
        step = _IMA_STEP[index]
        diffq = step >> 3
        if nibble & 4:
            diffq += step
        if nibble & 2:
            diffq += step >> 1
        if nibble & 1:
            diffq += step >> 2
        pred = pred - diffq if nibble & 8 else pred + diffq
        pred = max(-32768, min(32767, pred))
        index = max(0, min(88, index + _IMA_INDEX[nibble]))
        return pred, index

    def _ima_adpcm_decode(
        payload: bytes, block_align: int, n_channels: int = 1
    ):
        """IMA ADPCM payload → ``(n_frames, n_channels) int16``. Block
        layout per the WAV spec: one 4-byte header PER CHANNEL
        (predictor int16 LE = the block's first sample, step index,
        reserved), then — mono — nibble pairs LOW nibble first, or —
        multi-channel (round 7) — the data interleaved as 4-byte
        (8-nibble) words per channel, ch0 word, ch1 word, …, each
        channel running its own independent (pred, index) state. Mono
        stays byte-granular (our encoder emits exact nibble counts);
        multi-channel data must be word-aligned per spec — a
        non-aligned block is a loud failure."""
        import struct

        import numpy as np

        if block_align < 4 * n_channels:
            # One header per channel is the bare minimum; anything
            # less cannot frame a block — and 0 would stall the walk.
            raise ValueError(
                f"WAV IMA ADPCM: invalid block align {block_align} "
                f"for {n_channels} channel(s)"
            )
        chans: list[list[int]] = [[] for _ in range(n_channels)]
        pos = 0
        word = 4 * n_channels
        while pos + word <= len(payload):
            end = min(pos + block_align, len(payload))
            preds, idxs = [], []
            for ch in range(n_channels):
                (pred,) = struct.unpack_from("<h", payload, pos + 4 * ch)
                index = payload[pos + 4 * ch + 2]
                if index > 88:
                    raise ValueError(
                        "WAV IMA ADPCM: step index out of range"
                    )
                preds.append(pred)
                idxs.append(index)
                chans[ch].append(pred)
            data_start = pos + word
            if n_channels == 1:
                for b in payload[data_start:end]:
                    for nibble in (b & 0x0F, b >> 4):
                        preds[0], idxs[0] = _ima_reconstruct(
                            preds[0], idxs[0], nibble
                        )
                        chans[0].append(preds[0])
            else:
                if (end - data_start) % word:
                    raise ValueError(
                        "WAV IMA ADPCM: multi-channel block data not "
                        "4-byte word-aligned per channel"
                    )
                for g in range(data_start, end, word):
                    for ch in range(n_channels):
                        for b in payload[g + 4 * ch : g + 4 * ch + 4]:
                            for nibble in (b & 0x0F, b >> 4):
                                preds[ch], idxs[ch] = _ima_reconstruct(
                                    preds[ch], idxs[ch], nibble
                                )
                                chans[ch].append(preds[ch])
            pos = end
        if pos < len(payload):
            # Loud-failure contract: a short tail cannot frame a block
            # header group — a truncated/corrupt foreign stream must
            # not silently decode to a shortened signal.
            raise ValueError(
                "WAV IMA ADPCM: truncated block fragment of "
                f"{len(payload) - pos} bytes"
            )
        return np.stack(
            [np.array(c, dtype=np.int16) for c in chans], axis=1
        )

    def encode_wav_adpcm(
        samples, sample_rate: int = 16000, block_samples: int = 505
    ) -> bytes:
        """Int16 PCM — mono ``(n,)`` or multi-channel ``(n, ch)`` —
        → RIFF/WAVE with IMA ADPCM (format 0x11) payload — the
        compressed-audio test-vector generator. Input is padded to
        whole blocks by repeating the final frame (decode returns the
        padded length); mono requires ``block_samples`` odd (even
        per-block nibble count), multi-channel requires
        ``block_samples % 8 == 1`` (each channel's per-block nibbles
        must fill whole 4-byte interleave words). Per-channel step
        indices carry across blocks (each header re-syncs that
        channel's predictor to its true sample, per spec)."""
        import struct

        import numpy as np

        s = np.asarray(samples, dtype=np.int16)
        if s.ndim == 1:
            s = s[:, None]
        if s.size == 0:
            raise ValueError("empty sample array")
        n_ch = s.shape[1]
        if n_ch == 1:
            if block_samples % 2 == 0:
                raise ValueError("block_samples must be odd")
        elif block_samples % 8 != 1:
            raise ValueError(
                "multi-channel block_samples must be ≡ 1 (mod 8) to "
                "fill whole per-channel interleave words"
            )
        pad = (-s.shape[0]) % block_samples
        if pad:
            s = np.concatenate(
                [s, np.repeat(s[-1:, :], pad, axis=0)], axis=0
            )
        block_align = (4 + (block_samples - 1) // 2) * n_ch
        indices = [0] * n_ch

        def encode_nibble(v, pred, index):
            step = _IMA_STEP[index]
            diff = v - pred
            nibble = 0
            if diff < 0:
                nibble = 8
                diff = -diff
            if diff >= step:
                nibble |= 4
                diff -= step
            if diff >= step >> 1:
                nibble |= 2
                diff -= step >> 1
            if diff >= step >> 2:
                nibble |= 1
            # Track EXACTLY the decoder's state (shared transition).
            pred, index = _ima_reconstruct(pred, index, nibble)
            return nibble, pred, index

        payload = bytearray()
        for b0 in range(0, s.shape[0], block_samples):
            blk = s[b0 : b0 + block_samples]
            ch_nibbles: list[list[int]] = []
            for ch in range(n_ch):
                pred = int(blk[0, ch])
                payload += struct.pack("<hBB", pred, indices[ch], 0)
                nibbles = []
                for v in blk[1:, ch]:
                    nib, pred, indices[ch] = encode_nibble(
                        int(v), pred, indices[ch]
                    )
                    nibbles.append(nib)
                ch_nibbles.append(nibbles)
            if n_ch == 1:
                for lo, hi in zip(ch_nibbles[0][0::2], ch_nibbles[0][1::2]):
                    payload.append(lo | (hi << 4))
            else:
                # Interleave: one 4-byte (8-nibble) word per channel.
                for g in range(0, len(ch_nibbles[0]), 8):
                    for ch in range(n_ch):
                        w = ch_nibbles[ch][g : g + 8]
                        for lo, hi in zip(w[0::2], w[1::2]):
                            payload.append(lo | (hi << 4))
        n_blocks = s.shape[0] // block_samples
        fmt = struct.pack(
            "<HHIIHHHH",
            0x11,
            n_ch,
            sample_rate,
            sample_rate * block_align // block_samples + 1,
            block_align,
            4,
            2,  # cbSize
            block_samples,  # samples per block (fmt extension)
        )
        data = bytes(payload)
        chunks = (
            b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"fact" + struct.pack("<II", 4, n_blocks * block_samples)
            + b"data" + struct.pack("<I", len(data)) + data
            + (b"\x00" if len(data) & 1 else b"")
        )
        return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

    def _lzw_decode(data: bytes, min_code_size: int, expected: int):
        """GIF-variant LZW (round 7): LSB-first variable-width codes,
        CLEAR resets the dictionary, EOI ends the stream, dictionary
        capped at 4096 codes (width capped at 12 — the 'deferred
        clear' convention: past the cap, codes keep flowing at width
        12 with no growth). Decode stops once ``expected`` pixels have
        landed (some encoders omit EOI). Width bumps AFTER the entry
        whose code is 2^width − 1 is added — the bit-exact mirror of
        the encoder below."""
        if min_code_size < 2 or min_code_size > 11:
            raise ValueError(
                f"GIF LZW: invalid minimum code size {min_code_size}"
            )
        clear = 1 << min_code_size
        eoi = clear + 1
        out = bytearray()
        dic: list[bytes] = []
        width = min_code_size + 1

        def reset():
            nonlocal dic, width
            dic = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = min_code_size + 1

        reset()
        prev: bytes | None = None
        acc = accbits = i = 0
        while len(out) < expected:
            while accbits < width and i < len(data):
                acc |= data[i] << accbits
                accbits += 8
                i += 1
            if accbits < width:
                break  # stream exhausted
            code = acc & ((1 << width) - 1)
            acc >>= width
            accbits -= width
            if code == clear:
                reset()
                prev = None
                continue
            if code == eoi:
                break
            if prev is None:
                if code >= len(dic):
                    raise ValueError(
                        "GIF LZW: first code after clear not a root"
                    )
                entry = dic[code]
            else:
                if code < len(dic):
                    entry = dic[code]
                elif code == len(dic):
                    # the KwKwK case: the code being defined right now
                    entry = prev + prev[:1]
                else:
                    raise ValueError("GIF LZW: code out of range")
                if len(dic) < 4096:
                    dic.append(prev + entry[:1])
                    if len(dic) == (1 << width) and width < 12:
                        width += 1
            out += entry
            prev = entry
        return bytes(out)

    def _decode_gif(data: bytes):
        """REAL GIF decode (round 7) — GIF87a/89a, pure stdlib/numpy:
        logical-screen + color-table parse, extension sub-block walk,
        LZW-compressed image data (``_lzw_decode``), 4-pass interlace
        reorder, and first-frame COMPOSITING onto the
        background-filled logical screen (a frame smaller than the
        screen renders at its (left, top) offset, per spec — animated
        GIFs decode as their first frame). Returns ``(H, W, 3)
        uint8``. Malformed streams (unknown block, palette index out
        of range, truncated pixel data) fail loudly."""
        import struct

        import numpy as np

        if data[:6] not in (b"GIF87a", b"GIF89a"):
            raise ValueError(f"not a GIF stream (magic {data[:6]!r})")
        sw, sh, flags, bg_idx, _aspect = struct.unpack_from("<HHBBB", data, 6)
        pos = 13
        gct = None
        if flags & 0x80:
            n = 2 ** ((flags & 0x07) + 1)
            if len(data) < pos + 3 * n:
                raise ValueError("GIF: truncated global color table")
            gct = np.frombuffer(
                data[pos : pos + 3 * n], dtype=np.uint8
            ).reshape(n, 3)
            pos += 3 * n
        while pos < len(data):
            block = data[pos]
            if block == 0x21:  # extension: label byte + sub-blocks
                pos += 2
                while pos < len(data) and data[pos] != 0:
                    pos += 1 + data[pos]
                pos += 1
            elif block == 0x2C:  # image descriptor
                left, top, iw, ih, iflags = struct.unpack_from(
                    "<HHHHB", data, pos + 1
                )
                pos += 10
                ct = gct
                if iflags & 0x80:  # local color table
                    n = 2 ** ((iflags & 0x07) + 1)
                    if len(data) < pos + 3 * n:
                        raise ValueError(
                            "GIF: truncated local color table"
                        )
                    ct = np.frombuffer(
                        data[pos : pos + 3 * n], dtype=np.uint8
                    ).reshape(n, 3)
                    pos += 3 * n
                if ct is None:
                    raise ValueError("GIF: no color table for image")
                if left + iw > sw or top + ih > sh:
                    raise ValueError("GIF: frame exceeds logical screen")
                min_code = data[pos]
                pos += 1
                chunks = []
                while pos < len(data) and data[pos] != 0:
                    ln = data[pos]
                    chunks.append(data[pos + 1 : pos + 1 + ln])
                    pos += 1 + ln
                if pos >= len(data):
                    raise ValueError("GIF: unterminated image data")
                pos += 1  # block terminator
                idx = _lzw_decode(b"".join(chunks), min_code, iw * ih)
                if len(idx) < iw * ih:
                    raise ValueError(
                        f"GIF: truncated pixel data ({len(idx)} of "
                        f"{iw * ih})"
                    )
                arr = np.frombuffer(idx[: iw * ih], dtype=np.uint8)
                if int(arr.max(initial=0)) >= len(ct):
                    raise ValueError("GIF: palette index out of range")
                grid = arr.reshape(ih, iw)
                if iflags & 0x40:  # 4-pass interlace row order
                    order = np.concatenate(
                        [
                            np.arange(0, ih, 8),
                            np.arange(4, ih, 8),
                            np.arange(2, ih, 4),
                            np.arange(1, ih, 2),
                        ]
                    )
                    de = np.empty_like(grid)
                    de[order] = grid
                    grid = de
                # First-frame composite onto the background screen.
                if gct is not None and bg_idx < len(gct):
                    canvas = np.broadcast_to(
                        gct[bg_idx], (sh, sw, 3)
                    ).copy()
                else:
                    canvas = np.zeros((sh, sw, 3), dtype=np.uint8)
                canvas[top : top + ih, left : left + iw] = ct[grid]
                return canvas
            elif block == 0x3B:  # trailer
                raise ValueError("GIF: trailer before any image data")
            else:
                raise ValueError(f"GIF: unknown block 0x{block:02x}")
        raise ValueError("GIF: no image descriptor")

    def encode_gif(
        indices, palette, interlace: bool = False, min_code_size=None
    ) -> bytes:
        """Paletted ``(H, W)`` index grid + ``(n, 3)`` palette →
        GIF89a bytes with REAL LZW compression — the test-vector
        generator whose output exercises every decoder path (variable
        code widths, dictionary growth to the 4096 cap with mid-stream
        CLEAR, the KwKwK case, interlace, sub-255-byte block packing).
        Width-bump timing mirrors ``_lzw_decode`` exactly (bump after
        assigning code 2^width − 1); at the 4096 cap the encoder emits
        CLEAR and resets, so decode never needs deferred-clear
        handling from OUR streams (foreign deferred-clear streams
        still decode — the decoder just stops growing)."""
        import struct

        import numpy as np

        idx = np.asarray(indices, dtype=np.uint8)
        pal = np.asarray(palette, dtype=np.uint8)
        if idx.ndim != 2 or pal.ndim != 2 or pal.shape[1] != 3:
            raise ValueError("encode_gif: indices (H,W), palette (n,3)")
        if pal.shape[0] < 2 or pal.shape[0] > 256:
            raise ValueError("encode_gif: palette size must be 2..256")
        if int(idx.max(initial=0)) >= pal.shape[0]:
            raise ValueError("encode_gif: index out of palette range")
        h, w = idx.shape
        # palette padded to a power of two ≥ 2, per the size-field encoding
        bits = max(2, (pal.shape[0] - 1).bit_length())
        padded = np.zeros((1 << bits, 3), dtype=np.uint8)
        padded[: pal.shape[0]] = pal
        if min_code_size is None:
            min_code_size = bits
        clear = 1 << min_code_size
        eoi = clear + 1

        rows = idx
        if interlace:
            order = np.concatenate(
                [
                    np.arange(0, h, 8),
                    np.arange(4, h, 8),
                    np.arange(2, h, 4),
                    np.arange(1, h, 2),
                ]
            )
            rows = idx[order]
        seq = rows.reshape(-1).tobytes()

        out = bytearray()
        acc = accbits = 0

        def emit(code, width):
            nonlocal acc, accbits
            acc |= code << accbits
            accbits += width
            while accbits >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                accbits -= 8

        def fresh():
            return (
                {bytes([i]): i for i in range(clear)},
                eoi + 1,
                min_code_size + 1,
            )

        dic, next_code, width = fresh()
        emit(clear, width)
        wbuf = b""
        for pos_ in range(len(seq)):
            ch = seq[pos_ : pos_ + 1]
            nb = wbuf + ch
            if nb in dic:
                wbuf = nb
                continue
            emit(dic[wbuf], width)
            if next_code < 4096:
                dic[nb] = next_code
                next_code += 1
                # The decoder mirrors each add ONE CODE LATER (it
                # learns entry j only upon reading code j+1), so its
                # width bump — at dict size 2^width — lands one
                # emission after the encoder's dict hits 2^width. Bump
                # on next_code == 2^width + 1, not 2^width, or the
                # encoder emits one code wider than the decoder reads.
                if next_code == (1 << width) + 1 and width < 12:
                    width += 1
            else:
                emit(clear, width)
                dic, next_code, width = fresh()
            wbuf = ch
        if wbuf:
            emit(dic[wbuf], width)
        emit(eoi, width)
        if accbits:
            out.append(acc & 0xFF)

        blocks = bytearray()
        for i in range(0, len(out), 255):
            chunk = out[i : i + 255]
            blocks.append(len(chunk))
            blocks += chunk
        blocks.append(0)

        screen = struct.pack(
            "<HHBBB", w, h, 0x80 | ((bits - 1) & 0x07), 0, 0
        )
        img_desc = struct.pack(
            "<BHHHHB", 0x2C, 0, 0, w, h, 0x40 if interlace else 0
        )
        return (
            b"GIF89a"
            + screen
            + padded.tobytes()
            + img_desc
            + bytes([min_code_size])
            + bytes(blocks)
            + b"\x3b"
        )

    return (
        _decode_png,
        encode_png,
        decode_wav,
        encode_wav,
        encode_wav_adpcm,
        _ima_adpcm_decode,
        _ima_reconstruct,
        _decode_gif,
        encode_gif,
        _lzw_decode,
        encode_wav_g711,
        _mulaw_table,
        _alaw_table,
    )


# Module-level API, created once; <locals> qualnames → by-value pickling.
(
    _decode_png,
    encode_png,
    decode_wav,
    encode_wav,
    encode_wav_adpcm,
    _ima_adpcm_decode,
    _ima_reconstruct,
    _decode_gif,
    encode_gif,
    _lzw_decode,
    encode_wav_g711,
    _mulaw_table,
    _alaw_table,
) = _make_binary_codecs()


def encode_ppm(img) -> bytes:
    """``(H, W, 3) uint8`` → P6 PPM bytes (the synthetic-payload
    generator for tests and the oracle-checked decode operator)."""
    h, w = img.shape[0], img.shape[1]
    return b"P6\n%d %d\n255\n" % (w, h) + img.astype("uint8").tobytes()


def encode_bmp(img) -> bytes:
    """``(H, W, 3) uint8`` RGB → 24-bit BI_RGB bottom-up BMP bytes
    (BITMAPINFOHEADER; rows padded to 4 bytes, channels stored BGR) —
    the test-vector generator for ``_decode_bmp``'s standard layout."""
    import struct

    import numpy as np

    img = np.asarray(img, dtype=np.uint8)
    h, w = img.shape[0], img.shape[1]
    bgr = img[::-1, :, ::-1]  # bottom-up rows, BGR channel order
    row = w * 3
    pad = (-row) % 4
    body = b"".join(
        bgr[y].tobytes() + b"\x00" * pad for y in range(h)
    )
    pixel_off = 14 + 40
    header = struct.pack(
        "<2sIHHI", b"BM", pixel_off + len(body), 0, 0, pixel_off
    )
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    return header + info + body


def resize_nearest(img, out_w: int, out_h: int):
    """Nearest-neighbor resize via integer index mapping — source
    pixel ``(y*H)//out_h, (x*W)//out_w`` — the exact arithmetic the
    SQL oracle for ``m_image_decode_features`` replicates."""
    import numpy as np

    h, w = img.shape[0], img.shape[1]
    ys = (np.arange(out_h) * h) // out_h
    xs = (np.arange(out_w) * w) // out_w
    return img[ys][:, xs]


def with_binary_payload(df: DataFrame, text_col: str) -> DataFrame:
    """Fixture adapter: pose the text column as an opaque binary
    payload + metadata struct, the shape a real multimodal table has
    (payload from object storage, metadata from the catalog)."""
    return df.withColumn("payload", F.encode(F.col(text_col), "utf-8")).withColumn(
        "media_meta",
        F.struct(
            F.lit("application/octet-stream").alias("content_type"),
            F.octet_length(F.col("payload")).alias("n_bytes"),
        ),
    )


def extract_binary_features(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic per-payload features via mapInPandas (stand-in
    for decode/resize/frame-sample): byte length, first byte, and a
    fake width/height derived from length. Every value is a pure
    function of the bytes, so a SQL oracle can verify the plumbing."""

    # self-contained closure: workers may not be able to import this
    # package (cloudpickle ships the function by value; pandas is
    # imported inside so no module-global references leak in)
    def features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as pd

        for pdf in batches:
            payload = pdf["payload"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "n_bytes": payload.map(len).astype("int64"),
                    "first_byte": payload.map(
                        lambda b: int(b[0]) if len(b) else None
                    ).astype("int64"),
                    "fake_width": payload.map(lambda b: len(b) % 256).astype("int64"),
                    "fake_height": payload.map(lambda b: len(b) // 256).astype("int64"),
                }
            )

    return df.select(id_col, "payload").mapInPandas(
        features,
        "doc_id long, n_bytes long, first_byte long, fake_width long, fake_height long",
    )


def sample_frames(
    df: DataFrame, id_col: str, frame_bytes: int = 256, max_frames: int = 4
) -> DataFrame:
    """Frame sampling as 1→N mapInPandas: slice each opaque payload
    into fixed-size 'frames' (stand-in for video frame extraction /
    audio chunking) and emit one row per sampled frame with
    deterministic byte features — ceil(n/frame_bytes) frames, capped.
    The expansion happens inside the Arrow batch (no explode shuffle);
    a real decoder drops in where the slicing is."""

    fb, mf = frame_bytes, max_frames

    def frames(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import pandas as pd

        for pdf in batches:
            ids, idxs, offs, lens, firsts = [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n = len(payload)
                n_frames = min((n + fb - 1) // fb, mf)
                for fi in range(n_frames):
                    off = fi * fb
                    ids.append(doc_id)
                    idxs.append(fi)
                    offs.append(off)
                    lens.append(min(fb, n - off))
                    firsts.append(int(payload[off]))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "frame_idx": idxs,
                    "frame_offset": offs,
                    "frame_len": lens,
                    "first_byte": firsts,
                }
            )

    return df.select(F.col(id_col).alias("doc_id"), "payload").mapInPandas(
        frames,
        "doc_id long, frame_idx long, frame_offset long, frame_len long, "
        "first_byte long",
    )


def byte_entropy_features(df: DataFrame, id_col: str) -> DataFrame:
    """Per-payload Shannon BYTE entropy + distinct-byte count — the
    compression-style quality signal web-scale corpus pipelines gate
    on (CCNet/RefinedWeb class: near-zero entropy = repeated filler,
    near-8-bit entropy on "text" = binary junk or ciphertext; natural
    language sits in between). H = log2(n) − Σ cᵢ·log2(cᵢ)/n over the
    256-bin byte histogram — one numpy ``bincount`` per payload inside
    the Arrow batch, map-only, no shuffle. Empty payloads define
    H = 0. Emitted at 4 dp: the histogram sum's engine-order ulp
    differences are ~1e-15, five orders below the rounding quantum
    (the same cross-engine argument as the cosine family's round-4).

    The SQL oracle recomputes the histogram with character splitting,
    exact on the pure-ASCII fixture domain where byte == char (the
    ``m_frame_sample`` argument); the OPERATOR is defined over bytes,
    which is what a production gate wants."""

    def features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        import pandas as pd

        def one(b):
            a = np.frombuffer(b or b"", dtype=np.uint8)  # NULL payload
            # (NULL text upstream) scores like empty — same contract
            # as the oracle's coalesce(text, '')
            n = int(a.size)
            if n == 0:
                return 0, 0, 0.0
            cnt = np.bincount(a, minlength=256)
            cnt = cnt[cnt > 0]
            h = float(np.log2(n) - (cnt * np.log2(cnt)).sum() / n)
            return n, int(cnt.size), round(h, 4)

        for pdf in batches:
            vals = [one(b) for b in pdf["payload"]]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_bytes": [v[0] for v in vals],
                    "n_distinct": [v[1] for v in vals],
                    "byte_entropy": [v[2] for v in vals],
                }
            )

    return df.select(id_col, "payload").mapInPandas(
        features,
        f"{id_col} long, n_bytes long, n_distinct long, "
        "byte_entropy double",
    )
