"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The engine treats media as ``BinaryType`` payload columns with typed
metadata — the reference's nullable ``msg []byte`` column
(``hashes_test.go:210``, FIXTURES.md §1) generalized to image/audio/
video blobs. As of round 5 the decode/resize kernels are REAL,
dependency-free codecs (``_build_codecs``): full PNG pixel decode
(zlib inflate + all five scanline filters) and encode, full WAV PCM16
parse, and GIF/BMP/JPEG header parsing — behind the same Spark
plumbing (``mapInPandas`` with Arrow batches, explicit output schema,
partition-preserving). A deployment with PIL/librosa swaps the codec
dict; nothing else changes.

Two media tables: ``media_table`` (payload = UTF-8 text bytes;
metadata ops stay DuckDB-oracle-checkable against ``documents``) and
``media_binary_table`` (payloads are genuinely parseable PNG/WAV/GIF
containers generated deterministically from the documents), which the
decode/resize queries consume.

Scale notes: payloads stay in executor memory only per-batch
(``mapInPandas`` streams Arrow record batches); metadata-only queries
never deserialize payload bytes thanks to parquet column pruning.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_batcher_spark.catalog import query
from clickhouse_batcher_spark.functions import sha256_hex
from clickhouse_batcher_spark.operators import memo
from clickhouse_batcher_spark.tables import load_table

MEDIA_TYPES = ("image", "audio", "video")
FRAME_SAMPLE_EVERY = 7
FEATURE_DIM = 8


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic media table: (doc_id, media_type, payload, n_frames)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.element_at(
            F.array(*[F.lit(t) for t in MEDIA_TYPES]),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        F.encode("text", "UTF-8").alias("payload"),
        (F.col("n_chars") % 30 + 1).cast("bigint").alias("n_frames"),
    )


# ---------------------------------------------------------------------------
# Metadata extraction (payload never decoded; column-pruned reads)
# ---------------------------------------------------------------------------
@query(
    "media_metadata",
    oracle="""
    SELECT doc_id,
      CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                      ELSE 'video' END AS media_type,
      octet_length(encode(text)) AS n_bytes,
      sha256(text) AS payload_sha256,
      n_chars % 30 + 1 AS n_frames
    FROM documents
    """,
)
def media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = media_table(spark, sf_dir)
    return media.select(
        "doc_id",
        "media_type",
        F.octet_length("payload").cast("bigint").alias("n_bytes"),
        sha256_hex("payload").alias("payload_sha256"),
        "n_frames",
    )


# ---------------------------------------------------------------------------
# Frame sampling: one output row per sampled frame index
# ---------------------------------------------------------------------------
@query(
    "media_frame_sample",
    oracle=f"""
    SELECT doc_id, unnest(generate_series(0, n_frames - 1, {FRAME_SAMPLE_EVERY}))
           AS frame_idx
    FROM (SELECT doc_id, n_chars % 30 + 1 AS n_frames FROM documents
          WHERE doc_id % 3 = 2) v
    """,
)
def media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = media_table(spark, sf_dir).filter(F.col("media_type") == "video")
    return media.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(0),
                (F.col("n_frames") - 1).cast("int"),
                F.lit(FRAME_SAMPLE_EVERY),
            )
        ).alias("frame_idx_i"),
    ).select("doc_id", F.col("frame_idx_i").cast("bigint").alias("frame_idx"))


# ---------------------------------------------------------------------------
# Real dependency-free media codecs (round-5: VERDICT r4 task 3 —
# replace the decode stub with a kernel that decodes real bytes).
#
# Built by a factory so every codec is a LOCAL def: kernels close over
# the returned dict and cloudpickle serializes the functions BY VALUE
# (a module-level codec would pickle by reference and need the package
# importable on executor workers — the round-3 ModuleNotFoundError).
# Coverage:
#   PNG  — full decode: zlib-inflate IDAT, unfilter scanlines (all 5
#          filter types), pixel stats; plus a matching encoder used by
#          the fixture generator and the real resize kernel.
#   WAV  — full decode: RIFF chunk walk, fmt + 16-bit PCM samples.
#   GIF / BMP / JPEG — header parse (width/height/components; JPEG via
#          SOF marker scan). Full GIF-LZW / JPEG entropy decode is out
#          of dependency-free scope and not needed for dimensions.
# ---------------------------------------------------------------------------


def _build_codecs():
    import struct
    import zlib

    def png_encode(width, height, rgb_bytes):
        """Minimal valid RGB8 PNG: IHDR + one IDAT (filter 0) + IEND."""
        assert len(rgb_bytes) == width * height * 3

        def chunk(tag, data):
            body = tag + data
            return (
                struct.pack(">I", len(data))
                + body
                + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)
            )

        ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
        raw = b"".join(
            b"\x00" + rgb_bytes[y * width * 3 : (y + 1) * width * 3]
            for y in range(height)
        )
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )

    def png_decode(payload):
        """Parse + fully decode a PNG: returns (width, height, channels,
        bit_depth, pixels: bytes) for 8-bit gray/RGB/RGBA; header-only
        (pixels=None) for other color modes."""
        if payload[:8] != b"\x89PNG\r\n\x1a\n":
            return None
        pos, idat, meta = 8, [], None
        while pos + 8 <= len(payload):
            (length,) = struct.unpack(">I", payload[pos : pos + 4])
            tag = payload[pos + 4 : pos + 8]
            data = payload[pos + 8 : pos + 8 + length]
            if tag == b"IHDR":
                w, h, depth, color = struct.unpack(">IIBB", data[:10])
                channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
                meta = (w, h, channels, depth, color)
            elif tag == b"IDAT":
                idat.append(data)
            elif tag == b"IEND":
                break
            pos += 12 + length
        if meta is None or meta[2] is None:
            return None
        w, h, channels, depth, color = meta
        if depth != 8 or color == 3 or not idat:
            return (w, h, channels, depth, None)  # header-only
        try:
            raw = zlib.decompress(b"".join(idat))
        except zlib.error:
            return (w, h, channels, depth, None)
        stride = w * channels
        if len(raw) != h * (stride + 1):
            return (w, h, channels, depth, None)
        import numpy as np

        # Vectorized unfilter (round-14, guide §4.2). Rows are
        # sequential only through the PREVIOUS decoded row; within a
        # row, None/Up are whole-row numpy ops and Sub is a cumulative
        # sum per pixel-channel column (out[k] = sum of residuals in
        # k's residue class mod bpp). Average/Paeth keep the per-byte
        # loop (each byte depends on the decoded byte to its left).
        # The all-None fast path — every PNG this engine writes uses
        # filter 0 — is one reshape+slice, no row loop at all.
        mat = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
        ftypes = mat[:, 0]
        if ftypes.max(initial=0) == 0:
            return (w, h, channels, depth, mat[:, 1:].tobytes())
        if ftypes.max(initial=0) > 4:
            return (w, h, channels, depth, None)
        bpp = channels
        out_m = np.empty((h, stride), dtype=np.uint8)
        prev_np = np.zeros(stride, dtype=np.uint8)
        for y in range(h):
            ftype = int(ftypes[y])
            line_np = mat[y, 1:]
            if ftype == 0:
                dec = line_np.copy()
            elif ftype == 1:  # Sub: per-channel cumulative sum
                cols = line_np[: (stride // bpp) * bpp].reshape(-1, bpp)
                dec = (
                    cols.astype(np.uint32).cumsum(axis=0).astype(np.uint8)
                ).reshape(-1)
                if stride % bpp:  # ragged tail (malformed stride)
                    dec = np.concatenate([dec, line_np[len(dec):]])
            elif ftype == 2:  # Up: one vector add
                dec = line_np + prev_np  # uint8 wraps mod 256
            else:  # Average / Paeth: left-dependency, per-byte
                line = bytearray(line_np.tobytes())
                prev = prev_np
                if ftype == 3:
                    for i in range(stride):
                        left = line[i - bpp] if i >= bpp else 0
                        line[i] = (line[i] + ((left + int(prev[i])) >> 1)) & 0xFF
                else:
                    for i in range(stride):
                        a = line[i - bpp] if i >= bpp else 0
                        b = int(prev[i])
                        c = int(prev[i - bpp]) if i >= bpp else 0
                        p = a + b - c
                        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                        pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                        line[i] = (line[i] + pred) & 0xFF
                dec = np.frombuffer(bytes(line), dtype=np.uint8)
            out_m[y] = dec
            prev_np = dec
        return (w, h, channels, depth, out_m.tobytes())

    def wav_encode(sample_rate, samples):
        """Minimal valid mono 16-bit PCM WAV."""
        import numpy as np

        # one clip+cast instead of a struct.pack per sample (§4.2);
        # byte-identical: same clamp, same little-endian int16
        data = (
            np.clip(np.asarray(samples, dtype=np.int64), -32768, 32767)
            .astype("<i2")
            .tobytes()
        )
        fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
        return (
            b"RIFF"
            + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
            + b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data
        )

    def wav_decode(payload):
        """(sample_rate, channels, bit_depth, samples|None) for PCM16."""
        if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
            return None
        pos, fmt, data = 12, None, None
        while pos + 8 <= len(payload):
            tag = payload[pos : pos + 4]
            (length,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
            body = payload[pos + 8 : pos + 8 + length]
            if tag == b"fmt ":
                fmt = struct.unpack("<HHIIHH", body[:16])
            elif tag == b"data":
                data = body
            pos += 8 + length + (length & 1)
        if fmt is None:
            return None
        _, channels, rate, _, _, bits = fmt
        samples = None
        if data is not None and bits == 16:
            import numpy as np

            # one frombuffer instead of a struct.unpack per sample
            # (§4.2); same values, same floor(len/2) sample count
            samples = np.frombuffer(
                data[: (len(data) // 2) * 2], dtype="<i2"
            ).tolist()
        return (rate, channels, bits, samples)

    def gif_header(payload):
        if payload[:6] not in (b"GIF87a", b"GIF89a"):
            return None
        w, h = struct.unpack("<HH", payload[6:10])
        return (w, h)

    def bmp_header(payload):
        if payload[:2] != b"BM" or len(payload) < 30:
            return None
        w, h = struct.unpack("<ii", payload[18:26])
        (bpp,) = struct.unpack("<H", payload[28:30])
        return (w, abs(h), bpp)

    def jpeg_header(payload):
        """Scan JFIF markers for the first SOF segment."""
        if payload[:2] != b"\xff\xd8":
            return None
        pos = 2
        while pos + 4 <= len(payload):
            if payload[pos] != 0xFF:
                pos += 1
                continue
            marker = payload[pos + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                pos += 2
                continue
            (length,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                seg = payload[pos + 4 : pos + 2 + length]
                precision = seg[0]
                h, w = struct.unpack(">HH", seg[1:5])
                components = seg[5]
                return (w, h, components, precision)
            pos += 2 + length
        return None

    def gif_encode(width, height, palette, frames):
        """Minimal valid GIF89a: global color table + one image block
        per frame. ``palette`` is a list of (r, g, b); ``frames`` a
        list of per-pixel palette-index bytes (row-major, w*h each).
        LZW data is written degenerately — a CLEAR code before every
        pixel code — so the code width never grows; ~4 bits/pixel
        overhead in exchange for a 15-line encoder. Decoders (ours
        and real ones) accept it: CLEAR simply resets the table."""
        n = max(2, (len(palette) - 1).bit_length())  # palette bits, >=2
        table_size = 1 << n
        gct = b"".join(
            bytes(palette[i]) if i < len(palette) else b"\x00\x00\x00"
            for i in range(table_size)
        )
        # logical screen descriptor: GCT present, n-bit
        lsd = struct.pack("<HHBBB", width, height, 0x80 | (n - 1), 0, 0)
        out = bytearray(b"GIF89a" + lsd + gct)
        min_code = n
        clear = 1 << min_code
        eoi = clear + 1
        width_bits = min_code + 1
        for frame in frames:
            assert len(frame) == width * height
            out += b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, 0)
            out.append(min_code)
            # bit-pack LSB-first: CLEAR, pixel, CLEAR, pixel, ..., EOI
            # — vectorized (round-14, §4.2): build the fixed-width code
            # sequence as one array and pack its bits in one numpy
            # pass; byte-identical to the per-pixel shift loop
            # (LSB-first order, zero-padded final byte) — pinned by
            # the roundtrip/equality tests.
            import numpy as np

            px_arr = np.frombuffer(bytes(frame), dtype=np.uint8)
            codes = np.empty(2 * len(px_arr) + 2, dtype=np.uint16)
            codes[0::2] = clear  # positions 0, 2, ..., 2P
            codes[1:-1:2] = px_arr
            codes[-1] = eoi
            bits = (
                np.unpackbits(
                    codes.astype("<u2").view(np.uint8).reshape(-1, 2),
                    axis=1,
                    bitorder="little",
                )[:, :width_bits]
                .reshape(-1)
            )
            data = np.packbits(bits, bitorder="little").tobytes()
            for i in range(0, len(data), 255):
                block = data[i : i + 255]
                out.append(len(block))
                out += block
            out.append(0)  # block terminator
        out.append(0x3B)  # trailer
        return bytes(out)

    def _lzw_fixed_width(data, min_code, n_px, pal):
        """Vectorized decode of the fixed-width LZW stream this
        engine's gif_encode emits: CLEAR (px CLEAR)* EOI, code width
        pinned at min_code+1 because every CLEAR resets the table.
        Returns the palette-resolved RGB bytes, or None when the
        stream does not verify (generic loop handles it)."""
        import numpy as np

        clear = 1 << min_code
        eoi = clear + 1
        wb = min_code + 1
        need = 2 * n_px + 2  # CLEAR (px CLEAR)*n EOI
        if len(data) * 8 < need * wb:
            return None
        bits = np.unpackbits(
            np.frombuffer(data, dtype=np.uint8), bitorder="little"
        )
        codes = (
            bits[: need * wb]
            .reshape(need, wb)
            .astype(np.uint32)
            .dot(1 << np.arange(wb, dtype=np.uint32))
        )
        if (
            int(codes[-1]) != eoi
            or not (codes[0:-1:2] == clear).all()
        ):
            return None
        pix = codes[1:-1:2]
        npal = len(pal) // 3
        if pix.size and int(pix.max()) >= min(clear, npal):
            return None
        # trailing bits after EOI must be byte padding only (the
        # generic decoder ignores them; a longer real stream would
        # mean the pattern match was coincidental — impossible since
        # EOI terminates the generic decode too)
        return (
            np.frombuffer(pal, dtype=np.uint8)[: npal * 3]
            .reshape(-1, 3)[pix]
            .tobytes()
        )

    def gif_decode(payload):
        """Full GIF decode: (width, height, n_frames, frames) where
        each frame is bytes of RGB pixels (palette-resolved). Standard
        LZW with growing code width and CLEAR/EOI handling; returns
        header-only (frames=[]) on any malformed body so the kernel
        can degrade to dimensions."""
        hdr = gif_header(payload)
        if hdr is None:
            return None
        w, h = hdr
        try:
            flags = payload[10]
            pos = 13
            gct = b""
            if flags & 0x80:
                size = 3 * (2 << (flags & 0x07))
                gct = payload[pos : pos + size]
                pos += size
            frames = []
            while pos < len(payload):
                block = payload[pos]
                if block == 0x3B:  # trailer
                    break
                if block == 0x21:  # extension: skip sub-blocks
                    pos += 2
                    while payload[pos] != 0:
                        pos += 1 + payload[pos]
                    pos += 1
                    continue
                if block != 0x2C:
                    return (w, h, len(frames), [])
                fx, fy, fw, fh, iflags = struct.unpack(
                    "<HHHHB", payload[pos + 1 : pos + 10]
                )
                pos += 10
                pal = gct
                if iflags & 0x80:
                    size = 3 * (2 << (iflags & 0x07))
                    pal = payload[pos : pos + size]
                    pos += size
                min_code = payload[pos]
                pos += 1
                data = bytearray()
                while payload[pos] != 0:
                    ln = payload[pos]
                    data += payload[pos + 1 : pos + 1 + ln]
                    pos += 1 + ln
                pos += 1
                # --- LZW decode ---
                clear = 1 << min_code
                eoi = clear + 1
                # Fast path (round-14, §4.2): this engine's encoder
                # interleaves CLEAR before every pixel, so the code
                # width never grows — the whole stream is fixed-width
                # codes in the pattern CLEAR (px CLEAR)* EOI. Unpack
                # all codes in one numpy pass and VERIFY the pattern;
                # any stream that doesn't match (real-world GIFs with
                # growing tables) falls through to the generic loop,
                # so the fast path can never change a result.
                fast = _lzw_fixed_width(bytes(data), min_code, fw * fh, pal)
                if fast is not None:
                    frames.append(fast)
                    continue
                table = [bytes([i]) for i in range(clear)] + [b"", b""]
                width_bits = min_code + 1
                acc = nbits = 0
                prev = None
                idx = bytearray()
                done = False
                for byte in data:
                    if done:
                        break
                    acc |= byte << nbits
                    nbits += 8
                    while nbits >= width_bits:
                        code = acc & ((1 << width_bits) - 1)
                        acc >>= width_bits
                        nbits -= width_bits
                        if code == clear:
                            table = table[: clear + 2]
                            width_bits = min_code + 1
                            prev = None
                            continue
                        if code == eoi:
                            done = True
                            break
                        if code < len(table):
                            entry = table[code]
                            if prev is not None:
                                table.append(prev + entry[:1])
                        elif code == len(table) and prev is not None:
                            entry = prev + prev[:1]
                            table.append(entry)
                        else:
                            return (w, h, len(frames), [])
                        idx += entry
                        prev = entry
                        if (
                            len(table) == (1 << width_bits)
                            and width_bits < 12
                        ):
                            width_bits += 1
                rgb = bytes(
                    b
                    for i in idx[: fw * fh]
                    for b in pal[3 * i : 3 * i + 3]
                )
                frames.append(rgb)
            return (w, h, len(frames), frames)
        except (IndexError, struct.error):
            return (w, h, 0, [])

    return {
        "png_encode": png_encode,
        "png_decode": png_decode,
        "wav_encode": wav_encode,
        "wav_decode": wav_decode,
        "gif_encode": gif_encode,
        "gif_decode": gif_decode,
        "gif_header": gif_header,
        "bmp_header": bmp_header,
        "jpeg_header": jpeg_header,
    }


# Generated-payload memo (round-14): media_pipeline_invariants
# references the binary table THREE times in one action (decode,
# resize+re-decode, spectrum), and the generation kernel (per-doc
# container encode) was re-run per reference. One checkpointed build
# per (session, sf_dir); ~10k small payloads, a few MB of blocks.
@memo.shared
def media_binary_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-bytes media table: (doc_id, media_type, payload) where the
    payload is a genuinely parseable container — a valid RGB8 PNG for
    images, a valid mono PCM16 WAV for audio, a GIF87a stream for
    video. Dimensions/content derive deterministically from the
    document (id + text bytes), so decode results are stable and
    assertable without the driver shipping binary fixtures."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # Call the factory ON THE DRIVER and close over the returned dict:
    # its values are local defs, so cloudpickle ships them by value —
    # closing over the module-level factory itself would pickle by
    # reference and need the package importable on executor workers.
    codecs = _build_codecs()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, types, payloads = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                tb = (text or "x").encode("utf-8")
                kind = doc_id % 3
                if kind == 0:
                    w = 4 + doc_id % 13
                    h = 3 + doc_id % 11
                    need = w * h * 3
                    rgb = (tb * (need // len(tb) + 1))[:need]
                    payload = codecs["png_encode"](w, h, rgb)
                    mt = "image"
                elif kind == 1:
                    n = 32 + len(tb) % 64
                    # vectorized (§4.2): same (byte - 128) * 64 samples
                    ta = np.frombuffer(tb, dtype=np.uint8)
                    samples = (
                        ta[np.arange(n) % len(tb)].astype(np.int64) - 128
                    ) * 64
                    payload = codecs["wav_encode"](8000, samples)
                    mt = "audio"
                else:
                    w, h = 16 + doc_id % 9, 9 + doc_id % 7
                    n_frames = 2 + doc_id % 3
                    palette = [(0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255)]
                    # vectorized (§4.2): same tb[(f+i) % len] % 4 pixels
                    ta = np.frombuffer(tb, dtype=np.uint8)
                    pos = np.arange(w * h)
                    frames = [
                        (ta[(f + pos) % len(tb)] % 4).astype(np.uint8).tobytes()
                        for f in range(n_frames)
                    ]
                    payload = codecs["gif_encode"](w, h, palette, frames)
                    mt = "video"
                ids.append(doc_id)
                types.append(mt)
                payloads.append(payload)
            yield pd.DataFrame(
                {"doc_id": ids, "media_type": types, "payload": payloads}
            )

    return docs.mapInPandas(
        gen, schema="doc_id BIGINT, media_type STRING, payload BINARY"
    )


# ---------------------------------------------------------------------------
# Decode / feature extraction: real mapInPandas plumbing, real kernel
# ---------------------------------------------------------------------------
DECODE_SCHEMA = (
    "doc_id BIGINT, media_type STRING, n_bytes BIGINT, "
    "format STRING, width BIGINT, height BIGINT, channels BIGINT, "
    "features ARRAY<DOUBLE>"
)


def decode_features(media: DataFrame) -> DataFrame:
    """Arrow-batched decode: payload bytes -> container metadata +
    fixed-dim feature vector, via the REAL dependency-free codecs
    (round-5; previously a documented fake).

    - PNG: full pixel decode (inflate + unfilter) -> mean/min/max pixel
      stats; WAV: full PCM16 decode -> amplitude stats; GIF/BMP/JPEG:
      header dims; anything else: format='unknown' with byte-histogram
      features (the old content fingerprint, kept as the fallback so
      arbitrary blobs still featurize deterministically).
    - All helpers are LOCAL defs (built per-kernel via the codec
      factory) so cloudpickle serializes by value — executors never
      need the package importable (round-3 ModuleNotFoundError).
    """
    feature_dim = FEATURE_DIM
    codecs = _build_codecs()  # driver-side: dict values pickle by value

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def byte_features(payload):
            n = len(payload)
            if n == 0:
                return [0.0] * feature_dim
            step = max(1, n // feature_dim)
            feats = [
                float(sum(payload[i : i + step]) % 997)
                for i in range(0, n, step)
            ][:feature_dim]
            return feats + [0.0] * (feature_dim - len(feats))

        def one(payload):
            png = codecs["png_decode"](payload)
            if png is not None:
                w, h, ch, depth, px = png
                if px:
                    stats = [
                        float(sum(px)) / len(px),
                        float(min(px)),
                        float(max(px)),
                        float(len(px)),
                    ]
                else:
                    stats = [0.0, 0.0, 0.0, 0.0]
                return ("png", w, h, ch, [float(w), float(h), float(ch), float(depth)] + stats)
            wav = codecs["wav_decode"](payload)
            if wav is not None:
                rate, ch, bits, samples = wav
                if samples:
                    n = len(samples)
                    stats = [
                        float(sum(abs(s) for s in samples)) / n,
                        float(max(samples)),
                        float(min(samples)),
                        float(n),
                    ]
                else:
                    stats = [0.0, 0.0, 0.0, 0.0]
                return ("wav", rate // 1000, ch, ch, [float(rate), float(ch), float(bits)] + stats + [0.0])
            gif = codecs["gif_decode"](payload)
            if gif is not None:
                w, h, n_frames, frames = gif
                if frames:
                    first = frames[0]
                    stats = [
                        float(sum(first)) / max(1, len(first)),
                        float(max(first)),
                        float(len(first)),
                    ]
                else:
                    stats = [0.0, 0.0, 0.0]
                return (
                    "gif", w, h, 3,
                    [float(w), float(h), 3.0, float(n_frames)] + stats + [0.0],
                )
            bmp = codecs["bmp_header"](payload)
            if bmp is not None:
                w, h, bpp = bmp
                return ("bmp", w, h, bpp // 8, [float(w), float(h), float(bpp)] + byte_features(payload)[:5])
            jpg = codecs["jpeg_header"](payload)
            if jpg is not None:
                w, h, comps, precision = jpg
                return ("jpeg", w, h, comps, [float(w), float(h), float(comps), float(precision)] + byte_features(payload)[:4])
            return ("unknown", 0, 0, 0, byte_features(payload))

        for pdf in batches:
            decoded = [one(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": pdf["payload"].map(len),
                    "format": [d[0] for d in decoded],
                    "width": [int(d[1]) for d in decoded],
                    "height": [int(d[2]) for d in decoded],
                    "channels": [int(d[3]) for d in decoded],
                    "features": [d[4] for d in decoded],
                }
            )

    return media.mapInPandas(decode, schema=DECODE_SCHEMA)


@query("media_decode_features")  # rows-only: real codecs, real bytes
def media_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode the real-binary media table: every image row is a valid
    PNG the kernel fully decodes (pixels inflated + unfiltered), every
    audio row a valid WAV (PCM samples parsed), every video row a
    GIF87a stream (header dims)."""
    return decode_features(media_binary_table(spark, sf_dir))


# ---------------------------------------------------------------------------
# Resize / re-encode: payload -> payload with updated metadata. Real
# kernel (round-5): PNG inputs are fully decoded, nearest-neighbor
# resampled to RESIZE_W x RESIZE_H, and re-encoded as a valid PNG.
# Non-PNG payloads pass through unchanged (width/height report the
# original container dims where parseable, else 0). The Spark contract
# — binary in/binary out, Arrow batching, partition-preserving — is
# unchanged from the stub era; only the kernel got real.
# ---------------------------------------------------------------------------
RESIZE_W, RESIZE_H = 64, 64


def resize_media(media: DataFrame) -> DataFrame:
    rw, rh = RESIZE_W, RESIZE_H
    codecs = _build_codecs()  # driver-side: dict values pickle by value

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def one(payload):
            png = codecs["png_decode"](payload)
            if png is None or png[4] is None or png[2] != 3:
                return payload, 0, 0  # pass through non-decodable
            w, h, ch, _depth, px = png
            # vectorized nearest-neighbor resample (round-13): same
            # source index per target pixel as the former per-pixel
            # Python loop (sy = y*h//rh, sx = x*w//rw), row-major
            # tobytes == the loop's append order — byte-identical
            # output, ~100x less Python per image
            raw = bytes(px)
            if len(raw) == h * w * 3:
                arr = np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3)
                sy = (np.arange(rh) * h) // rh
                sx = (np.arange(rw) * w) // rw
                out = arr[np.ix_(sy, sx)].tobytes()
            else:  # malformed pixel buffer: keep the tolerant slice path
                buf = bytearray()
                for y in range(rh):
                    for x in range(rw):
                        base = ((y * h // rh) * w + (x * w // rw)) * 3
                        buf += raw[base : base + 3]
                out = bytes(buf)
            return codecs["png_encode"](rw, rh, out), rw, rh

        for pdf in batches:
            n_bytes = pdf["payload"].map(len)
            results = [one(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "payload": [r[0] for r in results],
                    "width": [r[1] for r in results],
                    "height": [r[2] for r in results],
                    "orig_bytes": n_bytes,
                }
            )

    return media.mapInPandas(
        kernel,
        schema=(
            "doc_id BIGINT, media_type STRING, payload BINARY, "
            "width INT, height INT, orig_bytes BIGINT"
        ),
    )


@query("media_resize")  # rows-only: real PNG decode -> resample -> encode
def media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return resize_media(
        media_binary_table(spark, sf_dir).filter(F.col("media_type") == "image")
    )


# ---------------------------------------------------------------------------
# Audio spectral features: WAV decode -> numpy rFFT per payload
# ---------------------------------------------------------------------------
@query("media_audio_spectrum")  # rows-only: FFT is not SQL-expressible
def media_audio_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per audio payload: duration, RMS amplitude, zero-crossing rate,
    dominant-frequency Hz (argmax of the real-FFT magnitude above DC)
    and spectral centroid Hz — the audio-curation signals (silence /
    clipped / tone-like detection) a multimodal training pipeline
    gates on before paying for transcription.

    The WAV parse is the repo's dependency-free PCM16 decoder; the
    spectrum is one numpy ``rfft`` per payload inside the Arrow batch
    (vectorizable per clip, embarrassingly parallel across clips — at
    100 TB this scales with the scan like every other mapInPandas
    kernel here). Deterministic: fixed synthetic payloads, exact
    integer sample arithmetic, transcendentals rounded to 6.
    Correctness is pinned by a sequential NumPy recompute test over
    the same payload bytes (tests/test_operators.py)."""
    media = media_binary_table(spark, sf_dir).filter(
        F.col("media_type") == "audio"
    )
    codecs = _build_codecs()
    wav_decode = codecs["wav_decode"]

    def spectrum(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                rate, _ch, _bits, samples = wav_decode(bytes(payload))
                samples = samples or []
                x = np.asarray(samples, dtype=np.float64)
                n = len(x)
                rms = float(np.sqrt(np.mean(x * x))) if n else 0.0
                zc = (
                    int(np.count_nonzero(np.diff(np.signbit(x))))
                    if n > 1
                    else 0
                )
                mag = np.abs(np.fft.rfft(x)) if n else np.zeros(1)
                if len(mag) > 1:
                    dom_bin = 1 + int(np.argmax(mag[1:]))
                    dom_hz = dom_bin * rate / n
                    w = mag[1:]
                    freqs = np.arange(1, len(mag)) * rate / n
                    cent = (
                        float((freqs * w).sum() / w.sum())
                        if w.sum() > 0
                        else 0.0
                    )
                else:
                    dom_hz, cent = 0.0, 0.0
                out.append(
                    (
                        int(doc_id),
                        n,
                        int(rate),
                        round(rms, 6),
                        round(zc / (n - 1), 6) if n > 1 else 0.0,
                        round(dom_hz, 6),
                        round(cent, 6),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id",
                    "n_samples",
                    "sample_rate",
                    "rms",
                    "zero_cross_rate",
                    "dominant_hz",
                    "spectral_centroid_hz",
                ],
            )

    return media.select("doc_id", "payload").mapInPandas(
        spectrum,
        "doc_id BIGINT, n_samples BIGINT, sample_rate BIGINT, "
        "rms DOUBLE, zero_cross_rate DOUBLE, dominant_hz DOUBLE, "
        "spectral_centroid_hz DOUBLE",
    )
