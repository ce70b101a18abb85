"""Multimodal column operators: image/audio/video as opaque ``binary``
columns with typed metadata.

The Spark-side plumbing (Arrow-batched mapInPandas transforms over blob
columns) is real and tested.  Decode is REAL for the public formats a
pure-numpy/stdlib kernel can parse: binary PGM/PPM and 24-bit BI_RGB BMP
(``decode_image``), RIFF/WAVE PCM16 mono/multichannel (``decode_wav``),
PNG at depths 8 and 16 with color types 0/2/3/4/6 and Adam7 interlace
(``decode_png``), GIF87a + GIF89a including
animation/transparency/disposal (``decode_gif``, ``decode_gif_frames``),
baseline sequential + progressive JPEG with 4:2:0/4:2:2 subsampling and
DRI restart markers (``decode_jpeg``), and AVI/MJPEG containers
(``decode_avi_mjpeg``).  Library-grade codecs (WebP, AVIF,
arithmetic/12-bit JPEG, non-MJPEG video) raise NotImplementedError by
name at exactly the boundary where PIL/torchvision/ffmpeg slot in, since
those libraries aren't in this environment.  The operator shapes (one
blob in → features/signatures out, decode fused scan-side, never
collect, never a Python loop over rows on the driver) are the part that
must be right for 100 TB.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# --- real codecs (pure numpy, public formats) -------------------------------
#
# Uncompressed formats need no codec library: PGM (P5) / PPM (P6) are a text
# header + raw samples, BMP (BI_RGB) is two fixed headers + padded rows.
# PNG (depths 8 and 16, paletted type 3, Adam7 interlace) is real too —
# stdlib zlib + the five scanline filters (see encode_png/decode_png
# below) — as are GIF87a/89a (variable-width LZW, extension-block walk,
# four-pass interlace) and baseline sequential JPEG (DCT + quantization
# + Huffman, see encode_jpeg/decode_jpeg).  The remaining honest
# boundaries, each raising NotImplementedError by name:
# progressive/arithmetic/12-bit JPEG and sampling factors beyond 2,
# GIF transparency and
# frames past the first, WebP/AVIF and every other library-grade codec.


def encode_pgm(img: np.ndarray) -> bytes:
    """Binary PGM (P5): 8-bit grayscale, the simplest real image format."""
    if img.dtype != np.uint8 or img.ndim != 2:
        raise ValueError("encode_pgm expects a 2-D uint8 array")
    h, w = img.shape
    return b"P5\n%d %d\n255\n" % (w, h) + img.tobytes()


def encode_bmp(img: np.ndarray) -> bytes:
    """24-bit uncompressed (BI_RGB) BMP from an (h, w, 3) uint8 RGB array:
    BGR samples, rows 4-byte padded, bottom-up."""
    if img.dtype != np.uint8 or img.ndim != 3 or img.shape[2] != 3:
        raise ValueError("encode_bmp expects an (h, w, 3) uint8 array")
    h, w = img.shape[:2]
    row_bytes = (w * 3 + 3) & ~3
    body = np.zeros((h, row_bytes), dtype=np.uint8)
    body[:, : w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up, BGR
    data = body.tobytes()
    offset = 14 + 40
    header = (
        b"BM"
        + (offset + len(data)).to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + offset.to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")  # BI_RGB
        + len(data).to_bytes(4, "little")
        + b"\x00" * 16
    )
    return header + data


def _pnm_tokens(
    buf: bytes, n: int, channels: int | None = None
) -> tuple[list[int], int]:
    """First ``n`` whitespace-separated integer tokens after the magic,
    honoring '#' comments; returns (tokens, offset-of-raster).

    ``channels`` enables the CRLF disambiguation below: with it, a
    spec-valid file whose maxval separator is ``\\r`` and whose first
    raster sample is 0x0A decodes correctly instead of being rejected."""
    toks: list[int] = []
    i = 2  # past magic
    while len(toks) < n:
        while i < len(buf) and buf[i : i + 1].isspace():
            i += 1
        if buf[i : i + 1] == b"#":
            while i < len(buf) and buf[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(buf) and not buf[j : j + 1].isspace():
            j += 1
        toks.append(int(buf[i:j]))
        i = j
    # The P5/P6 spec mandates EXACTLY one whitespace byte between the
    # maxval token and the raster.  Validate it instead of assuming: a
    # non-whitespace byte here (or a non-conforming "\r\n" separator,
    # which would silently shift the raster by one byte) must fail loudly
    # rather than corrupt every pixel.
    if i >= len(buf) or not buf[i : i + 1].isspace():
        raise ValueError("PNM: missing single whitespace byte before raster")
    if buf[i : i + 2] == b"\r\n":
        # ambiguous: either a CRLF-written (non-conforming) header, or a
        # spec-valid '\r'-separated header whose first raster sample
        # happens to be 0x0A.  The header itself promises the raster
        # size, so exactly one candidate offset can be right — pick it;
        # refuse only when neither fits rather than risk silently
        # shifting every pixel by one byte.
        if channels is not None and len(toks) >= 2:
            expected = toks[0] * toks[1] * channels
            fits = [k for k in (i + 1, i + 2) if len(buf) - k == expected]
            if len(fits) == 1:
                return toks, fits[0]
        raise ValueError("PNM: ambiguous CRLF after maxval (raster size fits neither offset)")
    return toks, i + 1


def decode_image(content: bytes) -> np.ndarray:
    """REAL decode of public formats, strictly from the blob bytes (no
    metadata columns): binary PGM (P5) → (h, w) uint8, binary PPM (P6) →
    (h, w, 3) uint8, 24-bit BI_RGB BMP → (h, w, 3) uint8 (bottom-up or
    top-down), plus the compressed codecs implemented below — PNG,
    GIF87a, baseline JPEG.  Library-grade codecs (WebP/AVIF/…) raise —
    production swaps in PIL at exactly this boundary."""
    if content is None:
        raise ValueError("null blob")
    buf = bytes(content)
    magic = buf[:2]
    if magic in (b"P5", b"P6"):
        ch = 1 if magic == b"P5" else 3
        (w, h, maxval), off = _pnm_tokens(buf, 3, channels=ch)
        if maxval > 255:
            raise NotImplementedError("16-bit PNM not supported")
        px = np.frombuffer(buf, dtype=np.uint8, count=w * h * ch, offset=off)
        return px.reshape((h, w) if ch == 1 else (h, w, ch))
    if magic == b"BM":
        offset = int.from_bytes(buf[10:14], "little")
        w = int.from_bytes(buf[18:22], "little", signed=True)
        h = int.from_bytes(buf[22:26], "little", signed=True)
        bpp = int.from_bytes(buf[28:30], "little")
        comp = int.from_bytes(buf[30:34], "little")
        if bpp != 24 or comp != 0:
            raise NotImplementedError(f"BMP bpp={bpp} compression={comp}")
        bottom_up, h = h > 0, abs(h)
        row_bytes = (w * 3 + 3) & ~3
        rows = np.frombuffer(
            buf, dtype=np.uint8, count=h * row_bytes, offset=offset
        ).reshape(h, row_bytes)
        img = rows[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]  # BGR → RGB
        return img[::-1] if bottom_up else img
    if buf[:8] == _PNG_SIG:
        return decode_png(buf)
    if buf[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif(buf)
    if buf[:2] == b"\xff\xd8":
        return decode_jpeg(buf)
    raise NotImplementedError(
        f"no pure-numpy decoder for magic {magic!r} (remaining compressed "
        "codecs — WebP/AVIF/… — require an image library: swap in PIL here "
        "in production)"
    )


# --- the one row kernel and the encoded-asset table -------------------------


def _row_kernel(df: DataFrame, schema: str, fn) -> DataFrame:
    """The one per-row Python kernel of this module: ``df.mapInPandas``
    over Arrow batches, where ``fn(row)`` (an ``itertuples`` row) yields
    that row's output tuples — one for a 1:1 kernel, none or several for
    a fan-out (frame sampling).  ``schema`` is a flat DDL string
    (``"name type, ..."``); the pandas column labels are its field names,
    so each kernel writes its output schema once."""
    columns = [field.split()[0] for field in schema.split(",")]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                out.extend(fn(row))
            yield pd.DataFrame(out, columns=columns)

    return df.mapInPandas(run, schema)


ASSET_SCHEMA = "asset_id long, modality string, mime string, content binary"


def _asset_table(docs: DataFrame, modality: str, mime: str, blob_of) -> DataFrame:
    """The encoded-asset table of every ``documents_as_*_assets``: per
    document one ``(doc_id, modality, mime, blob_of(doc_id))`` row, the
    blob a genuine file encoded inside the Arrow kernel — born
    distributed, never on the driver."""

    def encode(row):
        aid = int(row.doc_id)
        yield aid, modality, mime, blob_of(aid)

    return _row_kernel(docs.select("doc_id"), ASSET_SCHEMA, encode)


# --- closed-form rasters ----------------------------------------------------
#
# Every synthetic raster below is SQL-recomputable: the oracle texts replay
# the same closed forms over ``range`` instead of decoding a byte.

# Knuth multiplicative-hash constant: sample i of asset a is (a*K + i) % m.
_PX_K = 2654435761


def _flat_raster(aid: int, n: int, m: int = 256) -> np.ndarray:
    """The flat raster ``v[i] = (aid*K + i) % m`` for i < n (int64)."""
    return (aid * _PX_K + np.arange(n, dtype=np.int64)) % m


def _block_raster(aid: int, w: int, h: int, cell: int,
                  offset: int = 0) -> np.ndarray:
    """(h, w) uint8 gray raster CONSTANT PER ``cell``×``cell`` GRID CELL:
    pixel (y, x) = (aid*K + offset + (y//cell)*nbx + x//cell) % 256 with
    nbx = ceil(w / cell).  Block-constant rasters have exactly-integer DCT
    coefficients (DC = 8·(c−128), AC = 0), so JPEG round trips are
    bit-exact and the oracle sums over the block grid."""
    nbx = (w + cell - 1) // cell
    bi = np.arange(h, dtype=np.int64)[:, None] // cell
    bj = np.arange(w, dtype=np.int64)[None, :] // cell
    return ((aid * _PX_K + offset + bi * nbx + bj) % 256).astype(np.uint8)


_FRAME_EVERY_MS = 1000
_FRAME_BYTES = 64


def sample_frames(assets: DataFrame) -> DataFrame:
    """Frame-sampling for video-modality blobs: one input row fans out to
    ceil(duration_ms / _FRAME_EVERY_MS) frame rows (min 1) — a sample is
    taken at every t = i*_FRAME_EVERY_MS strictly inside the duration, and
    each frame is ``_FRAME_BYTES`` long.  The codec is stubbed (frames
    are deterministic slices of the blob); the distributed shape — blob in,
    multiple frame rows out via the same Arrow-batched iterator, fan-out
    bounded by duration metadata — is the real thing.  Production swaps the
    slice for an ffmpeg keyframe seek."""

    def frames(row):
        if row.duration_ms is None or row.content is None:
            return
        # ceil: sample at every t = i*_FRAME_EVERY_MS with t < duration
        # (the old floor dropped the last partial interval's frame
        # whenever duration wasn't an exact multiple)
        n_frames = max(-(-int(row.duration_ms) // _FRAME_EVERY_MS), 1)
        blob = bytes(row.content)
        for i in range(n_frames):
            off = (i * _FRAME_BYTES) % max(len(blob), 1)
            yield (row.asset_id, i, i * _FRAME_EVERY_MS,
                   blob[off : off + _FRAME_BYTES])

    return _row_kernel(
        assets, "asset_id long, frame_idx int, ts_ms long, frame binary", frames
    )


def documents_as_assets(docs: DataFrame) -> DataFrame:
    """Wrap the documents fixture as a multimodal asset table: the UTF-8
    bytes of ``text`` become the opaque blob, width/height metadata derive
    deterministically from ``doc_id``.  All JVM-side (``encode`` is a
    built-in) — the blob column is born distributed, never on the driver."""
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("image").alias("modality"),
        (8 + F.pmod(F.col("doc_id"), F.lit(9))).cast("int").alias("width"),
        (8 + F.pmod(F.col("doc_id"), F.lit(7))).cast("int").alias("height"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
    )


PIXEL_STATS_SCHEMA = (
    "asset_id long, n_bytes long, mean_px double, max_px long, sum_px long"
)


def asset_pixel_stats(assets: DataFrame) -> DataFrame:
    """Decode stub → per-asset pixel statistics via Arrow-batched
    mapInPandas.  The 'decode' is the deterministic fake
    ``pixel[i] = (asset_id * K + i) % 256`` over width*height pixels, so an
    oracle can recompute the exact statistics in SQL while the Spark side
    exercises the real blob plumbing (binary column in, vectorized numpy
    kernel, features out).  ``n_bytes`` measures the actual blob, proving
    the binary column itself crossed Arrow intact."""

    def stats(row):
        px = _flat_raster(int(row.asset_id), int(row.width) * int(row.height))
        yield (row.asset_id, len(row.content), float(px.mean()),
               int(px.max()), int(px.sum()))

    return _row_kernel(assets, PIXEL_STATS_SCHEMA, stats)


def documents_as_pgm_assets(docs: DataFrame) -> DataFrame:
    """Real-format asset table: per document, a deterministic
    (8+id%7) × (8+id%9) grayscale raster (``pixel[i] = (id*K + i) % 256``
    — SQL-recomputable) ENCODED AS BINARY PGM inside the Arrow kernel.
    The blob is a genuine image file, born distributed."""

    def pgm(aid: int) -> bytes:
        w, h = 8 + aid % 9, 8 + aid % 7
        return encode_pgm(_flat_raster(aid, h * w).astype(np.uint8).reshape(h, w))

    return _asset_table(docs, "image", "image/x-portable-graymap", pgm)


DECODED_STATS_SCHEMA = (
    "asset_id long, n_bytes long, width int, height int, "
    "mean_px double, max_px long, sum_px long"
)


def decoded_image_stats(assets: DataFrame) -> DataFrame:
    """REAL end-to-end decode: parse each blob's image format strictly from
    its bytes (``decode_image`` — header gives width/height, raster gives
    pixels; no metadata columns consulted) and emit per-asset statistics.
    Paired with ``documents_as_pgm_assets`` this proves encode → binary
    column → Arrow → header parse → raster decode → features, with every
    output SQL-recomputable from the closed-form raster."""

    def stats(row):
        img = decode_image(row.content)
        if img.ndim == 3:
            img = img.mean(axis=2).astype(np.uint8)
        px = img.astype(np.int64)
        yield (row.asset_id, len(row.content), img.shape[1], img.shape[0],
               float(px.mean()), int(px.max()), int(px.sum()))

    return _row_kernel(assets, DECODED_STATS_SCHEMA, stats)


def documents_as_audio(docs: DataFrame) -> DataFrame:
    """Wrap documents as audio-modality assets: the UTF-8 bytes of ``text``
    stand in for an 8-bit unsigned PCM stream (the deterministic stub —
    production decodes real codecs first).  All JVM-side; the blob is born
    distributed."""
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("audio").alias("modality"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
    )


AUDIO_ENERGY_SCHEMA = (
    "asset_id long, n_samples long, n_frames long, total_energy long, "
    "peak_frame long, peak_energy long"
)


_AUDIO_FRAME_BYTES = 64


def audio_frame_energy(assets: DataFrame) -> DataFrame:
    """Framed audio-energy extraction via Arrow-batched mapInPandas: the
    blob is read as unsigned 8-bit PCM, split into 64-sample frames
    (last frame ragged), and each frame's energy is the
    integer-exact Σ(s−128)² — the VAD/silence-trim primitive.  Unlike the
    pixel-stats stub, the kernel computes on the REAL blob bytes
    (np.frombuffer over the Arrow binary column), so the gate proves
    bytes→numpy→features end to end.  Ties in the peak frame break to the
    earliest frame (np.argmax first-hit).  One narrow pass, no shuffle."""

    def energy(row):
        b = np.frombuffer(bytes(row.content), dtype=np.uint8)
        d = b.astype(np.int64) - 128
        sq = d * d
        n = len(b)
        n_frames = -(-n // _AUDIO_FRAME_BYTES) if n else 0
        energies = np.add.reduceat(
            sq, np.arange(0, n, _AUDIO_FRAME_BYTES)
        ) if n else np.array([], dtype=np.int64)
        peak = int(np.argmax(energies)) if n_frames else 0
        yield (row.asset_id, n, n_frames, int(sq.sum()), peak,
               int(energies[peak]) if n_frames else 0)

    return _row_kernel(assets, AUDIO_ENERGY_SCHEMA, energy)


# --------------------------------------------------------------- WAV codec
# Real RIFF/WAVE container handling (pure numpy/stdlib — no audio libs in
# this environment).  Mono PCM16 only; compressed codecs (MP3/AAC/…) and
# other sample formats stay honest NotImplementedError boundaries.

_WAV_SAMPLE_K_A = 40503  # sample stream: ((id*K_A + i*K_B) % 65536) - 32768
_WAV_SAMPLE_K_B = 269


def encode_wav_pcm16(
    samples: np.ndarray,
    sample_rate: int,
    extra_chunks: tuple[tuple[bytes, bytes], ...] = (),
) -> bytes:
    """Encode an int16 sample array — (n,) mono or (n, ch) interleaved
    multi-channel — as a standards-shaped RIFF/WAVE file: RIFF header,
    ``fmt `` chunk (PCM, 16-bit), optional extra chunks (odd-sized
    bodies get the spec's pad byte), ``data`` chunk.  ``extra_chunks``
    lets tests prove the decoder really WALKS the chunk list instead of
    assuming the canonical 44-byte layout."""
    samples = np.asarray(samples)
    nch = 1 if samples.ndim == 1 else samples.shape[1]

    def chunk(cid: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) & 1 else b""
        return cid + len(body).to_bytes(4, "little") + body + pad

    fmt = (
        (1).to_bytes(2, "little")            # PCM
        + nch.to_bytes(2, "little")
        + int(sample_rate).to_bytes(4, "little")
        + int(sample_rate * 2 * nch).to_bytes(4, "little")  # byte rate
        + (2 * nch).to_bytes(2, "little")    # block align
        + (16).to_bytes(2, "little")         # bits per sample
    )
    body = b"WAVE" + chunk(b"fmt ", fmt)
    for cid, cbody in extra_chunks:
        body += chunk(cid, cbody)
    body += chunk(b"data", samples.astype("<i2").tobytes())
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def decode_wav(content: bytes) -> tuple[int, np.ndarray]:
    """Parse a RIFF/WAVE blob strictly from its bytes: validate the RIFF
    magic, walk the chunk list (honoring the odd-size pad byte), read the
    ``fmt `` chunk for sample format, and return (sample_rate, int16
    samples) from the ``data`` chunk — (n,) for mono, (n, ch) for
    interleaved multi-channel.  Only PCM16 is implemented; other sample
    formats raise NotImplementedError rather than guessing."""
    if len(content) < 12 or content[0:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise NotImplementedError("not a RIFF/WAVE container")
    pos, rate, samples = 12, None, None
    while pos + 8 <= len(content):
        cid = content[pos : pos + 4]
        size = int.from_bytes(content[pos + 4 : pos + 8], "little")
        body = content[pos + 8 : pos + 8 + size]
        if len(body) != size:
            raise NotImplementedError(
                f"truncated chunk {cid!r}: declares {size} bytes, "
                f"{len(body)} remain"
            )
        if cid == b"fmt ":
            audio_fmt = int.from_bytes(body[0:2], "little")
            channels = int.from_bytes(body[2:4], "little")
            rate = int.from_bytes(body[4:8], "little")
            bits = int.from_bytes(body[14:16], "little")
            if audio_fmt != 1 or bits != 16 or channels < 1:
                raise NotImplementedError(
                    f"only PCM16 supported (fmt={audio_fmt}, "
                    f"channels={channels}, bits={bits})"
                )
        elif cid == b"data":
            samples = np.frombuffer(body, dtype="<i2")
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or samples is None:
        raise NotImplementedError("missing fmt or data chunk")
    if channels > 1:
        if len(samples) % channels:
            raise ValueError("WAV: data chunk not a whole number of frames")
        samples = samples.reshape(-1, channels)
    return rate, samples


def documents_as_wav_assets(docs: DataFrame) -> DataFrame:
    """Real-container audio asset table: per document, a deterministic
    mono PCM16 stream (``s[i] = ((id*K_A + i*K_B) % 65536) - 32768``,
    ``n = 200 + id % 113`` samples, rate ``8000 + (id % 3) * 4000`` —
    all SQL-recomputable) ENCODED AS A GENUINE RIFF/WAVE FILE in the
    Arrow kernel, including a variable odd-sized ``note`` chunk between
    ``fmt `` and ``data`` so downstream decoders must really walk the
    chunk list.  The blob is a playable audio file, born distributed."""

    def wav(aid: int) -> bytes:
        n = 200 + aid % 113
        s = (
            aid * _WAV_SAMPLE_K_A
            + np.arange(n, dtype=np.int64) * _WAV_SAMPLE_K_B
        ) % 65536 - 32768
        rate = 8000 + (aid % 3) * 4000
        note = (b"note", b"x" * (1 + aid % 5))
        return encode_wav_pcm16(s, rate, extra_chunks=(note,))

    return _asset_table(docs, "audio", "audio/wav", wav)


WAV_STATS_SCHEMA = (
    "asset_id long, sample_rate int, n_samples long, energy long, peak int"
)


def decoded_wav_stats(assets: DataFrame) -> DataFrame:
    """REAL end-to-end audio decode: parse each blob's RIFF container
    strictly from its bytes (``decode_wav`` — header chunk gives the
    sample rate and format, data chunk gives the samples; no metadata
    columns consulted) and emit integer-exact per-asset statistics
    (Σ s², max |s|).  Paired with ``documents_as_wav_assets`` this
    proves encode → binary column → Arrow → chunk walk → PCM decode →
    features, every output SQL-recomputable from the closed form."""

    def stats(row):
        rate, s = decode_wav(row.content)
        v = s.astype(np.int64)
        yield (row.asset_id, rate, len(v), int((v * v).sum()),
               int(np.abs(v).max()))

    return _row_kernel(assets, WAV_STATS_SCHEMA, stats)


# --------------------------------------------------------------- PNG codec
# Real compressed-image handling, pure stdlib zlib + numpy (no PIL in this
# environment; the algorithm — DEFLATE streams of per-scanline-filtered
# samples — is public: RFC 2083 / the W3C PNG spec).  Depths 8 and 16,
# color types 0 (gray), 2 (RGB), 3 (palette via PLTE, depth 8), 4
# (gray+alpha), 6 (RGBA); both no-interlace and Adam7.

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        len(body).to_bytes(4, "big")
        + ctype
        + body
        + (zlib.crc32(ctype + body) & 0xFFFFFFFF).to_bytes(4, "big")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


# Adam7 interlace pass grid: (x_start, y_start, x_step, y_step) per the
# W3C spec.  Each pass is an independently-filtered sub-image; a pass
# with zero pixels contributes no bytes at all.
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _adam7_dims(w: int, h: int, x0: int, y0: int, xs: int, ys: int):
    wp = (w - x0 + xs - 1) // xs if w > x0 else 0
    hp = (h - y0 + ys - 1) // ys if h > y0 else 0
    return wp, hp


def _filter_byte_rows(
    byte_rows: np.ndarray, bpp: int, filter_per_line: bool
) -> list[bytes]:
    """Filter an image's raw byte rows into PNG scanlines (filter byte +
    filtered bytes).  ``prior`` starts at zero — per the spec each
    interlace pass filters independently, so callers invoke this once
    per pass."""
    raw = byte_rows.astype(np.int32)
    lines: list[bytes] = []
    prior = np.zeros(raw.shape[1], dtype=np.int32)
    for y in range(raw.shape[0]):
        cur = raw[y]
        ft = y % 5 if filter_per_line else 0
        left = np.zeros_like(cur)
        left[bpp:] = cur[:-bpp]
        up_left = np.zeros_like(prior)
        up_left[bpp:] = prior[:-bpp]
        if ft == 0:
            filt = cur
        elif ft == 1:
            filt = cur - left
        elif ft == 2:
            filt = cur - prior
        elif ft == 3:
            filt = cur - (left + prior) // 2
        else:  # Paeth
            p = left + prior - up_left
            pa, pb, pc = np.abs(p - left), np.abs(p - prior), np.abs(p - up_left)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prior, up_left)
            )
            filt = cur - pred
        lines.append(bytes([ft]) + (filt % 256).astype(np.uint8).tobytes())
        prior = cur
    return lines


def _unfilter_byte_rows(
    data: bytes, off: int, n_rows: int, stride: int, bpp: int
) -> tuple[np.ndarray, int]:
    """Unfilter ``n_rows`` scanlines of ``stride`` bytes starting at
    ``off``; returns the (n_rows, stride) uint8 byte grid and the offset
    past the consumed bytes.  Plain-int lists: Sub/Average/Paeth carry a
    left (x-1) dependency, so the scan is inherently sequential per
    scanline — bytes-indexing + int arithmetic runs ~8× faster than
    elementwise numpy indexing (measured on 16×14 gate rasters and
    1920×1080).  ``prior`` starts at zero: each interlace pass
    unfilters independently."""
    if len(data) - off < n_rows * (stride + 1):
        raise ValueError("decompressed size does not match dimensions")
    out = np.zeros((n_rows, stride), dtype=np.uint8)
    prior = [0] * stride
    for y in range(n_rows):
        ft = data[off]
        line = data[off + 1 : off + 1 + stride]
        off += stride + 1
        if ft == 0:
            cur = list(line)
        elif ft == 1:  # Sub
            cur = list(line)
            for i in range(bpp, stride):
                cur[i] = (cur[i] + cur[i - bpp]) & 255
        elif ft == 2:  # Up
            cur = [(line[i] + prior[i]) & 255 for i in range(stride)]
        elif ft == 3:  # Average
            cur = [0] * stride
            for i in range(stride):
                left = cur[i - bpp] if i >= bpp else 0
                cur[i] = (line[i] + ((left + prior[i]) >> 1)) & 255
        elif ft == 4:  # Paeth
            cur = [0] * stride
            for i in range(stride):
                left = cur[i - bpp] if i >= bpp else 0
                up = prior[i]
                ul = prior[i - bpp] if i >= bpp else 0
                cur[i] = (line[i] + _paeth(left, up, ul)) & 255
        else:
            raise ValueError(f"invalid filter type {ft}")
        out[y] = cur
        prior = cur
    return out, off


def encode_png(
    img: np.ndarray, filter_per_line: bool = False, interlace: bool = False
) -> bytes:
    """Encode an 8- or 16-bit image as a genuine PNG: (h, w) → grayscale
    (color type 0), (h, w, 2) → gray+alpha (4), (h, w, 3) → RGB (2),
    (h, w, 4) → RGBA (6); dtype uint8 → depth 8, uint16 → depth 16
    (big-endian samples per the spec).  Scanlines are filter-type-0 by
    default; ``filter_per_line=True`` applies filter ``y % 5`` to
    scanline ``y`` (None/Sub/Up/Average/Paeth in rotation) so a paired
    decoder must implement ALL five unfilters, not just the trivial one.
    Filtering operates on BYTES with a bytes-per-pixel left offset, as
    the spec requires for depth 16.  ``interlace=True`` emits Adam7:
    the seven pass sub-images each filter independently, in pass order.
    Output is a spec-conforming file any PNG reader opens."""
    if img.dtype not in (np.uint8, np.uint16) or img.ndim not in (2, 3):
        raise ValueError("encode_png expects a 2-D or 3-D uint8/uint16 array")
    ch = 1 if img.ndim == 2 else img.shape[2]
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}.get(ch)
    if ctype is None:
        raise ValueError(f"unsupported channel count {ch}")
    h, w = img.shape[:2]
    depth = 8 if img.dtype == np.uint8 else 16
    bpp = ch * depth // 8

    def byte_rows(sub: np.ndarray) -> np.ndarray:
        hs, ws = sub.shape[:2]
        flat = sub.reshape(hs, ws * ch)
        if depth == 8:
            return flat
        # network byte order: each u16 sample becomes 2 raw bytes
        return flat.astype(">u2").view(np.uint8).reshape(hs, ws * bpp)

    lines: list[bytes] = []
    if interlace:
        px = img.reshape(h, w, ch)
        for x0, y0, xs, ys in _ADAM7:
            wp, hp = _adam7_dims(w, h, x0, y0, xs, ys)
            if wp == 0 or hp == 0:
                continue
            lines += _filter_byte_rows(
                byte_rows(px[y0::ys, x0::xs]), bpp, filter_per_line
            )
    else:
        lines = _filter_byte_rows(byte_rows(img.reshape(h, w, ch)), bpp,
                                  filter_per_line)
    ihdr = (
        w.to_bytes(4, "big")
        + h.to_bytes(4, "big")
        + bytes([depth, ctype, 0, 0, int(interlace)])  # deflate, adaptive
    )
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"".join(lines)))
        + _png_chunk(b"IEND", b"")
    )


def encode_png_palette(
    idx: np.ndarray, palette: np.ndarray, filter_per_line: bool = False
) -> bytes:
    """Encode a paletted image as a genuine color-type-3 PNG: ``idx`` is
    an (h, w) uint8 index raster, ``palette`` an (n, 3) uint8 RGB table
    emitted as the PLTE chunk.  Scanlines filter exactly like
    :func:`encode_png` (``filter_per_line=True`` rotates ``y % 5``), with
    bpp = 1 byte since the filter unit is the index byte, not the mapped
    color."""
    if idx.dtype != np.uint8 or idx.ndim != 2:
        raise ValueError("encode_png_palette expects a 2-D uint8 index array")
    palette = np.asarray(palette, dtype=np.uint8)
    if palette.ndim != 2 or palette.shape[1] != 3 or not 1 <= len(palette) <= 256:
        raise ValueError("palette must be (n, 3) uint8 with 1 <= n <= 256")
    if int(idx.max(initial=0)) >= len(palette):
        raise ValueError("index raster references a color past the palette")
    h, w = idx.shape
    lines = _filter_byte_rows(idx, 1, filter_per_line)
    ihdr = (
        w.to_bytes(4, "big")
        + h.to_bytes(4, "big")
        + bytes([8, 3, 0, 0, 0])  # depth 8, palette, deflate, no interlace
    )
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", palette.tobytes())
        + _png_chunk(b"IDAT", zlib.compress(b"".join(lines)))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(content: bytes) -> np.ndarray:
    """REAL PNG decode strictly from the blob bytes: signature check,
    CRC-verified chunk walk, IHDR parse, concatenated-IDAT zlib inflate,
    then per-scanline unfilter of all five filter types
    (None/Sub/Up/Average/Paeth), on bytes with a bytes-per-pixel left
    offset as the spec defines.  Adam7-interlaced streams unfilter each
    of the seven passes independently and scatter them into the pixel
    grid.  Returns (h, w) for grayscale, (h, w, 3) for palette (type 3,
    indices mapped through the PLTE chunk), (h, w, ch) otherwise —
    uint8 for depth 8, uint16 for depth 16 (big-endian samples
    reassembled).  Other bit depths raise NotImplementedError rather
    than guessing."""
    buf = bytes(content)
    if buf[:8] != _PNG_SIG:
        raise NotImplementedError("not a PNG stream")
    pos, ihdr, idat, plte = 8, None, [], None
    while pos + 8 <= len(buf):
        size = int.from_bytes(buf[pos : pos + 4], "big")
        ctype = buf[pos + 4 : pos + 8]
        body = buf[pos + 8 : pos + 8 + size]
        if len(body) != size:
            raise ValueError(f"truncated chunk {ctype!r}")
        crc = int.from_bytes(buf[pos + 8 + size : pos + 12 + size], "big")
        if crc != (zlib.crc32(ctype + body) & 0xFFFFFFFF):
            raise ValueError(f"CRC mismatch in chunk {ctype!r}")
        if ctype == b"IHDR":
            ihdr = body
        elif ctype == b"PLTE":
            if size % 3 != 0 or size == 0:
                raise ValueError("PLTE length not a positive multiple of 3")
            plte = body
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
        pos += 12 + size
    if ihdr is None or not idat:
        raise ValueError("missing IHDR or IDAT")
    w = int.from_bytes(ihdr[0:4], "big")
    h = int.from_bytes(ihdr[4:8], "big")
    depth, ctype_n, _comp, _filt, interlace = ihdr[8:13]
    paletted = ctype_n == 3
    if (
        (ctype_n not in _PNG_CHANNELS and not paletted)
        or (depth not in (8, 16))
        or (paletted and depth != 8)
        or interlace not in (0, 1)
    ):
        raise NotImplementedError(
            f"PNG depth={depth} color_type={ctype_n} interlace={interlace} "
            "not supported (8/16-bit gray/RGB/alpha, 8-bit palette, "
            "no-interlace or Adam7 only)"
        )
    if paletted and plte is None:
        raise ValueError("palette PNG without a PLTE chunk")
    ch = 1 if paletted else _PNG_CHANNELS[ctype_n]
    bpp = ch * depth // 8  # the filter left-offset is BYTES per pixel
    stride = w * bpp
    data = zlib.decompress(b"".join(idat))
    if interlace == 0:
        out, end = _unfilter_byte_rows(data, 0, h, stride, bpp)
        if end != len(data):
            raise ValueError("decompressed size does not match dimensions")
    else:  # Adam7: unfilter each pass independently, scatter into the grid
        grid = np.zeros((h, w, bpp), dtype=np.uint8)
        off = 0
        for x0, y0, xs, ys in _ADAM7:
            wp, hp = _adam7_dims(w, h, x0, y0, xs, ys)
            if wp == 0 or hp == 0:
                continue
            rows, off = _unfilter_byte_rows(data, off, hp, wp * bpp, bpp)
            grid[y0::ys, x0::xs, :] = rows.reshape(hp, wp, bpp)
        if off != len(data):
            raise ValueError("decompressed size does not match dimensions")
        out = grid.reshape(h, stride)
    if paletted:
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        idx = out.reshape(h, w)
        if int(idx.max(initial=0)) >= len(pal):
            raise ValueError("palette index out of range")
        return pal[idx]  # (h, w, 3)
    if depth == 16:  # reassemble big-endian u16 samples
        img16 = out.reshape(h * stride).view(">u2").astype(np.uint16)
        img16 = img16.reshape(h, w * ch)
        return img16.reshape(h, w) if ch == 1 else img16.reshape(h, w, ch)
    return out.reshape(h, w) if ch == 1 else out.reshape(h, w, ch)


# ------------------------------------------------------------- GIF codec
# Real LZW-compressed GIF87a, pure stdlib (the algorithm is public: the
# CompuServe GIF87a spec).  A second genuine compression family next to
# PNG's DEFLATE: variable-width LZW codes (clear/end codes, dictionary
# growth to 4096 then reset), LSB-first bit packing, <=255-byte data
# sub-blocks.  Single image, global color table, no interlace, no
# extensions — GIF89a animation/extensions stay an honest boundary.

_GIF_MAGIC = b"GIF87a"


def _gif_lzw_encode(indices, min_code_size: int) -> bytes:
    """LZW-compress an index sequence the way GIF defines it: start one
    bit wider than ``min_code_size``, emit a clear code first, grow the
    code width when the next code to be assigned would not fit, reset
    the dictionary at 4096."""
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    bitbuf = bitlen = 0

    def emit(code: int, width: int) -> None:
        nonlocal bitbuf, bitlen
        bitbuf |= code << bitlen
        bitlen += width
        while bitlen >= 8:
            out.append(bitbuf & 0xFF)
            bitbuf >>= 8
            bitlen -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    width = min_code_size + 1
    emit(clear, width)
    prefix = b""
    for sym in indices:
        cur = prefix + bytes([sym])
        if cur in table:
            prefix = cur
            continue
        emit(table[prefix], width)
        table[cur] = next_code
        next_code += 1
        if next_code > (1 << width) and width < 12:
            width += 1
        if next_code >= 4096:
            emit(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            next_code = end + 1
            width = min_code_size + 1
        prefix = bytes([sym])
    if prefix:
        emit(table[prefix], width)
    emit(end, width)
    if bitlen:
        out.append(bitbuf & 0xFF)
    return bytes(out)


def _gif_lzw_decode(data: bytes, min_code_size: int, expected: int) -> bytes:
    """Inverse of :func:`_gif_lzw_encode`, including the KwKwK case
    (a code one past the table refers to prefix+prefix[0])."""
    clear = 1 << min_code_size
    end = clear + 1
    pos = bitbuf = bitlen = 0

    def read(width: int) -> int:
        nonlocal pos, bitbuf, bitlen
        while bitlen < width:
            if pos >= len(data):
                raise ValueError("GIF: LZW stream truncated")
            bitbuf |= data[pos] << bitlen
            pos += 1
            bitlen += 8
        code = bitbuf & ((1 << width) - 1)
        bitbuf >>= width
        bitlen -= width
        return code

    out = bytearray()
    table: list[bytes] = []
    width = min_code_size + 1
    prev: bytes | None = None
    while True:
        code = read(width)
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = min_code_size + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # KwKwK
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError(f"GIF: LZW code {code} out of range")
        if prev is not None and len(table) >= (1 << width) and width < 12:
            width += 1
        out += entry
        prev = entry
        if len(out) > expected:
            raise ValueError("GIF: LZW output exceeds raster size")
    if len(out) != expected:
        raise ValueError("GIF: LZW output does not match raster size")
    return bytes(out)


_GIF_ILACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))  # (first row, step)


def _gif_interlace_order(h: int) -> list[int]:
    """Source-row order of an interlaced GIF raster (the four passes)."""
    return [r for first, step in _GIF_ILACE_PASSES for r in range(first, h, step)]


def encode_gif(idx, palette, *, interlace: bool = False,
               gif89a: bool = False) -> bytes:
    """Encode a paletted image as a genuine GIF: (h, w) uint8 index
    raster + (n, 3) uint8 RGB palette (n a power of two, 2..256) →
    header, logical screen descriptor with global color table, one image
    descriptor, REAL LZW-compressed raster in <=255-byte sub-blocks,
    trailer.  ``interlace=True`` writes the raster in the four-pass
    interlaced row order with the descriptor flag set; ``gif89a=True``
    stamps the 89a version and emits a Graphic Control Extension block
    before the image (the shape every animation-capable writer emits).
    Any GIF reader opens the output."""
    idx = np.asarray(idx)
    palette = np.asarray(palette, dtype=np.uint8)
    if idx.dtype != np.uint8 or idx.ndim != 2:
        raise ValueError("encode_gif expects a 2-D uint8 index array")
    n = len(palette)
    if palette.ndim != 2 or palette.shape[1] != 3 or n & (n - 1) or not 2 <= n <= 256:
        raise ValueError("palette must be (n, 3) uint8 with n a power of two in [2, 256]")
    if int(idx.max(initial=0)) >= n:
        raise ValueError("index raster references a color past the palette")
    h, w = idx.shape
    depth = max(n.bit_length() - 1, 1)  # bits per color index
    screen = (
        w.to_bytes(2, "little")
        + h.to_bytes(2, "little")
        + bytes([0x80 | ((depth - 1) << 4) | (depth - 1), 0, 0])
    )
    ext = b""
    if gif89a:
        # GCE: no transparency, no disposal, zero delay — pure 89a syntax
        ext = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    iflags = 0x40 if interlace else 0x00
    image_desc = (
        b"\x2c" + b"\x00" * 4
        + w.to_bytes(2, "little") + h.to_bytes(2, "little") + bytes([iflags])
    )
    raster = idx[_gif_interlace_order(h)] if interlace else idx
    min_code_size = max(depth, 2)
    lzw = _gif_lzw_encode(raster.reshape(-1).tolist(), min_code_size)
    blocks = bytearray([min_code_size])
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)  # block terminator
    magic = b"GIF89a" if gif89a else _GIF_MAGIC
    return (
        magic + screen + palette.tobytes() + ext + image_desc + bytes(blocks)
        + b"\x3b"
    )


def decode_gif(content: bytes) -> np.ndarray:
    """REAL GIF87a/89a FIRST-FRAME decode strictly from the blob bytes:
    header + screen descriptor parse, global color table, 89a extension
    blocks (GCE/comment/application) skipped by sub-block walk, image
    descriptor (local table honored if present), sub-block reassembly,
    LZW decompression, four-pass de-interlacing when the descriptor
    flags it, palette map to (h, w, 3) uint8.  Frames past the first are
    ignored (the still-image contract); a GCE transparency index raises
    NotImplementedError here because a lone frame has no RGB answer —
    animations, transparency and disposal composition are
    :func:`decode_gif_frames`'s contract."""
    buf = bytes(content)
    if buf[:6] not in (b"GIF87a", b"GIF89a"):
        raise NotImplementedError("not a GIF stream")
    if len(buf) < 13:
        raise ValueError("GIF: truncated header/screen descriptor")
    sw = int.from_bytes(buf[6:8], "little")
    sh = int.from_bytes(buf[8:10], "little")
    flags = buf[10]
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        if pos + 3 * n > len(buf):
            raise ValueError("GIF: truncated global color table")
        gct = np.frombuffer(buf, dtype=np.uint8, count=3 * n, offset=pos).reshape(n, 3)
        pos += 3 * n
    while True:
        if pos >= len(buf):
            raise ValueError("GIF: truncated before image descriptor")
        b0 = buf[pos]
        if b0 == 0x3B:  # trailer
            raise ValueError("GIF: no image data before trailer")
        if b0 == 0x21:  # 89a extension: label byte + sub-blocks, skipped
            if pos + 2 > len(buf):
                raise ValueError("GIF: truncated extension block")
            label = buf[pos + 1]
            pos += 2
            if label == 0xF9:  # GCE — peek the transparency flag first
                if pos + 2 > len(buf):
                    raise ValueError("GIF: truncated GCE")
                # first payload byte is the packed field whatever the
                # declared sub-block size — a nonstandard size must not
                # smuggle a transparency flag past this check
                if buf[pos] >= 1 and buf[pos + 1] & 0x01:
                    raise NotImplementedError(
                        "GIF transparency index not supported"
                    )
            while True:
                if pos >= len(buf):
                    raise ValueError("GIF: truncated extension sub-blocks")
                size = buf[pos]
                pos += 1
                if size == 0:
                    break
                if pos + size > len(buf):
                    raise ValueError("GIF: truncated extension sub-block")
                pos += size
            continue
        if b0 != 0x2C:
            raise ValueError(f"GIF: unexpected block 0x{b0:02x}")
        pos += 1
        break
    if pos + 9 > len(buf):
        raise ValueError("GIF: truncated image descriptor")
    w = int.from_bytes(buf[pos + 4 : pos + 6], "little")
    h = int.from_bytes(buf[pos + 6 : pos + 8], "little")
    iflags = buf[pos + 8]
    pos += 9
    interlaced = bool(iflags & 0x40)
    pal = gct
    if iflags & 0x80:  # local color table
        n = 2 << (iflags & 0x07)
        if pos + 3 * n > len(buf):
            raise ValueError("GIF: truncated local color table")
        pal = np.frombuffer(buf, dtype=np.uint8, count=3 * n, offset=pos).reshape(n, 3)
        pos += 3 * n
    if pal is None:
        raise ValueError("GIF: no color table")
    if pos >= len(buf):
        raise ValueError("GIF: truncated before LZW minimum code size")
    min_code_size = buf[pos]
    pos += 1
    lzw = bytearray()
    while True:
        if pos >= len(buf):
            raise ValueError("GIF: truncated inside data sub-blocks")
        size = buf[pos]
        pos += 1
        if size == 0:
            break
        if pos + size > len(buf):
            raise ValueError("GIF: truncated data sub-block")
        lzw += buf[pos : pos + size]
        pos += size
    idx = np.frombuffer(
        _gif_lzw_decode(bytes(lzw), min_code_size, w * h), dtype=np.uint8
    ).reshape(h, w)
    if interlaced:
        out = np.empty_like(idx)
        out[_gif_interlace_order(h)] = idx
        idx = out
    if int(idx.max(initial=0)) >= len(pal):
        raise ValueError("GIF: palette index out of range")
    del sw, sh
    return pal[idx]


# --- JPEG (baseline sequential JFIF, pure numpy + stdlib) -------------------
#
# A REAL ITU-T T.81 baseline codec: forward/inverse 8x8 DCT, quantization,
# zig-zag, run-length + canonical-Huffman entropy coding with byte stuffing,
# interleaved 4:4:4 MCUs, JFIF/DQT/SOF0/DHT/SOS marker parsing.  The encoder
# defaults to all-ones quantization tables: for rasters constant per 8x8
# block every DCT coefficient is an exact integer (DC = 8*(c-128), AC = 0),
# so decode(encode(img)) == img EXACTLY and the oracle stays closed-form —
# while the bitstream is a genuine Huffman-coded JPEG any decoder reads.
# Honest boundaries (each raises NotImplementedError): progressive (SOF2),
# arithmetic coding (SOF9+), 12-bit precision, chroma subsampling other
# than 4:4:4, 16-bit quant tables, restart intervals.

# Annex K "typical" Huffman tables: (bits[1..16], huffval).  Correctness
# does not hinge on these matching the standard byte-for-byte — the encoder
# WRITES them into DHT and the decoder builds its tables FROM the file —
# but the canonical prefix of the luma tables is pinned against
# hand-derived spec codes in tests/test_multimodal.py.
_JPG_DC_L = (
    (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0),
    tuple(range(12)),
)
_JPG_DC_C = (
    (0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0),
    tuple(range(12)),
)
_JPG_AC_L = (
    (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125),
    (
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ),
)
_JPG_AC_C = (
    (0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119),
    (
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ),
)


def _jpg_zigzag() -> list[int]:
    """The 64 zig-zag positions as row*8+col, generated from the diagonal
    walk (even diagonals run bottom-left -> top-right) rather than
    hardcoded."""
    order = []
    for s in range(15):
        rng = range(max(0, s - 7), min(7, s) + 1)
        for r in (reversed(rng) if s % 2 == 0 else rng):
            order.append(r * 8 + (s - r))
    return order


_JPG_ZZ = _jpg_zigzag()
_JPG_UNZZ = [0] * 64
for _i, _p in enumerate(_JPG_ZZ):
    _JPG_UNZZ[_p] = _i
del _i, _p


def _jpg_dct_mat() -> np.ndarray:
    """Orthonormal 8-point DCT-II matrix D (D @ f @ D.T is exactly the
    T.81 FDCT; D.T @ F @ D the IDCT)."""
    x = np.arange(8, dtype=np.float64)
    u = x.reshape(8, 1)
    m = np.cos((2 * x + 1) * u * np.pi / 16)
    m[0] *= 1.0 / np.sqrt(2.0)
    return m * 0.5


_JPG_D = _jpg_dct_mat()


_HUFF_ENC_CACHE: dict[tuple[bytes, bytes], dict[int, tuple[int, int]]] = {}


def _huff_encode_table(bits, values) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) from the canonical (bits, huffval) form.
    Memoized: encoders build the same four T.81 Annex K tables for every
    blob, and a corpus encode pass calls this per frame."""
    key = (bytes(bits), bytes(values))
    cached = _HUFF_ENC_CACHE.get(key)
    if cached is not None:
        return cached
    out: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[values[k]] = (code, ln)
            k += 1
            code += 1
        code <<= 1
    if len(_HUFF_ENC_CACHE) >= 64:
        # real-world corpora carry per-image optimized tables; an
        # unbounded memo would leak one dict per image per worker.
        # A bulk reset keeps the four Annex K tables one rebuild away.
        _HUFF_ENC_CACHE.clear()
    _HUFF_ENC_CACHE[key] = out
    return out


class _JpgBitWriter:
    """MSB-first bit accumulator with 0xFF byte stuffing.  Bits are
    appended a whole code at a time (not bit-by-bit) — output is
    byte-identical to the naive shift loop, ~4x faster on entropy-dense
    streams."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, val: int, nbits: int) -> None:
        acc = (self.acc << nbits) | (val & ((1 << nbits) - 1))
        n = self.n + nbits
        out = self.out
        while n >= 8:
            n -= 8
            b = (acc >> n) & 0xFF
            out.append(b)
            if b == 0xFF:
                out.append(0x00)
        self.acc = acc & ((1 << n) - 1)
        self.n = n

    def flush(self) -> None:
        if self.n:  # pad final byte with 1-bits (T.81 convention)
            self.write((1 << (8 - self.n)) - 1, 8 - self.n)


def _jpg_encode_block(bw: _JpgBitWriter, zz, pred: int, dctab, actab,
                      last: int | None = None) -> int:
    diff = int(zz[0]) - pred
    s = abs(diff).bit_length()
    code, ln = dctab[s]
    bw.write(code, ln)
    if s:
        bw.write(diff if diff > 0 else diff + (1 << s) - 1, s)
    if last is None:  # callers may precompute the last nonzero AC index
        last = 63
        while last >= 1 and zz[last] == 0:
            last -= 1
    run = 0
    for i in range(1, last + 1):
        v = int(zz[i])
        if v == 0:
            run += 1
            continue
        while run > 15:
            zc, zl = actab[0xF0]  # ZRL
            bw.write(zc, zl)
            run -= 16
        s = abs(v).bit_length()
        sym = (run << 4) | s
        if sym not in actab:
            raise ValueError(f"JPEG: AC (run={run}, size={s}) outside table")
        ac, al = actab[sym]
        bw.write(ac, al)
        bw.write(v if v > 0 else v + (1 << s) - 1, s)
        run = 0
    if last < 63:
        ec, el = actab[0x00]  # EOB
        bw.write(ec, el)
    return int(zz[0])


def _jpg_rgb_to_ycc(img: np.ndarray) -> np.ndarray:
    r, g, b = (img[:, :, i].astype(np.float64) for i in range(3))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = (b - y) / 1.772 + 128.0
    cr = (r - y) / 1.402 + 128.0
    return np.clip(np.round(np.stack([y, cb, cr], axis=2)), 0, 255).astype(np.uint8)


def _jpg_ycc_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y, cb, cr = (ycc[:, :, i].astype(np.float64) for i in range(3))
    r = y + 1.402 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    g = y - (0.299 * 1.402 / 0.587) * (cr - 128.0) - (
        0.114 * 1.772 / 0.587
    ) * (cb - 128.0)
    return np.clip(np.round(np.stack([r, g, b], axis=2)), 0, 255).astype(np.uint8)


def _seg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body


_JPG_SAMPLING = {"444": ((1, 1), (1, 1), (1, 1)),
                 "422": ((2, 1), (1, 1), (1, 1)),
                 "420": ((2, 2), (1, 1), (1, 1))}



def _edge_pad_f64(plane: np.ndarray, ph: int, pw: int) -> np.ndarray:
    """Edge-replicated pad of a 2-D array to (ph, pw) as float64 — same
    result as np.pad(mode="edge") but via two slice fills (np.pad's
    generic machinery dominates the encode profile on tiny planes)."""
    h, w = plane.shape
    out = np.empty((ph, pw), dtype=np.float64)
    out[:h, :w] = plane
    if pw > w:
        out[:h, w:] = out[:h, w - 1 : w]
    if ph > h:
        out[h:, :] = out[h - 1 : h, :]
    return out


def _jpg_plane_blocks_mcu(plane: np.ndarray, q: np.ndarray,
                          mcux: int, mcuy: int, sh: int, sv: int) -> np.ndarray:
    """Quantized zig-zag coefficients for one component, block rows/cols
    padded (edge-replicated) to the MCU grid: returns (mcuy*sv, mcux*sh,
    64) so the MCU writer can index blocks positionally."""
    h, w = plane.shape
    ph, pw = mcuy * sv * 8, mcux * sh * 8
    p = _edge_pad_f64(plane, ph, pw)
    p -= 128.0
    blocks = (
        p.reshape(ph // 8, 8, pw // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    )
    # (D @ B) @ D.T == einsum("ux,nxy,vy->nuv", D, B, D) — the batched
    # matmul form is ~8x faster at the tiny block counts of small frames
    coef = (_JPG_D @ blocks) @ _JPG_D.T
    qz = np.round(coef / q).astype(np.int64).reshape(-1, 64)[:, _JPG_ZZ]
    return qz.reshape(ph // 8, pw // 8, 64)


def _jpg_subsample(plane: np.ndarray, fh: int, fw: int) -> np.ndarray:
    """fh×fw box-average subsampling (the JFIF downsample), edge-padding
    odd dimensions first so every box is full."""
    if fh == 1 and fw == 1:
        return plane
    h, w = plane.shape
    ph, pw = (h + fh - 1) // fh * fh, (w + fw - 1) // fw * fw
    p = _edge_pad_f64(plane, ph, pw)
    boxes = p.reshape(ph // fh, fh, pw // fw, fw).mean(axis=(1, 3))
    return np.clip(np.round(boxes), 0, 255).astype(np.uint8)


def encode_jpeg(img: np.ndarray, quant: np.ndarray | None = None,
                chroma_quant: np.ndarray | None = None,
                subsampling: str = "444",
                restart_interval: int = 0) -> bytes:
    """Encode a (h, w) grayscale or (h, w, 3) RGB uint8 raster as a REAL
    baseline sequential JFIF stream.  ``quant`` defaults to all-ones (the
    closed-form-exact setting for block-constant rasters); pass the Annex
    K tables (or any 8-bit table) for genuinely lossy output.  Color uses
    interleaved MCUs with separate luma/chroma Huffman tables;
    ``subsampling`` picks the chroma layout — "444" (one block per
    component per MCU), "422", or "420" (the 2×2-luma 16×16-MCU layout
    real-world JPEGs ship), with box-average chroma downsampling.
    ``restart_interval`` > 0 emits a DRI segment and a byte-aligned
    RSTn marker (modulo-8 sequence, T.81 §E.1.2) after every that many
    MCUs, resetting the DC predictors — the resync feature every camera
    JPEG ships."""
    img = np.asarray(img, dtype=np.uint8)
    gray = img.ndim == 2
    if not gray and (img.ndim != 3 or img.shape[2] != 3):
        raise ValueError("encode_jpeg expects (h, w) or (h, w, 3) uint8")
    if subsampling not in _JPG_SAMPLING:
        raise ValueError(f"unknown subsampling {subsampling!r}")
    h, w = img.shape[:2]
    if h == 0 or w == 0 or h > 65535 or w > 65535:
        raise ValueError("JPEG: bad dimensions")
    q0 = np.ones((8, 8), dtype=np.int64) if quant is None else np.asarray(
        quant, dtype=np.int64
    )
    q1 = q0 if chroma_quant is None else np.asarray(chroma_quant, dtype=np.int64)
    if (q0 < 1).any() or (q0 > 255).any() or (q1 < 1).any() or (q1 > 255).any():
        raise ValueError("JPEG: 8-bit quant tables only")
    if not (0 <= restart_interval <= 65535):
        raise ValueError("JPEG: restart interval must be in 0..65535")

    samp = ((1, 1),) if gray else _JPG_SAMPLING[subsampling]
    max_h = max(s[0] for s in samp)
    max_v = max(s[1] for s in samp)
    mcux = (w + 8 * max_h - 1) // (8 * max_h)
    mcuy = (h + 8 * max_v - 1) // (8 * max_v)
    if gray:
        planes = [img]
    else:
        ycc = _jpg_rgb_to_ycc(img)
        planes = [
            _jpg_subsample(ycc[:, :, i], max_v // sv, max_h // sh)
            for i, (sh, sv) in enumerate(samp)
        ]
    qtabs = [q0] if gray else [q0, q1, q1]
    dc_t = [_JPG_DC_L] if gray else [_JPG_DC_L, _JPG_DC_C, _JPG_DC_C]
    ac_t = [_JPG_AC_L] if gray else [_JPG_AC_L, _JPG_AC_C, _JPG_AC_C]
    dc_enc = [_huff_encode_table(*t) for t in dc_t]
    ac_enc = [_huff_encode_table(*t) for t in ac_t]

    # nested python lists: the per-block entropy loop below touches every
    # coefficient as a scalar, and list indexing beats numpy scalar boxing
    # ~10x on that access pattern (output unchanged); the last-nonzero-AC
    # index per block is precomputed vectorized so the entropy loop never
    # tail-scans 63 zero coefficients (the common case on smooth blocks)
    comp_zz, comp_last = [], []
    for pl, q, (sh, sv) in zip(planes, qtabs, samp):
        arr = _jpg_plane_blocks_mcu(pl, q, mcux, mcuy, sh, sv)
        nz = arr[:, :, 1:] != 0
        comp_zz.append(arr.tolist())
        comp_last.append(
            np.where(
                nz.any(-1), 63 - np.argmax(nz[:, :, ::-1], axis=-1), 0
            ).tolist()
        )

    out = bytearray(b"\xff\xd8")  # SOI
    out += _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    zz_q0 = bytes(int(q0.reshape(64)[p]) for p in _JPG_ZZ)
    out += _seg(0xDB, b"\x00" + zz_q0)
    if not gray:
        zz_q1 = bytes(int(q1.reshape(64)[p]) for p in _JPG_ZZ)
        out += _seg(0xDB, b"\x01" + zz_q1)
    ncomp = 1 if gray else 3
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([ncomp])
    for c in range(ncomp):
        sh, sv = samp[c]
        sof += bytes([c + 1, (sh << 4) | sv, 0 if c == 0 else 1])
    out += _seg(0xC0, sof)
    dht = b""
    tables = [(0x00, _JPG_DC_L), (0x10, _JPG_AC_L)]
    if not gray:
        tables += [(0x01, _JPG_DC_C), (0x11, _JPG_AC_C)]
    for tid, (bits, values) in tables:
        dht += bytes([tid]) + bytes(bits) + bytes(values)
    out += _seg(0xC4, dht)
    if restart_interval:
        out += _seg(0xDD, restart_interval.to_bytes(2, "big"))
    sos = bytes([ncomp])
    for c in range(ncomp):
        sos += bytes([c + 1, 0x00 if c == 0 else 0x11])
    sos += b"\x00\x3f\x00"
    out += _seg(0xDA, sos)

    bw = _JpgBitWriter()
    preds = [0] * ncomp
    mcus_done, rst_n = 0, 0
    for my in range(mcuy):  # interleaved MCUs: sh×sv blocks per component
        for mx in range(mcux):
            for c in range(ncomp):
                sh, sv = samp[c]
                for v in range(sv):
                    for u in range(sh):
                        preds[c] = _jpg_encode_block(
                            bw, comp_zz[c][my * sv + v][mx * sh + u],
                            preds[c], dc_enc[c], ac_enc[c],
                            comp_last[c][my * sv + v][mx * sh + u],
                        )
            mcus_done += 1
            if (
                restart_interval
                and mcus_done % restart_interval == 0
                and mcus_done < mcux * mcuy  # no RST after the final MCU
            ):
                bw.flush()  # byte-align (1-bit pad, stuffing applies)
                bw.out += bytes([0xFF, 0xD0 + rst_n % 8])
                rst_n += 1
                preds = [0] * ncomp  # DC predictors reset at every restart
    bw.flush()
    out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


class _JpgBitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00 byte
    unstuffing; any real marker inside the scan is a hard stop.

    Bits are buffered in a small accumulator refilled a byte at a time;
    a refill that runs into a marker or the buffer end RECORDS the stop
    reason instead of raising, so ``peek16`` can look ahead across the
    end of the scan (zero-padded) — the error is raised only when a
    CONSUME actually needs bits past the stop, which reproduces the
    naive reader's behavior exactly (same messages, same trigger
    points, since a valid symbol always completes within real bits)."""

    def __init__(self, buf: bytes, pos: int) -> None:
        self.buf = buf
        self.pos = pos
        self.acc = 0
        self.n = 0
        self.stop: str | None = None

    def _refill(self) -> None:
        # pull bytes until >= 17 bits buffered (one 16-bit peek plus one
        # spare so a skip never immediately re-refills) or the scan stops
        while self.n < 17 and self.stop is None:
            if self.pos >= len(self.buf):
                self.stop = "JPEG: truncated entropy-coded data"
                return
            b = self.buf[self.pos]
            if b == 0xFF:
                if self.pos + 1 >= len(self.buf):
                    self.stop = "JPEG: truncated after 0xFF"
                    return
                nxt = self.buf[self.pos + 1]
                if nxt == 0x00:
                    self.pos += 2
                elif 0xD0 <= nxt <= 0xD7:
                    # a restart marker is only legal at an MCU boundary,
                    # where the decode loop consumes it via restart();
                    # do NOT consume it here
                    self.stop = "JPEG: restart marker mid-block"
                    return
                else:
                    self.stop = "JPEG: scan data ended mid-block"
                    return
            else:
                self.pos += 1
            self.acc = (self.acc << 8) | b
            self.n += 8

    def peek16(self) -> tuple[int, int]:
        """(next 16 bits MSB-aligned zero-padded, real bits available)."""
        if self.n < 17:
            self._refill()
        n = self.n
        if n >= 16:
            return (self.acc >> (n - 16)) & 0xFFFF, 16
        return (self.acc << (16 - n)) & 0xFFFF, n

    def skip(self, k: int) -> None:
        """Consume k real bits (refilled already by peek16)."""
        if k > self.n:
            raise ValueError(self.stop or "JPEG: truncated entropy-coded data")
        self.n -= k
        self.acc &= (1 << self.n) - 1

    def bit(self) -> int:
        if self.n == 0:
            self._refill()
            if self.n == 0:
                raise ValueError(self.stop)
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        if k == 0:
            return 0
        if self.n < k:
            self._refill()
            if self.n < k:
                # _refill caps the buffer at 17 bits without setting stop,
                # so k > 17 (a corrupt DHT mapping a symbol to an absurd
                # magnitude category) must not surface as ValueError(None)
                raise ValueError(
                    self.stop or "JPEG: invalid magnitude category"
                )
        self.n -= k
        v = (self.acc >> self.n) & ((1 << k) - 1)
        self.acc &= (1 << self.n) - 1
        return v

    def restart(self, expect: int) -> None:
        """Consume one byte-aligned RSTn marker at an MCU boundary:
        discard the 1-bit pad of the current byte, then require the
        modulo-8 marker the T.81 sequence expects (a skipped or
        out-of-order RST means lost MCUs — corrupt, not unsupported)."""
        self.n = 0  # byte-align: remaining bits are encoder pad
        if self.pos + 2 > len(self.buf):
            raise ValueError("JPEG: truncated at restart marker")
        b0, b1 = self.buf[self.pos], self.buf[self.pos + 1]
        if b0 != 0xFF or not (0xD0 <= b1 <= 0xD7):
            raise ValueError("JPEG: expected restart marker")
        if b1 - 0xD0 != expect:
            raise ValueError(
                f"JPEG: restart marker out of sequence "
                f"(got RST{b1 - 0xD0}, expected RST{expect})"
            )
        self.pos += 2
        self.acc = 0
        self.stop = None  # the marker that stopped refills is consumed


_HUFF_DEC_CACHE: dict[tuple[bytes, bytes], list[int]] = {}


def _huff_decode_table(bits, values) -> list[int]:
    """Canonical (bits, huffval) form -> a 65536-entry first-16-bits ->
    (symbol << 5 | code length) lookup list (-1 = invalid): every code
    is a prefix of the 16-bit window, so one peek + one index replaces
    the per-bit tree walk.  Memoized by the canonical key with a
    bounded bulk-reset cache — real-world corpora ship per-image
    optimized DHT tables, and an unbounded memo would leak one ~0.5 MB
    list per table per worker process."""
    key = (bytes(bits), bytes(values))
    cached = _HUFF_DEC_CACHE.get(key)
    if cached is not None:
        return cached
    lut = [-1] * 65536
    code, k = 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            if code >= (1 << ln):
                # an oversubscribed DHT would otherwise silently append
                # unreachable entries past the end of the 65536-entry LUT
                raise ValueError(
                    "JPEG: invalid DHT (oversubscribed code lengths)"
                )
            base = code << (16 - ln)
            packed = (values[k] << 5) | ln
            lut[base : base + (1 << (16 - ln))] = [packed] * (1 << (16 - ln))
            k += 1
            code += 1
        code <<= 1
    if len(_HUFF_DEC_CACHE) >= 64:
        _HUFF_DEC_CACHE.clear()
    _HUFF_DEC_CACHE[key] = lut
    return lut


def _jpg_read_symbol(br: _JpgBitReader, lut: list[int]) -> int:
    v, avail = br.peek16()
    packed = lut[v]
    if packed < 0:
        # fewer than 16 real bits left cannot be blamed on the code —
        # the stream stopped mid-symbol
        raise ValueError(
            br.stop if avail < 16 else "JPEG: invalid Huffman code"
        )
    ln = packed & 31
    if ln > avail:
        raise ValueError(br.stop)
    br.skip(ln)
    return packed >> 5


def _jpg_extend(v: int, s: int) -> int:
    """T.81 EXTEND: map s received magnitude bits to a signed value."""
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def decode_jpeg(content: bytes) -> np.ndarray:
    """REAL baseline sequential JPEG decode strictly from the blob bytes:
    marker walk (APPn/COM skipped), DQT/DHT table construction FROM THE
    FILE, SOF0 frame parse, interleaved Huffman+RLE entropy decode,
    dequantize, un-zig-zag, IDCT, level shift, chroma upsample
    (replication — the box-downsample's adjoint), YCbCr->RGB.  Handles
    4:4:4, 4:2:2 and 4:2:0 MCU interleaves (any sampling factors in
    1..2).  Returns (h, w) uint8 for 1-component streams, (h, w, 3)
    uint8 for 3.  Restart intervals (DRI/RSTn) are supported: the bit
    reader byte-aligns and consumes the modulo-8 marker at each boundary
    and the DC predictors reset.  PROGRESSIVE (SOF2) streams are decoded
    for real — multi-scan spectral selection AND successive
    approximation per T.81 Annex G: DC first/refine scans (interleaved),
    per-component AC first/refine scans with EOB-run decoding and
    correction bits, coefficients accumulated across scans and
    dequantized/IDCTed at EOI.  The unimplemented corners raise
    NotImplementedError by name: arithmetic coding, hierarchical and
    lossless frame types, 12-bit precision, 16-bit quant tables,
    sampling factors beyond 2, restart intervals inside progressive
    scans."""
    buf = bytes(content)
    if buf[:2] != b"\xff\xd8":
        raise NotImplementedError("not a JPEG stream")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    hufftabs: dict[tuple[int, int], dict] = {}
    frame = None
    restart_interval = 0
    progressive = False
    prog_zz = None      # per-component zig-zag coefficient accumulators
    prog_scans = 0
    while True:
        if pos + 2 > len(buf):
            raise ValueError("JPEG: truncated before SOS")
        if buf[pos] != 0xFF:
            raise ValueError(f"JPEG: expected marker, got 0x{buf[pos]:02x}")
        marker = buf[pos + 1]
        if marker == 0xFF:  # fill byte before a marker
            pos += 1
            continue
        pos += 2
        if marker == 0xD8 or 0xD0 <= marker <= 0xD7:  # SOI / RSTn: no body
            continue
        if marker == 0xD9:
            if progressive and prog_scans:
                break  # EOI ends the multi-scan stream
            raise ValueError("JPEG: EOI before scan data")
        if pos + 2 > len(buf):
            raise ValueError("JPEG: truncated segment header")
        seglen = int.from_bytes(buf[pos : pos + 2], "big")
        body = buf[pos + 2 : pos + seglen]
        if len(body) != seglen - 2:
            raise ValueError("JPEG: truncated segment body")
        pos += seglen
        if marker == 0xDB:  # DQT, possibly several tables per segment
            o = 0
            while o < len(body):
                pq, tq = body[o] >> 4, body[o] & 0x0F
                if pq != 0:
                    raise NotImplementedError("JPEG 16-bit quant tables")
                if o + 65 > len(body):
                    raise ValueError("JPEG: truncated DQT")
                t = np.zeros(64, dtype=np.int64)
                for i in range(64):
                    t[_JPG_ZZ[i]] = body[o + 1 + i]
                qtabs[tq] = t.reshape(8, 8)
                o += 65
        elif marker == 0xC4:  # DHT, possibly several tables per segment
            o = 0
            while o < len(body):
                if o + 17 > len(body):
                    raise ValueError("JPEG: truncated DHT header")
                tc, th = body[o] >> 4, body[o] & 0x0F
                bits = tuple(body[o + 1 : o + 17])
                n = sum(bits)
                vals = tuple(body[o + 17 : o + 17 + n])
                if len(vals) != n:
                    raise ValueError("JPEG: truncated DHT")
                hufftabs[(tc, th)] = _huff_decode_table(bits, vals)
                o += 17 + n
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            if len(body) < 6 or len(body) < 6 + 3 * body[5]:
                raise ValueError("JPEG: truncated SOF")
            prec, fh, fw, nc = body[0], int.from_bytes(
                body[1:3], "big"
            ), int.from_bytes(body[3:5], "big"), body[5]
            if prec != 8:
                raise NotImplementedError(f"JPEG precision {prec}")
            comps = []
            for c in range(nc):
                cid, samp, tq = body[6 + 3 * c : 9 + 3 * c]
                sh, sv = samp >> 4, samp & 0x0F
                if not (1 <= sh <= 2 and 1 <= sv <= 2):
                    raise NotImplementedError(
                        f"JPEG sampling factors {sh}x{sv} (1..2 supported)"
                    )
                comps.append((cid, tq, sh, sv))
            frame = (fh, fw, comps)
            progressive = marker == 0xC2
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            kind = (
                "arithmetic-coded" if marker >= 0xC9 else "non-baseline"
            )
            raise NotImplementedError(f"JPEG {kind} frame (SOF{marker - 0xC0})")
        elif marker == 0xDD:  # DRI: restart every Ri MCUs (0 disables)
            if len(body) != 2:
                raise ValueError("JPEG: bad DRI segment")
            restart_interval = int.from_bytes(body, "big")
        elif marker == 0xDA:  # SOS: entropy-coded data follows
            if frame is None:
                raise ValueError("JPEG: SOS before SOF")
            if len(body) < 1 or len(body) < 1 + 2 * body[0] + 3:
                raise ValueError("JPEG: truncated SOS header")
            ns = body[0]
            scan = []
            for c in range(ns):
                cs, tt = body[1 + 2 * c], body[2 + 2 * c]
                scan.append((cs, tt >> 4, tt & 0x0F))
            if not progressive:
                break
            if restart_interval:
                raise NotImplementedError(
                    "JPEG restart intervals inside progressive scans"
                )
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ah, al = body[3 + 2 * ns] >> 4, body[3 + 2 * ns] & 0x0F
            fh, fw, comps = frame
            max_h = max(c[2] for c in comps)
            max_v = max(c[3] for c in comps)
            mcux = (fw + 8 * max_h - 1) // (8 * max_h)
            mcuy = (fh + 8 * max_v - 1) // (8 * max_v)
            if prog_zz is None:
                prog_zz = [
                    np.zeros((mcuy * sv, mcux * sh, 64), dtype=np.int64)
                    for (_, _, sh, sv) in comps
                ]
            pos = _prog_decode_scan(
                buf, pos, frame, (mcux, mcuy, max_h, max_v),
                scan, ss, se, ah, al, hufftabs, prog_zz,
            )
            prog_scans += 1
            continue
        # APPn / COM / anything else with a length: skipped
    fh, fw, comps = frame
    max_h = max(c[2] for c in comps)
    max_v = max(c[3] for c in comps)
    mcux = (fw + 8 * max_h - 1) // (8 * max_h)
    mcuy = (fh + 8 * max_v - 1) // (8 * max_v)
    ncomp = len(comps)
    if progressive:
        # all scans consumed: dequantize the accumulated coefficients
        coefs = []
        for ci, (_, tq, sh, sv) in enumerate(comps):
            if tq not in qtabs:
                raise ValueError(f"JPEG: missing quant table {tq}")
            nat = np.zeros_like(prog_zz[ci])
            nat[..., _JPG_ZZ] = prog_zz[ci]
            coefs.append(
                nat.reshape(nat.shape[0], nat.shape[1], 8, 8) * qtabs[tq]
            )
        return _jpg_idct_planes(coefs, comps, fh, fw, max_h, max_v)
    if len(scan) != len(comps):
        raise NotImplementedError("JPEG multi-scan baseline streams")
    br = _JpgBitReader(buf, pos)
    comp_cfg = []
    for (cid, tq, sh, sv), (scid, td, ta) in zip(comps, scan):
        if cid != scid:
            raise ValueError("JPEG: scan/frame component mismatch")
        try:
            cfg = (hufftabs[(0, td)], hufftabs[(1, ta)], qtabs[tq], sh, sv)
        except KeyError as e:
            raise ValueError(f"JPEG: missing table {e}") from None
        comp_cfg.append(cfg)
    ncomp = len(comps)
    coefs = [
        np.zeros((mcuy * sv, mcux * sh, 8, 8), dtype=np.int64)
        for (_, _, _, sh, sv) in comp_cfg
    ]
    preds = [0] * ncomp

    def read_block(dct, act, q):
        zz = np.zeros(64, dtype=np.int64)
        s = _jpg_read_symbol(br, dct)
        if s > 11:
            raise ValueError("JPEG: bad DC category")
        diff = _jpg_extend(br.bits(s), s) if s else 0
        zz_dc = diff
        k = 1
        while k < 64:
            sym = _jpg_read_symbol(br, act)
            if sym == 0x00:  # EOB
                break
            run, size = sym >> 4, sym & 0x0F
            if size == 0:
                if run != 15:
                    raise ValueError("JPEG: bad AC symbol")
                k += 16  # ZRL
                continue
            k += run
            if k > 63:
                raise ValueError("JPEG: AC run past block end")
            zz[k] = _jpg_extend(br.bits(size), size)
            k += 1
        return zz_dc, zz

    mcus_done, rst_n = 0, 0
    for my in range(mcuy):  # interleaved MCUs: sh×sv blocks per component
        for mx in range(mcux):
            for c, (dct, act, q, sh, sv) in enumerate(comp_cfg):
                for v in range(sv):
                    for u in range(sh):
                        diff, zz = read_block(dct, act, q)
                        preds[c] += diff
                        zz[0] = preds[c]
                        blk = np.zeros(64, dtype=np.int64)
                        blk[_JPG_ZZ] = zz
                        coefs[c][my * sv + v, mx * sh + u] = (
                            blk.reshape(8, 8) * q
                        )
            mcus_done += 1
            if (
                restart_interval
                and mcus_done % restart_interval == 0
                and mcus_done < mcux * mcuy
            ):
                br.restart(rst_n % 8)
                rst_n += 1
                preds = [0] * ncomp  # predictors reset with the bit stream
    return _jpg_idct_planes(coefs, comps, fh, fw, max_h, max_v)


def _jpg_idct_planes(coefs, comps, fh, fw, max_h, max_v) -> np.ndarray:
    """Shared decode tail for the baseline and progressive paths:
    dequantized natural-order coefficient grids → IDCT → level shift →
    crop to each component's true extent → replication upsample →
    grayscale plane or YCbCr→RGB."""
    ncomp = len(comps)
    planes = []
    for c, (_, _, sh, sv) in enumerate(comps):
        bh, bw_ = coefs[c].shape[:2]
        # (D.T @ C) @ D == einsum("xu,nuv,yv->nxy", D.T, C, D.T) — the
        # batched matmul form avoids einsum's per-call planning overhead
        px = (
            _JPG_D.T @ coefs[c].reshape(-1, 8, 8).astype(np.float64)
        ) @ _JPG_D + 128.0
        full = (
            px.reshape(bh, bw_, 8, 8).transpose(0, 2, 1, 3).reshape(bh * 8, bw_ * 8)
        )
        # crop to the component's true extent, then replicate back up to
        # the full frame (the box-downsample's adjoint)
        ch = (fh * sv + max_v - 1) // max_v
        cw = (fw * sh + max_h - 1) // max_h
        comp = np.clip(np.round(full[:ch, :cw]), 0, 255).astype(np.uint8)
        up = np.repeat(np.repeat(comp, max_v // sv, axis=0), max_h // sh, axis=1)
        planes.append(up[:fh, :fw])
    if ncomp == 1:
        return planes[0]
    if ncomp == 3:
        return _jpg_ycc_to_rgb(np.stack(planes, axis=2))
    raise NotImplementedError(f"JPEG with {ncomp} components")


def documents_as_png_assets(docs: DataFrame) -> DataFrame:
    """Compressed-format asset table: per document, a deterministic
    (8+id%7) × (8+id%9) RGB raster (``v[i] = (id*K + i) % 256`` over the
    flattened h·w·3 samples — SQL-recomputable) ENCODED AS A GENUINE PNG
    in the Arrow kernel, with ``filter_per_line=True`` so every blob
    exercises all five scanline filters.  The blob is a real compressed
    image file, born distributed."""

    def png(aid: int) -> bytes:
        w, h = 8 + aid % 9, 8 + aid % 7
        img = _flat_raster(aid, h * w * 3).astype(np.uint8).reshape(h, w, 3)
        return encode_png(img, filter_per_line=True)

    return _asset_table(docs, "image", "image/png", png)


# Closed-form 16-color palette of the paletted gates (PNG type 3, GIF):
# channel c of entry p is (p*m_c + b_c) % 256 with m = (37, 59, 83),
# b = (11, 7, 3) — SQL-recomputable without a palette table.
_PNG_PAL_N = 16
_PALETTE = np.stack(
    [(np.arange(_PNG_PAL_N) * m + b) % 256
     for m, b in zip((37, 59, 83), (11, 7, 3))],
    axis=1,
).astype(np.uint8)


def _index_raster(aid: int, w: int, h: int) -> np.ndarray:
    """(h, w) uint8 palette-index raster ``idx[i] = (aid*K + i) % 16``."""
    return _flat_raster(aid, h * w, _PNG_PAL_N).astype(np.uint8).reshape(h, w)


def documents_as_palette_png_assets(docs: DataFrame) -> DataFrame:
    """Color-type-3 asset table: per document, a deterministic
    (8+id%5) × (8+id%8) INDEX raster (``idx[i] = (id*K + i) % 16``) and
    the closed-form 16-color palette, encoded as a genuine paletted PNG
    (PLTE chunk + filtered index scanlines, ``filter_per_line=True``)."""

    def png(aid: int) -> bytes:
        idx = _index_raster(aid, 8 + aid % 8, 8 + aid % 5)
        return encode_png_palette(idx, _PALETTE, filter_per_line=True)

    return _asset_table(docs, "image", "image/png", png)


def documents_as_png16_assets(docs: DataFrame) -> DataFrame:
    """Depth-16 asset table: per document, a deterministic
    (8+id%10) × (8+id%6) RGB raster of FULL-RANGE 16-bit samples
    (``v[i] = (id*K + i) % 65536`` over the flattened h·w·3 samples —
    SQL-recomputable) encoded as a genuine 16-bit PNG
    (``filter_per_line=True``: the byte-level filters run at bpp=6)."""

    def png(aid: int) -> bytes:
        w, h = 8 + aid % 6, 8 + aid % 10
        v = _flat_raster(aid, h * w * 3, 65536)
        return encode_png(v.astype(np.uint16).reshape(h, w, 3),
                          filter_per_line=True)

    return _asset_table(docs, "image", "image/png", png)


def documents_as_adam7_png_assets(docs: DataFrame) -> DataFrame:
    """Adam7-interlaced asset table: per document, a deterministic
    (8+id%13) × (8+id%3) RGB raster (``v[i] = (id*K + i) % 256`` —
    SQL-recomputable) encoded as a genuine INTERLACED PNG
    (``interlace=True``, ``filter_per_line=True``: all seven passes
    present for these dims, each pass filtering independently with the
    full five-type rotation)."""

    def png(aid: int) -> bytes:
        w, h = 8 + aid % 13, 8 + aid % 3
        img = _flat_raster(aid, h * w * 3).astype(np.uint8).reshape(h, w, 3)
        return encode_png(img, filter_per_line=True, interlace=True)

    return _asset_table(docs, "image", "image/png", png)


def documents_as_gif_assets(docs: DataFrame) -> DataFrame:
    """GIF87a asset table: per document, a deterministic (8+id%4) ×
    (8+id%12) INDEX raster (``idx[i] = (id*K + i) % 16``) and the same
    closed-form 16-color palette as the paletted-PNG gate, encoded as a
    genuine LZW-compressed GIF87a."""
    return _asset_table(
        docs, "image", "image/gif",
        lambda aid: encode_gif(_index_raster(aid, 8 + aid % 12, 8 + aid % 4),
                               _PALETTE),
    )


def documents_as_gif89a_assets(docs: DataFrame) -> DataFrame:
    """GIF89a INTERLACED asset table: per document, a deterministic
    (8+id%11) × (8+id%6) index raster (``idx[i] = (id*K + i) % 16`` over
    the row-major grid) with the closed-form 16-color palette, encoded as
    a genuine 89a stream — Graphic Control Extension block + four-pass
    interlaced row order — so the decoder's extension walk and
    de-interlace scatter are both on the hash path."""
    return _asset_table(
        docs, "image", "image/gif",
        lambda aid: encode_gif(_index_raster(aid, 8 + aid % 11, 8 + aid % 6),
                               _PALETTE, interlace=True, gif89a=True),
    )


GIF_POS_STATS_SCHEMA = (
    "asset_id long, width int, height int, max_px long, "
    "sum_r long, sum_g long, sum_b long, wsum long"
)


def decoded_gif_stats_positional(assets: DataFrame) -> DataFrame:
    """Position-sensitive GIF decode stats: plain channel sums are
    PERMUTATION-INVARIANT, so a decoder that forgot to de-interlace would
    still match them — ``wsum`` weights each pixel by its 1-based
    row-major index (Σ (i+1)·(r+g+b)), putting the row order itself on
    the hash path."""

    def stats(row):
        img = decode_gif(row.content)
        px = img.astype(np.int64)
        h, w = img.shape[:2]
        wts = np.arange(1, h * w + 1, dtype=np.int64).reshape(h, w)
        yield (row.asset_id, w, h, int(px.max()),
               int(px[:, :, 0].sum()), int(px[:, :, 1].sum()),
               int(px[:, :, 2].sum()), int((wts * px.sum(axis=2)).sum()))

    return _row_kernel(assets, GIF_POS_STATS_SCHEMA, stats)


RGB_STATS_SCHEMA = (
    "asset_id long, width int, height int, mean_px double, max_px long, "
    "sum_r long, sum_g long, sum_b long"
)


def decoded_rgb_stats(assets: DataFrame, decode) -> DataFrame:
    """REAL end-to-end compressed decode: ``decode`` (``decode_png``,
    ``decode_gif`` or ``decode_jpeg``) parses each blob strictly from its
    bytes into an (h, w, 3) raster, and the kernel emits integer-exact
    per-channel statistics.  Paired with ``documents_as_png_assets`` this
    proves encode → DEFLATE → binary column → Arrow → chunk walk →
    inflate → unfilter (all five types) → features; with the GIF assets,
    LZW decompress + palette map; with the 3-component JPEG assets,
    entropy decode + dequantize + IDCT + chroma upsample + YCbCr→RGB.
    Every output is SQL-recomputable from the closed-form raster, so a
    decoder that mis-unfilters a single Paeth scanline hash-fails."""

    def stats(row):
        img = decode(row.content)
        px = img.astype(np.int64)
        yield (row.asset_id, img.shape[1], img.shape[0],
               float(px.mean()), int(px.max()),
               int(px[:, :, 0].sum()), int(px[:, :, 1].sum()),
               int(px[:, :, 2].sum()))

    return _row_kernel(assets, RGB_STATS_SCHEMA, stats)


def documents_as_jpeg_assets(docs: DataFrame) -> DataFrame:
    """Baseline-JPEG asset table: per document, a deterministic grayscale
    raster of (6+id%17) × (6+id%13) pixels that is CONSTANT PER 8×8 BLOCK
    GRID CELL (``_block_raster``) — encoded as a genuine Huffman-coded
    JFIF stream with all-ones quant tables, so the decode is bit-exact
    and the oracle recomputes pixel statistics closed-form over the block
    grid; the non-multiple-of-8 dimensions force real partial-block
    padding on every image."""
    return _asset_table(
        docs, "image", "image/jpeg",
        lambda aid: encode_jpeg(_block_raster(aid, 6 + aid % 17, 6 + aid % 13, 8)),
    )


def documents_as_jpeg420_assets(docs: DataFrame) -> DataFrame:
    """4:2:0 color-JPEG asset table: per document, a deterministic
    (10+id%23) × (10+id%19) RGB raster with r=g=b, CONSTANT PER 16×16 MCU
    CELL — pixel (y, x) = (id*K + (y//16)*nbx + x//16) % 256 on all three
    channels — encoded with 2×2 luma sampling (the layout real-world
    JPEGs ship).  Gray-as-color is the float-safe exact family: luma
    rounds back to the source value, chroma is exactly 128 (so the 2×2
    box-downsample and the replication upsample are both lossless), and
    the color transform cancels — decode == source bit-for-bit while the
    stream genuinely interleaves 4 luma + 2 chroma Huffman-coded blocks
    per MCU."""

    def jpeg(aid: int) -> bytes:
        g = _block_raster(aid, 10 + aid % 23, 10 + aid % 19, 16)
        return encode_jpeg(np.stack([g, g, g], axis=2), subsampling="420")

    return _asset_table(docs, "image", "image/jpeg", jpeg)


GRAY_STATS_SCHEMA = (
    "asset_id long, width int, height int, mean_px double, max_px long, "
    "sum_px long"
)


def decoded_jpeg_stats(assets: DataFrame) -> DataFrame:
    """Grayscale twin of :func:`decoded_rgb_stats`: Huffman-decode +
    dequantize + IDCT each JPEG strictly from its bytes (``decode_jpeg``)
    and emit integer-exact pixel statistics — a decoder that mis-reads a
    single Huffman code or mis-pads one partial block hash-fails."""

    def stats(row):
        img = decode_jpeg(row.content)
        px = img.astype(np.int64)
        yield (row.asset_id, img.shape[1], img.shape[0],
               float(px.mean()), int(px.max()), int(px.sum()))

    return _row_kernel(assets, GRAY_STATS_SCHEMA, stats)


# ------------------------------------------- perceptual-hash image dedup

# Scene layout for the perceptual-dedup gate: every document is one CRAWLED
# COPY of one of _PH_SCENES base images (scene = doc_id % _PH_SCENES), with a
# small deterministic perturbation per copy — the "same image, re-encoded /
# slightly retouched" population a production image-dedup pass hunts.  The
# perturbation touches at most two dHash grid cells, so within-scene copies
# sit at Hamming distance <= 3 and the distance-<=1 subset is non-trivial.
_PH_SCENES = 64
_PH_D1_STEP = 40   # block (0,0) delta per (copy % 4) level -> flips bit 0 only
_PH_D2 = 96        # block (3,5) delta when copy//4 is odd -> flips bits 28/29


def _ph_raster(doc_id: int) -> np.ndarray:
    """Closed-form raster of one crawled copy (SQL-recomputable): the scene
    base ``v[i] = (scene*K + i) % 256`` over the flattened h*w*3 samples,
    plus the copy's block-local deltas folded in BEFORE the mod."""
    scene, copy = doc_id % _PH_SCENES, doc_id // _PH_SCENES
    m = 2 + scene % 2
    w, h = 9 * m, 8 * m
    i = np.arange(h * w * 3, dtype=np.int64)
    p = i // 3
    x, y = p % w, p // w
    delta = np.where(
        (x < m) & (y < m), (copy % 4) * _PH_D1_STEP, 0
    ) + np.where(
        (x >= 5 * m) & (x < 6 * m) & (y >= 3 * m) & (y < 4 * m),
        (copy // 4 % 2) * _PH_D2,
        0,
    )
    v = (scene * _PX_K + i + delta) % 256
    return v.astype(np.uint8).reshape(h, w, 3)


def documents_as_scene_png_assets(docs: DataFrame) -> DataFrame:
    """Asset table for the perceptual-dedup gate: per document, the scene
    raster with its copy perturbation (``_ph_raster``) encoded as a genuine
    PNG (``filter_per_line=True``) in one Arrow kernel.  The blob is a real
    compressed image file, born distributed."""
    return _asset_table(
        docs, "image", "image/png",
        lambda aid: encode_png(_ph_raster(aid), filter_per_line=True),
    )


def dhash_64(img: np.ndarray) -> tuple[int, int]:
    """64-bit difference hash of an RGB raster whose dims are (8m, 9m):
    integer gray ``(r + 2g + b) // 4`` per pixel, exact m*m block sums down
    to an 8x9 grid, bit (by, bx) = 1 iff block (by, bx) > block (by, bx+1).
    Returned as two 32-bit halves (rows 0-3 -> hi, rows 4-7 -> lo) so both
    engines stay inside signed 64-bit arithmetic — the pair IS the 64-bit
    signature, and the multi-probe join treats it as one composite key.
    Everything is integer-exact, so the signature is replayable in SQL from
    the closed-form raster."""
    h, w = img.shape[0], img.shape[1]
    m = h // 8
    if h != 8 * m or w != 9 * m:
        raise ValueError(f"dhash_64 expects (8m, 9m) dims, got {h}x{w}")
    px = img.astype(np.int64)
    gray = (px[:, :, 0] + 2 * px[:, :, 1] + px[:, :, 2]) // 4
    bs = gray.reshape(8, m, 9, m).sum(axis=(1, 3))
    bits = (bs[:, :8] > bs[:, 1:]).astype(np.int64)
    weights = 1 << np.arange(32, dtype=np.int64).reshape(4, 8)
    hi = int((bits[:4] * weights).sum())
    lo = int((bits[4:] * weights).sum())
    return hi, lo


def decoded_phash_signatures(assets: DataFrame) -> DataFrame:
    """Decode each PNG strictly from its bytes and emit the 64-bit dHash
    as (sig_hi, sig_lo) — decode and hash fused in ONE Arrow kernel, so
    the raster never crosses an exchange (the 100 TB shape: blobs stay
    where they were scanned; only 3 small ints per image shuffle)."""

    def signature(row):
        hi, lo = dhash_64(decode_png(row.content))
        yield row.asset_id, hi, lo

    return _row_kernel(assets, "doc_id long, sig_hi long, sig_lo long", signature)


def documents_as_jpeg_dri_assets(docs: DataFrame) -> DataFrame:
    """DRI-encoded 4:2:0 color-JPEG asset table: the same gray-as-color,
    constant-per-16×16-MCU exact family as ``documents_as_jpeg420_assets``
    but with dims (17+id%16) × (17+id%32) — at least 2×2 MCUs per image —
    and a per-doc restart interval ``1 + id % 3``, so every blob carries
    one to five real byte-aligned RSTn markers with predictor resets, and
    a third of them end on a short final restart run."""

    def jpeg(aid: int) -> bytes:
        g = _block_raster(aid, 17 + aid % 32, 17 + aid % 16, 16)
        return encode_jpeg(np.stack([g, g, g], axis=2), subsampling="420",
                           restart_interval=1 + aid % 3)

    return _asset_table(docs, "image", "image/jpeg", jpeg)


# ----------------------------------------------------- AVI / MJPEG video

def _riff_list(list_type: bytes, body: bytes) -> bytes:
    return b"LIST" + (len(body) + 4).to_bytes(4, "little") + list_type + body


def _riff_chunk(cid: bytes, body: bytes) -> bytes:
    # RIFF chunks are word-aligned: odd payloads carry one pad byte that
    # is NOT counted in the declared size
    return cid + len(body).to_bytes(4, "little") + body + (
        b"\x00" if len(body) % 2 else b""
    )


def encode_avi_mjpeg(frames: list[bytes], width: int, height: int,
                     fps: int = 10) -> bytes:
    """Encode a list of complete JPEG blobs as a REAL single-stream
    AVI/MJPEG container (RIFF 'AVI ' → LIST hdrl(avih + LIST strl(strh
    'vids'/'MJPG' + strf BITMAPINFOHEADER)) → LIST movi('00dc' chunks) →
    idx1), byte-exact little-endian per the public VFW spec.  MJPEG is
    the container composition the codec matrix earns for free: every
    frame is an independent baseline JPEG, so the already-proven decoder
    handles the payload and the container adds only a chunk walk."""
    import struct

    if not frames:
        raise ValueError("AVI: at least one frame required")
    # 32767 cap: strh rcFrame is a RECT of SIGNED 16-bit fields, so a
    # larger extent would read back negative in spec-conforming players
    if not (0 < width <= 32767 and 0 < height <= 32767 and fps > 0):
        raise ValueError("AVI: bad dimensions or rate")
    if width * height * 3 >= 1 << 32:
        raise ValueError("AVI: frame byte size overflows biSizeImage")
    for fb in frames:
        if fb[:2] != b"\xff\xd8":
            raise ValueError("AVI/MJPEG: frame is not a JPEG stream")
    avih = struct.pack(
        "<14I",
        1_000_000 // fps, 0, 0, 0x10,       # usec/frame, maxbps, pad, HASINDEX
        len(frames), 0, 1, 0,               # total frames, initial, 1 stream
        width, height, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIII4H",
        b"vids", b"MJPG", 0, 0, 0, 0,
        1, fps, 0, len(frames),             # scale, rate, start, length
        max(len(f) for f in frames), 0xFFFFFFFF, 0,
        0, 0, width, height,                # rcFrame
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40, width, height, 1, 24, b"MJPG", width * height * 3, 0, 0, 0, 0,
    )
    hdrl = _riff_list(
        b"hdrl",
        _riff_chunk(b"avih", avih)
        + _riff_list(b"strl", _riff_chunk(b"strh", strh)
                     + _riff_chunk(b"strf", strf)),
    )
    movi_body = b"movi"
    offsets = []
    for fb in frames:
        offsets.append(len(movi_body))
        movi_body += _riff_chunk(b"00dc", fb)
    movi = b"LIST" + len(movi_body).to_bytes(4, "little") + movi_body
    idx1 = b"".join(
        b"00dc" + struct.pack("<III", 0x10, off, len(fb))
        for off, fb in zip(offsets, frames)
    )
    body = b"AVI " + hdrl + movi + _riff_chunk(b"idx1", idx1)
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def decode_avi_mjpeg(content: bytes) -> tuple[int, int, list[bytes]]:
    """Parse an AVI/MJPEG blob strictly from its bytes: RIFF magic, chunk
    walk honoring word alignment, avih for declared dims, strh for the
    stream contract (exactly one stream, 'vids'/'MJPG' — anything else
    raises NotImplementedError by name), '00dc'/'00db' payloads from the
    movi list in order.  Returns (width, height, [jpeg blobs]).  Declared
    sizes are bounds-checked everywhere; truncation raises ValueError."""
    buf = bytes(content)
    if len(buf) < 12 or buf[0:4] != b"RIFF" or buf[8:12] != b"AVI ":
        raise NotImplementedError("not a RIFF/AVI container")
    declared = int.from_bytes(buf[4:8], "little")
    if declared + 8 > len(buf):
        raise ValueError("AVI: truncated RIFF body")
    width = height = total = None
    n_streams = 0
    frames: list[bytes] = []

    def walk(pos: int, end: int, depth: int) -> None:
        nonlocal width, height, total, n_streams
        while pos < end:
            if pos + 8 > end:
                raise ValueError("AVI: truncated chunk header")
            cid = buf[pos : pos + 4]
            size = int.from_bytes(buf[pos + 4 : pos + 8], "little")
            if pos + 8 + size > end:
                raise ValueError(
                    f"AVI: truncated chunk {cid!r}: declares {size} bytes"
                )
            body_at = pos + 8
            if cid == b"LIST":
                if size < 4:
                    raise ValueError("AVI: LIST too short for a type")
                ltype = buf[body_at : body_at + 4]
                if ltype in (b"hdrl", b"strl", b"movi"):
                    walk(body_at + 4, body_at + size, depth + 1)
                # other list types (odml, INFO) are skipped whole
            elif cid == b"avih":
                if size < 40:
                    raise ValueError("AVI: avih too short")
                total = int.from_bytes(buf[body_at + 16 : body_at + 20], "little")
                width = int.from_bytes(buf[body_at + 32 : body_at + 36], "little")
                height = int.from_bytes(buf[body_at + 36 : body_at + 40], "little")
            elif cid == b"strh":
                if size < 8:
                    raise ValueError("AVI: strh too short")
                fcc_type = buf[body_at : body_at + 4]
                handler = buf[body_at + 4 : body_at + 8]
                n_streams += 1
                if n_streams > 1:
                    raise NotImplementedError("AVI with multiple streams")
                if fcc_type != b"vids":
                    raise NotImplementedError(
                        f"AVI stream type {fcc_type!r} (only 'vids')"
                    )
                if handler != b"MJPG":
                    raise NotImplementedError(
                        f"AVI video codec {handler!r} (only MJPEG)"
                    )
            elif cid in (b"00dc", b"00db"):
                fb = buf[body_at : body_at + size]
                if fb[:2] != b"\xff\xd8":
                    raise ValueError("AVI/MJPEG: frame payload is not JPEG")
                frames.append(fb)
            # strf / idx1 / JUNK / anything else: validated size, skipped
            pos = body_at + size + (size & 1)

    walk(12, 8 + declared, 0)
    if width is None or height is None:
        raise ValueError("AVI: missing avih header")
    if n_streams == 0:
        raise ValueError("AVI: no stream header")
    if total is not None and total != len(frames):
        raise ValueError(
            f"AVI: header declares {total} frames, movi carries {len(frames)}"
        )
    return width, height, frames


def documents_as_avi_assets(docs: DataFrame) -> DataFrame:
    """Video asset table: per document, a genuine AVI/MJPEG clip of
    ``2 + id % 5`` frames at (17+id%16) × (17+id%32)... frame f is the
    4:2:0 gray-as-color exact raster, constant per 16×16 MCU cell with
    ``v = (id*K + f*131 + cell) % 256`` (SQL-recomputable), each frame a
    real DRI-carrying baseline JPEG (interval ``1 + id % 3``), the
    container a real RIFF walk."""

    def avi(aid: int) -> bytes:
        w, h = 17 + aid % 32, 17 + aid % 16
        jpgs = []
        for f in range(2 + aid % 5):
            g = _block_raster(aid, w, h, 16, f * 131)
            jpgs.append(encode_jpeg(
                np.stack([g, g, g], axis=2), subsampling="420",
                restart_interval=1 + aid % 3,
            ))
        return encode_avi_mjpeg(jpgs, w, h)

    return _asset_table(docs, "video", "video/x-msvideo", avi)


# The frame-sampling kernels keep every second frame.
_FRAME_STRIDE = 2


def decoded_video_frame_stats(assets: DataFrame) -> DataFrame:
    """Container walk + FRAME SAMPLING + decode, fused in one Arrow
    kernel: parse each AVI strictly from its bytes, keep every second
    frame, decode ONLY the sampled frames (the whole point
    of sampling — unsampled JPEG payloads are never entropy-decoded),
    and emit integer-exact per-frame channel stats.  Blobs never cross
    an exchange; one row per sampled frame leaves the kernel."""

    def frame_stats(row):
        w, h, frames = decode_avi_mjpeg(row.content)
        for f in range(0, len(frames), _FRAME_STRIDE):
            img = decode_jpeg(frames[f])
            if img.ndim != 3:
                raise ValueError("AVI: expected a 3-component MJPEG frame")
            if img.shape[0] != h or img.shape[1] != w:
                raise ValueError(
                    "AVI: frame dims disagree with container header"
                )
            px = img.astype(np.int64)
            yield (row.asset_id, f, len(frames), w, h,
                   int(px[:, :, 0].sum()), int(px[:, :, 1].sum()),
                   int(px[:, :, 2].sum()))

    return _row_kernel(
        assets,
        "asset_id long, frame_idx int, n_frames int, width int, height int,"
        " sum_r long, sum_g long, sum_b long",
        frame_stats,
    )


# ------------------------------------------- animated GIF (89a) decode

def encode_gif_anim(
    frames, palette, screen_wh: tuple[int, int], *,
    transparent_idx: "int | None" = None, disposals=None, bg_index: int = 0,
) -> bytes:
    """Encode a genuine ANIMATED GIF89a: ``frames`` is a list of
    (left, top, idx) placements — each a uint8 index raster painted at
    (left, top) on the logical screen — sharing one global color table.
    Every frame carries a real Graphic Control Extension with its
    disposal method (``disposals``, default 1 = do not dispose) and,
    when ``transparent_idx`` is set, the transparency flag + index.
    This is the delta-frame layout animation-capable writers emit:
    partial-rect updates over a persistent canvas."""
    palette = np.asarray(palette, dtype=np.uint8)
    n = len(palette)
    if palette.ndim != 2 or palette.shape[1] != 3 or n & (n - 1) or not 2 <= n <= 256:
        raise ValueError("palette must be (n, 3) uint8 with n a power of two in [2, 256]")
    if not frames:
        raise ValueError("animated GIF needs at least one frame")
    sw, sh = screen_wh
    if disposals is None:
        disposals = [1] * len(frames)
    if len(disposals) != len(frames):
        raise ValueError("one disposal method per frame")
    if transparent_idx is not None and not 0 <= transparent_idx < n:
        raise ValueError("transparent index past the palette")
    depth = max(n.bit_length() - 1, 1)
    out = bytearray(b"GIF89a")
    out += sw.to_bytes(2, "little") + sh.to_bytes(2, "little")
    out += bytes([0x80 | ((depth - 1) << 4) | (depth - 1), bg_index, 0])
    out += palette.tobytes()
    for (left, top, idx), disp in zip(frames, disposals):
        idx = np.asarray(idx)
        if idx.dtype != np.uint8 or idx.ndim != 2:
            raise ValueError("each frame raster must be 2-D uint8")
        if int(idx.max(initial=0)) >= n:
            raise ValueError("frame references a color past the palette")
        h, w = idx.shape
        if left + w > sw or top + h > sh:
            raise ValueError("frame rect exceeds the logical screen")
        packed = (disp & 0x07) << 2
        tidx = 0
        if transparent_idx is not None:
            packed |= 0x01
            tidx = transparent_idx
        out += bytes([0x21, 0xF9, 0x04, packed, 0, 0, tidx, 0])  # GCE
        out += (
            b"\x2c" + left.to_bytes(2, "little") + top.to_bytes(2, "little")
            + w.to_bytes(2, "little") + h.to_bytes(2, "little") + b"\x00"
        )
        min_code_size = max(depth, 2)
        lzw = _gif_lzw_encode(idx.reshape(-1).tolist(), min_code_size)
        out.append(min_code_size)
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)
    out += b"\x3b"
    return bytes(out)


def decode_gif_frames(content: bytes) -> tuple[int, int, list]:
    """Decode EVERY frame of an animated GIF strictly from the blob
    bytes, composing the per-frame COMPLETE canvas the way a viewer
    renders it: the canvas starts as the background color, each frame's
    rect paints over it (transparent pixels leave the canvas
    untouched), and the frame's disposal method then runs — 0/1 leave
    the canvas, 2 restores the frame's rect to the background color
    (the GIF89a reading: "restored to the background color"), 3
    restores the rect to what it held before the frame was painted
    (restore-to-previous).  Returns
    (screen_w, screen_h, [composed (sh, sw, 3) uint8 canvases]), one
    per frame.  Declared sizes are bounds-checked; truncation raises
    ValueError."""
    buf = bytes(content)
    if buf[:6] not in (b"GIF87a", b"GIF89a"):
        raise NotImplementedError("not a GIF stream")
    if len(buf) < 13:
        raise ValueError("GIF: truncated header/screen descriptor")
    sw = int.from_bytes(buf[6:8], "little")
    sh = int.from_bytes(buf[8:10], "little")
    flags, bg_index = buf[10], buf[11]
    pos = 13
    gct = None
    if flags & 0x80:
        nc = 2 << (flags & 0x07)
        if pos + 3 * nc > len(buf):
            raise ValueError("GIF: truncated global color table")
        gct = np.frombuffer(buf, dtype=np.uint8, count=3 * nc, offset=pos).reshape(nc, 3)
        pos += 3 * nc
    bg_rgb = (
        gct[bg_index] if gct is not None and bg_index < len(gct)
        else np.zeros(3, dtype=np.uint8)
    )
    canvas = np.broadcast_to(bg_rgb, (sh, sw, 3)).copy()
    frames: list = []
    disposal, tindex = 0, None
    while True:
        if pos >= len(buf):
            raise ValueError("GIF: truncated before trailer")
        b0 = buf[pos]
        if b0 == 0x3B:  # trailer
            break
        if b0 == 0x21:  # extension
            if pos + 2 > len(buf):
                raise ValueError("GIF: truncated extension block")
            label = buf[pos + 1]
            pos += 2
            if label == 0xF9:
                if pos + 5 > len(buf):
                    raise ValueError("GIF: truncated GCE")
                # the spec fixes the GCE body at exactly 4 bytes; a
                # different size would shift every fixed-offset field
                # below, silently misreading disposal/transparency
                if buf[pos] != 4:
                    raise ValueError(
                        f"GIF: GCE block size {buf[pos]} (expected 4)"
                    )
                packed = buf[pos + 1]
                disposal = (packed >> 2) & 0x07
                tindex = buf[pos + 4] if packed & 0x01 else None
                if disposal > 3:
                    raise ValueError(f"GIF: reserved disposal {disposal}")
            while True:  # sub-block walk (GCE body included)
                if pos >= len(buf):
                    raise ValueError("GIF: truncated extension sub-blocks")
                size = buf[pos]
                pos += 1
                if size == 0:
                    break
                if pos + size > len(buf):
                    raise ValueError("GIF: truncated extension sub-block")
                pos += size
            continue
        if b0 != 0x2C:
            raise ValueError(f"GIF: unexpected block 0x{b0:02x}")
        pos += 1
        if pos + 9 > len(buf):
            raise ValueError("GIF: truncated image descriptor")
        left = int.from_bytes(buf[pos : pos + 2], "little")
        top = int.from_bytes(buf[pos + 2 : pos + 4], "little")
        w = int.from_bytes(buf[pos + 4 : pos + 6], "little")
        h = int.from_bytes(buf[pos + 6 : pos + 8], "little")
        iflags = buf[pos + 8]
        pos += 9
        if left + w > sw or top + h > sh:
            raise ValueError("GIF: frame rect exceeds the logical screen")
        pal = gct
        if iflags & 0x80:
            nc = 2 << (iflags & 0x07)
            if pos + 3 * nc > len(buf):
                raise ValueError("GIF: truncated local color table")
            pal = np.frombuffer(
                buf, dtype=np.uint8, count=3 * nc, offset=pos
            ).reshape(nc, 3)
            pos += 3 * nc
        if pal is None:
            raise ValueError("GIF: no color table")
        if pos >= len(buf):
            raise ValueError("GIF: truncated before LZW minimum code size")
        min_code_size = buf[pos]
        pos += 1
        lzw = bytearray()
        while True:
            if pos >= len(buf):
                raise ValueError("GIF: truncated inside data sub-blocks")
            size = buf[pos]
            pos += 1
            if size == 0:
                break
            if pos + size > len(buf):
                raise ValueError("GIF: truncated data sub-block")
            lzw += buf[pos : pos + size]
            pos += size
        idx = np.frombuffer(
            _gif_lzw_decode(bytes(lzw), min_code_size, w * h), dtype=np.uint8
        ).reshape(h, w)
        if iflags & 0x40:
            out = np.empty_like(idx)
            out[_gif_interlace_order(h)] = idx
            idx = out
        if int(idx.max(initial=0)) >= len(pal):
            raise ValueError("GIF: palette index out of range")
        region = canvas[top : top + h, left : left + w]
        saved = region.copy() if disposal == 3 else None
        painted = pal[idx]
        if tindex is not None:
            mask = (idx != tindex)[:, :, None]
            region[...] = np.where(mask, painted, region)
        else:
            region[...] = painted
        frames.append(canvas.copy())
        if disposal == 2:  # restore the rect to background AFTER showing
            canvas[top : top + h, left : left + w] = bg_rgb
        elif disposal == 3:  # restore to what the rect held BEFORE the frame
            canvas[top : top + h, left : left + w] = saved
        disposal, tindex = 0, None
    if not frames:
        raise ValueError("GIF: no image data before trailer")
    return sw, sh, frames


def documents_as_gif_anim_assets(docs: DataFrame) -> DataFrame:
    """Animated-GIF asset table: per document, a genuine GIF89a of
    ``2 + id % 4`` frames on a (12+id%8) × (6+id%5) canvas — frame 0
    paints the full base raster (``idx = (id*K + y*w + x) % 15``), every
    later frame g is a REAL delta: a 3-column band at x ∈ [3(g−1), 3g)
    with transparent pixels at (x+y)%3==0 (index 15) and values
    ``(id*K + g*97 + y*w + x) % 15`` elsewhere, odd frames disposal 1
    (persist), even frames disposal 2 (restored to the background color
    after display).  All SQL-recomputable; the shared 16-color palette
    is the closed-form one of the paletted-PNG gate."""

    def gif(aid: int) -> bytes:
        w, h = 12 + aid % 8, 6 + aid % 5
        base = _flat_raster(aid, h * w, 15).astype(np.uint8).reshape(h, w)
        y = np.arange(h, dtype=np.int64)[:, None]
        frames = [(0, 0, base)]
        disposals = [1]
        for g in range(1, 2 + aid % 4):
            xs = 3 * (g - 1)
            xb = np.arange(xs, xs + 3, dtype=np.int64)[None, :]
            vals = (aid * _PX_K + g * 97 + y * w + xb) % 15
            band = np.where((xb + y) % 3 == 0, 15, vals).astype(np.uint8)
            frames.append((xs, 0, band))
            disposals.append(2 if g % 2 == 0 else 1)
        return encode_gif_anim(frames, _PALETTE, (w, h),
                               transparent_idx=15, disposals=disposals)

    return _asset_table(docs, "image", "image/gif", gif)


def decoded_gif_anim_stats(assets: DataFrame) -> DataFrame:
    """Animated-GIF decode + composition + frame sampling in one Arrow
    kernel: every frame must be LZW-decoded (GIF frames are deltas over
    a persistent canvas, so unlike MJPEG there is no skip-decode), the
    composed canvases at every second frame leave the kernel as
    integer-exact channel sums plus a position-weighted checksum —
    channel sums alone are permutation-invariant (the GIF interlace
    lesson), and a composition bug is exactly a permutation-shaped
    failure."""

    def frame_stats(row):
        w, h, frames = decode_gif_frames(row.content)
        posw = np.arange(h * w, dtype=np.int64).reshape(h, w) + 1
        for f in range(0, len(frames), _FRAME_STRIDE):
            px = frames[f].astype(np.int64)
            yield (row.asset_id, f, len(frames), w, h,
                   int(px[:, :, 0].sum()), int(px[:, :, 1].sum()),
                   int(px[:, :, 2].sum()),
                   int((posw * px.sum(axis=2)).sum()))

    return _row_kernel(
        assets,
        "asset_id long, frame_idx int, n_frames int, width int, height int,"
        " sum_r long, sum_g long, sum_b long, poschk long",
        frame_stats,
    )


# --------------------------------------- progressive JPEG (T.81 Annex G)

# Progressive AC scans emit the EOBn family (r < 15, s = 0) that Annex
# K's baseline AC tables have no symbols for, so progressive encoders
# always ship custom DHT tables.  Ours is the simplest valid one: every
# (run, size) symbol with s <= 10 at a fixed 8-bit code length — 176
# codes of length 8 is a legal canonical Huffman table (<= 256), and the
# decoder rebuilds it from DHT like any other.
_JPG_AC_PROG = (
    tuple([0] * 7 + [176] + [0] * 8),
    tuple((r << 4) | s for s in range(0, 11) for r in range(16)),
)


class _ProgACState:
    """Cross-block AC-scan state: the pending end-of-band run and the
    correction bits buffered behind it (refinement scans)."""

    __slots__ = ("eobrun", "bits")

    def __init__(self) -> None:
        self.eobrun = 0
        self.bits: list[int] = []


def _prog_flush_eobrun(bw: _JpgBitWriter, ac_enc, st: _ProgACState) -> None:
    if st.eobrun > 0:
        nbits = st.eobrun.bit_length() - 1
        code, ln = ac_enc[nbits << 4]
        bw.write(code, ln)
        if nbits:
            bw.write(st.eobrun - (1 << nbits), nbits)
        st.eobrun = 0
    for b in st.bits:
        bw.write(b, 1)
    st.bits = []


def _prog_ac_first_block(bw, ac_enc, zz, Ss, Se, Al, st) -> None:
    r = 0
    for k in range(Ss, Se + 1):
        t = int(zz[k])
        t = (t >> Al) if t >= 0 else -((-t) >> Al)
        if t == 0:
            r += 1
            continue
        if st.eobrun > 0:
            _prog_flush_eobrun(bw, ac_enc, st)
        while r > 15:
            code, ln = ac_enc[0xF0]
            bw.write(code, ln)
            r -= 16
        s = abs(t).bit_length()
        code, ln = ac_enc[(r << 4) | s]
        bw.write(code, ln)
        bw.write(t if t > 0 else t + (1 << s) - 1, s)
        r = 0
    if r > 0:
        st.eobrun += 1
        if st.eobrun == 0x7FFF:
            _prog_flush_eobrun(bw, ac_enc, st)


def _prog_ac_refine_block(bw, ac_enc, zz, Ss, Se, Al, st) -> None:
    absv = [abs(int(zz[k])) >> Al for k in range(Ss, Se + 1)]
    eobpos = Ss - 1  # index of the last NEWLY-nonzero coefficient
    for k in range(Ss, Se + 1):
        if absv[k - Ss] == 1:
            eobpos = k
    r = 0
    pend: list[int] = []  # correction bits since the last emitted symbol
    for k in range(Ss, Se + 1):
        t = absv[k - Ss]
        if t == 0:
            r += 1
            continue
        while r > 15 and k <= eobpos:
            _prog_flush_eobrun(bw, ac_enc, st)
            code, ln = ac_enc[0xF0]
            bw.write(code, ln)
            r -= 16
            for b in pend:
                bw.write(b, 1)
            pend = []
        if t > 1:  # history coefficient: one buffered correction bit
            pend.append(t & 1)
            continue
        _prog_flush_eobrun(bw, ac_enc, st)
        code, ln = ac_enc[(r << 4) | 1]
        bw.write(code, ln)
        bw.write(1 if int(zz[k]) >= 0 else 0, 1)
        for b in pend:
            bw.write(b, 1)
        pend = []
        r = 0
    if r > 0 or pend:
        st.eobrun += 1
        st.bits.extend(pend)
        if st.eobrun == 0x7FFF or len(st.bits) > 936:
            _prog_flush_eobrun(bw, ac_enc, st)


def encode_jpeg_progressive(img: np.ndarray, quant: np.ndarray | None = None,
                            chroma_quant: np.ndarray | None = None) -> bytes:
    """Encode a (h, w) grayscale or (h, w, 3) RGB uint8 raster as a REAL
    PROGRESSIVE (SOF2) JFIF stream — spectral selection AND successive
    approximation, the full Annex G feature set: a coarse DC scan
    (Al=1), first-pass AC scans split into two spectral bands at two
    magnitude bits of precision (Al=2), then refinement scans walking
    precision down to the exact coefficients (DC Ah=1→Al=0; AC Ah=2→1,
    Ah=1→0 per band), each AC scan non-interleaved per component with
    real EOB-run coding and buffered correction bits.  Color is 4:4:4
    (progressive + subsampling is not emitted here).  Decoding the
    output reproduces exactly the pixels of the BASELINE encode of the
    same raster and tables — the property test's contract."""
    img = np.asarray(img, dtype=np.uint8)
    gray = img.ndim == 2
    if not gray and (img.ndim != 3 or img.shape[2] != 3):
        raise ValueError("encode_jpeg_progressive expects (h, w) or (h, w, 3) uint8")
    h, w = img.shape[:2]
    if h == 0 or w == 0 or h > 65535 or w > 65535:
        raise ValueError("JPEG: bad dimensions")
    q0 = np.ones((8, 8), dtype=np.int64) if quant is None else np.asarray(
        quant, dtype=np.int64
    )
    q1 = q0 if chroma_quant is None else np.asarray(chroma_quant, dtype=np.int64)
    if (q0 < 1).any() or (q0 > 255).any() or (q1 < 1).any() or (q1 > 255).any():
        raise ValueError("JPEG: 8-bit quant tables only")
    ncomp = 1 if gray else 3
    mcux, mcuy = (w + 7) // 8, (h + 7) // 8
    planes = [img] if gray else [
        _jpg_rgb_to_ycc(img)[:, :, i] for i in range(3)
    ]
    qtabs = [q0] if gray else [q0, q1, q1]
    comp_zz = [
        _jpg_plane_blocks_mcu(p, q, mcux, mcuy, 1, 1)
        for p, q in zip(planes, qtabs)
    ]
    dc_t = [_JPG_DC_L] if gray else [_JPG_DC_L, _JPG_DC_C, _JPG_DC_C]
    dc_enc = [_huff_encode_table(*t) for t in dc_t]
    ac_prog_enc = _huff_encode_table(*_JPG_AC_PROG)

    out = bytearray(b"\xff\xd8")
    out += _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    zz_q0 = bytes(int(q0.reshape(64)[p]) for p in _JPG_ZZ)
    out += _seg(0xDB, b"\x00" + zz_q0)
    if not gray:
        zz_q1 = bytes(int(q1.reshape(64)[p]) for p in _JPG_ZZ)
        out += _seg(0xDB, b"\x01" + zz_q1)
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([ncomp])
    for c in range(ncomp):
        sof += bytes([c + 1, 0x11, 0 if c == 0 else 1])
    out += _seg(0xC2, sof)  # SOF2: progressive
    dht = b""
    tables = [(0x00, _JPG_DC_L), (0x10, _JPG_AC_PROG)]
    if not gray:
        tables += [(0x01, _JPG_DC_C), (0x11, _JPG_AC_PROG)]
    for tid, (bits, values) in tables:
        dht += bytes([tid]) + bytes(bits) + bytes(values)
    out += _seg(0xC4, dht)

    def sos_header(comps, Ss, Se, Ah, Al) -> bytes:
        body = bytes([len(comps)])
        for c in comps:
            td = 0 if c == 0 else 1
            ta = 0 if c == 0 else 1
            body += bytes([c + 1, (td << 4) | ta])
        return _seg(0xDA, body + bytes([Ss, Se, (Ah << 4) | Al]))

    def dc_first(Al: int) -> bytes:
        bw = _JpgBitWriter()
        preds = [0] * ncomp
        for my in range(mcuy):
            for mx in range(mcux):
                for c in range(ncomp):
                    dc = int(comp_zz[c][my, mx, 0]) >> Al
                    diff = dc - preds[c]
                    preds[c] = dc
                    s = abs(diff).bit_length()
                    code, ln = dc_enc[c][s]
                    bw.write(code, ln)
                    if s:
                        bw.write(diff if diff > 0 else diff + (1 << s) - 1, s)
        bw.flush()
        return bytes(bw.out)

    def dc_refine(Al: int) -> bytes:
        bw = _JpgBitWriter()
        for my in range(mcuy):
            for mx in range(mcux):
                for c in range(ncomp):
                    bw.write((int(comp_zz[c][my, mx, 0]) >> Al) & 1, 1)
        bw.flush()
        return bytes(bw.out)

    def ac_scan(c: int, Ss: int, Se: int, Ah: int, Al: int) -> bytes:
        bw = _JpgBitWriter()
        st = _ProgACState()
        fn = _prog_ac_first_block if Ah == 0 else _prog_ac_refine_block
        for my in range(mcuy):
            for mx in range(mcux):
                fn(bw, ac_prog_enc, comp_zz[c][my, mx], Ss, Se, Al, st)
        _prog_flush_eobrun(bw, ac_prog_enc, st)
        bw.flush()
        return bytes(bw.out)

    all_comps = list(range(ncomp))
    out += sos_header(all_comps, 0, 0, 0, 1) + dc_first(1)
    for c in all_comps:
        out += sos_header([c], 1, 5, 0, 2) + ac_scan(c, 1, 5, 0, 2)
        out += sos_header([c], 6, 63, 0, 2) + ac_scan(c, 6, 63, 0, 2)
    for c in all_comps:
        out += sos_header([c], 1, 63, 2, 1) + ac_scan(c, 1, 63, 2, 1)
    out += sos_header(all_comps, 0, 0, 1, 0) + dc_refine(0)
    for c in all_comps:
        out += sos_header([c], 1, 63, 1, 0) + ac_scan(c, 1, 63, 1, 0)
    out += b"\xff\xd9"
    return bytes(out)


def _prog_dec_ac_first(br, act, blk, Ss, Se, Al, eobrun) -> int:
    if eobrun > 0:
        return eobrun - 1
    k = Ss
    while k <= Se:
        sym = _jpg_read_symbol(br, act)
        r, s = sym >> 4, sym & 0x0F
        if s == 0:
            if r < 15:  # EOBn: run of 2^r (+ extension) all-done bands
                eb = 1 << r
                if r:
                    eb += br.bits(r)
                return eb - 1
            k += 16  # ZRL
            continue
        k += r
        if k > Se:
            raise ValueError("JPEG: AC run past band end")
        blk[k] = _jpg_extend(br.bits(s), s) << Al
        k += 1
    return 0


def _prog_dec_ac_refine(br, act, blk, Ss, Se, Al, eobrun) -> int:
    p1 = 1 << Al
    k = Ss
    if eobrun == 0:
        while k <= Se:
            sym = _jpg_read_symbol(br, act)
            r, s = sym >> 4, sym & 0x0F
            newval = 0
            if s == 0:
                if r < 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += br.bits(r)
                    break  # corrections for the rest of the band below
            else:
                if s != 1:
                    raise ValueError("JPEG: bad AC refinement magnitude")
                newval = p1 if br.bit() else -p1
            # advance over r zero-HISTORY positions, reading a correction
            # bit at every nonzero-history coefficient passed on the way
            while k <= Se:
                v = int(blk[k])
                if v != 0:
                    if br.bit() and (abs(v) & p1) == 0:
                        blk[k] = v + (p1 if v > 0 else -p1)
                    k += 1
                else:
                    if r == 0:
                        break
                    r -= 1
                    k += 1
            if newval:
                if k > Se:
                    raise ValueError("JPEG: refinement run past band end")
                blk[k] = newval
            k += 1
    if eobrun > 0:
        while k <= Se:  # EOB span: correction bits only
            v = int(blk[k])
            if v != 0:
                if br.bit() and (abs(v) & p1) == 0:
                    blk[k] = v + (p1 if v > 0 else -p1)
            k += 1
        eobrun -= 1
    return eobrun


def _prog_decode_scan(buf, pos, frame, grid, scan, Ss, Se, Ah, Al,
                      hufftabs, prog_zz) -> int:
    """Entropy-decode ONE progressive scan (T.81 Annex G) into the
    per-component zig-zag coefficient accumulators; returns the buffer
    position where the next marker begins.  DC scans (Ss=0) may be
    interleaved; AC scans are single-component in the component's own
    block-raster order."""
    fh, fw, comps = frame
    mcux, mcuy, max_h, max_v = grid
    br = _JpgBitReader(buf, pos)
    idxs = []
    for scid, td, ta in scan:
        for ci, (cid, _, sh, sv) in enumerate(comps):
            if cid == scid:
                idxs.append((ci, td, ta, sh, sv))
                break
        else:
            raise ValueError("JPEG: scan references unknown component")
    if Ss == 0:  # DC scan
        if Se != 0:
            raise ValueError("JPEG: progressive scan mixes DC and AC")
        dctabs = []
        if Ah == 0:
            for _, td, _, _, _ in idxs:
                t = hufftabs.get((0, td))
                if t is None:
                    raise ValueError(f"JPEG: missing DC table {td}")
                dctabs.append(t)
        preds = [0] * len(idxs)

        def dc_block(j: int, blk) -> None:
            if Ah == 0:
                s = _jpg_read_symbol(br, dctabs[j])
                if s > 11:
                    raise ValueError("JPEG: bad DC category")
                diff = _jpg_extend(br.bits(s), s) if s else 0
                preds[j] += diff
                blk[0] = preds[j] << Al
            else:
                if br.bit():
                    blk[0] = int(blk[0]) | (1 << Al)

        if len(idxs) > 1:  # interleaved MCU order
            for my in range(mcuy):
                for mx in range(mcux):
                    for j, (ci, _, _, sh, sv) in enumerate(idxs):
                        for v in range(sv):
                            for u in range(sh):
                                dc_block(j, prog_zz[ci][my * sv + v,
                                                        mx * sh + u])
        else:
            ci, _, _, sh, sv = idxs[0]
            cbw = ((fw * sh + max_h - 1) // max_h + 7) // 8
            cbh = ((fh * sv + max_v - 1) // max_v + 7) // 8
            for by in range(cbh):
                for bx in range(cbw):
                    dc_block(0, prog_zz[ci][by, bx])
    else:  # AC scan: single component, true block grid, raster order
        if len(idxs) != 1:
            raise ValueError("JPEG: interleaved AC progressive scan")
        if Se > 63 or Ss > Se:
            raise ValueError("JPEG: bad spectral band")
        ci, _, ta, sh, sv = idxs[0]
        act = hufftabs.get((1, ta))
        if act is None:
            raise ValueError(f"JPEG: missing AC table {ta}")
        cbw = ((fw * sh + max_h - 1) // max_h + 7) // 8
        cbh = ((fh * sv + max_v - 1) // max_v + 7) // 8
        eobrun = 0
        fn = _prog_dec_ac_first if Ah == 0 else _prog_dec_ac_refine
        for by in range(cbh):
            for bx in range(cbw):
                eobrun = fn(br, act, prog_zz[ci][by, bx], Ss, Se, Al, eobrun)
    return br.pos


def documents_as_jpeg_prog_assets(docs: DataFrame) -> DataFrame:
    """Progressive-JPEG asset table: per document, a deterministic
    grayscale raster of (6+id%19) × (6+id%11) pixels, CONSTANT PER 8×8
    BLOCK CELL (``pixel (y, x) = (id*K + (y//8)*nbx + x//8) % 256`` —
    SQL-recomputable), encoded as a genuine SOF2 progressive stream:
    coarse DC scan, two spectral-band AC scans, then three successive-
    approximation refinement scans.  With all-ones quant the
    coefficients are exactly integer, so the multi-scan reassembly is
    bit-exact; block-constant content makes every AC scan a pure
    EOB-run stream, exercising the EOBn decode path at scale."""

    return _asset_table(
        docs, "image", "image/jpeg",
        lambda aid: encode_jpeg_progressive(
            _block_raster(aid, 6 + aid % 19, 6 + aid % 11, 8)),
    )


def documents_as_stereo_wav_assets(docs: DataFrame) -> DataFrame:
    """Stereo asset table: per document, a deterministic INTERLEAVED
    2-channel PCM16 stream — left channel ``(id*K_A + i*K_B) % 65536 -
    32768``, right channel the same with a +7919 phase offset — of
    ``150 + id % 97`` frames at ``16000 + (id % 2) * 28100`` Hz, encoded
    as a genuine 2-channel RIFF/WAVE file (block align 4)."""

    def wav(aid: int) -> bytes:
        i = np.arange(150 + aid % 97, dtype=np.int64)
        left = (aid * _WAV_SAMPLE_K_A + i * _WAV_SAMPLE_K_B) % 65536 - 32768
        right = (
            aid * _WAV_SAMPLE_K_A + i * _WAV_SAMPLE_K_B + 7919
        ) % 65536 - 32768
        rate = 16000 + (aid % 2) * 28100
        return encode_wav_pcm16(np.stack([left, right], axis=1), rate)

    return _asset_table(docs, "audio", "audio/wav", wav)


def decoded_stereo_wav_stats(assets: DataFrame) -> DataFrame:
    """Per-channel exact statistics from the real 2-channel decode: the
    interleave is the thing a stereo bug scrambles, so energies are per
    channel and a cross-channel integer covariance rides along."""

    def stats(row):
        rate, s = decode_wav(row.content)
        if s.ndim != 2 or s.shape[1] != 2:
            raise ValueError("expected a stereo stream")
        ch = s.astype(np.int64)
        yield (row.asset_id, rate, ch.shape[0],
               int((ch[:, 0] * ch[:, 0]).sum()),
               int((ch[:, 1] * ch[:, 1]).sum()),
               int((ch[:, 0] * ch[:, 1]).sum()))

    return _row_kernel(
        assets,
        "asset_id long, sample_rate int, n_frames long, energy_l long,"
        " energy_r long, cross long",
        stats,
    )


# ------------------------------------------ cross-codec perceptual dedup


def documents_as_mixed_codec_assets(docs: DataFrame) -> DataFrame:
    """Asset table for the CROSS-CODEC dedup gate: the same scene raster
    family as the perceptual-dedup gate (``_ph_raster``), but each copy is
    stored the way a real crawl finds it — even doc_ids as a genuine PNG,
    odd doc_ids as a 24-bit BI_RGB BMP.  Both codecs are lossless, so two
    crawled copies of one scene decode to identical rasters regardless of
    which container they arrived in; a dedup pass keyed on pixels (or a
    pixel-derived signature) must therefore match ACROSS codecs, which is
    exactly what byte-level (hash-the-blob) dedup can never do."""

    def encode(row):
        aid = int(row.doc_id)
        img = _ph_raster(aid)
        if aid % 2 == 0:
            yield aid, "image", "image/png", encode_png(img, filter_per_line=True)
        else:
            yield aid, "image", "image/bmp", encode_bmp(img)

    return _row_kernel(docs.select("doc_id"), ASSET_SCHEMA, encode)


def decoded_codec_signatures(assets: DataFrame) -> DataFrame:
    """Decode each blob strictly from its MAGIC BYTES (the mime column is
    deliberately ignored — a crawler's content-type headers lie) and emit
    the codec actually found plus the 64-bit dHash, fused in one Arrow
    kernel so rasters never cross an exchange.  A dispatcher that trusted
    metadata, or a BMP reader that forgot the bottom-up row order or the
    4-byte row padding, produces a different signature and hash-fails."""

    def signature(row):
        buf = bytes(row.content)
        if buf[:8] == _PNG_SIG:
            codec = "png"
        elif buf[:2] == b"BM":
            codec = "bmp"
        else:
            raise ValueError(f"unexpected image magic {buf[:4]!r}")
        hi, lo = dhash_64(decode_image(buf))
        yield row.asset_id, codec, hi, lo

    return _row_kernel(
        assets, "doc_id long, codec string, sig_hi long, sig_lo long", signature
    )


# ------------------------------------------------ audio fingerprint dedup

_AFP_SCENES = 40   # distinct recordings; copies differ only in gain
_AFP_FRAMES = 33   # 33 frames x 8 samples -> 32 adjacent-energy bits
_AFP_FRAME_N = 8
_AFP_N = _AFP_FRAMES * _AFP_FRAME_N
_AFP_K = 9176      # base stream: ((scene*(K + i) + i*i*7919) % 255) - 127


def _afp_samples(doc_id: int) -> tuple[np.ndarray, int]:
    """Closed-form mono PCM16 stream of one crawled audio copy
    (SQL-recomputable): scene base ``((scene*(K + i) + i*i*7919) % 255)
    - 127`` (the ``scene*i`` cross term makes all 40 scene fingerprints
    distinct — a pure ``scene*K`` offset left only 22 of 40 distinct)
    scaled by the copy's integer gain ``1 + copy % 3``.  Gain is the one
    thing re-encoded copies of the same recording differ by here, and the
    fingerprint below is exactly invariant to it."""
    scene, copy = doc_id % _AFP_SCENES, doc_id // _AFP_SCENES
    amp = 1 + copy % 3
    i = np.arange(_AFP_N, dtype=np.int64)
    base = (scene * (_AFP_K + i) + i * i * 7919) % 255 - 127
    return (amp * base).astype(np.int16), 8000 + (scene % 3) * 4000


def _afp_wav(doc_id: int, samples_of) -> bytes:
    """RIFF/WAVE file of one crawled audio copy: ``samples_of(doc_id)``
    with a variable odd-sized ``note`` chunk before ``data``."""
    s, rate = samples_of(doc_id)
    note = (b"note", b"y" * (1 + doc_id % 3))
    return encode_wav_pcm16(s, rate, extra_chunks=(note,))


def documents_as_tone_wav_assets(docs: DataFrame) -> DataFrame:
    """Real-container audio assets for the fingerprint-dedup gate: per
    document the ``_afp_samples`` stream encoded as a genuine RIFF/WAVE
    file (with a variable odd-sized ``note`` chunk so decoders must walk
    the chunk list), born distributed in one Arrow kernel."""

    return _asset_table(docs, "audio", "audio/wav",
                        lambda aid: _afp_wav(aid, _afp_samples))


def audio_fingerprint_32(samples: np.ndarray) -> int:
    """32-bit Haitsma–Kalker-style audio fingerprint (the public
    'philips robust hash' shape): exact integer frame energies
    ``e[f] = sum(s^2)`` over 33 fixed 8-sample frames, bit f = 1 iff
    ``e[f] > e[f+1]``.  A uniform gain ``a`` multiplies every energy by
    ``a^2 > 0``, preserving every comparison (including ties), so copies
    of one recording at different gains fingerprint identically —
    integer-exact and replayable in SQL from the closed-form stream."""
    v = np.asarray(samples).astype(np.int64)
    if v.ndim != 1 or len(v) != _AFP_N:
        raise ValueError(f"fingerprint expects {_AFP_N} mono samples")
    e = (v * v).reshape(_AFP_FRAMES, _AFP_FRAME_N).sum(axis=1)
    bits = (e[:-1] > e[1:]).astype(np.int64)
    return int((bits << np.arange(_AFP_FRAMES - 1, dtype=np.int64)).sum())


def decoded_audio_fingerprints(assets: DataFrame) -> DataFrame:
    """Parse each RIFF/WAVE blob strictly from its bytes and emit the
    32-bit fingerprint — decode and hash fused in ONE Arrow kernel (the
    100 TB shape: audio never crosses an exchange, 2 ints per clip
    shuffle).  The kernel never sees the gain that was applied at encode
    time; invariance is a property of the fingerprint, not a hint."""

    def fingerprint(row):
        _rate, s = decode_wav(row.content)
        yield row.asset_id, audio_fingerprint_32(s)

    return _row_kernel(assets, "doc_id long, fp long", fingerprint)


def _afp_shifted_samples(doc_id: int) -> "tuple[np.ndarray, int]":
    """Closed-form stream of a TIME-SHIFTED crawled copy: same master
    stream as ``_afp_samples`` but the copy starts ``(copy % 4)`` frames
    later (the lead-in trim re-posted clips actually differ by) and is
    re-encoded at the per-copy integer gain.  SQL-recomputable: sample
    index ``j = off + i`` into the same scene master."""
    scene, copy = doc_id % _AFP_SCENES, doc_id // _AFP_SCENES
    amp = 1 + copy % 3
    off = (copy % 4) * _AFP_FRAME_N
    j = np.arange(off, off + _AFP_N, dtype=np.int64)
    base = (scene * (_AFP_K + j) + j * j * 7919) % 255 - 127
    return (amp * base).astype(np.int16), 8000 + (scene % 3) * 4000


def documents_as_shifted_wav_assets(docs: DataFrame) -> DataFrame:
    """Real-container audio assets for the CLIP-dedup gate: per document
    the ``_afp_shifted_samples`` stream (same scene master, per-copy
    frame offset + gain) encoded as a genuine RIFF/WAVE file, born
    distributed in one Arrow kernel."""

    return _asset_table(docs, "audio", "audio/wav",
                        lambda aid: _afp_wav(aid, _afp_shifted_samples))


def decoded_audio_frame_bits(assets: DataFrame) -> DataFrame:
    """(doc_id, f, bit) rows — the per-frame form of
    ``audio_fingerprint_32`` for SEQUENCE fingerprinting: exact integer
    frame energies over the 33 fixed 8-sample frames, bit f = 1 iff
    ``e[f] > e[f+1]``, gain-invariant for the same reason the packed
    fingerprint is.  Decode + energy + bits fused in ONE Arrow kernel;
    32 (doc, f, bit) ints per clip cross the exchange."""

    def frame_bits(row):
        _rate, s = decode_wav(row.content)
        v = np.asarray(s).astype(np.int64)
        if v.ndim != 1 or len(v) != _AFP_N:
            raise ValueError(f"frame bits expect {_AFP_N} mono samples")
        e = (v * v).reshape(_AFP_FRAMES, _AFP_FRAME_N).sum(axis=1)
        bits = (e[:-1] > e[1:]).astype(np.int64)
        for f, b in enumerate(bits):
            yield row.asset_id, f, int(b)

    return _row_kernel(assets, "doc_id long, f int, bit int", frame_bits)


def decoded_video_frame_signatures(assets: DataFrame) -> DataFrame:
    """Per-frame perceptual block signature of every frame of every
    AVI/MJPEG clip, strictly from container bytes: walk the RIFF chunks,
    entropy-decode EVERY frame (frame-level dedup cannot sample — a
    duplicate can hide in any frame), reduce each frame to its 16×16
    block-mean grid (integer gray ``(r + 2g + b) // 4``, exact floor
    means), and fold the grid into two integer signatures —
    ``sig1 = Σ mean_c · (c+1)`` (position-weighted) and
    ``sig2 = Σ mean_c²`` (magnitude) — fused in ONE Arrow kernel so
    frames never cross an exchange (5 small ints per frame shuffle)."""

    def frame_signatures(row):
        w, h, frames = decode_avi_mjpeg(bytes(row.content))
        n = len(frames)
        for f, payload in enumerate(frames):
            img = decode_jpeg(payload)
            if img.ndim != 3:
                raise ValueError("AVI: expected a 3-component MJPEG frame")
            if img.shape[0] != h or img.shape[1] != w:
                raise ValueError(
                    "AVI: frame dims disagree with container header"
                )
            px = img.astype(np.int64)
            gray = (px[:, :, 0] + 2 * px[:, :, 1] + px[:, :, 2]) // 4
            nby, nbx = (h + 15) // 16, (w + 15) // 16
            sig1 = sig2 = 0
            c = 0
            for by in range(nby):
                for bx in range(nbx):
                    blk = gray[by * 16 : by * 16 + 16, bx * 16 : bx * 16 + 16]
                    m = int(blk.sum()) // blk.size
                    sig1 += m * (c + 1)
                    sig2 += m * m
                    c += 1
            yield row.asset_id, f, n, w, h, sig1, sig2

    return _row_kernel(
        assets,
        "doc_id long, frame_idx int, n_frames int, width int, height int,"
        " sig1 long, sig2 long",
        frame_signatures,
    )


# ------------------------------------------- scale-invariant image dedup

_SI_SCENES = 48


def _si_raster(doc_id: int) -> np.ndarray:
    """Closed-form raster of one crawled copy stored at ITS OWN
    resolution (SQL-recomputable): scene ``doc_id % 48`` rendered at
    size factor ``m = 2 + (doc_id // 48) % 3`` — dims (8m, 9m), i.e.
    the same image saved as a 16×18, 24×27, or 32×36 thumbnail.  The
    image is block-constant at m×m granularity with block (by, bx)
    value ``((scene+1)·(by·9 + bx·13 + 31) + scene·K) % 256``, so the
    CONTENT is resolution-independent and only the raster size varies —
    exactly the multi-size mirror situation crawl dedup faces."""
    scene, m = doc_id % _SI_SCENES, 2 + (doc_id // _SI_SCENES) % 3
    by = np.arange(8 * m, dtype=np.int64)[:, None] // m
    bx = np.arange(9 * m, dtype=np.int64)[None, :] // m
    v = ((scene + 1) * (by * 9 + bx * 13 + 31) + scene * _PX_K) % 256
    g = np.broadcast_to(v, (8 * m, 9 * m)).astype(np.uint8)
    return np.stack([g, g, g], axis=2)


def documents_as_multires_png_assets(docs: DataFrame) -> DataFrame:
    """Asset table for the scale-invariant dedup gate: per document the
    ``_si_raster`` thumbnail encoded as a genuine PNG in one Arrow
    kernel — real compressed files at three different pixel sizes."""

    return _asset_table(
        docs, "image", "image/png",
        lambda aid: encode_png(_si_raster(aid), filter_per_line=True),
    )


def decoded_phash_dim_signatures(assets: DataFrame) -> DataFrame:
    """Decode each PNG strictly from its bytes and emit the 64-bit dHash
    PLUS the decoded pixel dimensions — the dims prove the dedup groups
    really span resolutions (dHash's fixed 8×9 block grid normalizes
    scale away; the blocks are m×m pixel boxes, so block-sum comparisons
    are invariant under integer upscaling).  Decode and hash fused in
    one Arrow kernel, as everywhere in this family."""

    def signature(row):
        img = decode_png(row.content)
        hi, lo = dhash_64(img)
        yield row.asset_id, img.shape[1], img.shape[0], hi, lo

    return _row_kernel(
        assets, "doc_id long, width int, height int, sig_hi long, sig_lo long",
        signature,
    )


# ===========================================================================
# EXIF / APP1 metadata: parse, census, GPS scrub
# ===========================================================================
# Strict byte-level TIFF/EXIF IFD handling — the image-side counterpart of
# events_pii_scrub.  No reference-engine counterpart (/root/reference has no
# image surface); the segment walk reuses the JPEG marker grammar
# decode_jpeg already implements.  Supported IFD entry types are all twelve
# TIFF 6.0 types (BYTE..DOUBLE — real ExifIFDs carry UNDEFINED ExifVersion
# and SRATIONAL exposure-bias entries, so the census/scrub must read them);
# a type id outside 1..12 raises by name (the library boundary), while
# MALFORMED streams (truncated segments, bad magic, out-of-bounds value
# offsets) degrade to "no EXIF" — a crawler must not die on a corrupt
# header, but silently misreading a foreign type would fabricate metadata.

_EXIF_TAG_MAKE = 0x010F
_EXIF_TAG_MODEL = 0x0110
_EXIF_TAG_ORIENTATION = 0x0112
_EXIF_TAG_DATETIME = 0x0132
_EXIF_TAG_GPS_IFD = 0x8825
# nested-IFD pointer tags the scrub RELOCATES during the APP1 rebuild
# (every real camera JPEG carries the ExifIFD pointer; Interop usually
# hangs off the ExifIFD per EXIF 4.6.3): parsed as a sub-IFD tree and
# re-emitted with patched offsets.  What still refuses by name: a sub-IFD
# with its own nonzero next pointer (a chained sub-IFD) and an IFD2 chain.
_EXIF_TAG_EXIF_IFD = 0x8769
_EXIF_TAG_INTEROP_IFD = 0xA005
# ExifIFD tags the fixture writes / the sub-IFD census reads
_EXIF_TAG_EXPOSURE = 0x829A   # RATIONAL
_EXIF_TAG_FNUMBER = 0x829D    # RATIONAL
_EXIF_TAG_ISO = 0x8827        # SHORT
_EXIF_TAG_EXIF_VER = 0x9000   # UNDEFINED, count 4
_INTEROP_TAG_INDEX = 0x0001   # ASCII ("R98")
# IFD1 (thumbnail IFD) tags: compression scheme + the embedded JPEG's
# absolute offset/length — the offset is what the scrub must RELOCATE
_IFD1_TAG_COMPRESSION = 0x0103
_IFD1_TAG_JPEG_IF = 0x0201
_IFD1_TAG_JPEG_IF_LEN = 0x0202
_GPS_TAG_LAT_REF = 0x0001
_GPS_TAG_LAT = 0x0002
_GPS_TAG_LON_REF = 0x0003
_GPS_TAG_LON = 0x0004
# all twelve TIFF 6.0 entry types: BYTE ASCII SHORT LONG RATIONAL SBYTE
# UNDEFINED SSHORT SLONG SRATIONAL FLOAT DOUBLE
_TIFF_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8,
                   6: 1, 7: 1, 8: 2, 9: 4, 10: 8, 11: 4, 12: 8}
# element width for endian re-emission (RATIONAL/SRATIONAL swap per
# 4-byte half, DOUBLE as one 8-byte unit)
_TIFF_SWAP_WIDTH = {1: 1, 2: 1, 3: 2, 4: 4, 5: 4,
                    6: 1, 7: 1, 8: 2, 9: 4, 10: 4, 11: 4, 12: 8}


def _exif_ascii(v: str) -> bytes:
    return v.encode("ascii") + b"\0"


def _exif_rationals(pairs) -> bytes:
    out = bytearray()
    for num, den in pairs:
        out += int(num).to_bytes(4, "little") + int(den).to_bytes(4, "little")
    return bytes(out)


def _ifd_block_size(entries) -> int:
    return 2 + 12 * len(entries) + 4 + sum(
        len(p) for _, _, _, p in entries if len(p) > 4
    )


def _ifd_block(entries, base_off: int, next_off: int = 0) -> bytes:
    """Serialize one little-endian IFD (entries sorted by tag, per TIFF
    §2) at ``base_off`` from the TIFF header; >4-byte payloads go to the
    block's own data area with absolute offsets."""
    table = bytearray()
    data = bytearray()
    data_start = base_off + 2 + 12 * len(entries) + 4
    table += len(entries).to_bytes(2, "little")
    for tag, typ, cnt, payload in sorted(entries):
        table += tag.to_bytes(2, "little") + typ.to_bytes(2, "little")
        table += int(cnt).to_bytes(4, "little")
        if len(payload) <= 4:
            table += payload.ljust(4, b"\0")
        else:
            table += (data_start + len(data)).to_bytes(4, "little")
            data += payload
    table += next_off.to_bytes(4, "little")
    return bytes(table) + bytes(data)


def _gps_ifd_entries(gps) -> list:
    """(lat_ref, (deg, min, (sec_num, sec_den)), lon_ref, (...)) → GPS IFD
    entries — degrees/minutes as exact rationals over 1, seconds as the
    given rational, the layout real cameras write."""
    lat_ref, lat_dms, lon_ref, lon_dms = gps

    def dms(v):
        d, m, (sn, sd) = v
        return _exif_rationals([(d, 1), (m, 1), (sn, sd)])

    return [
        (_GPS_TAG_LAT_REF, 2, 2, _exif_ascii(lat_ref)),
        (_GPS_TAG_LAT, 5, 3, dms(lat_dms)),
        (_GPS_TAG_LON_REF, 2, 2, _exif_ascii(lon_ref)),
        (_GPS_TAG_LON, 5, 3, dms(lon_dms)),
    ]


def _exif_subifd_entries(d: dict) -> list:
    """ExifIFD entries from the fixture dict: ExposureTime/FNumber as
    RATIONALs, ISO as SHORT, ExifVersion as a 4-byte UNDEFINED — the
    mandatory-tag mix (incl. type 7) every real camera ExifIFD carries."""
    out = []
    if "exposure" in d:
        out.append((_EXIF_TAG_EXPOSURE, 5, 1,
                    _exif_rationals([d["exposure"]])))
    if "fnumber" in d:
        out.append((_EXIF_TAG_FNUMBER, 5, 1,
                    _exif_rationals([d["fnumber"]])))
    if "iso" in d:
        out.append((_EXIF_TAG_ISO, 3, 1,
                    int(d["iso"]).to_bytes(2, "little")))
    if "version" in d:
        v = bytes(d["version"])
        out.append((_EXIF_TAG_EXIF_VER, 7, len(v), v))
    return out


def encode_exif_app1(*, make: str | None = None, model: str | None = None,
                     orientation: int | None = None,
                     taken_at: str | None = None,
                     gps=None, thumbnail: bytes | None = None,
                     thumb_gps=None, exif_ifd: dict | None = None,
                     interop: str | None = None) -> bytes:
    """APP1 body ("Exif\\0\\0" + little-endian TIFF) with IFD0
    Make/Model/Orientation/DateTime and, when ``gps`` is given, a GPS IFD.
    With ``exif_ifd`` given, IFD0 carries an ExifIFD pointer (0x8769) to a
    sub-IFD of ExposureTime/FNumber/ISO/ExifVersion — and ``interop``
    hangs an InteropIFD (0xA005 INSIDE the ExifIFD, per EXIF 4.6.3) with
    an ASCII InteroperabilityIndex.  With ``thumbnail`` given, IFD0 chains
    to a real IFD1 (thumbnail IFD: Compression=6 +
    JPEGInterchangeFormat/Length pointing at the embedded bytes),
    optionally with ITS OWN GPS IFD (``thumb_gps``) — the full layout real
    camera JPEGs carry and the scrub must relocate."""
    ifd0 = []
    if make is not None:
        b = _exif_ascii(make)
        ifd0.append((_EXIF_TAG_MAKE, 2, len(b), b))
    if model is not None:
        b = _exif_ascii(model)
        ifd0.append((_EXIF_TAG_MODEL, 2, len(b), b))
    if orientation is not None:
        ifd0.append((_EXIF_TAG_ORIENTATION, 3, 1,
                     int(orientation).to_bytes(2, "little")))
    if taken_at is not None:
        b = _exif_ascii(taken_at)
        ifd0.append((_EXIF_TAG_DATETIME, 2, len(b), b))
    gps_block = b""
    exif_block = b""
    # each pointer entry is a LONG (inline payload): exactly +12 bytes
    n_ptrs = (1 if gps is not None else 0) + (1 if exif_ifd is not None else 0)
    off = 8 + _ifd_block_size(ifd0) + 12 * n_ptrs
    if gps is not None:
        ifd0.append((_EXIF_TAG_GPS_IFD, 4, 1, off.to_bytes(4, "little")))
        gps_block = _ifd_block(_gps_ifd_entries(gps), off)
        off += len(gps_block)
    if exif_ifd is not None:
        ifd0.append((_EXIF_TAG_EXIF_IFD, 4, 1, off.to_bytes(4, "little")))
        sub = _exif_subifd_entries(exif_ifd)
        if interop is not None:
            iop_off = off + _ifd_block_size(sub) + 12
            sub.append((_EXIF_TAG_INTEROP_IFD, 4, 1,
                        iop_off.to_bytes(4, "little")))
            b = _exif_ascii(interop)
            exif_block = (_ifd_block(sub, off)
                          + _ifd_block([(_INTEROP_TAG_INDEX, 2, len(b), b)],
                                       iop_off))
        else:
            exif_block = _ifd_block(sub, off)
        off += len(exif_block)
    ifd1_block = b""
    thumb_bytes = b""
    ifd1_off = 0
    if thumbnail is not None:
        ifd1_off = off
        ifd1 = [
            (_IFD1_TAG_COMPRESSION, 3, 1, (6).to_bytes(2, "little")),
            (_IFD1_TAG_JPEG_IF, 4, 1, b"\0\0\0\0"),  # offset patched below
            (_IFD1_TAG_JPEG_IF_LEN, 4, 1,
             len(thumbnail).to_bytes(4, "little")),
        ]
        tgps_block = b""
        if thumb_gps is not None:
            with_ptr1 = ifd1 + [(_EXIF_TAG_GPS_IFD, 4, 1, b"\0\0\0\0")]
            tgps_off = ifd1_off + _ifd_block_size(with_ptr1)
            ifd1.append((_EXIF_TAG_GPS_IFD, 4, 1,
                         tgps_off.to_bytes(4, "little")))
            tgps_block = _ifd_block(_gps_ifd_entries(thumb_gps), tgps_off)
        thumb_off = ifd1_off + _ifd_block_size(ifd1) + len(tgps_block)
        ifd1 = [
            (t, ty, c,
             thumb_off.to_bytes(4, "little") if t == _IFD1_TAG_JPEG_IF else p)
            for t, ty, c, p in ifd1
        ]
        ifd1_block = _ifd_block(ifd1, ifd1_off) + tgps_block
        thumb_bytes = bytes(thumbnail)
    tiff = (b"II" + (42).to_bytes(2, "little") + (8).to_bytes(4, "little")
            + _ifd_block(ifd0, 8, next_off=ifd1_off) + gps_block
            + exif_block + ifd1_block + thumb_bytes)
    return b"Exif\x00\x00" + tiff


def insert_app1(jpeg: bytes, app1_body: bytes) -> bytes:
    """Splice an APP1 segment immediately after SOI — where cameras put
    it; decode_jpeg skips APPn, so pixels are untouched."""
    buf = bytes(jpeg)
    if buf[:2] != b"\xff\xd8":
        raise ValueError("insert_app1: not a JPEG stream")
    return buf[:2] + _seg(0xE1, app1_body) + buf[2:]


def _find_exif_app1(buf: bytes):
    """Marker-walk to the first APP1 Exif segment before SOS.  Returns
    (segment_start, segment_end, tiff_bytes) or None; ValueError on a
    malformed marker stream."""
    if buf[:2] != b"\xff\xd8":
        raise ValueError("EXIF: not a JPEG stream")
    pos = 2
    while pos + 2 <= len(buf):
        if buf[pos] != 0xFF:
            raise ValueError("EXIF: expected marker")
        marker = buf[pos + 1]
        if marker == 0xFF:
            pos += 1
            continue
        if marker == 0xD8 or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker in (0xDA, 0xD9):  # SOS / EOI: EXIF must precede scan data
            return None
        if pos + 4 > len(buf):
            raise ValueError("EXIF: truncated segment header")
        seglen = int.from_bytes(buf[pos + 2:pos + 4], "big")
        body = buf[pos + 4:pos + 2 + seglen]
        if len(body) != seglen - 2:
            raise ValueError("EXIF: truncated segment body")
        if marker == 0xE1 and body[:6] == b"Exif\x00\x00":
            return pos, pos + 2 + seglen, body[6:]
        pos += 2 + seglen
    return None


def _ifd_entries(t: bytes, off: int, bo: str) -> dict:
    """-> {tag: (typ, cnt, raw_value_bytes)}; ValueError on truncation /
    out-of-bounds offsets, NotImplementedError (by name) on IFD entry
    types outside the five supported ones."""
    if off < 0 or off + 2 > len(t):
        raise ValueError("EXIF: IFD offset out of bounds")
    n = int.from_bytes(t[off:off + 2], bo)
    if off + 2 + 12 * n + 4 > len(t):
        raise ValueError("EXIF: truncated IFD table")
    out = {}
    for i in range(n):
        e = off + 2 + 12 * i
        tag = int.from_bytes(t[e:e + 2], bo)
        typ = int.from_bytes(t[e + 2:e + 4], bo)
        cnt = int.from_bytes(t[e + 4:e + 8], bo)
        if typ not in _TIFF_TYPE_SIZE:
            raise NotImplementedError(
                f"EXIF: IFD entry type {typ} (tag 0x{tag:04X}) not supported"
            )
        size = _TIFF_TYPE_SIZE[typ] * cnt
        if size <= 4:
            raw = t[e + 8:e + 8 + size]
        else:
            voff = int.from_bytes(t[e + 8:e + 12], bo)
            if voff + size > len(t):
                raise ValueError("EXIF: value offset out of bounds")
            raw = t[voff:voff + size]
        out[tag] = (typ, cnt, raw)
    return out


def _exif_str(entry) -> str | None:
    typ, _, raw = entry
    if typ != 2:
        return None
    return raw.split(b"\0")[0].decode("ascii", "replace")


def _exif_short(entry, bo: str) -> int | None:
    typ, cnt, raw = entry
    if typ != 3 or cnt < 1 or len(raw) < 2:
        return None
    return int.from_bytes(raw[:2], bo)


def _exif_rational_list(entry, bo: str):
    typ, cnt, raw = entry
    if typ != 5 or len(raw) < 8 * cnt:
        return None
    return [
        (int.from_bytes(raw[8 * i:8 * i + 4], bo),
         int.from_bytes(raw[8 * i + 4:8 * i + 8], bo))
        for i in range(cnt)
    ]


def _dms_to_dd(rats, ref: str | None) -> float | None:
    """Decimal degrees; term order fixed (deg + min/60 + sec/3600) so the
    oracle's double arithmetic replays it bit-for-bit."""
    if rats is None or len(rats) != 3:
        return None
    if any(den == 0 for _, den in rats):
        return None
    dd = (rats[0][0] / rats[0][1]
          + (rats[1][0] / rats[1][1]) / 60.0
          + (rats[2][0] / rats[2][1]) / 3600.0)
    if ref in ("S", "W"):
        dd = -dd
    return dd


def parse_exif(content: bytes) -> dict | None:
    """EXIF metadata strictly from bytes: Make/Model/Orientation/DateTime
    + GPS decimal degrees.  None for absent OR malformed EXIF (truncated,
    bad magic, bad offsets); NotImplementedError by name for foreign IFD
    entry types."""
    buf = bytes(content)
    try:
        found = _find_exif_app1(buf)
        if found is None:
            return None
        tiff = found[2]
        if len(tiff) < 8:
            return None
        if tiff[:2] == b"II":
            bo = "little"
        elif tiff[:2] == b"MM":
            bo = "big"
        else:
            return None
        if int.from_bytes(tiff[2:4], bo) != 42:
            return None
        ifd0 = _ifd_entries(tiff, int.from_bytes(tiff[4:8], bo), bo)
        meta = {
            "make": _exif_str(ifd0[_EXIF_TAG_MAKE]) if _EXIF_TAG_MAKE in ifd0 else None,
            "model": _exif_str(ifd0[_EXIF_TAG_MODEL]) if _EXIF_TAG_MODEL in ifd0 else None,
            "orientation": _exif_short(ifd0[_EXIF_TAG_ORIENTATION], bo)
            if _EXIF_TAG_ORIENTATION in ifd0 else None,
            "taken_at": _exif_str(ifd0[_EXIF_TAG_DATETIME])
            if _EXIF_TAG_DATETIME in ifd0 else None,
            "lat_dd": None,
            "lon_dd": None,
        }
        if _EXIF_TAG_GPS_IFD in ifd0:
            typ, _, raw = ifd0[_EXIF_TAG_GPS_IFD]
            if typ == 4 and len(raw) == 4:
                gps = _ifd_entries(tiff, int.from_bytes(raw, bo), bo)
                lat_ref = _exif_str(gps[_GPS_TAG_LAT_REF]) if _GPS_TAG_LAT_REF in gps else None
                lon_ref = _exif_str(gps[_GPS_TAG_LON_REF]) if _GPS_TAG_LON_REF in gps else None
                if _GPS_TAG_LAT in gps:
                    meta["lat_dd"] = _dms_to_dd(
                        _exif_rational_list(gps[_GPS_TAG_LAT], bo), lat_ref)
                if _GPS_TAG_LON in gps:
                    meta["lon_dd"] = _dms_to_dd(
                        _exif_rational_list(gps[_GPS_TAG_LON], bo), lon_ref)
        return meta
    except ValueError:
        return None


def _ifd1_view(tiff: bytes, ifd0_off: int, bo: str):
    """(ifd1_entries|None, thumbnail_bytes) — follows IFD0's next-IFD
    pointer; ValueError on truncation, None when IFD0 is terminal.
    Thumbnail bytes resolved from JPEGInterchangeFormat/Length when both
    are present and in-bounds (else b"")."""
    n0 = int.from_bytes(tiff[ifd0_off:ifd0_off + 2], bo)
    next_pos = ifd0_off + 2 + 12 * n0
    if next_pos + 4 > len(tiff):
        raise ValueError("EXIF: truncated IFD0 next pointer")
    next_off = int.from_bytes(tiff[next_pos:next_pos + 4], bo)
    if next_off == 0:
        return None, b""
    ifd1 = _ifd_entries(tiff, next_off, bo)
    thumb = b""
    if _IFD1_TAG_JPEG_IF in ifd1 and _IFD1_TAG_JPEG_IF_LEN in ifd1:
        t_typ, _, t_raw = ifd1[_IFD1_TAG_JPEG_IF]
        l_typ, _, l_raw = ifd1[_IFD1_TAG_JPEG_IF_LEN]
        if t_typ == 4 and l_typ == 4 and len(t_raw) == 4 and len(l_raw) == 4:
            toff = int.from_bytes(t_raw, bo)
            tlen = int.from_bytes(l_raw, bo)
            if toff + tlen > len(tiff):
                raise ValueError("EXIF: thumbnail bytes out of bounds")
            thumb = tiff[toff:toff + tlen]
    # IFD1's own next pointer (an IFD2 chain) is the caller's concern
    return ifd1, thumb


def parse_exif_ifd1(content: bytes) -> dict | None:
    """Thumbnail-IFD view of an EXIF stream: compression, whether IFD1
    carries its own GPS pointer, and the embedded thumbnail bytes.  None
    for absent/malformed EXIF or a terminal IFD0."""
    buf = bytes(content)
    try:
        found = _find_exif_app1(buf)
        if found is None:
            return None
        tiff = found[2]
        if len(tiff) < 8 or tiff[:2] not in (b"II", b"MM"):
            return None
        bo = "little" if tiff[:2] == b"II" else "big"
        if int.from_bytes(tiff[2:4], bo) != 42:
            return None
        ifd0_off = int.from_bytes(tiff[4:8], bo)
        _ifd_entries(tiff, ifd0_off, bo)  # bounds-validate IFD0
        ifd1, thumb = _ifd1_view(tiff, ifd0_off, bo)
        if ifd1 is None:
            return None
        return {
            "compression": _exif_short(ifd1[_IFD1_TAG_COMPRESSION], bo)
            if _IFD1_TAG_COMPRESSION in ifd1 else None,
            "has_gps": _EXIF_TAG_GPS_IFD in ifd1,
            "thumbnail": thumb,
        }
    except ValueError:
        return None


def parse_exif_subifd(content: bytes) -> dict | None:
    """ExifIFD (0x8769) view of an EXIF stream: exposure/fnumber as exact
    (num, den) pairs, ISO, the ExifVersion bytes, and the InteropIFD's
    InteroperabilityIndex when chained off the ExifIFD.  None for
    absent/malformed EXIF or an IFD0 without an ExifIFD pointer."""
    buf = bytes(content)
    try:
        found = _find_exif_app1(buf)
        if found is None:
            return None
        tiff = found[2]
        if len(tiff) < 8 or tiff[:2] not in (b"II", b"MM"):
            return None
        bo = "little" if tiff[:2] == b"II" else "big"
        if int.from_bytes(tiff[2:4], bo) != 42:
            return None
        ifd0 = _ifd_entries(tiff, int.from_bytes(tiff[4:8], bo), bo)
        if _EXIF_TAG_EXIF_IFD not in ifd0:
            return None
        typ, _, raw = ifd0[_EXIF_TAG_EXIF_IFD]
        if typ != 4 or len(raw) != 4:
            return None
        sub = _ifd_entries(tiff, int.from_bytes(raw, bo), bo)

        def rat(tag):
            if tag not in sub:
                return None
            t, _, r = sub[tag]
            if t != 5 or len(r) < 8:
                return None
            return (int.from_bytes(r[:4], bo), int.from_bytes(r[4:8], bo))

        iop_index = None
        if _EXIF_TAG_INTEROP_IFD in sub:
            t, _, r = sub[_EXIF_TAG_INTEROP_IFD]
            if t == 4 and len(r) == 4:
                iop = _ifd_entries(tiff, int.from_bytes(r, bo), bo)
                if _INTEROP_TAG_INDEX in iop:
                    iop_index = _exif_str(iop[_INTEROP_TAG_INDEX])
        return {
            "exposure": rat(_EXIF_TAG_EXPOSURE),
            "fnumber": rat(_EXIF_TAG_FNUMBER),
            "iso": _exif_short(sub[_EXIF_TAG_ISO], bo)
            if _EXIF_TAG_ISO in sub else None,
            "version": sub[_EXIF_TAG_EXIF_VER][2]
            if _EXIF_TAG_EXIF_VER in sub else None,
            "interop_index": iop_index,
        }
    except ValueError:
        return None


def _le_raw(typ: int, cnt: int, raw: bytes, bo: str) -> bytes:
    """Re-emit a parsed value payload little-endian (identity when the
    source TIFF was already II).  A pure per-element byte reversal —
    correct for unsigned, signed, and IEEE-float types alike."""
    esz = _TIFF_SWAP_WIDTH[typ]
    if bo == "little" or esz == 1:
        return raw
    return b"".join(
        raw[i:i + esz][::-1] for i in range(0, len(raw), esz)
    )


_SUB_IFD_TAGS = (_EXIF_TAG_EXIF_IFD, _EXIF_TAG_INTEROP_IFD,
                 _EXIF_TAG_GPS_IFD)


def _parse_ifd_tree(tiff: bytes, off: int, bo: str, depth: int = 0,
                    is_sub: bool = False) -> dict:
    """One IFD plus its sub-IFDs (ExifIFD / InteropIFD / GPS pointers),
    recursively: ``{"entries": {tag: (typ, cnt, raw)}, "subs": {tag:
    subtree}}``.  ValueError on truncation/out-of-bounds (the caller's
    malformed-stream policy applies); NotImplementedError by name on a
    non-LONG sub-IFD pointer, nesting deeper than 3, or a sub-IFD that
    chains onward via its own next pointer (relocating a chain the spec
    says should not exist would silently reorder it)."""
    if depth > 3:
        raise NotImplementedError("EXIF: sub-IFD nesting deeper than 3")
    entries = _ifd_entries(tiff, off, bo)
    if is_sub:
        n = int.from_bytes(tiff[off:off + 2], bo)
        np_ = off + 2 + 12 * n
        if (np_ + 4 <= len(tiff)
                and int.from_bytes(tiff[np_:np_ + 4], bo) != 0):
            raise NotImplementedError(
                "EXIF scrub: cannot relocate chained sub-IFD "
                "(nonzero next pointer)"
            )
    subs = {}
    for tag in _SUB_IFD_TAGS:
        if tag in entries:
            typ, _cnt, raw = entries[tag]
            if typ != 4 or len(raw) != 4:
                raise NotImplementedError(
                    f"EXIF scrub: non-LONG sub-IFD pointer (tag 0x{tag:04X})"
                )
            subs[tag] = _parse_ifd_tree(
                tiff, int.from_bytes(raw, bo), bo, depth + 1, is_sub=True
            )
    return {"entries": entries, "subs": subs}


def _tree_has_gps(node: dict) -> bool:
    return _EXIF_TAG_GPS_IFD in node["entries"] or any(
        _tree_has_gps(s) for s in node["subs"].values()
    )


def _emit_ifd_tree(node: dict, base_off: int, bo: str, next_off: int = 0,
                   drop: tuple = (), patch: dict | None = None) -> bytes:
    """Serialize an IFD tree little-endian at ``base_off``, depth-first
    (own block, then each sub-IFD's tree), DROPPING every GPS sub-IFD and
    patching the surviving pointer entries to the relocated offsets.
    ``drop`` removes additional top-level tags; ``patch`` overrides
    top-level payloads (the thumbnail-offset rewrite).  Output length is
    invariant to ``next_off``/``patch`` values, so a measuring pass
    followed by a final pass is exact."""
    kept = [
        (tag, typ, cnt, _le_raw(typ, cnt, raw, bo))
        for tag, (typ, cnt, raw) in sorted(node["entries"].items())
        if tag != _EXIF_TAG_GPS_IFD and tag not in drop
    ]
    patched = dict(patch or {})
    sub_off = base_off + _ifd_block_size(kept)
    blocks = []
    for tag in sorted(node["subs"]):
        if tag == _EXIF_TAG_GPS_IFD:
            continue
        blk = _emit_ifd_tree(node["subs"][tag], sub_off, bo)
        patched[tag] = sub_off.to_bytes(4, "little")
        blocks.append(blk)
        sub_off += len(blk)
    kept = [(t, ty, c, patched.get(t, p)) for t, ty, c, p in kept]
    return _ifd_block(kept, base_off, next_off) + b"".join(blocks)


def strip_gps_exif(content: bytes) -> bytes:
    """PII scrub: rebuild the APP1 without GPS IFDs — the pointer entries
    AND the pointed-to blocks, WHEREVER they appear (IFD0, the ExifIFD /
    InteropIFD sub-IFD tree, and the chained IFD1 thumbnail IFD; real
    camera thumbnails sometimes carry their own GPS) — preserving every
    other tag, RELOCATING the ExifIFD/Interop sub-IFDs and the embedded
    thumbnail bytes with corrected offsets.  Byte-identical passthrough
    when there is no parseable EXIF or no GPS anywhere.

    Failure policy (PII scrubs must fail CLOSED):

    - unreadable head IFD → passthrough (GPS presence is unknowable, and
      every later consumer sees the same unreadable stream);
    - readable IFD0 but a MALFORMED thumbnail chain → scrub IFD0 and
      TRUNCATE the chain (the broken region could hide GPS; returning the
      original bytes would silently retain it);
    - JPEGInterchangeFormat present but not strictly resolvable (missing
      length twin, non-LONG type, out of bounds) → both interchange tags
      are dropped rather than rewritten into a dangling pointer;
    - refuses by name on a chained sub-IFD and on an IFD2 chain.

    MakerNote (UNDEFINED payload) is relocated verbatim; offsets a vendor
    hid INSIDE that opaque payload are not rewritten — the standard
    metadata-editor caveat."""
    buf = bytes(content)
    try:
        found = _find_exif_app1(buf)
    except ValueError:
        return buf
    if found is None:
        return buf
    seg_start, seg_end, tiff = found
    if len(tiff) < 8 or tiff[:2] not in (b"II", b"MM"):
        return buf
    bo = "little" if tiff[:2] == b"II" else "big"
    if int.from_bytes(tiff[2:4], bo) != 42:
        return buf
    ifd0_off = int.from_bytes(tiff[4:8], bo)
    try:
        tree0 = _parse_ifd_tree(tiff, ifd0_off, bo)
    except ValueError:
        return buf
    # IFD1 in its OWN try: a malformed thumbnail chain must not fail the
    # whole scrub open while IFD0 carries parseable GPS
    tree1 = None
    thumb = b""
    thumb_resolved = False
    chain_broken = False
    try:
        n0 = int.from_bytes(tiff[ifd0_off:ifd0_off + 2], bo)
        next_pos = ifd0_off + 2 + 12 * n0
        if next_pos + 4 > len(tiff):
            raise ValueError("EXIF: truncated IFD0 next pointer")
        ifd1_off = int.from_bytes(tiff[next_pos:next_pos + 4], bo)
        if ifd1_off != 0:
            tree1 = _parse_ifd_tree(tiff, ifd1_off, bo)
            n1 = int.from_bytes(tiff[ifd1_off:ifd1_off + 2], bo)
            next1 = ifd1_off + 2 + 12 * n1
            if (next1 + 4 <= len(tiff)
                    and int.from_bytes(tiff[next1:next1 + 4], bo) != 0):
                raise NotImplementedError(
                    "EXIF scrub: cannot relocate chained IFD2"
                )
            e1 = tree1["entries"]
            if (_IFD1_TAG_JPEG_IF in e1
                    and _IFD1_TAG_JPEG_IF_LEN in e1):
                t_typ, _, t_raw = e1[_IFD1_TAG_JPEG_IF]
                l_typ, _, l_raw = e1[_IFD1_TAG_JPEG_IF_LEN]
                if (t_typ == 4 and l_typ == 4
                        and len(t_raw) == 4 and len(l_raw) == 4):
                    toff = int.from_bytes(t_raw, bo)
                    tlen = int.from_bytes(l_raw, bo)
                    if toff + tlen <= len(tiff):
                        thumb = tiff[toff:toff + tlen]
                        thumb_resolved = True
    except ValueError:
        tree1 = None
        thumb = b""
        thumb_resolved = False
        chain_broken = True
    if (not chain_broken and not _tree_has_gps(tree0)
            and (tree1 is None or not _tree_has_gps(tree1))):
        return buf
    header = (b"II" + (42).to_bytes(2, "little")
              + (8).to_bytes(4, "little"))
    blk0 = _emit_ifd_tree(tree0, 8, bo)
    if tree1 is None:
        new_tiff = header + blk0
    else:
        ifd1_new_off = 8 + len(blk0)
        blk0 = _emit_ifd_tree(tree0, 8, bo, next_off=ifd1_new_off)
        if thumb_resolved:
            blk1 = _emit_ifd_tree(tree1, ifd1_new_off, bo)  # measuring pass
            new_thumb_off = ifd1_new_off + len(blk1)
            blk1 = _emit_ifd_tree(
                tree1, ifd1_new_off, bo,
                patch={_IFD1_TAG_JPEG_IF:
                       new_thumb_off.to_bytes(4, "little")},
            )
            new_tiff = header + blk0 + blk1 + thumb
        else:
            e1 = tree1["entries"]
            drop = ()
            if (_IFD1_TAG_JPEG_IF in e1
                    or _IFD1_TAG_JPEG_IF_LEN in e1):
                drop = (_IFD1_TAG_JPEG_IF, _IFD1_TAG_JPEG_IF_LEN)
            new_tiff = header + blk0 + _emit_ifd_tree(
                tree1, ifd1_new_off, bo, drop=drop
            )
    return (buf[:seg_start] + _seg(0xE1, b"Exif\x00\x00" + new_tiff)
            + buf[seg_end:])


# -- fixture + kernels -------------------------------------------------------

def _exif_base_jpeg(doc_id: int) -> bytes:
    """The 8×8 gray baseline JPEG (``v[i] = (id*K + i) % 256``) every
    EXIF fixture splices its APP1 block into."""
    return encode_jpeg(_flat_raster(doc_id, 64).astype(np.uint8).reshape(8, 8))


def _exif_fixture_meta(doc_id: int):
    """Closed-form per-doc metadata the census oracle replays: no EXIF at
    all when id%7==0, GPS only when id%3!=0 — so the census proves NULL
    handling on real absent/partial streams, not just the happy path."""
    if doc_id % 7 == 0:
        return None
    meta = {
        "make": "CamCo",
        "model": f"M{doc_id % 5}",
        "orientation": 1 + doc_id % 8,
        "taken_at": (
            f"2024:{1 + doc_id % 12:02d}:{1 + doc_id % 28:02d} "
            f"{doc_id % 24:02d}:{(doc_id * 7) % 60:02d}:{(doc_id * 13) % 60:02d}"
        ),
        "gps": None,
    }
    if doc_id % 3 != 0:
        meta["gps"] = (
            "N" if doc_id % 2 == 0 else "S",
            (doc_id % 90, (doc_id * 3) % 60, ((doc_id * 7) % 6000, 100)),
            "E" if (doc_id // 2) % 2 == 0 else "W",
            (doc_id % 180, (doc_id * 5) % 60, ((doc_id * 11) % 6000, 100)),
        )
    return meta


def documents_as_exif_jpeg_assets(docs: DataFrame) -> DataFrame:
    """Per document: a REAL baseline JPEG (8×8 gray raster
    ``v[i] = (id*K + i) % 256``) with a camera-style APP1 EXIF block
    spliced after SOI — Make/Model/Orientation/DateTime, and a GPS IFD
    with rational degrees/minutes/seconds for the id%3!=0 cohort.  The
    id%7==0 cohort ships NO APP1 (the absent-metadata rows every census
    must survive).  All metadata is closed-form in doc_id, so the oracle
    replays it without parsing a byte."""

    def jpeg(aid: int) -> bytes:
        blob = _exif_base_jpeg(aid)
        meta = _exif_fixture_meta(aid)
        if meta is not None:
            app1 = encode_exif_app1(
                make=meta["make"], model=meta["model"],
                orientation=meta["orientation"],
                taken_at=meta["taken_at"], gps=meta["gps"],
            )
            blob = insert_app1(blob, app1)
        return blob

    return _asset_table(docs, "image", "image/jpeg", jpeg)


def decoded_exif_metadata(assets: DataFrame) -> DataFrame:
    """One Arrow kernel: blob in, parsed EXIF row out.  Absent/malformed
    EXIF yields NULL columns (has_exif=false); GPS converts to decimal
    degrees in the fixed term order the oracle mirrors."""

    def metadata(row):
        m = parse_exif(row.content)
        if m is None:
            yield (int(row.asset_id), False, None, None,
                   None, None, False, None, None)
        else:
            has_gps = m["lat_dd"] is not None and m["lon_dd"] is not None
            yield (int(row.asset_id), True, m["make"], m["model"],
                   m["orientation"], m["taken_at"], has_gps,
                   m["lat_dd"], m["lon_dd"])

    return _row_kernel(
        assets,
        "doc_id long, has_exif boolean, make string, model string, "
        "orientation int, taken_at string, has_gps boolean, "
        "lat_dd double, lon_dd double",
        metadata,
    )


def gps_scrub_verdicts(assets: DataFrame) -> DataFrame:
    """Scrub + verify fused in one kernel: strip the GPS IFD, re-parse the
    scrubbed bytes, and prove (per image, in the output) that GPS is gone,
    the other EXIF fields survived, and the PIXELS are bit-identical —
    the scrub rewrites metadata, never the scan data."""

    def verdict(row):
        blob = bytes(row.content)
        before = parse_exif(blob)
        scrubbed = strip_gps_exif(blob)
        after = parse_exif(scrubbed)
        had_gps = before is not None and before["lat_dd"] is not None
        gps_after = after is not None and after["lat_dd"] is not None
        o_kept = (before is None and after is None) or (
            before is not None and after is not None
            and after["orientation"] == before["orientation"]
        )
        t_kept = (before is None and after is None) or (
            before is not None and after is not None
            and after["taken_at"] == before["taken_at"]
        )
        intact = bool(np.array_equal(decode_jpeg(blob), decode_jpeg(scrubbed)))
        yield (int(row.asset_id), before is not None, had_gps, gps_after,
               o_kept, t_kept, intact, len(blob) - len(scrubbed))

    return _row_kernel(
        assets,
        "doc_id long, had_exif boolean, had_gps boolean, gps_after boolean, "
        "orientation_kept boolean, taken_at_kept boolean, "
        "raster_intact boolean, bytes_removed int",
        verdict,
    )


# -- thumbnail-IFD (IFD1) scrub fixture + kernel ------------------------------

# one GPS IFD costs exactly 114 bytes: the 12-byte pointer entry + a
# 102-byte block (2 count + 4x12 entries + 4 next + 2x24 rational data);
# the scrub's shrinkage is 114 per GPS IFD removed, wherever it lived
_EXIF_GPS_IFD_BYTES = 114
_THUMB_LEN = 48


def _thumb_fixture_meta(doc_id: int):
    """Closed-form per-doc thumbnail metadata the oracle replays: no EXIF
    at all when id%7==0; otherwise an IFD1 with a {n}-byte embedded
    thumbnail, a primary GPS IFD when id%3!=0, and a THUMBNAIL GPS IFD
    when id%2==0 — so the gate proves the scrub fires on head-only,
    thumb-only, both, and neither."""
    if doc_id % 7 == 0:
        return None
    gps = None
    if doc_id % 3 != 0:
        gps = ("N" if doc_id % 2 == 0 else "S",
               (doc_id % 90, (doc_id * 3) % 60, ((doc_id * 7) % 6000, 100)),
               "E" if (doc_id // 2) % 2 == 0 else "W",
               (doc_id % 180, (doc_id * 5) % 60, ((doc_id * 11) % 6000, 100)))
    tgps = None
    if doc_id % 2 == 0:
        tgps = ("S", (doc_id % 45, (doc_id * 7) % 60, ((doc_id * 13) % 6000, 100)),
                "W", (doc_id % 90, (doc_id * 9) % 60, ((doc_id * 17) % 6000, 100)))
    thumb = bytes(int(x) for x in _flat_raster(doc_id, _THUMB_LEN))
    return {"gps": gps, "tgps": tgps, "thumb": thumb}


_thumb_fixture_meta.__doc__ = (_thumb_fixture_meta.__doc__ or "").format(
    n=_THUMB_LEN
)


def documents_as_thumb_jpeg_assets(docs: DataFrame) -> DataFrame:
    """Per document: a baseline JPEG whose APP1 chains IFD0 → IFD1 with an
    embedded thumbnail payload — the real camera layout — per
    ``_thumb_fixture_meta``'s closed-form GPS placement."""

    def jpeg(aid: int) -> bytes:
        blob = _exif_base_jpeg(aid)
        meta = _thumb_fixture_meta(aid)
        if meta is not None:
            blob = insert_app1(blob, encode_exif_app1(
                make="CamCo", orientation=1 + aid % 8,
                gps=meta["gps"], thumbnail=meta["thumb"],
                thumb_gps=meta["tgps"],
            ))
        return blob

    return _asset_table(docs, "image", "image/jpeg", jpeg)


def thumb_scrub_verdicts(assets: DataFrame) -> DataFrame:
    """Scrub + verify fused in one kernel, thumbnail-aware: strip GPS from
    BOTH IFDs, then prove per image that no GPS survives anywhere, the
    relocated thumbnail bytes are intact, the pixels are bit-identical,
    and the shrinkage is exactly {b} bytes per GPS IFD removed."""

    def verdict(row):
        blob = bytes(row.content)
        before0 = parse_exif(blob)
        before1 = parse_exif_ifd1(blob)
        scrubbed = strip_gps_exif(blob)
        after0 = parse_exif(scrubbed)
        after1 = parse_exif_ifd1(scrubbed)
        had_gps0 = before0 is not None and before0["lat_dd"] is not None
        had_tgps = before1 is not None and before1["has_gps"]
        gps_after = (
            (after0 is not None and after0["lat_dd"] is not None)
            or (after1 is not None and after1["has_gps"])
        )
        thumb_kept = (before1 is None and after1 is None) or (
            before1 is not None and after1 is not None
            and after1["thumbnail"] == before1["thumbnail"]
        )
        intact = bool(np.array_equal(decode_jpeg(blob), decode_jpeg(scrubbed)))
        yield (int(row.asset_id), before0 is not None, had_gps0, had_tgps,
               gps_after, thumb_kept, intact, len(blob) - len(scrubbed))

    return _row_kernel(
        assets,
        "doc_id long, had_exif boolean, had_gps boolean, "
        "had_thumb_gps boolean, gps_after boolean, thumb_kept boolean, "
        "raster_intact boolean, bytes_removed int",
        verdict,
    )


thumb_scrub_verdicts.__doc__ = (thumb_scrub_verdicts.__doc__ or "").format(
    b=_EXIF_GPS_IFD_BYTES
)


# -- full camera layout (ExifIFD + Interop + IFD1) scrub fixture + kernel -----


def _full_fixture_meta(doc_id: int):
    """Closed-form per-doc metadata for the FULL camera APP1 layout the
    oracle replays: no EXIF when id%7==0; otherwise IFD0 with an ExifIFD
    sub-IFD (ExposureTime/FNumber/ISO/ExifVersion incl. a type-7 entry)
    chaining an InteropIFD, a primary GPS IFD when id%3!=0, and an IFD1
    thumbnail with its own GPS IFD when id%2==0."""
    if doc_id % 7 == 0:
        return None
    m = _thumb_fixture_meta(doc_id)
    m["exif_ifd"] = {
        "exposure": (1, 1 + doc_id % 500),
        "fnumber": (10 + doc_id % 90, 10),
        "iso": 100 * (1 + doc_id % 16),
        "version": b"0232",
    }
    m["interop"] = "R98"
    return m


def documents_as_full_exif_assets(docs: DataFrame) -> DataFrame:
    """Per document: a baseline JPEG whose APP1 carries the COMPLETE real
    camera layout — IFD0 + GPS IFD + ExifIFD (with a chained InteropIFD)
    + IFD1 thumbnail (with its own GPS) — per ``_full_fixture_meta``."""

    def jpeg(aid: int) -> bytes:
        blob = _exif_base_jpeg(aid)
        meta = _full_fixture_meta(aid)
        if meta is not None:
            blob = insert_app1(blob, encode_exif_app1(
                make="CamCo", orientation=1 + aid % 8,
                gps=meta["gps"], thumbnail=meta["thumb"],
                thumb_gps=meta["tgps"],
                exif_ifd=meta["exif_ifd"], interop=meta["interop"],
            ))
        return blob

    return _asset_table(docs, "image", "image/jpeg", jpeg)


def full_scrub_verdicts(assets: DataFrame) -> DataFrame:
    """Scrub + verify fused in one kernel over the full camera layout:
    strip GPS everywhere, RELOCATE the ExifIFD/InteropIFD sub-IFD tree and
    the IFD1 thumbnail, then prove per image that no GPS survives, the
    whole ExifIFD view (exposure/fnumber/ISO/version/interop index) is
    value-identical after relocation, the thumbnail bytes are intact, the
    pixels are bit-identical, and the shrinkage is exactly {b} bytes per
    GPS IFD removed."""

    def verdict(row):
        blob = bytes(row.content)
        before0 = parse_exif(blob)
        before1 = parse_exif_ifd1(blob)
        before_sub = parse_exif_subifd(blob)
        scrubbed = strip_gps_exif(blob)
        after0 = parse_exif(scrubbed)
        after1 = parse_exif_ifd1(scrubbed)
        after_sub = parse_exif_subifd(scrubbed)
        had_gps0 = before0 is not None and before0["lat_dd"] is not None
        had_tgps = before1 is not None and before1["has_gps"]
        gps_after = (
            (after0 is not None and after0["lat_dd"] is not None)
            or (after1 is not None and after1["has_gps"])
        )
        sub_kept = (before_sub is None and after_sub is None) or (
            before_sub is not None and after_sub == before_sub
        )
        thumb_kept = (before1 is None and after1 is None) or (
            before1 is not None and after1 is not None
            and after1["thumbnail"] == before1["thumbnail"]
        )
        intact = bool(np.array_equal(decode_jpeg(blob), decode_jpeg(scrubbed)))
        yield (int(row.asset_id), before0 is not None, had_gps0, had_tgps,
               gps_after, sub_kept, thumb_kept, intact,
               len(blob) - len(scrubbed))

    return _row_kernel(
        assets,
        "doc_id long, had_exif boolean, had_gps boolean, "
        "had_thumb_gps boolean, gps_after boolean, subifd_kept boolean, "
        "thumb_kept boolean, raster_intact boolean, bytes_removed int",
        verdict,
    )


full_scrub_verdicts.__doc__ = (full_scrub_verdicts.__doc__ or "").format(
    b=_EXIF_GPS_IFD_BYTES
)


# -- orientation-invariant dedup ---------------------------------------------

_ORIENT_SCENES = 50
_ORIENT_Q_MUL = 37   # quadrant q of scene s: (s*K + q*37) % 256


def _orient_canonical_raster(scene: int) -> np.ndarray:
    """16×16 gray raster, constant per 8×8 quadrant — constant JPEG blocks
    make quant-1 encode→decode EXACT, so orientation normalization can
    collapse copies bit-identically; a rotation/flip permutes quadrants,
    never blends them."""
    q = (scene * _PX_K
         + np.arange(4, dtype=np.int64) * _ORIENT_Q_MUL) % 256
    img = np.empty((16, 16), dtype=np.uint8)
    for qi in range(4):
        img[(qi // 2) * 8:(qi // 2) * 8 + 8,
            (qi % 2) * 8:(qi % 2) * 8 + 8] = q[qi]
    return img


def apply_exif_orientation(img: np.ndarray, orientation: int) -> np.ndarray:
    """FORWARD transform: how a camera stored the raster given the EXIF
    orientation tag it wrote (tag semantics per EXIF §4.6.4: the value
    names the transform a VIEWER must apply; storing is its inverse —
    both sides below are exact inverses, pinned by test)."""
    if orientation == 1:
        return img
    if orientation == 2:
        return img[:, ::-1]
    if orientation == 3:
        return img[::-1, ::-1]
    if orientation == 4:
        return img[::-1, :]
    if orientation == 5:
        # transpose (main diagonal), self-inverse
        return img.T
    if orientation == 6:
        # viewer must rotate 90° CW, so the camera stored rot90 CCW
        return np.rot90(img, k=1)
    if orientation == 7:
        # transverse (anti-diagonal), self-inverse
        return img[::-1, ::-1].T
    if orientation == 8:
        # viewer must rotate 90° CCW, so the camera stored rot90 CW
        return np.rot90(img, k=-1)
    raise ValueError(f"EXIF orientation {orientation} out of range")


def undo_exif_orientation(img: np.ndarray, orientation: int) -> np.ndarray:
    """Inverse of :func:`apply_exif_orientation` — the viewer transform
    the tag value names (EXIF §4.6.4), i.e. the normalization a viewer
    (or a dedup kernel) applies before comparing pixels.  Matches PIL's
    ``ImageOps.exif_transpose`` mapping: 2 flipH, 3 rot180, 4 flipV,
    5 transpose, 6 rot90 CW, 7 transverse, 8 rot90 CCW."""
    if orientation == 1:
        return img
    if orientation == 2:
        return img[:, ::-1]
    if orientation == 3:
        return img[::-1, ::-1]
    if orientation == 4:
        return img[::-1, :]
    if orientation == 5:
        return img.T
    if orientation == 6:
        return np.rot90(img, k=-1)
    if orientation == 7:
        return img[::-1, ::-1].T
    if orientation == 8:
        return np.rot90(img, k=1)
    raise ValueError(f"EXIF orientation {orientation} out of range")


def documents_as_oriented_jpeg_assets(docs: DataFrame) -> DataFrame:
    """Per document: one of {scenes} scene images, stored the way a
    rotated camera would store it — the raster PRE-TRANSFORMED by an EXIF
    orientation in 1..8 (cycling over copies) and the orientation recorded
    in the APP1 block.  Orientation-1 copies ship with NO EXIF at all
    (the tag's documented default), so the dedup must treat absent
    metadata as identity, not as unknown."""

    def jpeg(aid: int) -> bytes:
        scene, copy = aid % _ORIENT_SCENES, aid // _ORIENT_SCENES
        orientation = 1 + copy % 8
        blob = encode_jpeg(apply_exif_orientation(
            _orient_canonical_raster(scene), orientation
        ))
        if orientation != 1:
            blob = insert_app1(blob, encode_exif_app1(orientation=orientation))
        return blob

    return _asset_table(docs, "image", "image/jpeg", jpeg)


documents_as_oriented_jpeg_assets.__doc__ = (
    documents_as_oriented_jpeg_assets.__doc__ or ""
).format(scenes=_ORIENT_SCENES)


def decoded_orientation_signatures(assets: DataFrame) -> DataFrame:
    """One Arrow kernel: decode the JPEG strictly from bytes, parse the
    EXIF orientation (absent EXIF = 1, the spec default), UNDO the
    orientation, and emit a position-sensitive checksum of the normalized
    raster — Σ v[i]·(i+1) over the flattened pixels, so any mis-rotation
    changes the signature (a position-free sum would not)."""

    def signature(row):
        blob = bytes(row.content)
        meta = parse_exif(blob)
        orientation = 1
        if meta is not None and meta["orientation"] is not None:
            orientation = int(meta["orientation"])
        img = undo_exif_orientation(decode_jpeg(blob), orientation)
        v = img.astype(np.int64).ravel()
        sig = int((v * (np.arange(v.size, dtype=np.int64) + 1)).sum())
        yield int(row.asset_id), orientation, sig

    return _row_kernel(assets, "doc_id long, orientation int, sig long", signature)
