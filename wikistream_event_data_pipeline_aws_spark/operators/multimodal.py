"""Multimodal column operators (north-star scope) — REAL codecs.

Image/audio/video payloads are opaque ``binary`` columns with a typed
metadata struct. Since round 6 the codec work is real, pure-stdlib
container parsing — no fake decode left:

* **PNG** — signature + chunk walk with CRC32 verification, IHDR
  field extraction, multi-IDAT zlib inflate, full scanline defilter
  (filter types 0-4 incl. Paeth) for 8-bit grayscale;
* **WAV** — RIFF chunk walk (word-aligned, unknown chunks skipped),
  ``fmt ``/``data`` extraction, PCM u8 mono;
* **Y4M** — YUV4MPEG2 stream header parse (W/H/C tokens) + FRAME
  section split, mono colorspace.

The matching encoders write genuine containers (a generated PNG opens
in any viewer) from the deterministic md5-derived corpus, so every
decoded value — dimensions, sample rate, frame count, pixel/sample
stats — is independently reproducible by a SQL oracle from the hex of
``md5(text)`` alone: an encoder bug OR a decoder bug breaks parity.

At 100 TB: binary payloads stay columnar (parquet keeps them
dictionary-free), ``mapInPandas`` streams Arrow batches without
collecting, and the decode stage is embarrassingly parallel —
partition by storage locality, never shuffle the blobs.
"""

from __future__ import annotations

import struct
import sys
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import ship_by_value

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("media_type", T.StringType(), True),  # image|audio|video
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("source", T.StringType(), True),
                    T.StructField("declared_bytes", T.LongType(), True),
                ]
            ),
            True,
        ),
    ]
)

# ---------------------------------------------------------------- PNG

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data))
    )


def encode_png_gray8(pixels: bytes, width: int, height: int) -> bytes:
    """A real, viewer-openable PNG: 8-bit grayscale, filter type 0."""
    if len(pixels) != width * height:
        raise ValueError(f"need {width * height} pixels, got {len(pixels)}")
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(
        b"\x00" + pixels[y * width : (y + 1) * width] for y in range(height)
    )
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


def _png_defilter_gray8(raw: bytes, width: int, height: int) -> bytes:
    """Reverse PNG scanline filtering for bpp=1 (8-bit grayscale);
    implements all five standard filter types, not just the one our
    encoder happens to emit."""
    stride = width + 1
    if len(raw) != stride * height:
        raise ValueError(f"raw stream {len(raw)} != {stride * height}")
    out = bytearray()
    prev = bytearray(width)
    for y in range(height):
        row = raw[y * stride : (y + 1) * stride]
        ftype, line = row[0], bytearray(row[1:])
        if ftype == 0:  # None
            pass
        elif ftype == 1:  # Sub
            for x in range(1, width):
                line[x] = (line[x] + line[x - 1]) & 0xFF
        elif ftype == 2:  # Up
            for x in range(width):
                line[x] = (line[x] + prev[x]) & 0xFF
        elif ftype == 3:  # Average
            for x in range(width):
                left = line[x - 1] if x else 0
                line[x] = (line[x] + (left + prev[x]) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            for x in range(width):
                a = line[x - 1] if x else 0
                b = prev[x]
                c = prev[x - 1] if x else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[x] = (line[x] + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out += line
        prev = line
    return bytes(out)


def decode_png_gray8(b: bytes) -> tuple[int, int, bytes]:
    """Parse a PNG container: CRC-checked chunk walk, IHDR, inflate,
    defilter. Returns (width, height, pixels). 8-bit grayscale,
    non-interlaced only — everything our corpus (and most ML
    thumbnail pipelines) uses; anything else raises."""
    if not b.startswith(_PNG_SIG):
        raise ValueError("not a PNG: bad signature")
    pos = len(_PNG_SIG)
    width = height = -1
    idat = bytearray()
    seen_end = False
    while pos + 8 <= len(b):
        (length,) = struct.unpack(">I", b[pos : pos + 4])
        tag = b[pos + 4 : pos + 8]
        if pos + 12 + length > len(b):
            # a declared length overrunning the buffer would otherwise
            # hand struct.unpack a short CRC slice -> opaque struct.error
            # on a worker instead of the documented diagnostics
            raise ValueError(
                f"truncated PNG: chunk {tag!r} declares {length} bytes "
                f"past end of buffer"
            )
        data = b[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(">I", b[pos + 8 + length : pos + 12 + length])
        if zlib.crc32(tag + data) != crc:
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        if tag == b"IHDR":
            width, height, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if (depth, color, comp, filt, interlace) != (8, 0, 0, 0, 0):
                raise ValueError(
                    "only 8-bit non-interlaced grayscale PNG supported, got "
                    f"depth={depth} color={color} interlace={interlace}"
                )
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            seen_end = True
            break
        pos += 12 + length
    if width < 0 or not seen_end:
        raise ValueError("truncated PNG: missing IHDR or IEND")
    raw = zlib.decompress(bytes(idat))
    return width, height, _png_defilter_gray8(raw, width, height)


# ---------------------------------------------------------------- WAV

WAV_SAMPLE_RATE = 8000


def encode_wav_u8(samples: bytes, sample_rate: int = WAV_SAMPLE_RATE) -> bytes:
    """A real RIFF/WAVE container: PCM unsigned 8-bit mono."""
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate, 1, 8)
    body = (
        b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(samples))
        + samples
        + (b"\x00" if len(samples) & 1 else b"")  # RIFF word alignment
    )
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def decode_wav_u8(b: bytes) -> tuple[int, bytes]:
    """Parse a RIFF/WAVE container: word-aligned chunk walk (unknown
    chunks like LIST skipped), PCM u8 mono. Returns (sample_rate,
    samples)."""
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a WAV: bad RIFF/WAVE header")
    pos = 12
    fmt = data = None
    while pos + 8 <= len(b):
        tag = b[pos : pos + 4]
        (size,) = struct.unpack("<I", b[pos + 4 : pos + 8])
        body = b[pos + 8 : pos + 8 + size]
        if len(body) < size:
            raise ValueError(
                f"truncated WAV: chunk {tag!r} declares {size} bytes "
                f"past end of buffer"
            )
        if tag == b"fmt ":
            if len(body) < 16:
                raise ValueError("truncated WAV: fmt chunk shorter than 16 bytes")
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif tag == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("truncated WAV: missing fmt or data chunk")
    audio_format, channels, rate, _byte_rate, _align, bits = fmt
    if (audio_format, channels, bits) != (1, 1, 8):
        raise ValueError(
            f"only PCM u8 mono supported, got fmt={audio_format} "
            f"ch={channels} bits={bits}"
        )
    return rate, data


# ---------------------------------------------------------------- Y4M


def encode_y4m_mono(frames: list[bytes], width: int, height: int) -> bytes:
    """A real YUV4MPEG2 stream (ffmpeg-compatible), mono colorspace."""
    for f in frames:
        if len(f) != width * height:
            raise ValueError(f"frame needs {width * height} bytes, got {len(f)}")
    head = f"YUV4MPEG2 W{width} H{height} F25:1 Ip A1:1 Cmono\n".encode()
    return head + b"".join(b"FRAME\n" + f for f in frames)


def decode_y4m_mono(b: bytes) -> tuple[int, int, list[bytes]]:
    """Parse a YUV4MPEG2 stream header (token walk) + FRAME sections.
    Returns (width, height, frames). Mono colorspace only."""
    nl = b.find(b"\n")
    if nl < 0 or not b.startswith(b"YUV4MPEG2"):
        raise ValueError("not a Y4M: bad stream header")
    width = height = -1
    colorspace = "420"  # Y4M default when no C token
    for token in b[:nl].decode("ascii").split()[1:]:
        if token[0] == "W":
            width = int(token[1:])
        elif token[0] == "H":
            height = int(token[1:])
        elif token[0] == "C":
            colorspace = token[1:]
    if width < 0 or height < 0:
        raise ValueError("Y4M header missing W or H")
    if colorspace != "mono":
        raise ValueError(f"only Cmono supported, got C{colorspace}")
    frame_bytes = width * height
    frames: list[bytes] = []
    pos = nl + 1
    while pos < len(b):
        fnl = b.find(b"\n", pos)
        if fnl < 0 or b[pos : pos + 5] != b"FRAME":
            raise ValueError("corrupt Y4M: expected FRAME marker")
        frames.append(b[fnl + 1 : fnl + 1 + frame_bytes])
        if len(frames[-1]) != frame_bytes:
            raise ValueError("truncated Y4M frame")
        pos = fnl + 1 + frame_bytes
    return width, height, frames


# ------------------------------------------------- corpus + operators

PNG_W = PNG_H = 4  # 16 pixels == one md5 payload
Y4M_W = Y4M_H = 2  # 4 luma bytes per frame
Y4M_MAX_FRAMES = 4  # n_frames = 1 + payload[0] % 4 <= 4 -> 16 bytes


def synthetic_media(docs: DataFrame) -> DataFrame:
    """Manufacture a binary corpus from the documents table (testdata
    has no real media): payload = md5 bytes of the text. This RAW
    16-byte payload is the value domain every container is built from,
    which is what lets SQL oracles predict decoded output."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.unhex(F.md5("text")).alias("payload"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("media_type"),
        F.struct(
            F.col("source").alias("source"), F.col("n_chars").alias("declared_bytes")
        ).alias("meta"),
    )


# Image payload length -> PNG dimensions. 16 bytes is the md5 corpus
# every decode/metadata oracle predicts from one hash; 64 bytes is the
# production-grain fingerprint corpus (DHASH_GRID_W x DHASH_GRID_H,
# 4 md5 blocks) the near-dup queries use.
_PNG_DIMS_BY_LEN = {16: (4, 4), 64: (16, 4)}


def encode_containers(
    media: DataFrame, image_dims: tuple[int, int] | None = None
) -> DataFrame:
    """Wrap each raw payload in a REAL container for its media_type
    (Arrow-batched mapInPandas; schema preserved):

    * image -> PNG grayscale; dimensions by payload length (16 bytes =
      4x4, 64 bytes = 16x4 — the fingerprint-corpus grid), or an
      explicit ``image_dims=(w, h)`` for payloads outside the two
      internal corpora (w*h must equal the payload length);
    * audio -> WAV, PCM u8 mono 8 kHz, samples = the payload bytes
      (any length);
    * video -> Y4M, 2x2 mono, ``1 + payload[0] % 4`` frames, frame f =
      payload bytes ``4f..4f+3``.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for mtype, payload in zip(pdf["media_type"], pdf["payload"]):
                raw = bytes(payload or b"")
                if mtype == "image":
                    dims = image_dims or _PNG_DIMS_BY_LEN.get(len(raw))
                    if dims is None:
                        raise ValueError(
                            f"no PNG grid defined for a {len(raw)}-byte "
                            f"image payload (known: "
                            f"{sorted(_PNG_DIMS_BY_LEN)}; pass "
                            f"image_dims=(w, h) for other sizes)"
                        )
                    payloads.append(encode_png_gray8(raw, *dims))
                elif mtype == "audio":
                    payloads.append(encode_wav_u8(raw))
                else:
                    n = 1 + raw[0] % Y4M_MAX_FRAMES
                    frames = [raw[4 * f : 4 * f + 4] for f in range(n)]
                    payloads.append(encode_y4m_mono(frames, Y4M_W, Y4M_H))
            out = pdf.copy()
            out["payload"] = payloads
            yield out

    return media.mapInPandas(batches, media.schema)


DECODED_SCHEMA = (
    "media_id long, media_type string, container string, width int, "
    "height int, n_frames int, n_samples int, sample_rate int, "
    "val_min int, val_max int, val_sum long"
)


def decode_media(df: DataFrame) -> DataFrame:
    """Decode real containers via mapInPandas (Arrow-batched, never
    per-row Python UDF). Dispatch is by MAGIC BYTES, not the metadata
    column — a mislabeled row decodes by what it IS. Emits typed
    container facts (dimensions, frame/sample counts, rate) plus
    min/max/sum over the decoded values (pixels, PCM samples, or luma
    bytes), which a SQL oracle reproduces from the source hex."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            cols: dict[str, list] = {
                k: []
                for k in (
                    "media_id", "media_type", "container", "width", "height",
                    "n_frames", "n_samples", "sample_rate",
                    "val_min", "val_max", "val_sum",
                )
            }
            for media_id, mtype, payload in zip(
                pdf["media_id"], pdf["media_type"], pdf["payload"]
            ):
                b = bytes(payload or b"")
                if b.startswith(_PNG_SIG):
                    w, h, vals = decode_png_gray8(b)
                    rec = ("png", w, h, 1, None, None)
                elif b.startswith(b"RIFF"):
                    rate, vals = decode_wav_u8(b)
                    rec = ("wav", None, None, None, len(vals), rate)
                elif b.startswith(b"YUV4MPEG2"):
                    w, h, frames = decode_y4m_mono(b)
                    vals = b"".join(frames)
                    rec = ("y4m", w, h, len(frames), None, None)
                else:
                    raise ValueError(
                        f"media_id={media_id}: unknown container magic {b[:8]!r}"
                    )
                cols["media_id"].append(media_id)
                cols["media_type"].append(mtype)
                for name, v in zip(
                    ("container", "width", "height", "n_frames", "n_samples",
                     "sample_rate"),
                    rec,
                ):
                    cols[name].append(v)
                cols["val_min"].append(min(vals) if vals else None)
                cols["val_max"].append(max(vals) if vals else None)
                cols["val_sum"].append(sum(vals) if vals else None)
            yield pd.DataFrame(
                {
                    "media_id": pd.array(cols["media_id"], dtype="Int64"),
                    "media_type": cols["media_type"],
                    "container": cols["container"],
                    "width": pd.array(cols["width"], dtype="Int32"),
                    "height": pd.array(cols["height"], dtype="Int32"),
                    "n_frames": pd.array(cols["n_frames"], dtype="Int32"),
                    "n_samples": pd.array(cols["n_samples"], dtype="Int32"),
                    "sample_rate": pd.array(cols["sample_rate"], dtype="Int32"),
                    "val_min": pd.array(cols["val_min"], dtype="Int32"),
                    "val_max": pd.array(cols["val_max"], dtype="Int32"),
                    "val_sum": pd.array(cols["val_sum"], dtype="Int64"),
                }
            )

    return df.mapInPandas(batches, DECODED_SCHEMA)


def sample_frames(decoded: DataFrame, every_nth: int = 2) -> DataFrame:
    """Frame-sampling plan shape: explode frame indexes, keep every
    nth — pure column ops downstream of the decode. Rows whose
    container has no frame dimension (WAV: n_frames NULL) yield no
    frames; the NULL-safe guard keeps explode over an empty array."""
    frames = decoded.withColumn(
        "frame_idx",
        F.explode(
            F.when(
                F.col("n_frames") > 0,
                F.sequence(F.lit(0), F.col("n_frames") - 1),
            ).otherwise(F.array().cast("array<int>"))
        ),
    )
    return frames.filter(F.col("frame_idx") % every_nth == 0).select(
        "media_id", "frame_idx", "width", "height"
    )


PHASH_BITS = 60  # matches textops.SIMHASH60_BITS so the banded
#                  Hamming join machinery is shared unchanged
DHASH_GRID_W = 16  # fingerprint-corpus image grid: 16 wide x 4 tall
DHASH_GRID_H = 4  # -> 64 pixels (4 md5 blocks), 4 x 15 gradient bits
PHASH_N_PIXELS = DHASH_GRID_W * DHASH_GRID_H


def _phash_pairs() -> tuple[tuple[int, int], ...]:
    """The fixed pixel-comparison pair list defining the perceptual
    hash: bit k of the fingerprint is ``pixel[i_k] < pixel[j_k]``.

    This is classic dHash (difference hash): one bit per horizontally
    adjacent pixel pair of the down-sampled grayscale grid. The corpus
    grid is 16x4 (64 md5-derived pixels), giving 4 rows x 15
    horizontal-gradient bits = 60 near-independent sign bits — and
    each 15-bit band of the banded Hamming join is exactly one pixel
    ROW's gradient vector, so bands are mutually independent by
    construction (pixel rows share no pixels). That is the production
    regime: fingerprint width grows with image size (a 9x8 dHash is
    64 bits; ours is the same algebra at 60 to share the simhash60
    band machinery), and the 2^15 band space stays sparse as the
    corpus grows. The pair list is a deterministic module constant
    shared verbatim by the Spark operator (over DECODED pixels) and
    the DuckDB oracle (over payload hex), so a codec bug on either
    side breaks parity."""
    return tuple(
        (DHASH_GRID_W * r + c, DHASH_GRID_W * r + c + 1)
        for r in range(DHASH_GRID_H)
        for c in range(DHASH_GRID_W - 1)
    )[:PHASH_BITS]


PHASH_PAIRS = _phash_pairs()


def phash_of_pixels(px: bytes, media_id=None) -> int:
    """The dHash bit fold over decoded pixels — shared by
    :func:`image_dhash` and the one-pass :func:`media_signals`."""
    if len(px) < PHASH_N_PIXELS:
        raise ValueError(
            f"media_id={media_id}: dHash expects the "
            f"{DHASH_GRID_W}x{DHASH_GRID_H} fingerprint grid "
            f"({PHASH_N_PIXELS} pixels), got {len(px)}"
        )
    fp = 0
    for k, (i, j) in enumerate(PHASH_PAIRS):
        if px[i] < px[j]:
            fp |= 1 << k
    return fp


def image_dhash(df: DataFrame) -> DataFrame:
    """60-bit perceptual fingerprint per image from REAL PNG payloads:
    parse the container (CRC-checked chunk walk + inflate + defilter,
    :func:`decode_png_gray8`) and emit one bit per ``PHASH_PAIRS``
    comparison over the decoded pixels. Arrow-batched ``mapInPandas``;
    map-only (a fingerprint depends only on its own payload — the blob
    never shuffles, only the 8-byte hash does)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, fps = [], []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                _w, _h, px = decode_png_gray8(bytes(payload or b""))
                ids.append(media_id)
                fps.append(phash_of_pixels(px, media_id))
            yield pd.DataFrame(
                {
                    "media_id": pd.array(ids, dtype="Int64"),
                    "phash": pd.array(fps, dtype="Int64"),
                }
            )

    return df.mapInPandas(batches, "media_id long, phash long")


AFP_BITS = 60  # same width as the simhash60/phash band machinery
AFP_WIN = 4  # short-time window length (samples)
AFP_STRIDE = 2  # 50% overlap, the Haitsma-Kalker framing
AFP_N_SAMPLES = 64  # fingerprint-corpus clip length (4 md5 blocks)
AFP_N_WIN = (AFP_N_SAMPLES - AFP_WIN) // AFP_STRIDE + 1  # 31 windows
AFP_N_ENERGY = AFP_N_WIN * 2  # 2 sub-bands per window -> 62 energies


def _afp_pairs() -> tuple[tuple[int, int], ...]:
    """Energy-comparison pair list defining the audio fingerprint: bit
    k is ``energy[i_k] < energy[j_k]`` over the {n} short-time
    sub-band energies (31 overlapping 4-sample windows x 2 even/odd
    sub-bands). Every bit is the classic Haitsma-Kalker feature — the
    sign of the energy DIFFERENCE between consecutive windows within a
    sub-band: 30 gradient bits per sub-band chain = exactly the 60-bit
    width, so the fingerprint is pure gradient structure with no
    filler, and each 15-bit band of the banded Hamming join is a
    contiguous run of one chain (adjacent bands share at most one
    boundary energy). That is the production regime — fingerprint
    width grows with clip length, keeping the 2^15 band space sparse
    as the corpus grows. Shared verbatim by the Spark operator (over
    DECODED PCM) and the DuckDB oracle (over payload hex)."""

    def e(i: int, b: int) -> int:
        return 2 * i + b

    pairs: list[tuple[int, int]] = []
    for b in (0, 1):
        for i in range(AFP_N_WIN - 1):
            pairs.append((e(i, b), e(i + 1, b)))  # neighbor energy gradient
    return tuple(pairs[:AFP_BITS])


_afp_pairs.__doc__ = _afp_pairs.__doc__.format(n=AFP_N_ENERGY)
AFP_PAIRS = _afp_pairs()


def afp_of_samples(s: bytes, media_id=None) -> int:
    """The Haitsma-Kalker bit fold over decoded PCM — shared by
    :func:`audio_fingerprint` and the one-pass :func:`media_signals`."""
    if len(s) < AFP_N_SAMPLES:
        raise ValueError(
            f"media_id={media_id}: fingerprint expects "
            f">= {AFP_N_SAMPLES} samples, got {len(s)}"
        )
    energies = []
    for i in range(AFP_N_WIN):
        w = s[i * AFP_STRIDE : i * AFP_STRIDE + AFP_WIN]
        energies.append(w[0] * w[0] + w[2] * w[2])  # even sub-band
        energies.append(w[1] * w[1] + w[3] * w[3])  # odd sub-band
    fp = 0
    for k, (i, j) in enumerate(AFP_PAIRS):
        if energies[i] < energies[j]:
            fp |= 1 << k
    return fp


def audio_fingerprint(df: DataFrame) -> DataFrame:
    """60-bit acoustic fingerprint per clip from REAL WAV payloads:
    parse the RIFF container (:func:`decode_wav_u8`), compute the
    short-time sub-band energies (integer sums of squared u8 samples —
    exact on every engine) and emit one bit per ``AFP_PAIRS``
    comparison. Arrow-batched ``mapInPandas``, map-only: the audio
    blob never shuffles, only the 8-byte fingerprint does."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, fps = [], []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                _rate, s = decode_wav_u8(bytes(payload or b""))
                ids.append(media_id)
                fps.append(afp_of_samples(s, media_id))
            yield pd.DataFrame(
                {
                    "media_id": pd.array(ids, dtype="Int64"),
                    "afp": pd.array(fps, dtype="Int64"),
                }
            )

    return df.mapInPandas(batches, "media_id long, afp long")


AUDIO_ENERGY_SCHEMA = "media_id long, window_idx int, rms double, peak int"


def audio_window_energy(df: DataFrame, window: int = 4) -> DataFrame:
    """Windowed audio feature extraction via mapInPandas over REAL WAV
    containers: parse the RIFF chunks, then emit per-window RMS energy
    and peak amplitude over the PCM samples — the feature-grain an
    audio training pipeline extracts before filtering/captioning.
    Arrow-batched like ``decode_media`` (never per-row Python); samples
    are the md5-derived corpus bytes, so every emitted float is
    reproducible byte-for-byte from the payload hex and even this
    Python-side path is value-checked by a SQL oracle. RMS is
    ``sqrt(mean(b²))`` with the sum folded in sample order — the
    identical IEEE op sequence the oracle runs."""
    import math

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, widx, rms, peak = [], [], [], []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                _rate, b = decode_wav_u8(bytes(payload or b""))
                for w in range(len(b) // window):
                    seg = b[w * window : (w + 1) * window]
                    acc = 0.0
                    for x in seg:
                        acc += float(x * x)
                    ids.append(media_id)
                    widx.append(w)
                    rms.append(math.sqrt(acc / float(window)))
                    peak.append(max(seg))
            yield pd.DataFrame(
                {"media_id": ids, "window_idx": widx, "rms": rms, "peak": peak}
            )

    return df.mapInPandas(batches, AUDIO_ENERGY_SCHEMA)


def video_frame_ids(df: DataFrame) -> DataFrame:
    """Exact frame identities per clip from REAL Y4M payloads: parse
    the YUV4MPEG2 stream (:func:`decode_y4m_mono`) and emit one row per
    frame with the frame's luma bytes packed big-endian into an
    integer key — the keyframe-identity grain coarse video dedup
    matches on (content-defined frame keys; at production frame sizes
    the key would be a frame digest, same join shape). Arrow-batched
    ``mapInPandas``; map-only — blobs never shuffle, only (clip id,
    frame key) pairs do."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, keys = [], [], []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                _w, _h, frames = decode_y4m_mono(bytes(payload or b""))
                for fi, fr in enumerate(frames):
                    ids.append(media_id)
                    idxs.append(fi)
                    keys.append(int.from_bytes(fr, "big"))
            yield pd.DataFrame(
                {
                    "media_id": pd.array(ids, dtype="Int64"),
                    "frame_idx": pd.array(idxs, dtype="Int32"),
                    "frame_key": pd.array(keys, dtype="Int64"),
                }
            )

    return df.mapInPandas(batches, "media_id long, frame_idx int, frame_key long")


MEDIA_SIGNALS_SCHEMA = (
    "media_id long, media_type string, n_frames int, value_range int, "
    "fingerprint long, frame_keys array<long>"
)


def media_signals(df: DataFrame) -> DataFrame:
    """ONE Arrow pass over the media blobs extracting EVERY curation
    signal — the production shape for a multimodal pipeline: at 100 TB
    the blobs are the dominant I/O, so you decode each exactly once and
    everything downstream (quality gates, near-dup joins, sampling)
    operates on the slim signal rows (a few dozen bytes/asset) that
    shuffle freely. Per asset, by container magic:

    * PNG  -> ``fingerprint`` = the 60-bit dHash
      (:func:`phash_of_pixels`), ``value_range`` = pixel max-min;
    * WAV  -> ``fingerprint`` = the 60-bit Haitsma-Kalker hash
      (:func:`afp_of_samples`), ``value_range`` = sample max-min;
    * Y4M  -> ``frame_keys`` = the exact frame-identity keys
      (:func:`video_frame_ids`'s grain, packed big-endian),
      ``n_frames``, ``value_range`` over the luma bytes.

    Columns not applicable to a modality are NULL. Bit-identical to the
    single-signal operators (same fold functions), which is what their
    oracles prove."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            cols: dict[str, list] = {
                k: []
                for k in (
                    "media_id", "media_type", "n_frames", "value_range",
                    "fingerprint", "frame_keys",
                )
            }
            for media_id, mtype, payload in zip(
                pdf["media_id"], pdf["media_type"], pdf["payload"]
            ):
                b = bytes(payload or b"")
                if b.startswith(_PNG_SIG):
                    _w, _h, px = decode_png_gray8(b)
                    rec = (None, max(px) - min(px), phash_of_pixels(px, media_id), None)
                elif b.startswith(b"RIFF"):
                    _rate, s = decode_wav_u8(b)
                    rec = (None, max(s) - min(s), afp_of_samples(s, media_id), None)
                elif b.startswith(b"YUV4MPEG2"):
                    _w, _h, frames = decode_y4m_mono(b)
                    lumas = b"".join(frames)
                    rec = (
                        len(frames),
                        max(lumas) - min(lumas),
                        None,
                        [int.from_bytes(fr, "big") for fr in frames],
                    )
                else:
                    raise ValueError(
                        f"media_id={media_id}: unknown container magic {b[:8]!r}"
                    )
                cols["media_id"].append(media_id)
                cols["media_type"].append(mtype)
                for name, v in zip(
                    ("n_frames", "value_range", "fingerprint", "frame_keys"), rec
                ):
                    cols[name].append(v)
            yield pd.DataFrame(
                {
                    "media_id": pd.array(cols["media_id"], dtype="Int64"),
                    "media_type": cols["media_type"],
                    "n_frames": pd.array(cols["n_frames"], dtype="Int32"),
                    "value_range": pd.array(cols["value_range"], dtype="Int32"),
                    "fingerprint": pd.array(cols["fingerprint"], dtype="Int64"),
                    "frame_keys": cols["frame_keys"],
                }
            )

    return df.mapInPandas(batches, MEDIA_SIGNALS_SCHEMA)


# Worker-context independence: the mapInPandas closures above reference
# module-level helpers (the codec functions), which cloudpickle
# serializes by module reference unless this leaf module ships by value
# — see wikistream_event_data_pipeline_aws_spark.ship_by_value.
ship_by_value(sys.modules[__name__])
