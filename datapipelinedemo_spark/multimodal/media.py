"""Binary media columns + mapInPandas feature extraction.

Design for 100 TB of media: keep bytes out of shuffles (feature-extract
*before* any join/groupBy, project the binary column away immediately
after), size partitions by bytes not rows
(``spark.sql.files.maxPartitionBytes``), and let Arrow move batches to
Python — the per-batch loop below is the only Python in the path.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("content", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("n_bytes", T.LongType()),
                ]
            ),
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("checksum", T.StringType()),
        T.StructField("feature", T.ArrayType(T.DoubleType())),
    ]
)


def attach_fake_media(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Derive a deterministic binary column from a text column (the
    container has no real media); schema and behavior match a real
    media table: (media_id, kind, content binary, meta struct)."""
    content = F.encode(F.col(text_col), "utf-8")
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col(id_col) % 3 + 1).cast("int"),
    )
    return df.select(
        F.col(id_col).alias("media_id"),
        kind.alias("kind"),
        content.alias("content"),
        F.struct(
            F.concat(F.lit("application/x-fake-"), kind).alias("mime"),
            F.octet_length(content).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def _decode_stub(content: bytes) -> list[float]:
    """Deterministic fake 8-dim feature: byte-histogram moments of the
    md5 digest. A real deployment swaps this for PIL/torchvision/ffmpeg
    work INSIDE the same batch loop — the Spark contract is identical."""
    digest = hashlib.md5(content).digest()
    return [b / 255.0 for b in digest[:8]]


# JPEG frame-header (SOFn) markers that carry dimensions; C4/C8/CC are
# DHT/JPG/DAC, not frames.
_SOF_MARKERS = frozenset(
    {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
     0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}
)


def parse_image_header(
    b: bytes,
) -> tuple[str | None, int | None, int | None, int | None]:
    """``(format, width, height, bit_depth)`` parsed from raw image
    bytes by pure byte-walking — zero codec dependencies (PNG IHDR,
    JPEG SOFn marker scan, GIF logical screen descriptor, BMP DIB
    header are all plain struct fields). Unknown/garbage bytes return
    ``(None, None, None, None)``; a recognized container whose
    dimension field is truncated returns the format with null dims."""
    if (
        len(b) >= 25
        and b[:8] == b"\x89PNG\r\n\x1a\n"
        and b[12:16] == b"IHDR"
    ):
        w, h = struct.unpack(">II", b[16:24])
        return ("png", w, h, b[24])
    if len(b) >= 4 and b[:2] == b"\xff\xd8":
        i = 2
        while i + 2 <= len(b) and b[i] == 0xFF:
            marker = b[i + 1]
            # standalone markers carry no length field
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD9:
                i += 2
                continue
            if i + 4 > len(b):
                break
            if marker in _SOF_MARKERS:
                if i + 9 <= len(b):
                    prec = b[i + 4]
                    h, w = struct.unpack(">HH", b[i + 5 : i + 9])
                    return ("jpeg", w, h, prec)
                break
            i += 2 + struct.unpack(">H", b[i + 2 : i + 4])[0]
        return ("jpeg", None, None, None)
    if len(b) >= 11 and b[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", b[6:10])
        return ("gif", w, h, ((b[10] & 0x70) >> 4) + 1)
    if len(b) >= 30 and b[:2] == b"BM":
        w, h = struct.unpack("<ii", b[18:26])
        return ("bmp", w, abs(h), struct.unpack("<H", b[28:30])[0])
    return (None, None, None, None)


def parse_media_container(
    b: bytes,
) -> tuple[
    str | None, int | None, int | None, int | None, int | None, str | None
]:
    """``(container, sample_rate, channels, bits_per_sample,
    duration_ms, major_brand)`` from raw audio/video bytes — the same
    zero-dependency byte-walking as ``parse_image_header``, for the
    containers whose metadata lives in plain struct fields:

    - WAV (RIFF): the ``fmt `` chunk carries format/channels/rate/bits
      and the ``data`` chunk size gives exact duration.
    - MP4 (ISO BMFF): top-level box walk; ``ftyp`` gives the major
      brand, ``moov``>``mvhd`` gives timescale + duration (v0 u32 and
      v1 u64 layouts both handled).

    Unknown bytes → all-None. Audio-only fields are None for video
    containers and vice versa."""
    if len(b) >= 12 and b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        rate = ch = bits = dur = None
        i = 12
        while i + 8 <= len(b):
            cid = b[i : i + 4]
            csz = struct.unpack("<I", b[i + 4 : i + 8])[0]
            if cid == b"fmt " and i + 24 <= len(b):
                _fmt, ch, rate = struct.unpack("<HHI", b[i + 8 : i + 16])
                bits = struct.unpack("<H", b[i + 22 : i + 24])[0]
            elif cid == b"data" and rate and ch and bits:
                n_samples = csz // (ch * bits // 8)
                dur = n_samples * 1000 // rate
            i += 8 + csz + (csz & 1)  # RIFF chunks are word-aligned
        return ("wav", rate, ch, bits, dur, None)
    if len(b) >= 12 and b[4:8] == b"ftyp":
        brand = b[8:12].decode("ascii", "replace")
        dur_ms = None
        i = 0
        while i + 8 <= len(b):
            size = struct.unpack(">I", b[i : i + 4])[0]
            btype = b[i + 4 : i + 8]
            if size < 8:
                break
            if btype == b"moov":
                j = i + 8
                end = min(i + size, len(b))
                while j + 8 <= end:
                    csize = struct.unpack(">I", b[j : j + 4])[0]
                    if csize < 8:
                        break
                    if b[j + 4 : j + 8] == b"mvhd":
                        ver = b[j + 8]
                        if ver == 1 and j + 40 <= end:
                            ts = struct.unpack(">I", b[j + 28 : j + 32])[0]
                            dur = struct.unpack(">Q", b[j + 32 : j + 40])[0]
                        elif ver == 0 and j + 28 <= end:
                            ts = struct.unpack(">I", b[j + 20 : j + 24])[0]
                            dur = struct.unpack(">I", b[j + 24 : j + 28])[0]
                        else:
                            break
                        if ts:
                            dur_ms = dur * 1000 // ts
                        break
                    j += csize
            i += size
        return ("mp4", None, None, None, dur_ms, brand)
    return (None, None, None, None, None, None)


def extract_features(media: DataFrame, batch_hint: int | None = None) -> DataFrame:
    """Arrow-batched feature extraction over binary content.

    ``mapInPandas``: each Python worker receives pandas batches of the
    (pruned!) columns, computes features, and yields batches with an
    explicit output schema — no row pickling, no driver collect."""

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["content"].map(len).astype("int64"),
                    "checksum": pdf["content"].map(
                        lambda b: hashlib.md5(bytes(b)).hexdigest()
                    ),
                    "feature": pdf["content"].map(
                        lambda b: _decode_stub(bytes(b))
                    ),
                }
            )
            yield out

    pruned = media.select("media_id", "kind", "content")
    return pruned.mapInPandas(run, FEATURE_SCHEMA)


DIMS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("bit_depth", T.LongType()),
    ]
)


def image_dimensions(media: DataFrame) -> DataFrame:
    """(media_id, fmt, width, height, bit_depth) via
    ``parse_image_header`` over Arrow batches — the real
    dimension/format extractor (no stub, no codec libs). Same scale
    shape as ``extract_features``: prune to (id, content) BEFORE the
    Python stage so no other column rides through Arrow, and never
    shuffle the binary column."""

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            rows = [
                (mid, *parse_image_header(bytes(content)))
                for mid, content in zip(pdf["media_id"], pdf["content"])
            ]
            yield pd.DataFrame(
                rows,
                columns=["media_id", "fmt", "width", "height", "bit_depth"],
            )

    return media.select("media_id", "content").mapInPandas(run, DIMS_SCHEMA)


def _png_bytes(w: int, h: int, depth: int = 8) -> bytes:
    """Minimal valid PNG prefix: magic + IHDR (13-byte payload)."""
    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13)
        + b"IHDR"
        + struct.pack(">II", w, h)
        + bytes([depth, 2, 0, 0, 0])
        + b"\x00\x00\x00\x00"  # CRC placeholder (parser doesn't verify)
    )


def _jpeg_bytes(w: int, h: int, prec: int = 8) -> bytes:
    """Minimal JPEG: SOI + JFIF APP0 + SOF0 (3 components) + EOI —
    exercises the marker walk (the SOF is NOT the first segment)."""
    return (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", 16)
        + b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
        + b"\xff\xc0" + struct.pack(">H", 17)
        + bytes([prec]) + struct.pack(">HH", h, w)
        + b"\x03\x01\x22\x00\x02\x11\x01\x03\x11\x01"
        + b"\xff\xd9"
    )


def attach_synthetic_image_headers(df: DataFrame, id_col: str) -> DataFrame:
    """(media_id, content) with REAL byte-valid PNG/JPEG headers whose
    planted dimensions are pure functions of the id — the container
    has no image files, so the fixture is synthesized, but the bytes
    follow the actual container layouts and the parser must walk them
    for real (an oracle recomputes the planted dims arithmetically).
    Even ids → PNG, odd → JPEG; width = id % 640 + 1,
    height = id % 480 + 1, 8-bit."""

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            ids = pdf["media_id"]
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "content": [
                        _png_bytes(i % 640 + 1, i % 480 + 1)
                        if i % 2 == 0
                        else _jpeg_bytes(i % 640 + 1, i % 480 + 1)
                        for i in ids
                    ],
                }
            )

    pruned = df.select(F.col(id_col).cast("long").alias("media_id"))
    return pruned.mapInPandas(
        run,
        T.StructType(
            [
                T.StructField("media_id", T.LongType()),
                T.StructField("content", T.BinaryType()),
            ]
        ),
    )


CONTAINER_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("container", T.StringType()),
        T.StructField("sample_rate", T.LongType()),
        T.StructField("channels", T.LongType()),
        T.StructField("bits_per_sample", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("major_brand", T.StringType()),
    ]
)


def media_container_info(media: DataFrame) -> DataFrame:
    """(media_id, container, sample_rate, channels, bits_per_sample,
    duration_ms, major_brand) via ``parse_media_container`` over Arrow
    batches — audio/video twin of ``image_dimensions``, same pruning
    discipline."""

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            rows = [
                (mid, *parse_media_container(bytes(content)))
                for mid, content in zip(pdf["media_id"], pdf["content"])
            ]
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "container", "sample_rate", "channels",
                    "bits_per_sample", "duration_ms", "major_brand",
                ],
            )

    return media.select("media_id", "content").mapInPandas(
        run, CONTAINER_SCHEMA
    )


def _wav_bytes(rate: int, ch: int, bits: int, n_samples: int) -> bytes:
    """Header-complete WAV: RIFF + fmt + data chunk header (the data
    bytes themselves are zeros — header parsing never reads them)."""
    data_size = n_samples * ch * bits // 8
    return (
        b"RIFF" + struct.pack("<I", 36 + data_size) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16)
        + struct.pack(
            "<HHIIHH", 1, ch, rate, rate * ch * bits // 8,
            ch * bits // 8, bits,
        )
        + b"data" + struct.pack("<I", data_size)
        + b"\x00" * min(data_size, 64)  # truncated payload is fine
    )


def _mp4_bytes(timescale: int, duration: int, brand: bytes = b"isom") -> bytes:
    """Minimal MP4: ftyp + moov(mvhd v0) — the box walk must descend."""
    mvhd = (
        struct.pack(">I", 108) + b"mvhd"
        + b"\x00\x00\x00\x00"  # version 0 + flags
        + struct.pack(">II", 0, 0)  # ctime, mtime
        + struct.pack(">II", timescale, duration)
        + b"\x00" * 80
    )
    return (
        struct.pack(">I", 20) + b"ftyp" + brand + struct.pack(">I", 0)
        + b"iso2"
        + struct.pack(">I", 8 + len(mvhd)) + b"moov" + mvhd
    )


def attach_synthetic_media_containers(df: DataFrame, id_col: str) -> DataFrame:
    """(media_id, content) with byte-valid WAV/MP4 containers whose
    planted parameters are pure functions of the id (even → WAV:
    rate 8000·(id%6+1), channels id%4//2+1, 16-bit, id%1000+1 samples;
    odd → MP4: timescale 1000, duration id%100000+1 ms, brand isom) —
    same fixture convention as ``attach_synthetic_image_headers``."""

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            ids = pdf["media_id"]
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "content": [
                        _wav_bytes(
                            8000 * (i % 6 + 1),
                            i % 4 // 2 + 1,
                            16,
                            i % 1000 + 1,
                        )
                        if i % 2 == 0
                        else _mp4_bytes(1000, i % 100000 + 1)
                        for i in ids
                    ],
                }
            )

    pruned = df.select(F.col(id_col).cast("long").alias("media_id"))
    return pruned.mapInPandas(
        run,
        T.StructType(
            [
                T.StructField("media_id", T.LongType()),
                T.StructField("content", T.BinaryType()),
            ]
        ),
    )


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_bytes", T.LongType()),
        T.StructField("frame_checksum", T.StringType()),
    ]
)


def sample_frames(
    media: DataFrame, frame_size: int = 1000, stride: int = 2
) -> DataFrame:
    """Video frame sampling plumbing: split content into fixed-size
    "frames", keep every ``stride``-th — a 1:N mapInPandas (each input
    row yields multiple frame rows). Real ffmpeg decode would replace
    the byte-slicing inside the same loop."""

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            out_rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                b = bytes(content)
                n_frames = (len(b) + frame_size - 1) // frame_size
                for i in range(0, n_frames, stride):
                    fb = b[i * frame_size : (i + 1) * frame_size]
                    out_rows.append(
                        (mid, i, len(fb), hashlib.md5(fb).hexdigest())
                    )
            yield pd.DataFrame(
                out_rows,
                columns=["media_id", "frame_idx", "frame_bytes", "frame_checksum"],
            )

    return media.select("media_id", "content").mapInPandas(run, FRAME_SCHEMA)
