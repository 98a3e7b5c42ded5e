"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata, decoded/feature-extracted through
Arrow-batched mapInPandas.

Two decode paths exist:
- `decode_bmp` / `decode_wav` (round 5): REAL byte-level parsers for
  24bpp BMP and RIFF PCM16 WAV, pure `struct` — genuine file bytes
  are synthesized and decoded inside Arrow-batched mapInPandas, and
  the decoded statistics are value-verified against a closed-form
  DuckDB oracle (`media_decode_stats`).
- `decode_stub`: a clearly-marked deterministic fake standing in for
  codec-library formats (JPEG/MP3/H.264 etc.) the container cannot
  decode; swapping it for a PIL/librosa call is the only change
  needed in production.

Every quantity the synthetic media derive from a document (kind,
frame count, image size and pixels, clip length, sample rate and
samples) is one formula of `MEDIA_LAW`: `MEDIA_FN` holds it as a
Python function (of ints in the encoders, of Columns in
`synthesize_media`) and `sql_media`/`sql_media_kind`/`sql_media_docs`
are its DuckDB twins, so the oracles spell none of it out.

Scale notes: media blobs ride in their own column so Parquet column
pruning skips them unless the plan touches them; mapInPandas streams
Arrow batches (no per-row pickling) and the decode stage is a narrow
map — no shuffle. Partition sizing is controlled by
spark.sql.files.maxPartitionBytes, which matters when blobs are MBs.
"""

from __future__ import annotations

import re
import struct
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from debezium_spark.functions.rounding import round_half_up, to_units
from debezium_spark.functions.rounding import sql_round_half_up, sql_to_units
from debezium_spark.sources.tables import load_table

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("payload_bytes", T.IntegerType()),
        T.StructField("feature", T.ArrayType(T.DoubleType())),
    ]
)

# The synthetic-media law, each formula written once. They use only the
# integer arithmetic Python and DuckDB share (+, -, *, % and // over
# non-negative operands, with the same precedence), so one text serves
# both engines.
MEDIA_KINDS = ("image", "audio", "video")  # indexed by the "kind" formula
MEDIA_LAW = {
    "kind": "doc_id % 3",
    "n_frames": "n_chars % 100 + 1",  # video
    "width": "n_chars % 16 + 4",  # BMP image
    "height": "n_chars % 12 + 4",
    "red": "(x * 7 + y * 13 + doc_id) % 256",
    "green": "(x * 3 + y * 5 + 2 * doc_id) % 256",
    "blue": "(x * 11 + y + 3 * doc_id) % 256",
    "n_samples": "n_chars % 256 + 16",  # PCM16 WAV clip
    "sample_rate": "8000 + n_chars % 8 * 500",
    "sample": "(i * 37 + doc_id * 11) % 65536 - 32768",
}
_VAR = r"[a-z_]+"  # a variable of a MEDIA_LAW formula
# Each formula as a Python function of its variables, passed by keyword
# (ints, or Spark Columns).
MEDIA_FN = {
    name: eval(f"lambda *, {', '.join(set(re.findall(_VAR, f)))}: {f}")
    for name, f in MEDIA_LAW.items()
}
_CHANNELS = ("red", "green", "blue")


def media_kind(doc_id: int) -> str:
    """The kind of media a document is synthesized as."""
    return MEDIA_KINDS[MEDIA_FN["kind"](doc_id=doc_id)]


def sql_media(name: str, **exprs: str) -> str:
    """DuckDB twin of `MEDIA_FN`: MEDIA_LAW[name] over the SQL `exprs`
    given for its variables; any other variable is the column of its
    name."""
    sql = re.sub(_VAR, lambda m: f"({exprs.get(m[0], m[0])})", MEDIA_LAW[name])
    return f"({sql})"


def sql_media_kind() -> str:
    """DuckDB twin of `media_kind` over the `doc_id` column."""
    kinds = ", ".join(f"'{k}'" for k in MEDIA_KINDS)
    return f"[{kinds}][{sql_media('kind')} + 1]"


def sql_media_docs(kind: str, **cols: str) -> str:
    """DuckDB twin of the documents synthesized as `kind`: doc_id and,
    as INT, the MEDIA_LAW quantity each of `cols` (alias=name) names."""
    sel = "".join(f", CAST({sql_media(q)} AS INT) AS {a}" for a, q in cols.items())
    return f"SELECT doc_id{sel} FROM documents WHERE {sql_media_kind()} = '{kind}'"


def synthesize_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fake media table derived from documents: payload
    = md5-stretched bytes of the text, metadata from doc stats."""
    d = load_table(spark, sf_dir, "documents")
    kind = F.element_at(
        F.array(*map(F.lit, MEDIA_KINDS)),
        (MEDIA_FN["kind"](doc_id=F.col("doc_id")) + 1).cast("int"),
    )
    return d.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode(F.md5("text"), "utf-8").alias("payload"),
        F.struct(
            (F.col("n_chars") % 640 + 1).cast("int").alias("width"),
            (F.col("n_chars") % 480 + 1).cast("int").alias("height"),
            F.lit(16000).alias("sample_rate"),
            MEDIA_FN["n_frames"](n_chars=F.col("n_chars"))
            .cast("int")
            .alias("n_frames"),
        ).alias("meta"),
    )


def decode_stub(payload: bytes, kind: str) -> list[float]:
    """STUB — deterministic fake of the media decode + feature
    extraction step (no codec libraries in this container). Real
    deployments replace this with PIL / torchaudio / ffmpeg decode +
    a feature extractor. The fake: 8 bucket-summed byte histograms,
    normalized — deterministic for tests."""
    if payload is None:
        return []
    buckets = [0.0] * 8
    for i, b in enumerate(payload):
        buckets[i % 8] += b
    total = sum(buckets) or 1.0
    return [b / total for b in buckets]


def extract_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction: Arrow-batched, per-partition
    iterator — the real plumbing a production decode would use."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "payload_bytes": pdf["payload"].map(
                        lambda p: len(p) if p is not None else 0
                    ),
                    "feature": [
                        decode_stub(p, k)
                        for p, k in zip(pdf["payload"], pdf["kind"])
                    ],
                }
            )

    return media.mapInPandas(_extract, FEATURE_SCHEMA)


def frame_sample(media: DataFrame) -> DataFrame:
    """Frame-sampling plan for video rows: explode every 10th frame
    index 0, 10, 20, … < n_frames. Pure column ops — the decode of
    each sampled frame would reuse decode_stub downstream."""
    v = media.filter(F.col("kind") == "video")
    idx = F.sequence(F.lit(0), F.col("meta.n_frames") - 1, F.lit(10))
    return v.select(
        "media_id",
        F.explode(idx).alias("frame_idx"),
        F.col("meta.n_frames").alias("n_frames"),
    )


def media_feature_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only driver check: per-kind feature statistics through the
    full synthesize → mapInPandas-extract → aggregate pipeline."""
    media = synthesize_media(spark, sf_dir)
    feats = extract_features(media)
    return (
        feats.groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("payload_bytes").alias("total_bytes"),
            round_half_up(F.sum(F.element_at("feature", 1)), 4).alias("f0_sum"),
        )
        .orderBy("kind")
    )


def _sql_media_stats() -> str:
    """Oracle reproducing the Python decode stub's arithmetic in SQL:
    payload = utf-8 bytes of md5(text) (32 hex chars); feature[0] =
    (sum of bytes at positions ≡ 0 mod 8) / (sum of all bytes). Even
    the mapInPandas path is value-verified this way."""
    all_bytes = " + ".join(
        f"ascii(substr(h, {j}, 1))" for j in range(1, 33)
    )
    bucket0 = " + ".join(
        f"ascii(substr(h, {j}, 1))" for j in range(1, 33) if (j - 1) % 8 == 0
    )
    return f"""
        WITH m AS (
            SELECT doc_id,
                   {sql_media_kind()} AS kind,
                   md5(text) AS h
            FROM documents
        )
        SELECT kind, count(*) AS n,
               count(*) * 32 AS total_bytes,
               {sql_round_half_up(f"sum(({bucket0}) * 1.0 / ({all_bytes}))", 4)}
                   AS f0_sum
        FROM m GROUP BY kind ORDER BY kind
    """


QUERIES = {"media_feature_stats": media_feature_stats_q}
ORACLES: dict[str, str] = {"media_feature_stats": _sql_media_stats()}


def media_frame_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling under the external gate: every-10th-frame
    indices per video row; the oracle reproduces the sampled count and
    last index in closed form (floor arithmetic over the synthesized
    n_frames)."""
    media = synthesize_media(spark, sf_dir)
    s = frame_sample(media)
    return (
        s.groupBy("media_id", "n_frames")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.min("frame_idx").alias("first_idx"),
            F.max("frame_idx").alias("last_idx"),
        )
        .orderBy("media_id")
    )


ORACLES["media_frame_sample"] = f"""
        SELECT doc_id AS media_id, n_frames,
               CAST((n_frames - 1) // 10 + 1 AS BIGINT) AS n_sampled,
               CAST(0 AS INT) AS first_idx,
               CAST((n_frames - 1) // 10 * 10 AS INT) AS last_idx
        FROM ({sql_media_docs("video", n_frames="n_frames")})
        ORDER BY media_id
    """
QUERIES["media_frame_sample"] = media_frame_sample_q


# --------------------------------------------------------------------------
# REAL pure-Python decoders (round 5): BMP (24-bit BI_RGB) and WAV
# (RIFF PCM16 mono) — no codec libraries needed, just `struct`. The
# pipeline synthesizes genuine file bytes (headers, bottom-up padded
# BMP rows, RIFF chunk walking) in one Arrow-batched mapInPandas
# pass, then decodes them in a second; the decoders validate magic
# numbers/bpp/chunk layout and raise on malformed input. Pixel and
# sample values are deterministic functions of (x, y, doc_id), so the
# DuckDB oracle recomputes the decoded statistics in closed form —
# a decoder that misreads row padding, bottom-up order, or chunk
# offsets fails the position-weighted checksum.
#
# At scale both passes are narrow maps over Arrow batches (no
# shuffle, no per-row pickling); blobs stay in their own pruned
# column until a plan touches them.
# --------------------------------------------------------------------------


def _write_bmp(w: int, h: int, pixel) -> bytes:
    """The BMP writer: 24bpp BI_RGB with a 14-byte file header, a
    40-byte BITMAPINFOHEADER and bottom-up BGR rows padded to 4 bytes.
    `pixel(x, y)` gives (r, g, b) in top-down image coordinates."""
    row_size = (3 * w + 3) // 4 * 4
    pad = b"\x00" * (row_size - 3 * w)
    data = bytearray()
    for y in reversed(range(h)):  # file rows are bottom-up
        for x in range(w):
            r, g, b = pixel(x, y)
            data += bytes((b, g, r))
        data += pad
    header = b"BM" + struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0
    )
    return bytes(header + dib + data)


def encode_bmp(doc_id: int, n_chars: int) -> bytes:
    """A real BMP whose pixels are closed-form in (x, y, doc_id)."""
    channels = [MEDIA_FN[c] for c in _CHANNELS]
    return _write_bmp(
        MEDIA_FN["width"](n_chars=n_chars),
        MEDIA_FN["height"](n_chars=n_chars),
        lambda x, y: [f(x=x, y=y, doc_id=doc_id) for f in channels],
    )


def decode_bmp_pixels(payload: bytes) -> tuple[int, int, list[list[tuple]]]:
    """The BMP reader: (w, h, rows[y][x] = (r, g, b)) in top-down
    image coordinates."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload (missing 'BM' magic)")
    _fs, _r1, _r2, offset = struct.unpack("<IHHI", payload[2:14])
    hdr_size, w, h, _planes, bpp = struct.unpack("<IiiHH", payload[14:30])
    if hdr_size != 40 or bpp != 24 or h <= 0:
        raise ValueError(f"unsupported BMP variant (dib={hdr_size}, bpp={bpp})")
    row_size = (3 * w + 3) // 4 * 4
    rows: list[list[tuple]] = [None] * h  # type: ignore[list-item]
    for j in range(h):
        base = offset + j * row_size
        raw = payload[base : base + 3 * w]
        rows[h - 1 - j] = [
            (raw[3 * x + 2], raw[3 * x + 1], raw[3 * x]) for x in range(w)
        ]
    return w, h, rows


def _red_stats(w: int, rows: list[list[tuple]]) -> tuple[int, int]:
    """(sum of R, position-weighted checksum sum((y*w+x)*R)) in
    top-down coordinates — sensitive to bottom-up row order and row
    padding, which is the point."""
    total = poswt = 0
    for y, row in enumerate(rows):
        for x, (r, _g, _b) in enumerate(row):
            total += r
            poswt += (y * w + x) * r
    return total, poswt


def decode_bmp(payload: bytes) -> tuple[int, int, float, int]:
    """(width, height, mean of the R channel, R checksum) of a BMP."""
    w, h, rows = decode_bmp_pixels(payload)
    total, poswt = _red_stats(w, rows)
    return w, h, total / (w * h), poswt


def encode_wav(doc_id: int, n_chars: int) -> bytes:
    """Build a real RIFF/WAVE file: fmt chunk (PCM, mono, 16-bit) +
    data chunk of little-endian int16 samples."""
    n = MEDIA_FN["n_samples"](n_chars=n_chars)
    sr = MEDIA_FN["sample_rate"](n_chars=n_chars)
    sample = MEDIA_FN["sample"]
    samples = [sample(i=i, doc_id=doc_id) for i in range(n)]
    data = struct.pack(f"<{n}h", *samples)
    fmt = struct.pack("<HHIIHH", 1, 1, sr, sr * 2, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _wav_samples(payload: bytes) -> tuple[int, tuple[int, ...]]:
    """The WAV reader: walk the RIFF chunks (not fixed offsets) of a
    PCM16 mono file and return (sample_rate, samples)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    sr = None
    samples = None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        sz = struct.unpack("<I", payload[pos + 4 : pos + 8])[0]
        body = payload[pos + 8 : pos + 8 + sz]
        if cid == b"fmt ":
            fmt_tag, ch, sr, _brate, _align, bits = struct.unpack(
                "<HHIIHH", body[:16]
            )
            if fmt_tag != 1 or ch != 1 or bits != 16:
                raise ValueError("unsupported WAV format (need PCM16 mono)")
        elif cid == b"data":
            samples = struct.unpack(f"<{sz // 2}h", body[: sz // 2 * 2])
        pos += 8 + sz + (sz & 1)  # chunks are word-aligned
    if sr is None or samples is None:
        raise ValueError("WAV missing fmt or data chunk")
    return sr, samples


def decode_wav(payload: bytes) -> tuple[int, int, float, int]:
    """(n_samples, sample_rate, mean sample, position-weighted
    checksum sum(i * s_i)) of a WAV."""
    sr, samples = _wav_samples(payload)
    n = len(samples)
    poswt = sum(i * v for i, v in enumerate(samples))
    return n, sr, sum(samples) / n, poswt


_DECODE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("dim1", T.LongType()),   # width | n_samples
        T.StructField("dim2", T.LongType()),   # height | sample_rate
        T.StructField("mean_val", T.DoubleType()),
        T.StructField("poswt", T.LongType()),
    ]
)


def encode_real_media(docs: DataFrame) -> DataFrame:
    """documents(doc_id, n_chars) -> (media_id, kind, payload) with
    genuine BMP/WAV bytes for the image and audio documents (the kinds
    synthesize_media gives them); video rows are out of scope for the
    byte-level decoders and excluded here."""
    kind = MEDIA_FN["kind"](doc_id=F.col("doc_id"))
    src = docs.filter(kind < MEDIA_KINDS.index("video")).select("doc_id", "n_chars")

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            kinds, payloads = [], []
            for d, c in zip(pdf["doc_id"], pdf["n_chars"]):
                kinds.append(media_kind(int(d)))
                encode = encode_bmp if kinds[-1] == "image" else encode_wav
                payloads.append(encode(int(d), int(c)))
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "kind": kinds, "payload": payloads}
            )

    return src.mapInPandas(
        _encode,
        T.StructType(
            [
                T.StructField("media_id", T.LongType()),
                T.StructField("kind", T.StringType()),
                T.StructField("payload", T.BinaryType()),
            ]
        ),
    )


def decode_real_media(media: DataFrame) -> DataFrame:
    """(media_id, kind, payload) -> decoded per-file statistics via
    the real byte-level parsers."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in
                   ("media_id", "kind", "dim1", "dim2", "mean_val", "poswt")}
            for mid, kind, payload in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"]
            ):
                if kind == "image":
                    w, h, mean_val, poswt = decode_bmp(bytes(payload))
                    d1, d2 = w, h
                else:
                    n, sr, mean_val, poswt = decode_wav(bytes(payload))
                    d1, d2 = n, sr
                out["media_id"].append(mid)
                out["kind"].append(kind)
                out["dim1"].append(d1)
                out["dim2"].append(d2)
                out["mean_val"].append(mean_val)
                out["poswt"].append(poswt)
            yield pd.DataFrame(out)

    return media.mapInPandas(_decode, _DECODE_SCHEMA)


def media_decode_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full encode -> decode -> aggregate pipeline over REAL BMP/WAV
    bytes. The oracle recomputes every statistic from the pixel/
    sample formulas — decoded means and position-weighted checksums
    must match bit-for-bit, proving the byte-level parsers read the
    actual file layout (padding, bottom-up rows, chunk offsets). The
    per-doc means are summed as integer micro-units, so the sum does
    not depend on reduction order."""
    d = load_table(spark, sf_dir, "documents")
    decoded = decode_real_media(encode_real_media(d))
    return (
        decoded.groupBy("kind")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("dim1").cast("long").alias("dim1_sum"),
            F.sum("dim2").cast("long").alias("dim2_sum"),
            F.sum(to_units(F.col("mean_val"), 6)).alias("mean_micro_sum"),
            F.sum("poswt").cast("long").alias("poswt_sum"),
        )
        .orderBy("kind")
    )


ORACLES["media_decode_stats"] = f"""
    WITH img AS ({sql_media_docs("image", w="width", h="height")}),
    ir1 AS (SELECT doc_id, w, h, unnest(range(0, h)) AS y FROM img),
    ipx AS (SELECT doc_id, w, h, y, unnest(range(0, w)) AS x FROM ir1),
    ired AS (SELECT doc_id, w, h, y, x, {sql_media("red")} AS r FROM ipx),
    idoc AS (
        SELECT doc_id, w, h,
               sum(r) * 1.0 / (w * h) AS mean_val,
               sum((y*w + x) * r) AS poswt
        FROM ired GROUP BY doc_id, w, h
    ),
    aud AS ({sql_media_docs("audio", n="n_samples", sr="sample_rate")}),
    ar1 AS (SELECT doc_id, n, sr, unnest(range(0, n)) AS i FROM aud),
    smp AS (
        SELECT doc_id, n, sr, i, {sql_media("sample")} AS v
        FROM ar1
    ),
    adoc AS (
        SELECT doc_id, n, sr,
               sum(v) * 1.0 / n AS mean_val,
               sum(i * v) AS poswt
        FROM smp GROUP BY doc_id, n, sr
    ),
    per_kind AS (
        SELECT 'image' AS kind, count(*) AS n, sum(w) AS dim1_sum,
               sum(h) AS dim2_sum,
               sum({sql_to_units("mean_val", 6)}) AS mean_micro_sum,
               sum(poswt) AS poswt_sum
        FROM idoc
        UNION ALL
        SELECT 'audio', count(*), sum(n), sum(sr),
               sum({sql_to_units("mean_val", 6)}),
               sum(poswt)
        FROM adoc
    )
    SELECT kind, CAST(n AS BIGINT) AS n,
           CAST(dim1_sum AS BIGINT) AS dim1_sum,
           CAST(dim2_sum AS BIGINT) AS dim2_sum,
           CAST(mean_micro_sum AS BIGINT) AS mean_micro_sum,
           CAST(poswt_sum AS BIGINT) AS poswt_sum
    FROM per_kind ORDER BY kind
"""
QUERIES["media_decode_stats"] = media_decode_stats_q


# --------------------------------------------------------------------------
# Perceptual image near-dup: difference hash (dHash) over genuinely
# DECODED pixels — the multimodal member of the dedup family. The
# image is nearest-neighbor sampled onto a 9×7 grayscale grid and each
# of the 8×7 = 56 horizontal-neighbor comparisons contributes one
# hash bit (fits a signed BIGINT); visually-near images land on equal
# or low-Hamming hashes, and bucketing by hash is a plain groupBy at
# any scale. The oracle recomputes every hash in closed form from the
# generating pixel formulas — so padding/row-order/sampling mistakes
# anywhere in decode→gray→grid→bits flip bits and fail the gate.
# --------------------------------------------------------------------------

_DHASH_COLS = 9  # sampled grid width  (8 comparisons per row)
_DHASH_ROWS = 7  # sampled grid height (56 bits total)


def dhash_pixels(w: int, h: int, rows: list[list[tuple]]) -> int:
    """56-bit dHash: grid sample x_i = i*w//9, y_j = j*h//7; gray =
    (r+g+b)//3; bit(j*8+i) set iff gray(x_{i+1},y_j) > gray(x_i,y_j)."""
    out = 0
    for j in range(_DHASH_ROWS):
        y = j * h // _DHASH_ROWS
        for i in range(_DHASH_COLS - 1):
            xa = i * w // _DHASH_COLS
            xb = (i + 1) * w // _DHASH_COLS
            ga = sum(rows[y][xa]) // 3
            gb = sum(rows[y][xb]) // 3
            if gb > ga:
                out |= 1 << (j * 8 + i)
    return out


def image_dhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image perceptual hash through the REAL pipeline: encode
    genuine BMP bytes → decode pixels → dHash, all in one
    Arrow-batched mapInPandas pass. Output (media_id, w, h, dhash)
    matches the oracle's closed-form recomputation bit-for-bit."""
    d = load_table(spark, sf_dir, "documents")
    media = encode_real_media(d).filter(F.col("kind") == "image")

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("w", T.IntegerType()),
            T.StructField("h", T.IntegerType()),
            T.StructField("dhash", T.LongType()),
        ]
    )

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "w": [], "h": [], "dhash": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                w, h, rows = decode_bmp_pixels(bytes(payload))
                out["media_id"].append(mid)
                out["w"].append(w)
                out["h"].append(h)
                out["dhash"].append(dhash_pixels(w, h, rows))
            yield pd.DataFrame(out)

    return media.mapInPandas(_hash, schema).orderBy("media_id")


ORACLES["image_dhash"] = f"""
    WITH img AS ({sql_media_docs("image", w="width", h="height")}),
    g1 AS (SELECT doc_id, w, h, unnest(range(0, {_DHASH_ROWS})) AS j FROM img),
    g2 AS (SELECT doc_id, w, h, j, unnest(range(0, {_DHASH_COLS - 1})) AS i
           FROM g1),
    bits AS (
        SELECT doc_id, w, h, j, i,
               (j * h) // {_DHASH_ROWS} AS y,
               (i * w) // {_DHASH_COLS} AS xa,
               ((i + 1) * w) // {_DHASH_COLS} AS xb
        FROM g2
    ),
    graybits AS (
        SELECT doc_id, w, h, j, i,
               ({" + ".join(sql_media(c, x="xa") for c in _CHANNELS)})
                   // 3 AS ga,
               ({" + ".join(sql_media(c, x="xb") for c in _CHANNELS)})
                   // 3 AS gb
        FROM bits
    )
    SELECT doc_id AS media_id, w, h,
           CAST(sum(CASE WHEN gb > ga
                         THEN (CAST(1 AS BIGINT) << (j * 8 + i))
                         ELSE 0 END) AS BIGINT) AS dhash
    FROM graybits
    GROUP BY doc_id, w, h
    ORDER BY media_id
"""
QUERIES["image_dhash"] = image_dhash_q


# --------------------------------------------------------------------------
# Audio near-dup: energy-contour hash over DECODED samples — the WAV
# sibling of image_dhash. The clip is cut into 17 equal windows; each
# window's mean absolute amplitude forms the contour, and each of the
# 16 adjacent comparisons contributes one bit. Loudness-invariant in
# the same way dHash is brightness-invariant (uniform gain preserves
# the comparisons); bucketing by hash is a plain groupBy at scale.
# --------------------------------------------------------------------------

_AHASH_WINDOWS = 17  # 16 comparison bits


def audio_contour_hash(samples: tuple | list) -> int:
    """16-bit energy-contour hash: window w covers samples
    [w*n//17, (w+1)*n//17); energy = sum of |s| (integer — mean
    comparison over equal-width windows reduces to sum comparison
    only when widths match, so compare mean*width products:
    e_a * len_b > e_b * len_a keeps it exact-integer)."""
    n = len(samples)
    bounds = [w * n // _AHASH_WINDOWS for w in range(_AHASH_WINDOWS + 1)]
    energies = []
    for w in range(_AHASH_WINDOWS):
        seg = samples[bounds[w] : bounds[w + 1]]
        energies.append((sum(abs(s) for s in seg), len(seg)))
    out = 0
    for i in range(_AHASH_WINDOWS - 1):
        ea, la = energies[i]
        eb, lb = energies[i + 1]
        if eb * max(la, 1) > ea * max(lb, 1):  # mean_b > mean_a, exact
            out |= 1 << i
    return out


def audio_contour_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-clip contour hash through the real pipeline: encode RIFF
    bytes → decode samples → hash, one Arrow-batched mapInPandas
    pass; (media_id, n_samples, contour_hash) verified in closed
    form by the oracle."""
    d = load_table(spark, sf_dir, "documents")
    media = encode_real_media(d).filter(F.col("kind") == "audio")

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("n_samples", T.IntegerType()),
            T.StructField("contour_hash", T.IntegerType()),
        ]
    )

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "n_samples": [], "contour_hash": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                _sr, samples = _wav_samples(bytes(payload))
                out["media_id"].append(mid)
                out["n_samples"].append(len(samples))
                out["contour_hash"].append(audio_contour_hash(samples))
            yield pd.DataFrame(out)

    return media.mapInPandas(_hash, schema).orderBy("media_id")


ORACLES["audio_contour"] = f"""
    WITH aud AS ({sql_media_docs("audio", n="n_samples")}),
    smp1 AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM aud),
    smp AS (
        SELECT doc_id, n, i, abs({sql_media("sample")}) AS a
        FROM smp1
    ),
    wins AS (SELECT unnest(range(0, {_AHASH_WINDOWS})) AS w),
    -- scaffold EVERY (clip, window) pair: clips shorter than the
    -- window count have empty windows, which must read as zero
    -- energy (the Python hash treats an empty window's mean as 0),
    -- not as missing rows
    segbase AS (SELECT a.doc_id, a.n, ws.w FROM aud a CROSS JOIN wins ws),
    segagg AS (
        SELECT s.doc_id, s.n, ws.w, sum(s.a) AS e, count(*) AS len
        FROM smp s JOIN wins ws
          ON s.i >= (ws.w * s.n) // {_AHASH_WINDOWS}
         AND s.i < ((ws.w + 1) * s.n) // {_AHASH_WINDOWS}
        GROUP BY s.doc_id, s.n, ws.w
    ),
    seg AS (
        SELECT sb.doc_id, sb.n, sb.w,
               coalesce(sa.e, 0) AS e, coalesce(sa.len, 0) AS len
        FROM segbase sb
        LEFT JOIN segagg sa
          ON sa.doc_id = sb.doc_id AND sa.w = sb.w
    ),
    bits AS (
        SELECT a.doc_id, a.n, a.w,
               CASE WHEN b.e * greatest(a.len, 1) > a.e * greatest(b.len, 1)
                    THEN (CAST(1 AS BIGINT) << a.w) ELSE 0 END AS bit
        FROM seg a JOIN seg b
          ON a.doc_id = b.doc_id AND b.w = a.w + 1
    )
    SELECT doc_id AS media_id, n AS n_samples,
           CAST(sum(bit) AS INT) AS contour_hash
    FROM bits GROUP BY doc_id, n ORDER BY media_id
"""
QUERIES["audio_contour"] = audio_contour_q


# --------------------------------------------------------------------------
# Image resize (round 5): the remaining verb of the decode /
# feature-extract / resize / frame-sample quartet. Nearest-neighbor
# resample to a fixed RESIZE_W×RESIZE_H thumbnail and RE-ENCODE as a
# genuine BMP payload — the output of this stage is the binary column
# a downstream vision pipeline would consume. The gate decodes the
# re-encoded thumbnails and checks their pixel statistics against the
# closed-form sampling of the generating formulas, so sampling
# arithmetic AND the re-encode byte layout are both verified.
# --------------------------------------------------------------------------

RESIZE_W = 8
RESIZE_H = 8


def resize_bmp(payload: bytes) -> bytes:
    """Nearest-neighbor resize to RESIZE_W×RESIZE_H: sample
    x_i = i*w//RESIZE_W, y_j = j*h//RESIZE_H, re-encoded by the BMP
    writer encode_bmp uses."""
    w, h, rows = decode_bmp_pixels(payload)
    return _write_bmp(
        RESIZE_W, RESIZE_H,
        lambda i, j: rows[j * h // RESIZE_H][i * w // RESIZE_W],
    )


def media_resize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode real BMPs → resize (decode + sample + re-encode) →
    decode the THUMBNAIL payloads → per-image R-channel statistics,
    all in one Arrow-batched mapInPandas pass."""
    d = load_table(spark, sf_dir, "documents")
    media = encode_real_media(d).filter(F.col("kind") == "image")

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("out_w", T.IntegerType()),
            T.StructField("out_h", T.IntegerType()),
            T.StructField("r_sum", T.LongType()),
            T.StructField("r_poswt", T.LongType()),
        ]
    )

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("media_id", "out_w", "out_h",
                                   "r_sum", "r_poswt")}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                w, h, rows = decode_bmp_pixels(resize_bmp(bytes(payload)))
                r_sum, r_poswt = _red_stats(w, rows)
                out["media_id"].append(mid)
                out["out_w"].append(w)
                out["out_h"].append(h)
                out["r_sum"].append(r_sum)
                out["r_poswt"].append(r_poswt)
            yield pd.DataFrame(out)

    return media.mapInPandas(_resize, schema).orderBy("media_id")


ORACLES["media_resize"] = f"""
    WITH img AS ({sql_media_docs("image", w="width", h="height")}),
    g1 AS (SELECT doc_id, w, h, unnest(range(0, {RESIZE_H})) AS j FROM img),
    g2 AS (SELECT doc_id, w, h, j, unnest(range(0, {RESIZE_W})) AS i FROM g1),
    px AS (
        SELECT doc_id,
               {sql_media(
                   "red", x=f"(i * w) // {RESIZE_W}", y=f"(j * h) // {RESIZE_H}"
               )} AS r,
               j * {RESIZE_W} + i AS pos
        FROM g2
    )
    SELECT doc_id AS media_id,
           CAST({RESIZE_W} AS INT) AS out_w,
           CAST({RESIZE_H} AS INT) AS out_h,
           CAST(sum(r) AS BIGINT) AS r_sum,
           CAST(sum(pos * r) AS BIGINT) AS r_poswt
    FROM px GROUP BY doc_id ORDER BY media_id
"""
QUERIES["media_resize"] = media_resize_q
