"""Multimodal (image/audio/video) column plumbing (BASELINE.json north
star). Media lives as opaque `binary` columns + typed metadata structs;
decode/resize/frame-sample run as Arrow-batched mapInPandas kernels.

Image decode is REAL for BMP and binary PPM via stdlib struct parsing
(`decode_image` — header offsets, 4-byte row padding, bottom-up rows,
BGR order), with Pillow as an optional drop-in for JPEG/PNG when
present; undecodable blobs degrade to a NULL row with the parse error,
never a task failure. `decode_features` emits a deterministic
bytes-derived feature vector (the embedding model itself is out of
engine scope); audio/video demux (`sample_frames`) models the stream
as fixed-size frames with ffmpeg as the documented swap-in. The
Spark-side plumbing — schema, batch iteration, partition sizing — is
identical to what the full-codec deployment runs.

The fingerprint dedup family (q186-q342: exact families, near pairs,
index update, near screen and capped screen over image, audio and
video) is one skeleton. Kernels: `_media_ids` → a `synth_*` generation
rule on the one `_synth_media` scaffold → a fingerprint (`image_dhash`,
`audio_fingerprint`, `video_fingerprint` / `_video_wide_dhash` over
`_frame_dhash`) → one tail: `_families`, `hamming_band_pairs`,
`_index_update` (the `fingerprint_index` append-back step, shared with
the streaming index loops) or `_screen`. Oracles recompute every
fingerprint from the generation rule in SQL with `_dhash_half` over a
px(row, col) rule, `_energy_fp_sql` over a sample rule and
`_video_fold_sql`, and end in the matching tail: `_families_sql`,
`_pairs_sql`, `_index_update_sql` or `_capped_sql`.

Scale notes: media bytes never pass through a shuffle here; kernels are
per-partition streaming (mapInPandas iterator), so memory is bounded by
`spark.sql.execution.arrow.maxRecordsPerBatch` × avg blob size. For
100 TB media, pair with small parquet row groups and
`spark.sql.files.maxPartitionBytes` sized so one partition of blobs
fits an executor.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("kind", StringType(), False),        # image | audio | video
    StructField("content", BinaryType(), True),
    StructField("mime", StringType(), True),
    StructField("width", LongType(), True),          # image/video
    StructField("height", LongType(), True),
    StructField("duration_ms", LongType(), True),    # audio/video
])

_FEAT_DIM = 8


def media_stats(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Cheap byte-level stats as plain JVM expressions: size + crc —
    no kernel needed, stays in codegen."""
    return df.withColumn("n_bytes", F.length(F.col(content_col))) \
             .withColumn("crc", F.crc32(F.col(content_col)))


def _fake_embedding(blob: bytes | None) -> list[float]:
    """Deterministic stand-in for a decoded feature vector: the md5 hex
    digest split into 8 16-bit ints, scaled to [0,1). Stable across runs
    and workers — and expressible in portable SQL (hex-digit arithmetic
    over md5()), so the mapInPandas kernel itself is oracle-checkable."""
    if blob is None:
        return [0.0] * _FEAT_DIM
    hexd = hashlib.md5(blob).hexdigest()
    return [int(hexd[4 * i: 4 * i + 4], 16) / 65536.0 for i in range(_FEAT_DIM)]


def decode_features(df: DataFrame, content_col: str = "content") -> DataFrame:
    """mapInPandas kernel: blob → feature vector. The embedding model
    itself is out of engine scope (no vision/audio model ships in this
    image), so the vector is a deterministic bytes-derived stand-in
    (`_fake_embedding`, oracle-checkable via md5 hex arithmetic — q38);
    real deployments swap in CLIP/torchvision inside the same kernel —
    batch shape, output schema and partition behavior are identical.
    Pixel-level DECODE, by contrast, is real: see `decode_image`."""
    out_schema = StructType(
        [f for f in df.schema.fields if f.name != content_col]
        + [StructField("features", ArrayType(FloatType()), True)]
    )
    keep = [f.name for f in df.schema.fields if f.name != content_col]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = pdf[content_col].map(
                lambda b: _fake_embedding(bytes(b) if b is not None else None)
            )
            yield pdf[keep].assign(features=feats)

    return df.mapInPandas(kernel, out_schema)


def _parse_bmp(b: bytes):
    """Decode an uncompressed 24-bit BI_RGB BMP (the baseline Windows
    bitmap: BITMAPINFOHEADER, 4-byte-padded rows, bottom-up unless the
    height is negative, BGR byte order) into an (h, w, 3) uint8 RGB
    array — pure stdlib struct parsing, ~40 lines, no Pillow."""
    import struct

    import numpy as np

    if len(b) < 54 or b[:2] != b"BM":
        raise ValueError("not a BMP stream")
    data_off = struct.unpack_from("<I", b, 10)[0]
    hdr_size = struct.unpack_from("<I", b, 14)[0]
    if hdr_size < 40:
        raise ValueError(f"unsupported BMP header size {hdr_size}")
    width, height = struct.unpack_from("<ii", b, 18)
    planes, bpp = struct.unpack_from("<HH", b, 26)
    compression = struct.unpack_from("<I", b, 30)[0]
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP variant: bpp={bpp} "
                         f"compression={compression} (24-bit BI_RGB only)")
    bottom_up = height > 0
    h, w = abs(height), width
    row_bytes = (w * 3 + 3) & ~3  # rows pad to 4-byte boundaries
    need = data_off + row_bytes * h
    if w <= 0 or h == 0 or len(b) < need:
        raise ValueError("truncated BMP pixel data")
    raw = np.frombuffer(b, dtype=np.uint8, offset=data_off,
                        count=row_bytes * h).reshape(h, row_bytes)
    bgr = raw[:, : w * 3].reshape(h, w, 3)
    if bottom_up:
        bgr = bgr[::-1]
    return bgr[:, :, ::-1].copy()  # BGR → RGB


def _parse_ppm(b: bytes):
    """Decode a binary PPM (P6, maxval ≤ 255) into (h, w, 3) uint8 RGB —
    whitespace/comment-tolerant header scan + raw triplets."""
    import numpy as np

    if b[:2] != b"P6":
        raise ValueError("not a P6 PPM stream")
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(b) and b[pos : pos + 1].isspace():
            pos += 1
        if pos < len(b) and b[pos : pos + 1] == b"#":  # comment to EOL
            while pos < len(b) and b[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(b) and not b[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(b[start:pos]))
    pos += 1  # single whitespace after maxval, then raw pixels
    w, h, maxval = fields
    if maxval > 255:
        raise ValueError("16-bit PPM not supported")
    if len(b) < pos + w * h * 3:
        raise ValueError("truncated PPM pixel data")
    return (
        np.frombuffer(b, dtype=np.uint8, offset=pos, count=w * h * 3)
        .reshape(h, w, 3).copy()
    )


def _decode_raster(b: bytes):
    """blob → (h, w, 3) uint8 RGB for the formats the stdlib decoders
    cover (BMP, PPM); Pillow — when present — handles everything else."""
    if b[:2] == b"BM":
        return _parse_bmp(b)
    if b[:2] == b"P6":
        return _parse_ppm(b)
    try:
        from io import BytesIO

        import numpy as np
        from PIL import Image  # optional drop-in for JPEG/PNG/...
    except ImportError:
        raise ValueError(
            "unsupported image format (stdlib decoders cover BMP/P6 PPM; "
            "install Pillow for JPEG/PNG/...)"
        ) from None
    return np.asarray(Image.open(BytesIO(b)).convert("RGB"))


def _encode_bmp(arr) -> bytes:
    """(h, w, 3) uint8 RGB → 24-bit BI_RGB BMP bytes (bottom-up, padded,
    BGR) — the fixture generator for decode tests and the q145 harness;
    also a real writer for small raster sinks."""
    import struct

    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    h, w, _ = a.shape
    row_bytes = (w * 3 + 3) & ~3
    pix = np.zeros((h, row_bytes), dtype=np.uint8)
    pix[:, : w * 3] = a[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up, BGR
    data = pix.tobytes()
    header = struct.pack("<2sIHHI", b"BM", 54 + len(data), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data),
                       2835, 2835, 0, 0)
    return header + info + data


def decode_image(df: DataFrame, content_col: str = "content",
                 id_col: str = "media_id",
                 size: tuple[int, int] = (16, 16)) -> DataFrame:
    """REAL image decode + nearest-neighbor resize as an Arrow
    mapInPandas kernel: BMP and binary PPM parse with the stdlib
    decoders above (no external libs); Pillow, when installed, extends
    coverage to JPEG/PNG/etc. Output rows carry the resized raw RGB
    bytes plus (width, height); undecodable blobs yield NULL content
    with the parse error in `err` — schema-stable, so one bad blob
    doesn't fail a 100 TB scan.

    Resize convention (mirrored by the q145 oracle): out[i, j] =
    src[i*h_src // h_out, j*w_src // w_out] — pure floor mapping, no
    filtering, so the operator is bit-deterministic across hosts.
    Blobs never shuffle; the kernel is map-only and memory is bounded
    by one Arrow batch of blobs."""
    import numpy as np

    out_w, out_h = size

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for mid, blob in zip(pdf[id_col], pdf[content_col]):
                if blob is None:
                    recs.append((mid, None, None, None, "null blob"))
                    continue
                try:
                    arr = _decode_raster(bytes(blob))
                except ValueError as e:
                    recs.append((mid, None, None, None, str(e)))
                    continue
                h, w = arr.shape[:2]
                rez = arr[(np.arange(out_h) * h) // out_h][
                    :, (np.arange(out_w) * w) // out_w]
                recs.append((mid, out_w, out_h, rez.tobytes(), None))
            yield pd.DataFrame(
                recs, columns=[id_col, "width", "height", "content", "err"])

    return df.select(id_col, content_col).mapInPandas(
        kernel,
        f"{id_col} long, width int, height int, content binary, err string",
    )


def resize_media(df: DataFrame, content_col: str = "content",
                 id_col: str = "media_id",
                 out_w: int = 16, out_h: int = 16) -> DataFrame:
    """Byte-crop resize kernel — the ORACLE-CHECKABLE twin of the real
    decoder: the byte stream is treated as row-major 1-byte pixels and
    top-left-cropped to out_w×out_h (deterministic; short blobs keep
    their length), so DuckDB can verify every output byte in the hex
    domain (q116). REAL pixel decode+resize is `decode_image` above
    (stdlib BMP/PPM parsing, q145); this variant stays because its
    byte-level contract is portable SQL while a raster decode oracle
    must recompute pixels arithmetically. Same Arrow batch iteration,
    binary-in/binary-out schema, and metadata update either way. Blobs
    never shuffle; the kernel is map-only."""
    n_out = out_w * out_h

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = pdf[content_col].map(
                lambda b: bytes(b)[:n_out] if b is not None else None
            )
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "width": out_w,
                "height": out_h,
                "n_bytes": blobs.map(lambda b: len(b) if b is not None else 0),
                "content": blobs,
            })

    return df.select(id_col, content_col).mapInPandas(
        kernel,
        f"{id_col} long, width int, height int, n_bytes long, content binary",
    )


def sample_frames(df: DataFrame, content_col: str = "content",
                  id_col: str = "media_id",
                  frame_bytes: int = 64, every: int = 2) -> DataFrame:
    """Video frame-sampling kernel with a stubbed demuxer: the byte
    stream is a sequence of fixed-size frames; every `every`-th frame is
    emitted as its own row — the 1→many generator fan-out shape of real
    frame extraction (ffmpeg swap-in), map-only, with memory bounded by
    one Arrow batch of blobs."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for mid, blob in zip(pdf[id_col], pdf[content_col]):
                if blob is None:
                    continue
                b = bytes(blob)
                # a zero-length (non-null) blob has no frames — same as
                # null; ceil(len/frame_bytes) is 0 there, matching the
                # q117 oracle's range(0, ceil(nb/64.0))
                for fi in range(0, -(-len(b) // frame_bytes), every):
                    ids.append(mid)
                    idxs.append(fi)
                    frames.append(b[fi * frame_bytes:(fi + 1) * frame_bytes])
            yield pd.DataFrame({
                id_col: pd.Series(ids, dtype="int64"),
                "frame_idx": pd.Series(idxs, dtype="int64"),
                "n_bytes": pd.Series([len(f) for f in frames], dtype="int64"),
                "frame": frames,
            })

    return df.select(id_col, content_col).mapInPandas(
        kernel,
        f"{id_col} long, frame_idx long, n_bytes long, frame binary",
    )


# ---------------------------------------------------------------------------
# Registered queries + oracles
# ---------------------------------------------------------------------------

from auto_ml_platform_with_timeseries_data_spark.operators.timeseries import (  # noqa: E402
    pin,
    pin_sql,
)
from auto_ml_platform_with_timeseries_data_spark.registry import query  # noqa: E402
from auto_ml_platform_with_timeseries_data_spark.tables import keep, load_table  # noqa: E402


def documents_as_media(df: DataFrame) -> DataFrame:
    """Fixture adapter: expose `documents` as an opaque-binary media
    table (media_id, kind, content binary, mime). The testdata carries no
    real blobs, so content = utf-8 bytes of the text — the binary-column
    plumbing (schema, Arrow batches, kernels) is identical to real media."""
    return df.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "utf-8").alias("content"),
        F.lit("application/octet-stream").alias("mime"),
    )


@query(
    "q37_media_stats",
    oracle="""
    SELECT doc_id AS media_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS fingerprint
    FROM documents
    """,
)
def q37_media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level media profiling on a binary column — JVM-only
    expressions (length + md5 of the blob), no kernel."""
    media = documents_as_media(load_table(spark, sf_dir, "documents"))
    return media.select(
        "media_id",
        F.length("content").alias("n_bytes"),
        F.md5("content").alias("fingerprint"),
    )


def _media_features_oracle() -> str:
    # features[i] = int(md5_hex[4i:4i+4], 16) / 65536, via hex-digit
    # arithmetic (strpos over a hex alphabet — portable SQL, no casts
    # from hex literals needed).
    digit = ("(strpos('0123456789abcdef', substr(md5(text), {p}, 1)) - 1)")
    terms = []
    for i in range(_FEAT_DIM):
        base = 4 * i + 1
        term = " + ".join(
            f"{digit.format(p=base + j)} * {16 ** (3 - j)}" for j in range(4)
        )
        terms.append(f"ROUND(({term}) / 65536.0, 6) AS f{i}")
    cols = ",\n           ".join(terms)
    return f"SELECT doc_id AS media_id,\n           {cols}\nFROM documents"


@query("q38_media_features", oracle=_media_features_oracle())
def q38_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decode kernel end-to-end: binary column → Arrow-batched
    mapInPandas → fixed-dim feature vector, one column per dimension so
    the oracle hash covers every float. Proves the kernel plumbing
    (batch iteration, schema, null handling) against independent SQL."""
    media = documents_as_media(load_table(spark, sf_dir, "documents"))
    feats = decode_features(media.select("media_id", "content"))
    return feats.select(
        "media_id",
        *[F.round(F.col("features")[i].cast("double"), 6).alias(f"f{i}")
          for i in range(_FEAT_DIM)],
    )


@query(
    "q116_media_resize",
    oracle="""
    SELECT doc_id AS media_id, 16 AS width, 16 AS height,
           CAST(least(256, octet_length(encode(text))) AS BIGINT) AS n_bytes,
           substring(hex(encode(text)), 1, 512) AS content_hex
    FROM documents
    """,
)
def q116_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The resize kernel end-to-end: binary in → binary out with updated
    (width, height) metadata; the resized blob is hex-encoded JVM-side so
    the oracle hash covers every output byte (DuckDB slices the same
    bytes in the hex domain — it has no blob substring)."""
    media = documents_as_media(load_table(spark, sf_dir, "documents"))
    out = resize_media(media, out_w=16, out_h=16)
    return out.select(
        "media_id", "width", "height", "n_bytes",
        F.hex("content").alias("content_hex"),
    )


@query(
    "q117_frame_sample",
    oracle="""
    WITH f AS (
      SELECT doc_id AS media_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS nb
      FROM documents
    )
    SELECT media_id, fi AS frame_idx,
           CAST(least(64, nb - fi*64) AS BIGINT) AS n_bytes,
           substring(hx, fi*128 + 1, 128) AS frame_hex
    FROM f, LATERAL unnest(range(0, CAST(ceil(nb/64.0) AS BIGINT))) AS t(fi)
    WHERE fi % 2 = 0
    """,
)
def q117_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The frame-sampling kernel end-to-end: every 2nd 64-byte frame of
    each blob as its own row (generator fan-out), frame bytes verified
    via hex against the oracle's hex-domain slicing."""
    media = documents_as_media(load_table(spark, sf_dir, "documents"))
    frames = sample_frames(media, frame_bytes=64, every=2)
    return frames.select(
        "media_id", "frame_idx", "n_bytes",
        F.hex("frame").alias("frame_hex"),
    )


# ---------------------------------------------------------------------------
# Synthetic media corpora: one mapInPandas scaffold; each `synth_*` is
# only its generation rule (doc_id → one REAL BMP / WAV / AVI file)
# ---------------------------------------------------------------------------


def _media_ids(spark: SparkSession, sf_dir: str, hi: int,
               lo: int = 0) -> DataFrame:
    """The id frame every synthetic corpus grows from: doc_id ∈ [lo, hi)
    of `documents`."""
    ids = F.col("doc_id") < hi
    if lo:
        ids = (F.col("doc_id") >= lo) & ids
    return load_table(spark, sf_dir, "documents").filter(ids).select("doc_id")


def _synth_media(ids: DataFrame, id_col: str, rule) -> DataFrame:
    """The one synthesizer: rule(int id) → media bytes, built map-side
    in an Arrow kernel, so nothing media-sized ever shuffles."""

    def make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({"media_id": pdf[id_col],
                                "content": [rule(int(d))
                                            for d in pdf[id_col]]})

    return ids.mapInPandas(make, "media_id long, content binary")


def _grid(h: int, w: int):
    """(h, w) int64 array of row-major pixel offsets r·w + c."""
    import numpy as np

    return np.arange(h)[:, None] * w + np.arange(w)[None, :]


def _gray_bmp(px) -> bytes:
    """(h, w) gray levels in [0, 256) → 24-bit BMP with R = G = B."""
    import numpy as np

    px = px.astype(np.uint8)
    return _encode_bmp(np.broadcast_to(px[..., None], px.shape + (3,)))


# ---------------------------------------------------------------------------
# q145 — REAL raster decode end-to-end (BMP bytes → parse → resize)
# ---------------------------------------------------------------------------

_Q145_W, _Q145_H = 13, 8      # width 13 → 39-byte rows pad to 40 (the
                              # padded-row path a naive parser gets wrong)
_Q145_OUT = 4
_Q145_DOCS = 200


@query(
    "q145_image_decode",
    # The oracle never parses BMP — it recomputes the expected resized
    # pixels arithmetically from the generation rule, so any parser bug
    # (padding, bottom-up flip, BGR order, header offsets) breaks the
    # checksum. out[i,j] = src[2i, (13j)//4]; src[r,c] =
    # (doc_id*31 + r*13 + c) % 256 (gray → R=G=B collapses to one term).
    oracle=f"""
    SELECT doc_id AS media_id,
           {_Q145_OUT} AS width, {_Q145_OUT} AS height,
           CAST(list_sum(list_transform(range(0, {_Q145_OUT * _Q145_OUT}),
               k -> ((doc_id * 31 + 26 * (k // {_Q145_OUT})
                      + (13 * (k % {_Q145_OUT})) // {_Q145_OUT}) % 256)
                    * (k + 1))) AS BIGINT) AS checksum
    FROM documents WHERE doc_id < {_Q145_DOCS}
    """,
)
def q145_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL image-decode path end-to-end: `synth_bmp_media` with one
    family per document synthesizes a genuine 24-bit BMP (deterministic
    gray gradient src[r,c] = (doc_id*31 + r*13 + c) % 256, 13×8 so rows
    pad to 40 bytes), `decode_image` parses the actual file bytes
    (header, bottom-up rows, padding, BGR) and nearest-neighbor-resizes
    to 4×4, and the output pixels fold into an order-weighted checksum
    the oracle reproduces from the generation rule alone. The blobs are
    built and consumed inside map-only Arrow kernels — nothing but
    (id, checksum) ever shuffles, the identical shape a 100 TB
    image-curation scan uses."""
    import numpy as np

    media = synth_bmp_media(_media_ids(spark, sf_dir, _Q145_DOCS),
                            families=_Q145_DOCS)
    decoded = decode_image(media, size=(_Q145_OUT, _Q145_OUT))

    def checksum(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        npix = _Q145_OUT * _Q145_OUT
        weights = np.arange(1, npix + 1)
        for pdf in batches:
            sums = [
                int((np.frombuffer(b, dtype=np.uint8)
                     .reshape(npix, 3)[:, 0].astype(np.int64) * weights)
                    .sum())
                for b in pdf["content"]
            ]
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "width": pdf["width"],
                "height": pdf["height"],
                "checksum": pd.Series(sums, dtype="int64"),
            })

    return decoded.mapInPandas(
        checksum, "media_id long, width int, height int, checksum long")


# ---------------------------------------------------------------------------
# q150 — REAL audio decode (RIFF/WAV PCM16) + frame energy features
# ---------------------------------------------------------------------------


def _parse_wav_pcm16(b: bytes):
    """Decode a RIFF/WAVE file with 16-bit PCM samples into
    (sample_rate, channels, int16 numpy array) — stdlib struct chunk
    walking (RIFF header, fmt / data chunks, even-byte chunk padding,
    unknown chunks skipped), no audio library."""
    import struct

    import numpy as np

    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    pos, rate, channels, bits, data = 12, None, None, None, None
    while pos + 8 <= len(b):
        cid, size = b[pos : pos + 4], struct.unpack_from("<I", b, pos + 4)[0]
        body = b[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt_tag, channels, rate = struct.unpack_from("<HHI", body, 0)
            bits = struct.unpack_from("<H", body, 14)[0]
            if fmt_tag != 1 or bits != 16:
                raise ValueError(
                    f"unsupported WAV: fmt={fmt_tag} bits={bits} "
                    "(PCM16 only)")
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks pad to even byte counts
    if rate is None or data is None:
        raise ValueError("WAV missing fmt or data chunk")
    samples = np.frombuffer(data, dtype="<i2")
    return rate, channels, samples


def _encode_wav_pcm16(samples, rate: int = 8000, channels: int = 1) -> bytes:
    """int16 samples → RIFF/WAVE PCM16 bytes (the q150 fixture
    generator; also a real writer for small audio sinks)."""
    import struct

    import numpy as np

    data = np.asarray(samples, dtype="<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, channels, rate,
                      rate * channels * 2, channels * 2, 16)
    chunks = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
              + b"data" + struct.pack("<I", len(data)) + data
              + (b"\x00" if len(data) & 1 else b""))
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def audio_frame_energy(df: DataFrame, content_col: str = "content",
                       id_col: str = "media_id",
                       frame_samples: int = 256) -> DataFrame:
    """REAL audio feature extraction: parse WAV bytes, split samples
    into fixed frames, emit per-frame energy (Σ s²) and zero-crossing
    count — the two features a voice-activity / silence-trim curation
    pass runs first. Exact int64 arithmetic so the row is bit-stable on
    any host. Map-only kernel; audio bytes never shuffle."""
    import numpy as np

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, ns, energy, zc = [], [], [], [], []
            for mid, blob in zip(pdf[id_col], pdf[content_col]):
                if blob is None:
                    continue
                try:
                    _rate, _ch, s = _parse_wav_pcm16(bytes(blob))
                except ValueError:
                    continue
                s64 = s.astype(np.int64)
                for fi in range(0, len(s), frame_samples):
                    fr = s64[fi : fi + frame_samples]
                    ids.append(mid)
                    idxs.append(fi // frame_samples)
                    ns.append(len(fr))
                    energy.append(int((fr * fr).sum()))
                    zc.append(int(((fr[:-1] < 0) != (fr[1:] < 0)).sum()))
            yield pd.DataFrame({
                id_col: pd.Series(ids, dtype="int64"),
                "frame_idx": pd.Series(idxs, dtype="int64"),
                "n_samples": pd.Series(ns, dtype="int64"),
                "energy": pd.Series(energy, dtype="int64"),
                "zero_crossings": pd.Series(zc, dtype="int64"),
            })

    return df.select(id_col, content_col).mapInPandas(
        kernel,
        f"{id_col} long, frame_idx long, n_samples long, "
        "energy long, zero_crossings long",
    )


_Q150_SAMPLES = 600   # 600 samples → frames of 256: [256, 256, 88]
_Q150_FRAME = 256
_Q150_DOCS = 100


@query(
    "q150_audio_features",
    # The oracle recomputes expected frame features arithmetically from
    # the generation rule s[n] = ((doc_id*7 + n*13) % 2048) - 1024 —
    # any parser bug (chunk offsets, padding, sample width, byte order)
    # breaks the energy sums. Zero crossings use the same sign rule as
    # the kernel ((s<0) transitions between consecutive samples).
    oracle=f"""
    WITH f AS (
      SELECT doc_id, fi
      FROM documents,
           LATERAL unnest(range(0, CAST(ceil({_Q150_SAMPLES}/{_Q150_FRAME}.0)
                                       AS BIGINT))) AS t(fi)
      WHERE doc_id < {_Q150_DOCS}
    ),
    s AS (
      SELECT doc_id, fi,
             fi * {_Q150_FRAME} AS lo,
             least((fi + 1) * {_Q150_FRAME}, {_Q150_SAMPLES}) AS hi
      FROM f
    )
    SELECT doc_id AS media_id, fi AS frame_idx,
           hi - lo AS n_samples,
           CAST(list_sum(list_transform(range(lo, hi),
               n -> pow((doc_id * 7 + n * 13) % 2048 - 1024, 2)))
             AS BIGINT) AS energy,
           CAST(list_sum(list_transform(range(lo, hi - 1),
               n -> CASE WHEN ((doc_id * 7 + n * 13) % 2048 - 1024 < 0)
                         != ((doc_id * 7 + (n+1) * 13) % 2048 - 1024 < 0)
                    THEN 1 ELSE 0 END)) AS BIGINT) AS zero_crossings
    FROM s
    """,
)
def q150_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end-to-end: `synth_wav_media` with one family
    per document synthesizes a genuine RIFF/WAVE PCM16 file
    (deterministic sawtooth s[n] = ((doc_id*7 + n*13) % 2048) - 1024,
    600 samples — the last frame is partial, exercising the tail path),
    `audio_frame_energy` parses the actual chunk structure and emits
    exact per-frame energy and zero-crossing counts, which the oracle
    recomputes from the generation rule alone. Same map-only blob
    discipline as q145."""
    media = synth_wav_media(_media_ids(spark, sf_dir, _Q150_DOCS),
                            families=_Q150_DOCS)
    return audio_frame_energy(media, frame_samples=_Q150_FRAME)


# ---------------------------------------------------------------------------
# q152 — REAL video demux (RIFF/AVI) + per-frame raster decode
# ---------------------------------------------------------------------------


def _demux_avi(b: bytes) -> list[bytes]:
    """Extract video frame payloads from a RIFF/AVI container: walk the
    top-level chunks to the 'movi' LIST, then collect its '..db'/'..dc'
    (uncompressed / compressed video) sub-chunks in stream order —
    stdlib struct parsing, even-byte chunk padding respected. This is
    the demux half of video ingestion; the codec half is per-frame
    (here: the stdlib BMP decoder; ffmpeg swaps in for real codecs)."""
    import struct

    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI stream")
    frames: list[bytes] = []
    pos = 12
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        size = struct.unpack_from("<I", b, pos + 4)[0]
        if cid == b"LIST" and b[pos + 8 : pos + 12] == b"movi":
            mpos, mend = pos + 12, pos + 8 + size
            while mpos + 8 <= mend:
                fid = b[mpos : mpos + 4]
                fsize = struct.unpack_from("<I", b, mpos + 4)[0]
                if fid[2:4] in (b"db", b"dc"):
                    frames.append(b[mpos + 8 : mpos + 8 + fsize])
                mpos += 8 + fsize + (fsize & 1)
        pos += 8 + size + (size & 1)
    return frames


def _encode_avi(frames: list[bytes]) -> bytes:
    """Wrap frame payloads in a minimal RIFF/AVI container (avih header
    + movi LIST of '00db' chunks, even-byte padding) — the q152 fixture
    generator and a real writer for tiny frame-sequence sinks."""
    import struct

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + struct.pack("<I", len(body)) + body \
            + (b"\x00" if len(body) & 1 else b"")

    avih = struct.pack("<14I", 33333, 0, 0, 0, len(frames), 0, 1, 0,
                       0, 0, 0, 0, 0, 0)
    hdrl = chunk(b"LIST", b"hdrl" + chunk(b"avih", avih))
    movi = chunk(b"LIST", b"movi"
                 + b"".join(chunk(b"00db", f) for f in frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def demux_video_frames(df: DataFrame, content_col: str = "content",
                       id_col: str = "media_id",
                       every: int = 1) -> DataFrame:
    """REAL frame sampling over AVI blobs: demux the container, keep
    every `every`-th frame, one output row per kept frame (1→many
    generator fan-out, map-only; video bytes never shuffle). Undemuxable
    blobs are skipped (per-blob degradation, same contract as
    decode_image)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for mid, blob in zip(pdf[id_col], pdf[content_col]):
                if blob is None:
                    continue
                try:
                    fr = _demux_avi(bytes(blob))
                except ValueError:
                    continue
                for fi in range(0, len(fr), every):
                    ids.append(mid)
                    idxs.append(fi)
                    frames.append(fr[fi])
            yield pd.DataFrame({
                id_col: pd.Series(ids, dtype="int64"),
                "frame_idx": pd.Series(idxs, dtype="int64"),
                "frame": frames,
            })

    return df.select(id_col, content_col).mapInPandas(
        kernel, f"{id_col} long, frame_idx long, frame binary")


_Q152_W, _Q152_H = 6, 4
_Q152_FRAMES = 5
_Q152_DOCS = 100


@query(
    "q152_video_frames",
    # Oracle recomputes the expected frame-pixel checksums from the
    # generation rule: frame f, pixel k (row-major over 6x4 gray) =
    # (doc_id*31 + f*97 + k) % 256; sampled frames are 0, 2, 4.
    oracle=f"""
    SELECT doc_id AS media_id, fi AS frame_idx,
           CAST(list_sum(list_transform(range(0, {_Q152_W * _Q152_H}),
               k -> ((doc_id * 31 + fi * 97 + k) % 256) * (k + 1)))
             AS BIGINT) AS checksum
    FROM documents, LATERAL unnest([0, 2, 4]) AS t(fi)
    WHERE doc_id < {_Q152_DOCS}
    """,
)
def q152_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL video path end-to-end: `synth_avi_media` with one family
    per document synthesizes a genuine AVI (5 BMP-encoded 6×4 gray
    frames, deterministic gradient), `demux_video_frames` parses the
    actual container (movi LIST walk, chunk padding) sampling every 2nd
    frame, each sampled frame decodes through the real BMP parser, and
    the pixels fold into order-weighted checksums the oracle recomputes
    from the generation rule alone. Container demux AND codec decode
    both real — ffmpeg swaps in for real codecs with the identical
    kernel shape."""
    import numpy as np

    media = synth_avi_media(_media_ids(spark, sf_dir, _Q152_DOCS),
                            families=_Q152_DOCS)
    sampled = demux_video_frames(media, every=2)

    def checksum(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        npix = _Q152_W * _Q152_H
        weights = np.arange(1, npix + 1)
        for pdf in batches:
            sums = [
                int((_parse_bmp(bytes(fr)).reshape(npix, 3)[:, 0]
                     .astype(np.int64) * weights).sum())
                for fr in pdf["frame"]
            ]
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "frame_idx": pdf["frame_idx"],
                "checksum": pd.Series(sums, dtype="int64"),
            })

    return sampled.mapInPandas(
        checksum, "media_id long, frame_idx long, checksum long")


# ---------------------------------------------------------------------------
# The fingerprint dedup family, written once. Five stages over three
# modalities (image dHash, audio energy gradient, video frame dHash):
#
#   stage              image  audio  video   Spark tail / oracle tail
#   exact families     q186   q187   q188    _families / _families_sql
#   near pairs         q189   q195   q194    hamming_band_pairs / _pairs_sql
#   index update       q224   q225   q226    _index_update / _index_update_sql
#   near screen        q230   q237   q238    _screen / _pairs_sql(delta_lo)
#   capped screen      q341   q330   q342    _screen(top_m) / _capped_sql
# ---------------------------------------------------------------------------

_DH_W, _DH_H = 9, 8          # dHash canonical grid: 9 wide → 8 bit cols
_DH_DOCS = 200
_DH_FAMILIES = 50            # seed = doc_id % 50 → ~4 planted dups each

_DHASH_KEYS = ["dhash_lo", "dhash_hi"]
_FP_KEYS = ["fingerprint"]
# the q194 frame-sequence signature: one column per (frame, dHash half)
_VIDEO_COLS = [f"f{f}_{p}" for f in range(_Q152_FRAMES)
               for p in ("lo", "hi")]


def _bands(keys: list[str], bits: int = 32) -> list[tuple[str, int]]:
    return [(k, bits) for k in keys]


def synth_bmp_media(ids: DataFrame, families: int = _DH_FAMILIES,
                    id_col: str = "doc_id") -> DataFrame:
    """Deterministic BMP corpus from an id frame: one REAL 24-bit BMP
    per row, pattern seeded by id % families (so each pattern recurs
    ~|ids|/families times — planted visual duplicates). Shared by q186
    and the scale probe, which passes families ∝ corpus size to hold
    family size constant."""
    base = _grid(_Q145_H, _Q145_W)
    return _synth_media(
        ids, id_col, lambda d: _gray_bmp(((d % families) * 31 + base) % 256))


def image_dhash(media: DataFrame, id_col: str = "media_id") -> DataFrame:
    """Perceptual difference-hash over REAL image bytes: decode + resize
    to 9×8 through the stdlib raster path (`decode_image` — same parser
    q145 certifies), then bit[i,j] = px[i,j] < px[i,j+1] over the red
    channel — the classic dHash gradient fingerprint, robust to
    re-encoding and uniform brightness shifts. Emitted as two 32-bit
    halves (dhash_lo/dhash_hi) so the 64-bit fingerprint stays inside
    signed BIGINTs on every engine. Map-only; blobs never shuffle."""
    import numpy as np

    decoded = decode_image(media, id_col=id_col, size=(_DH_W, _DH_H))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        w32 = (np.uint64(1) << np.arange(32, dtype=np.uint64))
        for pdf in batches:
            lo, hi = [], []
            for b in pdf["content"]:
                px = (np.frombuffer(b, dtype=np.uint8)
                      .reshape(_DH_H, _DH_W, 3)[:, :, 0].astype(np.int64))
                bits = (px[:, :_DH_W - 1] < px[:, 1:]).astype(np.uint64) \
                    .reshape(-1)
                lo.append(int((bits[:32] * w32).sum()))
                hi.append(int((bits[32:] * w32).sum()))
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "dhash_lo": pd.Series(lo, dtype="int64"),
                "dhash_hi": pd.Series(hi, dtype="int64"),
            })

    return decoded.filter(F.col("err").isNull()).mapInPandas(
        kernel, f"{id_col} long, dhash_lo long, dhash_hi long")


def _families(fp: DataFrame, keys: list[str], n_col: str) -> DataFrame:
    """Exact-dedup tail: identical fingerprints group into one family
    with its size and min-id canonical."""
    return fp.groupBy(*keys).agg(F.count(F.lit(1)).alias(n_col),
                                 F.min("media_id").alias("canonical_id"))


def fingerprint_index(fp: DataFrame, keys: list[str],
                      known: DataFrame | None = None) -> DataFrame:
    """The one append-back step: reduce fingerprints to one (keys →
    min media_id as canonical_id) row per distinct value — work linear
    in `fp` — and, given the `known` index, left-anti-join its keys
    away so only NOVEL fingerprints remain. Known fingerprints keep
    their canonical forever; the corpus media are never re-decoded."""
    idx = fp.groupBy(*keys).agg(F.min("media_id").alias("canonical_id"))
    if known is None:
        return idx
    return idx.join(known.select(*keys), keys, "left_anti")


def _index_update(corpus_fp: DataFrame, delta_fp: DataFrame,
                  keys: list[str]) -> DataFrame:
    """Index-maintenance tail: the corpus index plus the delta's novel
    fingerprints (dedup-on-merge, the q165 contract)."""
    index = fingerprint_index(corpus_fp, keys)
    return index.unionByName(fingerprint_index(delta_fp, keys, index))


def image_index_update(index: DataFrame, delta_media: DataFrame) -> DataFrame:
    """Merge a delta batch's NOVEL dHash fingerprints into the corpus
    index, keeping existing canonicals (dedup-on-merge). Work is
    linear in the DELTA: one map-only decode+fingerprint pass, one
    delta-sized groupBy, one anti-join against the index on the
    16-byte fingerprint pair — the corpus images are never re-decoded.
    Canonicals never change once assigned, so downstream dup labels
    stay stable across batches (the q165 contract, one modality up)."""
    return index.unionByName(
        fingerprint_index(image_dhash(delta_media), _DHASH_KEYS, index))


def _screen(fp: DataFrame, id_col: str, delta_lo: int,
            sig_cols: list[tuple[str, int]], max_hamming: int,
            top_m: int | None = None) -> DataFrame:
    """Near-screen tail: keep the fingerprints once, split them at
    `delta_lo` into the crawl batch and the corpus, and band-join the
    batch against the corpus index (`hamming_band_pairs_delta`,
    optionally capped at the `top_m` closest matches per delta row)."""
    from auto_ml_platform_with_timeseries_data_spark.operators.dedup import (
        hamming_band_pairs_delta,
    )

    fp = keep(fp, checkpoint=True)
    return hamming_band_pairs_delta(
        fp.filter(F.col(id_col) >= delta_lo),
        fp.filter(F.col(id_col) < delta_lo),
        id_col, sig_cols, max_hamming, top_m=top_m)


def _band_pairs(fp: DataFrame, id_col: str,
                sig_cols: list[tuple[str, int]],
                max_hamming: int) -> DataFrame:
    """`hamming_band_pairs`, imported on call like `_screen`'s import:
    Python workers import this module for its codec helpers, and a
    module-level import would make them load `dedup` too."""
    from auto_ml_platform_with_timeseries_data_spark.operators.dedup import (
        hamming_band_pairs,
    )

    return hamming_band_pairs(fp, id_col, sig_cols, max_hamming)


# -- oracle builders: fingerprints recomputed from generation rules ----------


def _dhash_half(px, k0: int, k1: int) -> str:
    """DuckDB expression for one 32-bit dHash half (bits k0..k1-1):
    bit k = px(k // 8, k % 8) < px(k // 8, k % 8 + 1), where
    px(jexpr) is the SQL of the resized red-channel pixel at row k // 8
    and dHash column `jexpr`, derived from a generation rule."""
    bit = f"CASE WHEN {px('k % 8')} < {px('(k % 8) + 1')} THEN 1 ELSE 0 END"
    return (f"CAST(list_sum(list_transform(range({k0}, {k1}),"
            f" k -> {bit} * (CAST(1 AS BIGINT) << (k - {k0}))))"
            f" AS BIGINT)")


def _dhash_cols(px, prefix: str = "dhash") -> str:
    return (f"{_dhash_half(px, 0, 32)} AS {prefix}_lo,"
            f" {_dhash_half(px, 32, 64)} AS {prefix}_hi")


def _bmp_px(fam: int):
    # src[r, c] = (seed*31 + 13*r + c) % 256 resized 13×8 → 9×8:
    # px(i, j') = src[i, (13*j')//9]
    return lambda j: (f"(((doc_id % {fam}) * 31 + 13 * (k // 8)"
                      f" + (13 * ({j})) // 9) % 256)")


def dhash_half_sql(fam: int, k0: int, k1: int) -> str:
    """DuckDB expression recomputing one 32-bit half of the synthetic
    corpus's dHash ARITHMETICALLY from the BMP generation rule (never
    parsing bytes) — the q186 certification contract, shared by every
    oracle that checks a dHash-derived index."""
    return _dhash_half(_bmp_px(fam), k0, k1)


def _energy_fp_sql(sample: str, frame: int) -> str:
    """DuckDB expression for the energy-gradient fingerprint of a
    600-sample clip: bit f = e(f) < e(f + 1), e(f) = Σ sample(n)² over
    frame f, with `sample` the SQL of sample n of the generation rule."""
    def energy(f: str) -> str:
        return (f"list_sum(list_transform(range({f} * {frame},"
                f" {f} * {frame} + {frame}), n -> pow({sample}, 2)))")

    return (f"CAST(list_sum(list_transform("
            f"range(0, {_Q150_SAMPLES // frame - 1}), f ->"
            f" CASE WHEN {energy('f')} < {energy('(f + 1)')}"
            f" THEN (CAST(1 AS BIGINT) << f) ELSE 0 END)) AS BIGINT)")


def _video_fold_sql(fam: int) -> str:
    """DuckDB expression for `video_fingerprint` over `synth_avi_media`:
    Σ_f lo_f·(2f+1) + hi_f·(2f+2) over per-frame dHash halves. Frame f
    of seed s is src[r, c] = (s*31 + f*97 + r*6 + c) % 256, resized
    6×4 → 9×8: px(i, j) = src[i // 2, (6*j) // 9]."""
    def px(j: str) -> str:
        return (f"(((doc_id % {fam}) * 31 + f * 97"
                f" + ((k // 8) // 2) * 6 + (6 * ({j})) // 9) % 256)")

    return (f"CAST(list_sum(list_transform(range(0, {_Q152_FRAMES}),"
            f" f -> ({_dhash_half(px, 0, 32)}) * (f * 2 + 1)"
            f" + ({_dhash_half(px, 32, 64)}) * (f * 2 + 2))) AS BIGINT)")


def _fp_cte(cols: str, hi: int, lo: int = 0) -> str:
    where = f"doc_id >= {lo} AND doc_id < {hi}" if lo else f"doc_id < {hi}"
    return f"SELECT doc_id, {cols} FROM documents WHERE {where}"


def _families_sql(cols: str, hi: int, keys: list[str], n_col: str) -> str:
    k = ", ".join(keys)
    return f"""
    WITH h AS ({_fp_cte(cols, hi)})
    SELECT {k}, count(*) AS {n_col},
           CAST(min(doc_id) AS BIGINT) AS canonical_id
    FROM h GROUP BY {k}
    """


def _pairs_sql(cols: str, hi: int, keys: list[str], max_h: int,
               delta_lo: int | None = None) -> str:
    """Brute-force Hamming pairs over recomputed fingerprints: every
    a < b pair as (id_a, id_b, hamming), or — given `delta_lo` — every
    (delta_id ≥ delta_lo, corpus_id < delta_lo) pair."""
    if delta_lo is None:
        a, b, ids = "a", "b", ("id_a", "id_b")
        on = "a.doc_id < b.doc_id"
    else:
        a, b, ids = "d", "c", ("delta_id", "corpus_id")
        on = f"d.doc_id >= {delta_lo} AND c.doc_id < {delta_lo}"
    # bit_count yields INT8 in DuckDB — widen each term or a 10-way sum
    # overflows at 127
    ham = " + ".join(f"CAST(bit_count(xor({a}.{c}, {b}.{c})) AS INT)"
                     for c in keys)
    return f"""
    WITH h AS ({_fp_cte(cols, hi)})
    SELECT {a}.doc_id AS {ids[0]}, {b}.doc_id AS {ids[1]},
           CAST({ham} AS INT) AS hamming
    FROM h {a} JOIN h {b} ON {on}
    WHERE {ham} <= {max_h}
    """


def _index_update_sql(corpus_cols: str, delta_cols: str, corpus_hi: int,
                      delta_hi: int, keys: list[str]) -> str:
    k = ", ".join(keys)
    match = " AND ".join(f"i.{c} = d.{c}" for c in keys)

    def idx(cols: str, hi: int, lo: int = 0) -> str:
        return (f"SELECT {k}, CAST(min(doc_id) AS BIGINT) AS canonical_id"
                f" FROM ({_fp_cte(cols, hi, lo)}) GROUP BY {k}")

    return f"""
    WITH idx AS ({idx(corpus_cols, corpus_hi)}),
    didx AS ({idx(delta_cols, delta_hi, corpus_hi)})
    SELECT * FROM idx
    UNION ALL
    SELECT d.* FROM didx d
    WHERE NOT EXISTS (SELECT 1 FROM idx i WHERE {match})
    """


_SCREEN_TOP_M = 3


def _capped_sql(pairs: str) -> str:
    return f"""
    SELECT delta_id, corpus_id, hamming FROM (
      SELECT delta_id, corpus_id, hamming,
             row_number() OVER (PARTITION BY delta_id
                                ORDER BY hamming, corpus_id) AS rk
      FROM ({pairs})
    ) WHERE rk <= {_SCREEN_TOP_M}
    """


# ---------------------------------------------------------------------------
# q186 — image NEAR-dup via dHash over the real decode path (the
# multimodal tier's dedup op: decode → 9×8 grayscale → gradient bits)
# ---------------------------------------------------------------------------


@query("q186_image_dhash_dedup",
       oracle=_families_sql(_dhash_cols(_bmp_px(_DH_FAMILIES)), _DH_DOCS,
                            _DHASH_KEYS, "n_images"))
def q186_image_dhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image dedup end to end through genuine bytes: per document a
    REAL 24-bit BMP is synthesized from seed = doc_id % 50 (so every
    pattern recurs ~4× — planted visual duplicates), the dHash kernel
    decodes and fingerprints the actual file bytes, and identical
    fingerprints group into dup families with min-id canonicals. The
    oracle recomputes every fingerprint ARITHMETICALLY from the
    generation rule (never parsing BMP), so a decode/resize/bit-order
    bug anywhere in the pipeline breaks the value hash — the q145
    certification pattern extended from checksums to a working
    dedup operator."""
    media = synth_bmp_media(_media_ids(spark, sf_dir, _DH_DOCS))
    return _families(image_dhash(media), _DHASH_KEYS, "n_images")


# ---------------------------------------------------------------------------
# q187 — audio dedup via energy-gradient fingerprint over the real WAV
# path (the audio analog of q186's dHash: decode → frame energies →
# sign-of-difference bits)
# ---------------------------------------------------------------------------

_AF_FRAME = 40               # 600 samples → 15 exact frames → 14 bits
_AF_DOCS = 200
_AF_FAMILIES = 25            # seed = doc_id % 25 → ~8 planted dups each


def synth_wav_media(ids: DataFrame, families: int = _AF_FAMILIES,
                    id_col: str = "doc_id") -> DataFrame:
    """Deterministic PCM16 WAV corpus from an id frame, seeded by
    id % families (planted acoustic duplicates). Shared by q187 and
    the scale probe."""
    import numpy as np

    n = np.arange(_Q150_SAMPLES, dtype=np.int64)
    return _synth_media(ids, id_col, lambda d: _encode_wav_pcm16(
        ((d % families) * 7 + n * 13) % 2048 - 1024))


def audio_fingerprint(media: DataFrame, id_col: str = "media_id",
                      frame_samples: int = _AF_FRAME) -> DataFrame:
    """Chromaprint-style clip fingerprint from REAL WAV bytes: the
    certified PCM16 parser emits exact per-frame energies
    (audio_frame_energy), then bit[f] = energy[f] < energy[f+1] — the
    energy-gradient sign profile, robust to uniform gain changes the
    way dHash is robust to brightness. The frame pass is the Arrow
    kernel; the bit-packing is pure JVM window + aggregate (lead,
    shiftleft, sum) — nothing audio-sized shuffles, only (id, frame,
    energy) rows."""
    e = audio_frame_energy(media, id_col=id_col,
                           frame_samples=frame_samples)
    w = Window.partitionBy(id_col).orderBy("frame_idx")
    bits = (e.withColumn("__next", F.lead("energy", 1).over(w))
            .filter(F.col("__next").isNotNull())
            .withColumn(
                "__bit",
                F.when(F.col("energy") < F.col("__next"),
                       F.expr("shiftleft(1L, cast(frame_idx as int))"))
                .otherwise(F.lit(0).cast("long"))))
    return bits.groupBy(id_col).agg(F.sum("__bit").alias("fingerprint"))


@query("q187_audio_fingerprint_dedup",
       oracle=_families_sql(
           _energy_fp_sql(f"((doc_id % {_AF_FAMILIES}) * 7 + n * 13)"
                          f" % 2048 - 1024", _AF_FRAME) + " AS fingerprint",
           _AF_DOCS, _FP_KEYS, "n_clips"))
def q187_audio_fingerprint_dedup(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Audio dedup end to end through genuine RIFF/WAVE bytes: clips
    synthesized from seed = doc_id % 25 (planted acoustic duplicates),
    parsed and fingerprinted by the energy-gradient rule, grouped into
    dup families with min-id canonicals — every 14-bit fingerprint
    recomputed arithmetically by the oracle from the generation rule,
    never parsing WAV (the q150/q186 certification pattern)."""
    media = synth_wav_media(_media_ids(spark, sf_dir, _AF_DOCS))
    return _families(audio_fingerprint(media), _FP_KEYS, "n_clips")


# ---------------------------------------------------------------------------
# q188 — video dedup: per-frame dHash sequence over the real AVI demux
# (closes the modality square: text/embedding/image/audio/video)
# ---------------------------------------------------------------------------

_VD_DOCS = 100
_VD_FAMILIES = 20            # seed = doc_id % 20 → ~5 planted dup clips


def synth_avi_media(ids: DataFrame, families: int = _VD_FAMILIES,
                    id_col: str = "doc_id") -> DataFrame:
    """Deterministic AVI corpus from an id frame: one REAL container of
    `_Q152_FRAMES` BMP frames per row, seeded by id % families (planted
    duplicate clips). Shared by q188 and the scale probe."""
    base = _grid(_Q152_H, _Q152_W)
    return _synth_media(ids, id_col, lambda d: _encode_avi([
        _gray_bmp(((d % families) * 31 + f * 97 + base) % 256)
        for f in range(_Q152_FRAMES)]))


def _frame_dhash(media: DataFrame, id_col: str = "media_id",
                 out_col: str | None = None) -> DataFrame:
    """Demux every AVI (certified movi-walk) and dHash every frame
    through the real BMP decode path: (out_col, __f, dhash_lo,
    dhash_hi) per frame. Frame keys pack as id·2³² + frame_idx — 32
    bits of frame space per clip (no realistic clip demuxes 4B frames),
    so no two clips can alias no matter the frame count; the earlier
    ·16 packing silently merged clips at 16+ frames."""
    frames = demux_video_frames(media, id_col=id_col, every=1)
    keyed = frames.select(
        (F.shiftleft(F.col(id_col), 32) + F.col("frame_idx"))
        .alias("media_id"),
        F.col("frame").alias("content"))
    return image_dhash(keyed).select(
        F.shiftright(F.col("media_id"), 32).alias(out_col or id_col),
        F.col("media_id").bitwiseAND(F.lit(0xFFFFFFFF)).alias("__f"),
        "dhash_lo", "dhash_hi")


def video_fingerprint(media: DataFrame,
                      id_col: str = "media_id") -> DataFrame:
    """Clip-level perceptual fingerprint from REAL AVI bytes: per-frame
    dHashes (`_frame_dhash`) fold into one clip integer with
    frame-position weights — identical frame SEQUENCES collide,
    reordered or re-cut clips do not. All kernels map-only; container
    bytes never shuffle, only (id, frame, lo, hi) rows."""
    return (
        _frame_dhash(media, id_col).groupBy(id_col)
        .agg(F.sum(F.col("dhash_lo") * (F.col("__f") * 2 + 1)
                   + F.col("dhash_hi") * (F.col("__f") * 2 + 2))
             .alias("fingerprint"))
    )


@query("q188_video_fingerprint_dedup",
       oracle=_families_sql(_video_fold_sql(_VD_FAMILIES) + " AS fingerprint",
                            _VD_DOCS, _FP_KEYS, "n_clips"))
def q188_video_fingerprint_dedup(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Video dedup end to end through genuine container bytes: AVIs
    synthesized from seed = doc_id % 20 (planted duplicate clips, 5
    BMP frames each), demuxed and per-frame dHashed by the certified
    parsers, folded into clip fingerprints, grouped into dup families
    — every fingerprint recomputed arithmetically by the oracle from
    the generation rule, never parsing RIFF or BMP."""
    media = synth_avi_media(_media_ids(spark, sf_dir, _VD_DOCS))
    return _families(video_fingerprint(media), _FP_KEYS, "n_clips")


# ---------------------------------------------------------------------------
# q189 — image NEAR-dup: Hamming-banded match over dHash fingerprints
# (exact-equality grouping, q186, misses a re-encode that flips a single
# gradient bit — near-match is the entire point of perceptual hashing)
# ---------------------------------------------------------------------------

_NP_DOCS = 200
_NP_FAMILIES = 50            # seed = doc_id % 50 → 4 images per family
_NP_MAXH = 2                 # ≤ 2 flipped bits counts as a near-dup
# Perturbed source pixel (row 0, col 4): col 4 is sampled by exactly one
# resize column (j'=3 → (13·3)//9 = 4), so a perturbation there can flip
# at most the two gradient bits that compare against j'=3 — a planted
# 1–2-bit near-duplicate by construction.
_NP_PERT_R, _NP_PERT_C = 0, 4


def _mixed_px(j: str) -> str:
    # px(i, j') = ((seed*31 + 13*i + (13*j')//9) * 97 + pert) % 256 with
    # pert = 128 iff the doc is a perturbed copy and (i, srccol) = (0, 4).
    # The ×97 mixing makes fingerprints of DIFFERENT families
    # pseudo-random (pairwise Hamming ≈ 32), so only planted pairs match.
    return (f"((((doc_id % {_NP_FAMILIES}) * 31 + 13 * (k // 8)"
            f" + (13 * ({j})) // 9) * 97"
            f" + CASE WHEN (doc_id // {_NP_FAMILIES}) % 2 = 1"
            f" AND k // 8 = {_NP_PERT_R}"
            f" AND (13 * ({j})) // 9 = {_NP_PERT_C}"
            f" THEN 128 ELSE 0 END) % 256)")


def _mixed_dhash_cte() -> str:
    """CTE body computing (doc_id, dhash_lo, dhash_hi) arithmetically
    from `synth_bmp_media_mixed`'s generation rule — shared by the
    image near-dup oracles and q193."""
    return _fp_cte(_dhash_cols(_mixed_px), _NP_DOCS)


def synth_bmp_media_mixed(ids: DataFrame, families: int = _NP_FAMILIES,
                          id_col: str = "doc_id") -> DataFrame:
    """q189's near-dup BMP corpus: the ×97-mixed pattern makes
    cross-family fingerprints pseudo-random (pairwise Hamming ≈ 32 —
    unlike `synth_bmp_media`, whose mostly-monotone gradients collide
    across families), and every second family member carries the
    single-pixel perturbation — a planted 1–2-bit Hamming neighbor.
    Shared by q189 and the scale probe (families ∝ corpus size).

    The (seed // 256) term gives the probe head-room past 256 distinct
    patterns (seed otherwise enters the pixels only mod 256, which
    would silently merge families — growing family SIZE instead of
    family count at 10×); it vanishes for seed < 256, so q189's
    50-family oracle arithmetic is unchanged."""
    base = _grid(_Q145_H, _Q145_W)

    def rule(d: int) -> bytes:
        seed = d % families
        px = ((seed * 31 + base) * 97 + (seed // 256) * (base * 53 + 7)) % 256
        if (d // families) % 2 == 1:
            px[_NP_PERT_R, _NP_PERT_C] = (px[_NP_PERT_R, _NP_PERT_C]
                                          + 128) % 256
        return _gray_bmp(px)

    return _synth_media(ids, id_col, rule)


def _image_near_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    return image_dhash(synth_bmp_media_mixed(_media_ids(spark, sf_dir,
                                                        _NP_DOCS)))


@query("q189_image_neardup_banded",
       oracle=_pairs_sql(_dhash_cols(_mixed_px), _NP_DOCS, _DHASH_KEYS,
                         _NP_MAXH))
def q189_image_neardup_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image NEAR-dup through genuine bytes: per document a REAL BMP is
    synthesized from seed = doc_id % 50, and every second family member
    carries a single-pixel perturbation at a resize-sampled position —
    a planted 1–2-bit Hamming neighbor that EXACT fingerprint equality
    (q186's groupBy) cannot see. The dHash kernel decodes and
    fingerprints the actual file bytes; `hamming_band_pairs` (the
    SimHash band machinery, operators/dedup.py) blocks candidates on
    16-bit bands — pigeonhole-exact recall for distance ≤ 3 with 4
    bands — and verifies the popcount JVM-side. The oracle recomputes
    every fingerprint arithmetically from the synthesis rule and
    brute-forces all pairs, so the band join is held to EXACT recall,
    not just plausible candidates."""
    return _band_pairs(_image_near_fp(spark, sf_dir), "media_id",
                       _bands(_DHASH_KEYS), _NP_MAXH)


# ---------------------------------------------------------------------------
# q193 — CLIP-style image–text pair gate (LAION-style curation: score
# every (image, caption) pair by embedding cosine, keep pairs above a
# threshold; the join + vector-math plumbing is real, the embedding
# models are deterministic stand-ins per the engine's q38 convention)
# ---------------------------------------------------------------------------

_CP_TAU_NUM, _CP_TAU_DEN = 81, 100   # τ = 0.9 → τ² = 81/100, exact


def q193_clip_pair_oracle() -> str:
    digit = "(strpos('0123456789abcdef', substr(md5(text), {p}, 1)) - 1)"
    tis = []
    for i in range(8):
        base = 4 * i + 1
        tis.append(" + ".join(
            f"{digit.format(p=base + j)} * {16 ** (3 - j)}"
            for j in range(4)))
    mis = [f"(dhash_lo >> {8 * i}) & 255" for i in range(4)] + \
          [f"(dhash_hi >> {8 * i}) & 255" for i in range(4)]
    tcols = ", ".join(f"({e}) AS t{i}" for i, e in enumerate(tis))
    mcols = ", ".join(f"({e}) AS m{i}" for i, e in enumerate(mis))
    dot = " + ".join(f"t{i} * m{i}" for i in range(8))
    nt = " + ".join(f"t{i} * t{i}" for i in range(8))
    nm = " + ".join(f"m{i} * m{i}" for i in range(8))
    return f"""
    WITH h AS ({_mixed_dhash_cte()}),
    v AS (
      SELECT d.doc_id, {tcols}, {mcols}
      FROM documents d JOIN h ON d.doc_id = h.doc_id
    ),
    s AS (
      SELECT doc_id,
             CAST({dot} AS BIGINT) AS dot,
             CAST({nt} AS BIGINT) AS nt,
             CAST({nm} AS BIGINT) AS nm
      FROM v
    )
    SELECT doc_id, dot AS img_txt_dot,
           CASE WHEN nt * nm = 0 THEN 0.0
                ELSE {pin_sql("CAST(dot AS DOUBLE)"
                              " / sqrt(CAST(nt AS DOUBLE)"
                              " * CAST(nm AS DOUBLE))")}
           END AS cos_sim,
           {_CP_TAU_DEN} * dot * dot >= {_CP_TAU_NUM} * nt * nm AS keep
    FROM s
    """


@query("q193_clip_pair_gate", oracle=q193_clip_pair_oracle())
def q193_clip_pair_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image–text pair filtering through genuine bytes: each document
    pairs with its synthesized BMP; the image embedding is the 8 bytes
    of the REAL decoded dHash fingerprint, the text embedding the 8
    u16 chunks of md5(text) (the q38 stand-in convention — a real
    deployment swaps CLIP into the same join + cosine plan). The
    keep flag is INTEGER-exact (cos ≥ τ ⟺ τ_den·dot² ≥ τ_num·‖t‖²‖m‖²
    — cross-multiplied, no floats anywhere near the boundary), and the
    reported cosine is built solely from correctly-rounded IEEE ops
    (cast/mul/div/sqrt) over exact integers, so the 1e-6 pin is
    bit-stable on both engines. One broadcast-sized join; vector math
    entirely JVM-side."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _NP_DOCS).select("doc_id", "text")
    fp = image_dhash(synth_bmp_media_mixed(docs.select("doc_id")))
    j = docs.join(fp, docs["doc_id"] == fp["media_id"]).drop("media_id")
    t = [F.conv(F.substring(F.md5("text"), 4 * i + 1, 4), 16, 10)
         .cast("long") for i in range(8)]
    m = [F.shiftright(F.col("dhash_lo"), 8 * i).bitwiseAND(F.lit(255))
         for i in range(4)] + \
        [F.shiftright(F.col("dhash_hi"), 8 * i).bitwiseAND(F.lit(255))
         for i in range(4)]
    dot = sum((t[i] * m[i] for i in range(1, 8)), t[0] * m[0])
    nt = sum((t[i] * t[i] for i in range(1, 8)), t[0] * t[0])
    nm = sum((m[i] * m[i] for i in range(1, 8)), m[0] * m[0])
    s = j.select(
        "doc_id",
        dot.cast("long").alias("dot"),
        nt.cast("long").alias("nt"),
        nm.cast("long").alias("nm"),
    )
    return s.select(
        "doc_id",
        F.col("dot").alias("img_txt_dot"),
        F.when(F.col("nt") * F.col("nm") == 0, F.lit(0.0)).otherwise(
            pin(F.col("dot").cast("double")
                / F.sqrt(F.col("nt").cast("double")
                         * F.col("nm").cast("double")))).alias("cos_sim"),
        (F.lit(_CP_TAU_DEN) * F.col("dot") * F.col("dot")
         >= F.lit(_CP_TAU_NUM) * F.col("nt") * F.col("nm")).alias("keep"),
    )


# ---------------------------------------------------------------------------
# q195 — audio NEAR-dup: Hamming-banded match over 59-bit
# energy-gradient fingerprints (q187's exact-equality grouping misses a
# re-mastered clip whose one altered passage flips a gradient bit)
# ---------------------------------------------------------------------------

_AN_DOCS = 200
_AN_FAMILIES = 50            # 4 clips per family; every 2nd is perturbed
_AN_FRAME = 10               # 600 samples → 60 frames → 59 gradient bits
_AN_MAXH = 2
# Perturbed passage: samples 200..209 — exactly frame 20, so only the
# two gradient bits comparing against e(20) (bits 19 and 20) can flip.
_AN_PERT_LO, _AN_PERT_HI, _AN_PERT_AMP = 200, 210, 500


def synth_wav_media_perturbed(ids: DataFrame,
                              families: int = _AN_FAMILIES,
                              id_col: str = "doc_id") -> DataFrame:
    """q195's near-dup WAV corpus: the q187 sample rule, with every
    second family member carrying a +500 bump over one 10-sample
    passage — a planted ≤2-bit Hamming neighbor of its family's
    fingerprint. The seed-dependent MULTIPLIER (2·seed+31, always odd)
    decorrelates families: q187's additive rule only phase-shifts one
    shared sawtooth, which leaves cross-family energy gradients — and
    therefore fingerprints — nearly identical (measured: 21% of ALL
    pairs within Hamming 2)."""
    import numpy as np

    n = np.arange(_Q150_SAMPLES, dtype=np.int64)
    bump = ((n >= _AN_PERT_LO) & (n < _AN_PERT_HI)) * _AN_PERT_AMP

    def rule(d: int) -> bytes:
        seed = d % families
        return _encode_wav_pcm16(
            ((seed * 7 + n * 13) * (2 * seed + 31)) % 2048 - 1024
            + bump * ((d // families) % 2))

    return _synth_media(ids, id_col, rule)


_AN_SAMPLE_SQL = (f"((((doc_id % {_AN_FAMILIES}) * 7 + n * 13)"
                  f" * (2 * (doc_id % {_AN_FAMILIES}) + 31)) % 2048 - 1024"
                  f" + CASE WHEN (doc_id // {_AN_FAMILIES}) % 2 = 1"
                  f" AND n >= {_AN_PERT_LO} AND n < {_AN_PERT_HI}"
                  f" THEN {_AN_PERT_AMP} ELSE 0 END)")
_AN_FP_COLS = _energy_fp_sql(_AN_SAMPLE_SQL, _AN_FRAME) + " AS fingerprint"


def _audio_near_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = synth_wav_media_perturbed(_media_ids(spark, sf_dir, _AN_DOCS))
    return audio_fingerprint(media, frame_samples=_AN_FRAME)


@query("q195_audio_neardup_banded",
       oracle=_pairs_sql(_AN_FP_COLS, _AN_DOCS, _FP_KEYS, _AN_MAXH))
def q195_audio_neardup_banded(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Audio NEAR-dup through genuine RIFF/WAVE bytes: 59-bit
    energy-gradient fingerprints from the certified PCM16 parse path,
    candidates blocked on 16-bit bands (`hamming_band_pairs` —
    pigeonhole-exact recall for distance ≤ 3), popcount verified
    JVM-side. Every second family member carries a one-passage +500
    bump — a planted ≤2-bit neighbor exact fingerprint equality
    (q187) cannot see. The oracle recomputes every fingerprint from
    the synthesis arithmetic and brute-forces all pairs, holding the
    band join to exact recall."""
    return _band_pairs(_audio_near_fp(spark, sf_dir), "media_id",
                       _bands(_FP_KEYS, 64), _AN_MAXH)


# ---------------------------------------------------------------------------
# q194 — video NEAR-dup: banded match over the frame-SEQUENCE of dHashes
# (q188's folded-sum fingerprint only catches identical sequences; a
# re-encode that flips one gradient bit in one frame defeats it)
# ---------------------------------------------------------------------------

_VN_DOCS = 100
_VN_FAMILIES = 25            # 4 clips per family; every 2nd is perturbed
_VN_MAXH = 4                 # clip-total Hamming budget across all frames
# Perturbed source pixel (frame 2, src row 0, col 1): src row 0 feeds
# resize rows 0 and 1, and col 1 is sampled by exactly one resize column
# (j=2), so the bump flips at most the 4 bits {rows 0,1} × {cmp (1,2),
# (2,3)} — inside the clip-total budget by construction.
_VN_PERT_F, _VN_PERT_R, _VN_PERT_C = 2, 0, 1


def synth_avi_media_mixed(ids: DataFrame, families: int = _VN_FAMILIES,
                          id_col: str = "doc_id") -> DataFrame:
    """q194's near-dup AVI corpus: ×97-mixed per-frame patterns (well-
    separated families, unlike `synth_avi_media`'s monotone gradients)
    with every second family member perturbed at one resize-sampled
    pixel of frame 2 — a planted ≤4-bit neighbor of its family's
    frame sequence."""
    base = _grid(_Q152_H, _Q152_W)

    def rule(d: int) -> bytes:
        seed = d % families
        frames = []
        for f in range(_Q152_FRAMES):
            px = ((seed * 31 + f * 41 + base) * 97) % 256
            if f == _VN_PERT_F and (d // families) % 2 == 1:
                px[_VN_PERT_R, _VN_PERT_C] = (px[_VN_PERT_R, _VN_PERT_C]
                                              + 128) % 256
            frames.append(_gray_bmp(px))
        return _encode_avi(frames)

    return _synth_media(ids, id_col, rule)


def _video_mixed_px(f: int):
    # px(f; i, j) = ((seed*31 + f*41 + (i//2)*6 + (6*j)//9) * 97
    #               + pert(f, i, j)) % 256 — the resize map of the
    # 6×4 source onto the 9×8 dHash grid, q188's convention.
    return lambda j: (
        f"((((doc_id % {_VN_FAMILIES}) * 31 + {f} * 41"
        f" + ((k // 8) // 2) * 6 + (6 * ({j})) // 9) * 97"
        f" + CASE WHEN (doc_id // {_VN_FAMILIES}) % 2 = 1"
        f" AND {f} = {_VN_PERT_F}"
        f" AND ((k // 8) // 2) = {_VN_PERT_R}"
        f" AND (6 * ({j})) // 9 = {_VN_PERT_C}"
        f" THEN 128 ELSE 0 END) % 256)")


# the oracle twin of `_video_wide_dhash`
_VIDEO_WIDE_COLS = ", ".join(_dhash_cols(_video_mixed_px(f), f"f{f}")
                             for f in range(_Q152_FRAMES))


def _video_wide_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-clip 10-column (frame × half) dHash signature frame over the
    q194 mixed corpus — the persisted state the banded video index
    serves from."""
    media = synth_avi_media_mixed(_media_ids(spark, sf_dir, _VN_DOCS))
    return _frame_dhash(media, out_col="doc_id").groupBy("doc_id").agg(*[
        F.max(F.when(F.col("__f") == f, F.col(f"dhash_{p}")))
        .alias(f"f{f}_{p}")
        for f in range(_Q152_FRAMES) for p in ("lo", "hi")
    ])


@query("q194_video_neardup_banded",
       oracle=_pairs_sql(_VIDEO_WIDE_COLS, _VN_DOCS, _VIDEO_COLS,
                         _VN_MAXH))
def q194_video_neardup_banded(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Video NEAR-dup through genuine container bytes: demux every AVI
    (certified movi-walk), dHash every frame through the real BMP
    decode, widen the 5-frame sequence into ten 32-bit signature
    columns, and run the generic `hamming_band_pairs` over all 320
    bits (2 bands per 32-bit column × 10 columns = 40 bands —
    pigeonhole-exact recall for clip-total distance ≤ 39, far past
    the ≤4 threshold). Identical clips pair at 0;
    one-frame re-encodes pair within the budget; reordered or re-cut
    clips do not pair (frame position lives in the column identity).
    The oracle recomputes every per-frame fingerprint arithmetically
    and brute-forces clip pairs."""
    return _band_pairs(_video_wide_dhash(spark, sf_dir), "doc_id",
                       _bands(_VIDEO_COLS), _VN_MAXH)


# ---------------------------------------------------------------------------
# q224 — perceptual-index MAINTENANCE: the q165 append-back loop
# applied to the image dHash index. A rolling media crawl keeps ONE
# persisted (fingerprint → canonical) table; each new batch is
# decoded+fingerprinted map-side (delta-only work), known fingerprints
# keep their corpus canonical forever, novel ones append with the
# batch's min id. Completes the incremental story across modalities:
# text exact (q154/q165), text near (q162), streaming (q182), vectors
# (q215/q216), and now perceptual media.
# ---------------------------------------------------------------------------

_II_CORPUS_HI = 160       # corpus images: doc_id < 160, 40 pattern families
_II_DELTA_HI = 200        # delta batch: doc_id in [160, 200), 50 families
_II_FAM_OLD = 40          # delta seeds 10..49 → 30 already-indexed
_II_FAM_NEW = 50          # patterns + 10 genuinely novel ones

# q236 (streaming loop over this index, streaming/events.py): 200 media
# ids in 4 id-ordered micro-batches of 50, ONE generation rule with 120
# pattern families. Families collide in dHash space (34 distinct
# fingerprints at sf0.01 — the gradient comparison quantizes away most
# of the family offset), so every epoch past the first re-encounters
# known fingerprints AND the early epochs append novels: both branches
# of the maintenance loop fire across the stream, and colliding
# families exercise the min-id canonical rule across batches
_SPIDX_HI = 200
_SPIDX_FAM = 120


@query("q224_image_index_update",
       oracle=_index_update_sql(_dhash_cols(_bmp_px(_II_FAM_OLD)),
                                _dhash_cols(_bmp_px(_II_FAM_NEW)),
                                _II_CORPUS_HI, _II_DELTA_HI, _DHASH_KEYS))
def q224_image_index_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Roll the image dHash index forward by one crawl batch: the
    corpus (doc_id < 160, 40 pattern families) owns its canonicals;
    the delta batch ([160, 200), 50 families) re-encounters 30 of its
    patterns (kept — corpus canonical wins) and contributes 10 novel
    fingerprints (appended with the batch's min id). Both branches
    value-hash-checked; the oracle recomputes every fingerprint
    ARITHMETICALLY from the generation rule, never parsing BMP — the
    q186 certification contract."""
    corpus = synth_bmp_media(_media_ids(spark, sf_dir, _II_CORPUS_HI),
                             families=_II_FAM_OLD)
    delta = synth_bmp_media(
        _media_ids(spark, sf_dir, _II_DELTA_HI, lo=_II_CORPUS_HI),
        families=_II_FAM_NEW)
    return _index_update(image_dhash(corpus), image_dhash(delta),
                         _DHASH_KEYS)


# ---------------------------------------------------------------------------
# q225/q226 — perceptual-index maintenance for AUDIO and VIDEO: the
# q224 append-back loop applied to the energy-gradient and
# frame-sequence fingerprints, completing the maintenance matrix over
# every modality the dedup tier covers (q186/q187/q188 → q224/q225/
# q226).
# ---------------------------------------------------------------------------

_AI_CORPUS_HI = 160
_AI_DELTA_HI = 200
_AI_FAM_OLD = 20          # corpus seeds 0..19
_AI_FAM_NEW = 25          # delta seeds 0..24 → 5 genuinely novel

_VI_CORPUS_HI = 80
_VI_DELTA_HI = 100
_VI_FAM_OLD = 16          # corpus seeds 0..15
_VI_FAM_NEW = 20          # delta seeds 0..19 → 4 genuinely novel


def synth_wav_media_mod(ids: DataFrame, families: int,
                        id_col: str = "doc_id") -> DataFrame:
    """q225's seed-MODULATED WAV corpus: the q187 generator's frame
    energies are seed-invariant in their ORDERING (every clip yields
    the same gradient fingerprint — q187's single dup family), so the
    index-maintenance query needs clips whose fingerprints actually
    differ. Each frame f is amplitude-modulated by bit f of the seed
    (gain 1 or 4), so the energy-gradient profile encodes the seed's
    bit pattern; |sample| ≤ 4096 stays comfortably inside PCM16."""
    import numpy as np

    n = np.arange(_Q150_SAMPLES, dtype=np.int64)

    def rule(d: int) -> bytes:
        seed = d % families
        amp = 1 + 3 * ((seed >> (n // _AF_FRAME)) & 1)
        return _encode_wav_pcm16(((seed * 7 + n * 13) % 2048 - 1024) * amp)

    return _synth_media(ids, id_col, rule)


def _audio_mod_fp_cols(fam: int) -> str:
    sample = (f"(((doc_id % {fam}) * 7 + n * 13) % 2048 - 1024)"
              f" * (1 + 3 * (((doc_id % {fam}) >> (n // {_AF_FRAME}))"
              f" & 1))")
    return _energy_fp_sql(sample, _AF_FRAME) + " AS fingerprint"


@query("q225_audio_index_update",
       oracle=_index_update_sql(_audio_mod_fp_cols(_AI_FAM_OLD),
                                _audio_mod_fp_cols(_AI_FAM_NEW),
                                _AI_CORPUS_HI, _AI_DELTA_HI, _FP_KEYS))
def q225_audio_index_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Roll the audio fingerprint index forward by one crawl batch:
    corpus clips (doc_id < 160, 20 acoustic families) own their
    canonicals; the delta batch ([160, 200), 25 seed-modulated
    families) re-encounters most fingerprints and appends the novel
    ones. Delta-only decode; both branches value-hash-checked against
    the arithmetic energy-gradient oracle."""
    corpus = synth_wav_media_mod(_media_ids(spark, sf_dir, _AI_CORPUS_HI),
                                 families=_AI_FAM_OLD)
    delta = synth_wav_media_mod(
        _media_ids(spark, sf_dir, _AI_DELTA_HI, lo=_AI_CORPUS_HI),
        families=_AI_FAM_NEW)
    return _index_update(audio_fingerprint(corpus), audio_fingerprint(delta),
                         _FP_KEYS)


@query("q226_video_index_update",
       oracle=_index_update_sql(
           _video_fold_sql(_VI_FAM_OLD) + " AS fingerprint",
           _video_fold_sql(_VI_FAM_NEW) + " AS fingerprint",
           _VI_CORPUS_HI, _VI_DELTA_HI, _FP_KEYS))
def q226_video_index_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Roll the video fingerprint index forward by one crawl batch:
    corpus clips (doc_id < 80, 16 clip families) own their canonicals;
    the delta batch ([80, 100), 20 families) re-encounters 16 frame
    sequences and appends the novel ones. Delta-only demux+decode;
    both branches value-hash-checked against the arithmetic
    frame-sequence oracle."""
    corpus = synth_avi_media(_media_ids(spark, sf_dir, _VI_CORPUS_HI),
                             families=_VI_FAM_OLD)
    delta = synth_avi_media(
        _media_ids(spark, sf_dir, _VI_DELTA_HI, lo=_VI_CORPUS_HI),
        families=_VI_FAM_NEW)
    return _index_update(video_fingerprint(corpus), video_fingerprint(delta),
                         _FP_KEYS)


# ---------------------------------------------------------------------------
# q230/q237/q238 — NEAR-dup screening of a crawl batch against the
# corpus band index: the q162 incremental-near-dup contract applied to
# perceptual fingerprints (q224-q226 maintain the EXACT index;
# re-encodes that flip a gradient bit need the banded Hamming match).
# The banded index is the state a rolling crawl persists; a delta batch
# joins it instead of self-pairing the corpus.
# ---------------------------------------------------------------------------

_NI_DELTA_LO = 160           # delta = doc_id in [160, 200); corpus below
# family {s, s+50, s+100, s+150}: the s+150 member lands in the delta,
# so every family with seed ≥ 10 plants 3 delta↔corpus near-pairs
# (pert↔pert at distance 0, pert↔unpert at 1-2 bits)

_ANI_DELTA_LO = 150          # audio delta = doc_id in [150, 200)
# ids 150..199 have doc_id // 50 == 3 (odd) → every delta clip is a
# PERTURBED family member: it pairs with its family's unperturbed
# corpus members at ≤2 bits and its perturbed corpus twin at 0

_VNI_DELTA_LO = 75           # video delta = doc_id in [75, 100)

_IMAGE_SCREEN_SQL = _pairs_sql(_dhash_cols(_mixed_px), _NP_DOCS,
                               _DHASH_KEYS, _NP_MAXH, _NI_DELTA_LO)
_AUDIO_SCREEN_SQL = _pairs_sql(_AN_FP_COLS, _AN_DOCS, _FP_KEYS, _AN_MAXH,
                               _ANI_DELTA_LO)
_VIDEO_SCREEN_SQL = _pairs_sql(_VIDEO_WIDE_COLS, _VN_DOCS, _VIDEO_COLS,
                               _VN_MAXH, _VNI_DELTA_LO)


def _image_screen(spark: SparkSession, sf_dir: str,
                  top_m: int | None = None) -> DataFrame:
    return _screen(_image_near_fp(spark, sf_dir), "media_id", _NI_DELTA_LO,
                   _bands(_DHASH_KEYS), _NP_MAXH, top_m)


def _audio_screen(spark: SparkSession, sf_dir: str,
                  top_m: int | None = None) -> DataFrame:
    return _screen(_audio_near_fp(spark, sf_dir), "media_id", _ANI_DELTA_LO,
                   _bands(_FP_KEYS, 64), _AN_MAXH, top_m)


def _video_screen(spark: SparkSession, sf_dir: str,
                  top_m: int | None = None) -> DataFrame:
    return _screen(_video_wide_dhash(spark, sf_dir), "doc_id", _VNI_DELTA_LO,
                   _bands(_VIDEO_COLS), _VN_MAXH, top_m)


@query("q230_image_near_index", oracle=_IMAGE_SCREEN_SQL)
def q230_image_near_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Screen the crawl batch (doc_id ∈ [160, 200)) against the corpus
    dHash band index: delta bands join the stored index, survivors
    verify the exact popcount — every (delta, corpus, hamming) pair
    value-hash-checked against the oracle's brute-force over the
    arithmetic fingerprints. The pigeonhole bound holds per pair (4
    bands, d ≤ 3), so recall is EXACT; work is delta band rows + true
    candidates, never corpus²."""
    return _image_screen(spark, sf_dir)


@query("q237_audio_near_index", oracle=_AUDIO_SCREEN_SQL)
def q237_audio_near_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Screen the audio crawl batch (doc_id ∈ [150, 200) — all
    perturbed family members) against the corpus energy-gradient band
    index: delta bands join the stored index, survivors verify the
    exact popcount — every (delta, corpus, hamming) pair
    value-hash-checked against the oracle's brute force over the
    synthesis-arithmetic fingerprints. Pigeonhole recall is exact (4
    bands, d ≤ 3 ≥ the ≤2 threshold); work is delta band rows + true
    candidates, never corpus²."""
    return _audio_screen(spark, sf_dir)


@query("q238_video_near_index", oracle=_VIDEO_SCREEN_SQL)
def q238_video_near_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Screen the video crawl batch (doc_id ∈ [75, 100) — all perturbed
    family members) against the corpus frame-sequence band index: the
    q194 ten-column 320-bit signature, delta bands joining the stored
    40-band index, survivors popcount-verified — every (delta, corpus,
    hamming) pair value-hash-checked against the oracle's arithmetic
    brute force. Frame position lives in the column identity, so
    re-cut clips stay apart; work is delta band rows + true
    candidates."""
    return _video_screen(spark, sf_dir)


# ---------------------------------------------------------------------------
# q330/q341/q342 — the top-m OUTPUT CAP over the audio, image and video
# near screens: on clone-heavy corpora the round-12 100x ladder measured
# the uncapped screens materializing 468M (image) / 831M (video) pair
# rows.  The cap is generic in hamming_band_pairs_delta (rank on
# hamming asc, ties to the smallest corpus id); output is ≤ m·|delta|
# BY CONSTRUCTION while set-level screening decisions are unchanged
# (any delta item with a ≤ max_hamming match still reports one).
# ---------------------------------------------------------------------------


@query("q330_audio_screen_capped", oracle=_capped_sql(_AUDIO_SCREEN_SQL))
def q330_audio_screen_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q237's audio near screen with the top-m OUTPUT CAP (m = 3
    closest corpus matches per delta clip, ties to the smallest id) —
    the executable answer to the round-12 100x ladder's output-bound
    rows: on a clone-heavy corpus the uncapped screen materializes
    O(family²) pairs (468M/831M rows at 100x), while the capped screen
    is ≤ m·|delta| rows BY CONSTRUCTION with set-level screening
    decisions unchanged (any delta clip with a ≤ max_hamming match
    still reports one).  Every kept (delta, corpus, hamming) row
    value-hash-checked against the rank-windowed oracle."""
    return _audio_screen(spark, sf_dir, _SCREEN_TOP_M)


@query("q341_image_screen_capped", oracle=_capped_sql(_IMAGE_SCREEN_SQL))
def q341_image_screen_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q230's image near screen with the top-m output cap (m = 3
    closest corpus matches per delta image, ties to the smallest id):
    delta bands join the stored dHash index, survivors popcount-verify,
    a rank window keeps m per delta row — every kept (delta, corpus,
    hamming) row value-hash-checked against the rank-windowed oracle
    over the arithmetic fingerprints."""
    return _image_screen(spark, sf_dir, _SCREEN_TOP_M)


@query("q342_video_screen_capped", oracle=_capped_sql(_VIDEO_SCREEN_SQL))
def q342_video_screen_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q238's video near screen with the top-m output cap (m = 3
    closest corpus matches per delta clip, ties to the smallest id):
    the q194 ten-column 320-bit signatures, delta bands joining the
    stored 40-band index, survivors popcount-verified, a rank window
    keeping m per delta row — every kept (delta, corpus, hamming) row
    value-hash-checked against the rank-windowed arithmetic oracle."""
    return _video_screen(spark, sf_dir, _SCREEN_TOP_M)
