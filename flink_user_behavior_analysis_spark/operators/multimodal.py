"""Multimodal column plumbing: opaque binary payloads + typed metadata,
decode / feature extraction as Arrow kernels.

Each codec is a pure-python, module-level function over one payload's
bytes (``ppm_decode``, ``ahash`` / ``phash_wide``, and the
``png_header`` / ``jpeg_header`` / ``gif_header`` / ``bmp_header``
parsers); the Spark passes (``decode_media``, ``media_ahash``,
``media_headers``) run those same functions per row inside
``operators/arrow_kernel.map_arrow``. Executors import this module, so
there is one copy of each parser. A parse error of any row is re-raised
as ``ValueError("media <id>: ...")``.

Design for 100 TB of media:
- payloads stay an opaque ``binary`` column; Spark never interprets
  them JVM-side, so the scan is a straight parquet/binaryFile read
  with column pruning on the metadata struct.
- the kernels stream Arrow batches through the Python worker — memory
  is bounded by spark.sql.execution.arrow.maxRecordsPerBatch, not by
  partition size; decode cost scales per row, shuffle-free.
- feature vectors come back as array<float> ready for
  operators.similarity (ANN / near-dup).
"""

from __future__ import annotations

import binascii
import struct

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .arrow_kernel import map_arrow

FEATURE_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("media_type", StringType()),
    StructField("n_bytes", LongType()),
    StructField("feature", ArrayType(FloatType())),
])


def _media_rows(docs: DataFrame, id_col: str, payload: Column, fmt: str,
                hash_hex: bool = True) -> DataFrame:
    """(media_id, payload, media_type, format, n_bytes, content_sha256)
    rows of ``docs`` for one payload expression. The fingerprint hashes the payload's hex (the form the DuckDB
    oracle can reproduce for any bytes) unless ``hash_hex`` is False."""
    return docs.select(
        F.col(id_col).alias("media_id"),
        payload.alias("payload"),
        F.lit("image").alias("media_type"),
        F.lit(fmt).alias("format"),
        F.octet_length(payload).cast("long").alias("n_bytes"),
        F.sha2(F.hex(payload) if hash_hex else payload, 256)
        .alias("content_sha256"),
    )


def documents_as_media(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Wrap the documents table as a media table (text bytes stand in
    for image payloads — the plumbing is format-agnostic by design).

    Pure column expressions: encode / length / sha2 all run JVM-side;
    the fingerprint hashes the raw text bytes.
    """
    return _media_rows(docs, id_col, F.encode(F.col(text_col), "UTF-8"),
                       "png", hash_hex=False)


def _checked_rows(ids, parse, *cols) -> list:
    """``parse(*row)`` for each row of ``cols``; a parse error becomes
    ``ValueError("media <id>: ...")``. IndexError and struct.error are
    caught too, so a malformed payload never escapes as a bare
    low-level exception without its media_id."""
    out = []
    for mid, *row in zip(ids, *cols):
        try:
            out.append(parse(*row))
        except (ValueError, IndexError, struct.error) as exc:
            raise ValueError(f"media {mid}: {exc}") from None
    return out


# --- pure-python PPM (P6) codec -------------------------------------
# A real, if minimal, image format both engines can certify: binary
# PPM is `P6\n{w} {h}\n{maxval}\n` followed by w*h*3 raw RGB bytes —
# no compression, no library needed. The decode features are chosen
# to be EXACT in float32 (integers and 32nds), so the DuckDB oracle
# reproduces them bit-for-bit from the payload's hex.

PPM_W, PPM_H = 8, 4  # 32 pixels, 96 RGB bytes


def documents_as_ppm(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Wrap documents as a media table whose payloads are REAL binary
    PPM images: header + the first PPM_W*PPM_H*3 text bytes as RGB
    samples (zero-padded). All JVM-side column expressions (encode /
    binary substring / rpad / concat) — shuffle-free scan."""
    n_px_bytes = PPM_W * PPM_H * 3
    payload = F.concat(
        F.lit(f"P6\n{PPM_W} {PPM_H}\n255\n".encode()),
        F.expr(f"rpad(substring(encode({text_col}, 'UTF-8'), 1, "
               f"{n_px_bytes}), {n_px_bytes}, X'00')"),
    )
    return _media_rows(docs, id_col, payload, "ppm")


def _ppm_pixels(payload: bytes) -> tuple[int, int, bytes]:
    """(w, h, rgb bytes) of a P6 payload: validates the magic, reads
    the three whitespace-separated header ints, requires maxval 255
    and w*h*3 pixel bytes."""
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    parts, i, tok = [], 2, b""
    while len(parts) < 3 and i < len(payload):
        c = payload[i:i + 1]
        if c.isspace():
            if tok:
                parts.append(int(tok))
                tok = b""
        else:
            tok += c
        i += 1
    w, h, maxval = parts
    if maxval != 255:
        raise ValueError(f"unsupported maxval {maxval}")
    px = payload[i:i + w * h * 3]
    if len(px) != w * h * 3:
        raise ValueError("truncated pixel data")
    return w, h, px


def ppm_decode(payload: bytes) -> list[float]:
    """8 features of a P6 payload: [w, h, mean_r, mean_g, mean_b,
    min_byte, max_byte, n_pixels]. Means are 1/n_pixels-ths and the
    rest are small integers, so every feature is exactly
    representable in float32 (no rounding seam for the oracle)."""
    w, h, px = _ppm_pixels(payload)
    n = w * h
    return [
        float(w), float(h),
        *(sum(px[c::3]) / n for c in range(3)),
        float(min(px)), float(max(px)), float(n),
    ]


def _intensities(payload: bytes) -> tuple[int, int, list[int]]:
    """(w, h, s) with s_i = r_i + g_i + b_i per pixel, row-major."""
    w, h, px = _ppm_pixels(payload)
    return w, h, [px[3 * j] + px[3 * j + 1] + px[3 * j + 2]
                  for j in range(w * h)]


def _ahash_bits(s: list[int]) -> int:
    """bit_i = 1 iff s_i * n > sum(s), pixel 0 at the MSB."""
    n, total = len(s), sum(s)
    hv = 0
    for j in range(n):
        if s[j] * n > total:
            hv |= 1 << (n - 1 - j)
    return hv


def _wide_bits(hv: int, s: list[int], w: int, h: int) -> int:
    """aHash ``hv`` followed by the horizontal dHash of ``s``."""
    if h * (2 * w - 1) > 63:
        # LongType ceiling: the combined aHash||dHash is h*(2w-1) bits
        # wide and would silently wrap past 63 — reject explicitly
        # instead of emitting an aliased hash (e.g. 8x8 needs 120 bits)
        raise ValueError(
            f"phash_wide: {w}x{h} image needs {h * (2 * w - 1)} bits, "
            f"> 63 (LongType); use <= 8x4 images or a binary hash")
    nd = h * (w - 1)
    dv, k = 0, 0
    for r in range(h):
        for c in range(w - 1):
            if s[r * w + c + 1] > s[r * w + c]:
                dv |= 1 << (nd - 1 - k)
            k += 1
    return (hv << nd) | dv


def ahash(payload: bytes) -> tuple[int, int, int]:
    """Average-hash (aHash — the public perceptual-hash family's
    simplest member: threshold each pixel's intensity at the image
    mean; cf. pHash/dHash) over a real P6 PPM payload, in pure integer
    arithmetic so the DuckDB oracle reproduces every bit:
    s_i = r_i + g_i + b_i per pixel (row-major), and
    bit_i = 1 iff s_i * n_pixels > sum(s) (cross-multiplied mean
    comparison — no division, no float seam). Returns
    (hash, w, h) with bit 0 of pixel 0 at the MSB of a w*h-bit
    integer."""
    w, h, s = _intensities(payload)
    return _ahash_bits(s), w, h


def phash_wide(payload: bytes) -> tuple[int, int, int]:
    """WIDE perceptual hash: aHash concatenated with the horizontal
    difference hash (dHash: bit per adjacent pixel pair, 1 iff the
    right neighbor's intensity sum is strictly greater) —
    h*(2w-1) bits total, (ahash << h*(w-1)) | dhash, same MSB-first
    row-major bit order in both halves. For the standard 8x4 PPM
    images: 32 + 28 = 60 bits.

    Why it exists (sf1 finding): banding a 32-bit hash for
    hamming<=3 forces 8-bit chunks, whose 256-value space saturates —
    bucket density grows linearly with corpus size and the candidate
    join goes quadratic (measured 107x wall for 10x images). The
    60-bit hash bands into 15-bit chunks (32768 values), so buckets
    stay sparse at realistic corpus sizes while the pigeonhole recall
    guarantee is unchanged. Pure integer comparisons — the DuckDB
    oracle reproduces every bit."""
    w, h, s = _intensities(payload)
    return _wide_bits(_ahash_bits(s), s, w, h), w, h


def _media_hashes(payload: bytes) -> tuple[int, int, int, int]:
    """(ahash, phash_wide, w, h) from one parse of the payload."""
    w, h, s = _intensities(payload)
    hv = _ahash_bits(s)
    return hv, _wide_bits(hv, s, w, h), w, h


def _hash_kernel(batch):
    rows = _checked_rows(batch.column(0).to_pylist(), _media_hashes,
                         batch.column(1).to_pylist())
    return (batch.column(0), *(list(c) for c in zip(*rows)))


def media_ahash(media: DataFrame, id_col: str = "media_id") -> DataFrame:
    """Perceptual fingerprints over real PPM payloads: one Arrow pass
    computing BOTH the integer average-hash and the wide aHash||dHash
    variant per image from one parse (see ahash / phash_wide above).
    Emits (media_id, phash, phash_wide, w, h) — phash is a w*h-bit
    integer (32 bits for the standard 8x4 documents_as_ppm images),
    phash_wide is h*(2w-1) bits (60), both LongType-exact.

    Scale shape (100 TB of images): per-row, stateless, shuffle-free
    — memory bounded by the Arrow batch; the hash column is what a
    production pipeline materializes once per corpus version and
    dedups/bands against (image near-dup is hash-space work, the
    pixels are never revisited)."""
    return map_arrow(
        media, [F.col(id_col).alias("media_id"), "payload"],
        StructType([StructField(c, LongType()) for c in
                    ("media_id", "phash", "phash_wide", "w", "h")]),
        _hash_kernel)


def phash_neardup_pairs(hashes: DataFrame, max_hamming: int = 3,
                        bits: int = 32, bands: int = 4,
                        id_col: str = "media_id",
                        hash_col: str = "phash",
                        max_bucket: int | None = None) -> DataFrame:
    """Image near-dup candidate pairs with hamming(phash) <=
    max_hamming — the pigeonhole-banded shape of
    operators/dedup.simhash_pairs applied to perceptual hashes: split
    the ``bits``-bit hash into ``bands`` chunks; d <= bands - 1
    guarantees at least one equal chunk, so candidates come from
    ``bands`` equality joins on a uniform key (one posexplode
    projection, one self-join — never an all-pairs product), then
    exact hamming verifies. Returns (id_a, id_b, hamming).

    ``max_bucket``: LSH skew cap for corpora where a (chunk, value)
    bucket goes quadratic (B members -> B^2/2 candidates): buckets
    above the cap are dropped BEFORE the self-join via a broadcast
    count filter (the counts table is at most bands * 2^chunk_w rows)
    — the standard recall-for-boundedness trade, same semantics as
    the minhash LSH cap. None (default) = exact pigeonhole recall."""
    assert max_hamming < bands, "pigeonhole needs max_hamming < bands"
    from .dedup import _tracked_persist

    # persist the (id, hash) proxy (the winnow_overlap discipline):
    # downstream the chunk frame feeds the bucket-count aggregate AND
    # both sides of the self-join, so an unpersisted input re-runs the
    # upstream hash computation (for image corpora: the whole
    # decode+hash Arrow pass) up to 4x — plan-audited 4 scans -> 1.
    # Rows are id + one 64-bit hash: the lightweight proxy a 100 TB
    # image corpus would store.
    hashes = _tracked_persist(hashes.select(F.col(id_col),
                                            F.col(hash_col)))
    chunk_w = bits // bands
    chunk_vals = F.array(*[
        F.shiftright(F.col(hash_col), ci * chunk_w)
        .bitwiseAND(F.lit((1 << chunk_w) - 1))
        for ci in range(bands)
    ])
    chunks = hashes.select(
        F.col(id_col), F.col(hash_col),
        F.posexplode(chunk_vals).alias("chunk", "chunk_val"),
    )
    if max_bucket is not None:
        small = (chunks.groupBy("chunk", "chunk_val")
                 .agg(F.count(F.lit(1)).alias("_bc"))
                 .where(F.col("_bc") <= max_bucket)
                 .drop("_bc"))
        chunks = chunks.join(F.broadcast(small), ["chunk", "chunk_val"])
    a, b = chunks.alias("a"), chunks.alias("b")
    cands = (
        a.join(b, (F.col("a.chunk") == F.col("b.chunk"))
               & (F.col("a.chunk_val") == F.col("b.chunk_val"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                F.col(f"a.{hash_col}").alias("h_a"),
                F.col(f"b.{hash_col}").alias("h_b"))
        .distinct()
    )
    hamming = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (
        cands.select("id_a", "id_b",
                     hamming.cast("long").alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def _decode_kernel(batch):
    features = _checked_rows(batch.column(0).to_pylist(), ppm_decode,
                             batch.column(3).to_pylist())
    return batch.column(0), batch.column(1), batch.column(2), features


def decode_media(media: DataFrame) -> DataFrame:
    """Decode REAL binary PPM (P6) payloads to fixed-width feature
    vectors with the pure-python codec (ppm_decode) — deterministic,
    library-free and oracle-certifiable. Emits FEATURE_SCHEMA rows.

    The Arrow batch iterator preserves partitioning — no shuffle; at
    scale, repartition upstream by size (``n_bytes`` ranges) so decode
    work balances across executors even when payload sizes are skewed.
    """
    return map_arrow(media, ["media_id", "media_type", "n_bytes", "payload"],
                     FEATURE_SCHEMA, _decode_kernel)


def resize_media(media: DataFrame, max_bytes: int = 128) -> DataFrame:
    """'Resize/downsample' plumbing: cap each payload at ``max_bytes``
    bytes, recomputing the size/fingerprint metadata — the schema and
    plan shape of a real thumbnail/re-encode pass (which would swap
    the substring for a decode-resize-encode Arrow kernel).

    JVM-side substring on binary — shuffle-free, no Python. The
    fingerprint hashes the HEX of the (possibly truncated) payload,
    same oracle-portability contract as frame_sample.
    """
    clipped = F.expr(f"substring(payload, 1, {int(max_bytes)})")
    return media.select(
        "media_id", "media_type", "format",
        F.col("n_bytes").alias("orig_n_bytes"),
        F.octet_length(clipped).cast("long").alias("n_bytes"),
        (F.col("n_bytes") > max_bytes).alias("resized"),
        F.sha2(F.hex(clipped), 256).alias("content_sha256"),
    )


# --- real-format header parsing (PNG / JPEG / GIF / BMP) ------------
# Second oracle-checkable decoder tier: parse the HEADERS of the
# dominant real image formats — dims, bit depth, channel count — with
# no pixel decode, so multimodal metadata extraction certifies against
# real-format bytes. The parsers are spec-literal pure python (PNG:
# RFC 2083 §3 signature + IHDR layout with CRC-32 validation; JPEG:
# ITU T.81 §B marker-segment walk to the first SOFn; GIF87a/89a
# logical screen descriptor; BMP BITMAPINFOHEADER), pinned against
# hand-verified fixture bytes in tests/test_pipeline_ops.py.

PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}  # color_type -> channels
# SOF0-SOF15 minus DHT(C4)/JPG(C8)/DAC(CC), per T.81 Table B.1
_JPEG_SOF = {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
             0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}

HEADER_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("format", StringType()),
    StructField("width", LongType()),
    StructField("height", LongType()),
    StructField("bit_depth", LongType()),
    StructField("channels", LongType()),
])


def png_header(payload: bytes) -> tuple[int, int, int, int]:
    """Parse a PNG header: validate the 8-byte signature, require the
    first chunk to be IHDR (per spec), CHECK ITS CRC-32, and return
    (width, height, bit_depth, channels)."""
    if payload[:8] != PNG_SIG:
        raise ValueError("not a PNG signature")
    if len(payload) < 33:                # sig + len/type + 13 + CRC
        raise ValueError("truncated PNG header")
    length, ctype = struct.unpack(">I4s", payload[8:16])
    if ctype != b"IHDR" or length != 13:
        raise ValueError("first chunk is not a 13-byte IHDR")
    body = payload[12:16 + 13]           # chunk type + data
    (crc,) = struct.unpack(">I", payload[16 + 13:16 + 17])
    if binascii.crc32(body) & 0xFFFFFFFF != crc:
        raise ValueError("IHDR CRC mismatch")
    w, h, depth, color_type = struct.unpack(">IIBB", payload[16:26])
    if color_type not in _PNG_CHANNELS:
        raise ValueError(f"unknown PNG color type {color_type}")
    return w, h, depth, _PNG_CHANNELS[color_type]


def jpeg_header(payload: bytes) -> tuple[int, int, int, int]:
    """Parse a JPEG header: validate SOI, walk the marker segments to
    the first SOFn frame header, and return (width, height,
    precision, n_components). Stops at SOS/EOI — no entropy-coded
    data is touched."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG SOI")
    i = 2
    while i + 4 <= len(payload):
        if payload[i] != 0xFF:
            raise ValueError(f"bad marker alignment at {i}")
        marker = payload[i + 1]
        if marker == 0xFF:               # fill byte
            i += 1
            continue
        if marker in (0xD8, 0xD9, 0x01) or 0xD0 <= marker <= 0xD7:
            if marker == 0xD9:
                break                    # EOI before any SOF
            i += 2                       # standalone marker
            continue
        seg_len = int.from_bytes(payload[i + 2:i + 4], "big")
        if seg_len < 2:
            raise ValueError("corrupt segment length")
        if marker in _JPEG_SOF:
            if i + 10 > len(payload):
                raise ValueError("truncated SOF segment")
            precision = payload[i + 4]
            h = int.from_bytes(payload[i + 5:i + 7], "big")
            w = int.from_bytes(payload[i + 7:i + 9], "big")
            ncomp = payload[i + 9]
            return w, h, precision, ncomp
        if marker == 0xDA:               # SOS — frame header was owed
            break
        i += 2 + seg_len
    raise ValueError("no SOF marker before SOS/EOI")


def gif_header(payload: bytes) -> tuple[int, int, int, int]:
    """Parse a GIF header (spec: GIF87a/GIF89a, pure offset reads like
    PNG/JPEG — no codec needed): validate the 6-byte signature, read
    the logical screen descriptor's LITTLE-endian u16 dims, and return
    (width, height, bit_depth, channels) where bit_depth is the packed
    field's color-resolution bits + 1 and channels is 3 (GIF palettes
    are RGB triples)."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF signature")
    if len(payload) < 13:                # sig + logical screen descriptor
        raise ValueError("truncated GIF logical screen descriptor")
    w = int.from_bytes(payload[6:8], "little")
    h = int.from_bytes(payload[8:10], "little")
    depth = ((payload[10] >> 4) & 0x7) + 1
    return w, h, depth, 3


def bmp_header(payload: bytes) -> tuple[int, int, int, int]:
    """Parse a BMP header (Windows BITMAPINFOHEADER — pure offset
    reads): validate the 'BM' magic and the 40-byte DIB header size,
    require planes == 1 per spec, and return (width, height,
    bit_depth, channels): height is abs() of the signed i32 (negative
    means top-down row order, same dims), channels = biBitCount / 8
    for the byte-aligned depths with bit_depth 8, and palette depths
    (1/4/8 bpp) report (bit_depth=biBitCount, channels=1)."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP magic")
    if len(payload) < 54:                # 14-byte file hdr + 40-byte DIB
        raise ValueError("truncated BITMAPINFOHEADER")
    dib = int.from_bytes(payload[14:18], "little")
    if dib != 40:
        raise ValueError(f"unsupported DIB header size {dib}")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h = abs(int.from_bytes(payload[22:26], "little", signed=True))
    planes = int.from_bytes(payload[26:28], "little")
    if planes != 1:
        raise ValueError(f"bad BMP planes {planes}")
    bitcount = int.from_bytes(payload[28:30], "little")
    if bitcount not in (1, 4, 8, 16, 24, 32):
        raise ValueError(f"bad BMP bit count {bitcount}")
    if w <= 0 or h == 0:
        raise ValueError(f"bad BMP dims {w}x{h}")
    if bitcount < 8:
        return w, h, bitcount, 1
    return w, h, 8, bitcount // 8


_HEADER_PARSERS = {"png": png_header, "jpeg": jpeg_header,
                   "jpg": jpeg_header, "gif": gif_header,
                   "bmp": bmp_header}


def _be_bytes(col, n_hex: int):
    """Big-endian fixed-width byte encoding of a non-negative integral
    Column, built JVM-side (hex -> left-pad -> unhex)."""
    return F.unhex(F.lpad(F.hex(col.cast("bigint")), n_hex, "0"))


def _le_bytes(col, n_bytes: int):
    """Little-endian fixed-width byte encoding of a non-negative
    integral Column, built JVM-side: hex -> left-pad -> byte-pair
    swap -> unhex (GIF/BMP headers are little-endian, unlike
    PNG/JPEG)."""
    hx = F.lpad(F.hex(col.cast("bigint")), n_bytes * 2, "0")
    return F.unhex(F.concat(*[
        F.substring(hx, i * 2 + 1, 2) for i in reversed(range(n_bytes))]))


def _dims(text_col: str) -> tuple[Column, Column]:
    """(w, h) = (len % 64 + 1, len % 32 + 1) of the text's UTF-8 bytes:
    the dims every real-format builder writes, which the DuckDB oracle
    predicts from the length alone."""
    n = F.octet_length(F.encode(F.col(text_col), "UTF-8"))
    return n % 64 + 1, n % 32 + 1


def documents_as_png(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Wrap documents as media whose payloads are REAL PNG byte
    streams: signature + a spec-correct IHDR chunk (big-endian dims
    from ``_dims``, bit depth 8, truecolor) with its CRC-32 computed
    JVM-side (F.crc32 over type+data, exactly the polynomial the spec
    mandates), closed by an IEND chunk. Pure column expressions —
    shuffle-free scan; the header parser must then reproduce (w, h)
    from the BYTES."""
    w, h = _dims(text_col)
    ihdr_body = F.concat(F.lit(b"IHDR"), _be_bytes(w, 8),
                         _be_bytes(h, 8), F.lit(bytes([8, 2, 0, 0, 0])))
    iend = ((0).to_bytes(4, "big") + b"IEND"
            + (binascii.crc32(b"IEND") & 0xFFFFFFFF).to_bytes(4, "big"))
    payload = F.concat(
        F.lit(PNG_SIG), _be_bytes(F.lit(13), 8), ihdr_body,
        _be_bytes(F.crc32(ihdr_body), 8), F.lit(iend))
    return _media_rows(docs, id_col, payload, "png")


def documents_as_jpeg(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Wrap documents as media whose payloads are REAL JPEG marker
    streams: SOI, a literal JFIF APP0 segment, a spec-correct SOF0
    frame header (precision 8, big-endian height-then-width per
    T.81 §B.2.2, 3 components with standard 4:2:0 sampling specs),
    EOI."""
    w, h = _dims(text_col)
    app0 = (b"\xff\xe0\x00\x10JFIF\x00\x01\x02\x00"
            b"\x00\x01\x00\x01\x00\x00")
    sof0 = F.concat(F.lit(b"\xff\xc0\x00\x11\x08"),
                    _be_bytes(h, 4), _be_bytes(w, 4),
                    F.lit(b"\x03\x01\x22\x00\x02\x11\x01\x03\x11\x01"))
    payload = F.concat(F.lit(b"\xff\xd8" + app0), sof0,
                       F.lit(b"\xff\xd9"))
    return _media_rows(docs, id_col, payload, "jpeg")


def documents_as_gif(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Wrap documents as media whose payloads are REAL GIF89a byte
    streams: signature + logical screen descriptor (LITTLE-endian u16
    dims built via _le_bytes, packed field 0x70 = color resolution 8,
    no global color table) closed by the 0x3B trailer."""
    w, h = _dims(text_col)
    payload = F.concat(F.lit(b"GIF89a"), _le_bytes(w, 2),
                       _le_bytes(h, 2), F.lit(bytes([0x70, 0, 0, 0x3B])))
    return _media_rows(docs, id_col, payload, "gif")


def documents_as_bmp(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Wrap documents as media whose payloads are REAL BMP headers:
    'BM' file header (file size = pixel offset = 54, no pixel data —
    the parser only reads the header region) + a spec-correct
    BITMAPINFOHEADER (size 40, little-endian i32 dims, planes 1,
    24 bpp, remaining six u32 fields zero)."""
    w, h = _dims(text_col)
    payload = F.concat(
        F.lit(b"BM" + (54).to_bytes(4, "little") + bytes(4)
              + (54).to_bytes(4, "little")
              + (40).to_bytes(4, "little")),
        _le_bytes(w, 4), _le_bytes(h, 4),
        F.lit((1).to_bytes(2, "little") + (24).to_bytes(2, "little")
              + bytes(24)))
    return _media_rows(docs, id_col, payload, "bmp")


def documents_by_format(docs: DataFrame) -> DataFrame:
    """Documents as real-format media, the format chosen by
    ``doc_id % 4``: 0 PNG, 1 JPEG, 2 GIF, 3 BMP. Stateless per row, so
    it applies to a replayed document stream unchanged."""
    m = F.col("doc_id") % 4
    return (
        documents_as_png(docs.where(m == 0))
        .unionByName(documents_as_jpeg(docs.where(m == 1)))
        .unionByName(documents_as_gif(docs.where(m == 2)))
        .unionByName(documents_as_bmp(docs.where(m == 3)))
    )


def _format_header(fmt: str, payload: bytes) -> tuple[int, int, int, int]:
    parse = _HEADER_PARSERS.get(fmt)
    if parse is None:
        raise ValueError(f"no header parser for format {fmt!r}")
    return parse(payload)


def _header_kernel(batch):
    rows = _checked_rows(batch.column(0).to_pylist(), _format_header,
                         batch.column(1).to_pylist(),
                         batch.column(2).to_pylist())
    return (batch.column(0), batch.column(1),
            *(list(c) for c in zip(*rows)))


def media_headers(media: DataFrame) -> DataFrame:
    """Header-metadata extraction over real-format payloads: parse
    each payload's PNG / JPEG / GIF / BMP header (dispatch on the
    ``format`` column) in one Arrow pass — partition-preserving,
    shuffle-free; memory bounded by the Arrow batch size, exactly the
    decode_media plumbing contract. Emits (media_id, format, width,
    height, bit_depth, channels)."""
    return map_arrow(media, ["media_id", "format", "payload"],
                     HEADER_SCHEMA, _header_kernel)


def frame_sample(media: DataFrame, every_n_bytes: int = 64,
                 max_frames: int = 8) -> DataFrame:
    """'Frame sampling' plumbing: explode each payload into up to
    max_frames fixed-stride byte windows (stand-in for video frame
    extraction — same schema/partitioning shape as the real thing).

    JVM-side: substring on binary + posexplode; no Python. Frames are
    BYTE windows (the honest semantics for opaque media — a frame
    boundary has no reason to respect UTF-8); the fingerprint hashes
    the frame's HEX encoding rather than the raw bytes so the DuckDB
    oracle can reproduce it exactly for any payload (DuckDB cannot
    slice or sha256 BLOBs, but both engines produce identical
    uppercase hex, and hashing hex(bytes) is content-equivalent to
    hashing the bytes).
    """
    frames = F.expr(
        f"transform(sequence(0, least(n_bytes div {every_n_bytes}, "
        f"cast({max_frames - 1} AS BIGINT))), "
        f"i -> substring(payload, cast(i * {every_n_bytes} + 1 AS INT), {every_n_bytes}))"
    )
    return media.select(
        "media_id",
        F.posexplode(frames).alias("frame_idx", "frame_bytes"),
    ).select(
        "media_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.octet_length("frame_bytes").cast("long").alias("frame_len"),
        F.sha2(F.hex("frame_bytes"), 256).alias("frame_sha256"),
    )
