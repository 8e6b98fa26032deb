"""Multimodal column handling: opaque binary payloads + typed metadata.

Real pipelines carry images/audio/video as ``binary`` columns with a
metadata struct, decode/resize/frame-sample them in Arrow-batched Python
(``mapInPandas``), and keep everything else relational. The image/audio
codec libraries are NOT in this container, so the decode stage falls
back to a deterministic stub kernel (defined INSIDE the worker closure
in ``decode_features`` — the single source of truth — and recorded per
row in the ``kernel`` output column) — but the Spark-side plumbing is
real and tested: schema contract, Arrow batch iteration,
partition-parallel execution, no driver collects.

Scale design: ``mapInPandas`` streams Arrow record batches through the
Python worker — constant memory per batch, linear scan, no shuffle. At
100 TB the decode stage is embarrassingly parallel; the only tuning knob
is ``spark.sql.execution.arrow.maxRecordsPerBatch`` vs payload size.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DECODE_SCHEMA = (
    "doc_id bigint, n_bytes bigint, width int, height int, n_channels int, "
    "checksum string, kernel string"
)


def with_binary_payload(doc: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach an opaque BINARY payload column + metadata struct. In a real
    pipeline the payload would come from the storage layer (image bytes);
    here it is the UTF-8 encoding of ``text`` so tests are hermetic."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return doc.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.octet_length(payload).alias("n_bytes"),
            F.lit("application/octet-stream").alias("mime"),
        ).alias("media_meta"),
    )


def decode_features(df: DataFrame) -> DataFrame:
    """Arrow-batched decode stage: (doc_id, payload, media_meta) →
    (doc_id, n_bytes, width, height, n_channels, checksum, kernel).

    ``mapInPandas`` so each Python worker sees an iterator of pandas
    batches — vectorized transfer, per-partition streaming.

    Kernel selection happens ON THE WORKER, per row:

    * ``image/*`` mime + PIL importable → real decode, ``kernel='pil'``;
    * ``image/png`` mime, no PIL → real stdlib decode (signature +
      IHDR parse, full IDAT zlib inflate, raw-size cross-check against
      the header geometry), ``kernel='pypng'`` — the real-decode path
      stays exercised even on codec-less workers/CI;
    * any other ``image/*`` mime, no PIL → ``NotImplementedError``
      (loud — a production cluster missing its codec libs must not emit
      fakes);
    * any other mime → deterministic stub, ``kernel='stub'``.

    The closure is deliberately self-contained (no references to this
    module's globals): cloudpickle then serializes it by value, so the
    job runs on executors that do NOT have this package on their import
    path — no ``--py-files`` shipping requirement.
    """

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hl

        import pandas as _pd

        try:
            import io as _io

            from PIL import Image as _Image  # type: ignore

            def _pil_kernel(payload: bytes) -> tuple[int, int, int, str]:
                img = _Image.open(_io.BytesIO(payload))
                return (
                    img.width,
                    img.height,
                    len(img.getbands()),
                    _hl.md5(payload).hexdigest(),
                )

        except ImportError:
            _pil_kernel = None

        def _png_kernel(payload: bytes) -> tuple[int, int, int, str]:
            """Pure-stdlib PNG decode: parse IHDR, inflate every IDAT
            chunk, and cross-check the inflated size against the header
            geometry (height * (1 + scanline bytes)) — a corrupt or
            truncated file raises instead of yielding fake dimensions."""
            import struct as _struct
            import zlib as _zlib

            if payload[:8] != b"\x89PNG\r\n\x1a\n":
                raise ValueError("not a PNG: bad signature")
            pos, width, height, channels, bitdepth, interlace = 8, None, None, None, None, 0
            idat = bytearray()
            while pos + 8 <= len(payload):
                (length,) = _struct.unpack(">I", payload[pos : pos + 4])
                ctype = payload[pos + 4 : pos + 8]
                data = payload[pos + 8 : pos + 8 + length]
                if ctype == b"IHDR":
                    width, height, bitdepth, color = _struct.unpack(
                        ">IIBB", data[:10]
                    )
                    interlace = data[12]
                    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color]
                elif ctype == b"IDAT":
                    idat.extend(data)
                elif ctype == b"IEND":
                    break
                pos += 12 + length  # length + type + data + crc
            if width is None or not idat:
                raise ValueError("not a PNG: missing IHDR/IDAT")
            raw = _zlib.decompress(bytes(idat))
            if interlace == 0:
                scanline = 1 + (width * channels * bitdepth + 7) // 8
                if len(raw) != height * scanline:
                    raise ValueError(
                        f"PNG geometry mismatch: {len(raw)} raw bytes for "
                        f"{width}x{height}x{channels}@{bitdepth}"
                    )
            return width, height, channels, _hl.md5(payload).hexdigest()

        def _stub_kernel(payload: bytes) -> tuple[int, int, int, str]:
            digest = _hl.md5(payload).hexdigest()
            return (
                1 + int(digest[:4], 16) % 2048,
                1 + int(digest[4:8], 16) % 2048,
                1 + int(digest[8:10], 16) % 4,
                digest,
            )

        for pdf in batches:
            rows = {
                "doc_id": pdf["doc_id"],
                "n_bytes": [],
                "width": [],
                "height": [],
                "n_channels": [],
                "checksum": [],
                "kernel": [],
            }
            for payload, meta in zip(pdf["payload"], pdf["media_meta"]):
                b = bytes(payload)
                mime = (meta or {}).get("mime", "") or ""
                if mime.startswith("image/"):
                    if _pil_kernel is not None:
                        w, h, c, ck = _pil_kernel(b)
                        kern = "pil"
                    elif mime == "image/png":
                        w, h, c, ck = _png_kernel(b)
                        kern = "pypng"
                    else:
                        raise NotImplementedError(
                            f"payload declares mime={mime!r} but no image "
                            "codec (PIL) is available on this worker; "
                            "refusing to emit stub dimensions for real media"
                        )
                else:
                    w, h, c, ck = _stub_kernel(b)
                    kern = "stub"
                rows["n_bytes"].append(len(b))
                rows["width"].append(w)
                rows["height"].append(h)
                rows["n_channels"].append(c)
                rows["checksum"].append(ck)
                rows["kernel"].append(kern)
            yield _pd.DataFrame(rows)

    return df.mapInPandas(_decode, schema=DECODE_SCHEMA)


RESIZE_SCHEMA = (
    "doc_id bigint, width int, height int, new_width int, new_height int, "
    "resized_checksum string"
)


def resize_features(decoded: DataFrame, max_dim: int = 256) -> DataFrame:
    """Arrow-batched resize stage over decode output: fit (width, height)
    into a ``max_dim`` box preserving aspect ratio.

    Integer-only math (floor division) so the transformation is exactly
    reproducible by the SQL oracle; the resized payload checksum is
    md5(checksum:WxH) — the stub for "bytes of the resized image". A real
    build swaps the kernel for PIL's ``thumbnail``; the plumbing (batch
    iteration, schema contract, 1:1 row mapping) is what's under test.
    """

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            w = pdf["width"].astype(int)
            h = pdf["height"].astype(int)
            longest = w.combine(h, max)
            scale_needed = longest > max_dim
            nw = w.where(~scale_needed, (w * max_dim // longest).clip(lower=1))
            nh = h.where(~scale_needed, (h * max_dim // longest).clip(lower=1))
            checksum = [
                hashlib.md5(f"{c}:{a}x{b}".encode()).hexdigest()
                for c, a, b in zip(pdf["checksum"], nw, nh)
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": w,
                    "height": h,
                    "new_width": nw,
                    "new_height": nh,
                    "resized_checksum": checksum,
                }
            )

    return decoded.mapInPandas(_resize, schema=RESIZE_SCHEMA)


FRAME_SCHEMA = "doc_id bigint, frame_idx int, frame_checksum string"


def sample_frames(df: DataFrame, max_frames: int = 4) -> DataFrame:
    """Frame-sampling stage for video-like payloads: ONE input row →
    N output rows (one per sampled frame), N derived deterministically
    from the payload bytes (stub for "decode container, sample every
    k-th frame"; swap in ffmpeg in production).

    The Spark-side shape is the real subject: a 1→N expansion streamed
    through ``mapInPandas`` — no explode of a pre-materialized array, no
    driver involvement, output size discovered per batch.
    """

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, sums = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                digest = hashlib.md5(bytes(payload)).hexdigest()
                n_frames = 1 + int(digest[:4], 16) % max_frames
                for i in range(n_frames):
                    ids.append(doc_id)
                    idxs.append(i)
                    sums.append(hashlib.md5(f"{digest}:{i}".encode()).hexdigest())
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame_checksum": sums}
            )

    return df.mapInPandas(_frames, schema=FRAME_SCHEMA)


AUDIO_WINDOW_SCHEMA = (
    "doc_id long, sample_rate int, n_samples long, window_idx int, "
    "start_sample long, window_len long, window_checksum string"
)


def audio_windows(df: DataFrame) -> DataFrame:
    """Audio-windowing stage: ONE payload row → one row per 1-second
    analysis window (the fixed-hop segmentation every speech/audio
    feature extractor runs before STFT/fbank).

    The "decode" is the documented md5-deterministic stub (the sandbox
    has no audio codecs — swap in soundfile/ffmpeg in production): the
    payload hash derives a sample rate from {16000, 22050, 44100} and a
    non-integral duration of 1–8 s, so the LAST window is genuinely
    truncated and the expansion factor varies per row. The Spark-side
    shape is the subject: a data-sized 1→N expansion streamed through
    Arrow-batched ``mapInPandas`` with no driver involvement.
    """
    rates = [16000, 22050, 44100]

    def _windows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": [], "sample_rate": [], "n_samples": [],
                "window_idx": [], "start_sample": [], "window_len": [],
                "window_checksum": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                m = hashlib.md5(bytes(payload)).hexdigest()
                sr = rates[int(m[:4], 16) % 3]
                n_samples = sr * (1 + int(m[4:8], 16) % 7) + int(m[8:12], 16) % sr
                n_win = (n_samples + sr - 1) // sr
                for i in range(n_win):
                    start = i * sr
                    out["doc_id"].append(doc_id)
                    out["sample_rate"].append(sr)
                    out["n_samples"].append(n_samples)
                    out["window_idx"].append(i)
                    out["start_sample"].append(start)
                    out["window_len"].append(min(sr, n_samples - start))
                    out["window_checksum"].append(
                        hashlib.md5(f"{m}:{i}".encode()).hexdigest()
                    )
            yield pd.DataFrame(out)

    return df.mapInPandas(_windows, schema=AUDIO_WINDOW_SCHEMA)


# --- image near-duplicate detection (perceptual dHash) ----------------------
#
# The multimodal member of the dedup family: decode image payloads,
# compute a 64-bit perceptual difference hash (dHash: each bit compares
# horizontally adjacent pixels of a fixed 9x8 grayscale thumbnail), block
# candidate pairs on 8-bit hash bands (the SimHash banding trick from
# operators.dedup applied to image fingerprints), verify by exact
# Hamming distance. Near-identical images differ in few pixels, so few
# dHash bits flip and replicas land at small Hamming distance.

DHASH_ROWS = 8          # thumbnail height = band count
DHASH_COLS = 9          # thumbnail width: 8 comparisons per row
IMAGE_BANDS_SCHEMA = "doc_id bigint, band_idx int, band_val bigint"


def synth_png_images(
    doc: DataFrame, base_mod: int = 100, noise_cut: int = 8
) -> DataFrame:
    """(doc_id, payload): a REAL deterministic 9x8 grayscale PNG per
    document — zlib-deflated filter-0 scanlines with correct CRCs, the
    hermetic stand-in for an image column (the testdata tables carry no
    binary media; a real pipeline reads payloads from storage).

    Pixels are md5-derived so the DuckDB oracle reproduces them
    analytically WITHOUT decoding PNGs: documents sharing
    ``doc_id % base_mod`` are replicas of one base image, and each doc
    independently perturbs the ~``noise_cut``/256 fraction of its pixels
    where md5('noise:{doc_id}:{r}:{c}') falls under the cut — the
    controlled near-duplicate structure the dedup operator must recover.
    """

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hl
        import struct as _struct
        import zlib as _zlib

        import pandas as _pd

        ROWS, COLS = 8, 9

        def _byte(s: str) -> int:
            return int(_hl.md5(s.encode()).hexdigest()[:2], 16)

        def _png(doc_id: int) -> bytes:
            base = doc_id % base_mod
            raw = bytearray()
            for r in range(ROWS):
                raw.append(0)  # filter type 0 per scanline
                for c in range(COLS):
                    if _byte(f"noise:{doc_id}:{r}:{c}") < noise_cut:
                        raw.append(_byte(f"pert:{doc_id}:{r}:{c}"))
                    else:
                        raw.append(_byte(f"img:{base}:{r}:{c}"))

            def chunk(ctype: bytes, data: bytes) -> bytes:
                body = ctype + data
                return (
                    _struct.pack(">I", len(data))
                    + body
                    + _struct.pack(">I", _zlib.crc32(body) & 0xFFFFFFFF)
                )

            ihdr = _struct.pack(">IIBBBBB", COLS, ROWS, 8, 0, 0, 0, 0)
            return (
                b"\x89PNG\r\n\x1a\n"
                + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", _zlib.compress(bytes(raw)))
                + chunk(b"IEND", b"")
            )

        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            yield _pd.DataFrame(
                {"doc_id": ids, "payload": [_png(int(i)) for i in ids]}
            )

    return doc.select(F.col("doc_id").cast("bigint").alias("doc_id")).mapInPandas(
        _encode, "doc_id bigint, payload binary"
    )


def image_dhash_bands(payloads: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_val): perceptual dHash of each PNG
    payload, one 8-bit band per thumbnail row.

    The kernel REALLY decodes: PNG signature check, IHDR parse (8-bit
    grayscale required), full IDAT inflate, geometry cross-check, and a
    loud failure on any non-zero scanline filter — corrupt bytes raise
    instead of yielding fake fingerprints (the decode_features
    philosophy). bit(r, c) = pixel[r][c] > pixel[r][c+1]; band r packs
    its 8 bits little-endian. Map-only Arrow stage — no shuffle; band
    rows are 3 small integers regardless of image size.

    The row-diff + bit-pack is numpy-vectorized over the whole image
    (uint8 comparisons + one matrix-vector product against the
    little-endian bit weights) — bit-identical to the per-pixel Python
    loop it replaced, pinned by the hand-recomputed fingerprint test
    and the analytic-pixel oracle.  On real post-resize ~256px images
    the Python loop, not I/O, was the bottleneck; the zlib inflate
    stays per-payload — that part IS the codec.
    """

    def _dhash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct as _struct
        import zlib as _zlib

        import numpy as _np
        import pandas as _pd

        def _gray_matrix(payload: bytes):
            if payload[:8] != b"\x89PNG\r\n\x1a\n":
                raise ValueError("not a PNG: bad signature")
            pos, width, height = 8, None, None
            idat = bytearray()
            while pos + 8 <= len(payload):
                (length,) = _struct.unpack(">I", payload[pos : pos + 4])
                ctype = payload[pos + 4 : pos + 8]
                data = payload[pos + 8 : pos + 8 + length]
                if ctype == b"IHDR":
                    width, height, bitdepth, color = _struct.unpack(
                        ">IIBB", data[:10]
                    )
                    if bitdepth != 8 or color != 0:
                        raise ValueError(
                            f"dhash kernel requires 8-bit grayscale, got "
                            f"depth={bitdepth} color={color}"
                        )
                elif ctype == b"IDAT":
                    idat.extend(data)
                elif ctype == b"IEND":
                    break
                pos += 12 + length
            if width is None or not idat:
                raise ValueError("not a PNG: missing IHDR/IDAT")
            raw = _zlib.decompress(bytes(idat))
            scanline = 1 + width
            if len(raw) != height * scanline:
                raise ValueError(
                    f"PNG geometry mismatch: {len(raw)} bytes for "
                    f"{width}x{height}"
                )
            arr = _np.frombuffer(raw, dtype=_np.uint8).reshape(height, scanline)
            filters = arr[:, 0]
            if (filters != 0).any():
                bad = int(_np.argmax(filters != 0))
                raise ValueError(
                    f"unsupported scanline filter {int(filters[bad])} at row {bad}"
                )
            return arr[:, 1:]

        for pdf in batches:
            ids, bands, vals = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                px = _gray_matrix(bytes(payload))
                h, w = px.shape
                bits = px[:, : w - 1] > px[:, 1:]
                weights = _np.left_shift(
                    _np.int64(1), _np.arange(w - 1, dtype=_np.int64)
                )
                ids.append(_np.full(h, int(doc_id), dtype=_np.int64))
                bands.append(_np.arange(h, dtype=_np.int64))
                vals.append(bits.astype(_np.int64) @ weights)
            yield _pd.DataFrame(
                {
                    "doc_id": _np.concatenate(ids) if ids else [],
                    "band_idx": _np.concatenate(bands) if bands else [],
                    "band_val": _np.concatenate(vals) if vals else [],
                }
            )

    return payloads.mapInPandas(_dhash, IMAGE_BANDS_SCHEMA)


def fuse_bands(bands: DataFrame, band_bits: int) -> DataFrame:
    """Blocking keys from dHash band rows: 8 → the bands themselves;
    16 / 32 → adjacent 8-bit bands fused little-endian into 4 / 2
    wider blocks (no re-decode — one hash aggregation over the
    3-integer rows).  Shared by the batch near-dup operator and the
    streaming face so the two blockings are trivially bit-identical."""
    if band_bits == 8:
        return bands
    if band_bits not in (16, 32):
        raise ValueError(f"band_bits must be 8, 16 or 32, got {band_bits}")
    k = band_bits // 8
    mult = F.lit(1)
    for j in range(1, k):
        mult = F.when(F.col("band_idx") % k == j, F.lit(256 ** j)).otherwise(
            mult
        )
    part = F.col("band_val").cast("bigint") * mult.cast("bigint")
    return (
        bands.select(
            "doc_id",
            (F.col("band_idx") / k).cast("int").alias("blk"),
            part.alias("part"),
        )
        .groupBy("doc_id", F.col("blk").alias("band_idx"))
        .agg(F.sum("part").cast("bigint").alias("band_val"))
    )


def band_signature(bands: DataFrame) -> DataFrame:
    """(doc_id, sig_lo, sig_hi): the full 64-bit fingerprint re-packed
    from its 8 little-endian 8-bit band rows as two 32-bit halves
    (bigint-safe — a single 64-bit pack would overflow LongType at
    band 7 under ANSI).  One doc-sized aggregation; exact because the
    bands partition the 64 bits:
    Σ_bands bit_count(xor) == bit_count(xor(lo)) + bit_count(xor(hi))."""

    def pack(base: int) -> F.Column:
        val = None
        for j in range(4):
            term = F.when(
                F.col("band_idx") == base + j,
                F.col("band_val").cast("bigint") * F.lit(256 ** j).cast("bigint"),
            ).otherwise(F.lit(0).cast("bigint"))
            val = term if val is None else val + term
        return F.sum(val).cast("bigint")

    return bands.groupBy("doc_id").agg(
        pack(0).alias("sig_lo"), pack(4).alias("sig_hi")
    )


def hamming64(lo_a, lo_b, hi_a, hi_b) -> F.Column:
    """Hamming distance between two 64-bit signatures held as 32-bit
    halves — bit-identical to summing per-band bit_count(xor)."""
    return (
        F.bit_count(F.col(lo_a).bitwiseXOR(F.col(lo_b)))
        + F.bit_count(F.col(hi_a).bitwiseXOR(F.col(hi_b)))
    ).cast("bigint")


def dhash_band_policy(
    n_rows: int, target_candidates_per_point: float = 8.0
) -> int:
    """The 64-bit dHash face of ``operators.similarity.band_policy``:
    the fingerprint is fixed at 64 bits, so (n_bands, band_bits) moves
    along the ladder (8×8) → (4×16) → (2×32) instead of widening
    freely.  Picks the NARROWEST width whose random-collision floor
    ``n_bands·n/2^w`` fits the per-point budget (narrower = more bands
    = higher banding recall — pay for scale only when n demands it);
    saturates at 32 (2 bands is the recall floor worth keeping —
    a single 64-bit band would only match exact-duplicate hashes)."""
    if target_candidates_per_point <= 0:
        raise ValueError("target_candidates_per_point must be > 0")
    n = max(1, int(n_rows))
    for w in (8, 16, 32):
        n_bands = 64 // w
        if n_bands * n / float(1 << w) <= target_candidates_per_point:
            return w
    return 32


def image_neardup_pairs(
    bands: DataFrame,
    max_hamming: int = 10,
    band_bits: int = 8,
) -> DataFrame:
    """(doc_a, doc_b, hamming): image pairs whose dHash Hamming distance
    is ≤ ``max_hamming``, candidates blocked on shared hash bands —
    pigeonhole guarantees every pair with distance ≤ n_bands − 1 shares
    an intact band, so the block is EXACT up to that radius and
    LSH-style recall above it (the SimHash banding trade).

    ``band_bits`` tunes the blocking collision floor: 8 (default, 8
    bands) is exact to Hamming 7 but pays an n²/2⁸ RANDOM-collision
    candidate rate — measured ~776k collision candidates against 10k
    true pairs at 5k images, and quadratic beyond; 16 (4 bands built by
    fusing adjacent rows — no re-decode) cuts the floor 256× at n²/2¹⁶,
    exact to Hamming 3 and banding recall above.  At web scale, wide
    bands are the default and the narrow ones the high-recall re-check
    within suspect shards.

    Shape: one self-equi-join on (band_idx, band_val) → distinct pairs →
    join the packed two-half signature per side (``band_signature`` —
    one doc-sized agg) → row-local bit_count(XOR). Everything shuffles
    small integer rows; no image bytes move after the map-only hash
    stage; the verify always runs on the full 64-bit hash whatever the
    blocking width.

    The ``bands`` input feeds FOUR joins (both candidate sides, both
    verify sides) — a lazy input would re-run its derivation (the PNG
    decode + fingerprint kernel) once per consumer, so it is
    persist-pinned for the duration, the pair-sized result is
    materialized, and the pin released before returning (the
    ``prefix_filter_join`` discipline).
    """
    bands = bands.persist()
    blocks = fuse_bands(bands, band_bits)
    a = blocks.select(
        F.col("doc_id").alias("doc_a"), "band_idx", "band_val"
    )
    b = blocks.select(
        F.col("doc_id").alias("doc_b"), "band_idx", "band_val"
    )
    cand = (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # Round-11 (guide §2.3 "shuffle fewer bytes", §2.4): the verify used
    # to re-join the 8 band rows per pair side and re-aggregate by pair
    # (8 rows/pair through two exchanges plus a pair-keyed agg).  The
    # full signature packed as two 32-bit halves is ONE doc-sized agg,
    # after which the verify is two scalar joins and a row-local
    # bit_count — 1 row/pair, no pair-keyed aggregation, bit-identical
    # hamming (the bands partition the 64 bits).
    sig = band_signature(bands)
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sig_lo").alias("lo_a"),
        F.col("sig_hi").alias("hi_a"),
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sig_lo").alias("lo_b"),
        F.col("sig_hi").alias("hi_b"),
    )
    result = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            hamming64("lo_a", "lo_b", "hi_a", "hi_b").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    ).localCheckpoint()
    bands.unpersist()
    return result
