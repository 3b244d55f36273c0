"""Multimodal columns: image/audio/video as opaque BINARY payloads with
typed metadata, plus decode / feature-extract / frame-sample plumbing.

The container has no image/audio libraries, but the decode step is no
longer a pure stub: `decode_image` is a dependency-free header decoder
for BMP and the Netpbm family (P2/P3/P5/P6) — real formats, validated
strictly (magic + exact payload-size checks) so a text blob can never
false-positive.  Payloads in an unrecognized format fall back to the
deterministic fake decoder (or raise NotImplementedError when the fake
is disabled) — a real deployment plugs PIL/ffmpeg into exactly that
seam.  What is equally REAL and tested is the Spark-side plumbing that
matters at 100 TB:
  * binary payload column + metadata in one row (schema design),
  * Arrow-batched mapInPandas with a bounded batch size (payloads are
    big — spark.sql.execution.arrow.maxRecordsPerBatch caps memory),
  * pure-projection metadata extraction that never touches Python.

The testdata has no binary table, so payloads are derived in-flight from
`documents.text` (cast to UTF-8 bytes) — an opaque blob as far as every
operator here is concerned; the registered queries' oracles therefore
mirror the fake decoder's arithmetic (text is never valid BMP/Netpbm),
while tests/test_multimodal_codec.py drives real image bytes through the
same mapInPandas path end-to-end.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions import local_rows_df
from ..registry import register
from ..sources import build_once, table

FAKE_DECODE = True  # no codec libs in this container → deterministic fake


def _payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text → opaque binary payload column (stand-in for an
    image/audio blob) + the id. At scale this is the parquet binary
    column itself."""
    return table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )


@register(
    "mm_binary_meta",
    oracle="""
    SELECT doc_id, octet_length(encode(text)) AS n_bytes, md5(text) AS payload_md5,
           ascii(text) AS first_byte
    FROM documents
    """,
)
def mm_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over an opaque binary column — pure JVM projection
    (no decode): size, checksum, magic byte. This is the fast pre-filter
    pass a multimodal pipeline runs before any expensive decode."""
    p = _payloads(spark, sf_dir)
    return p.select(
        "doc_id",
        F.octet_length("payload").alias("n_bytes"),
        F.md5("payload").alias("payload_md5"),
        F.ascii(F.col("payload").cast("string")).alias("first_byte"),
    )


def _pnm_header(payload: bytes):
    """Parse a Netpbm header (P2/P3/P5/P6): magic, then width, height,
    maxval as ASCII ints separated by whitespace (with # comments), then
    ONE whitespace byte before the raster.  Returns (fmt, width, height,
    maxval, raster_start) or None."""
    fmt = payload[:2]
    if fmt not in (b"P2", b"P3", b"P5", b"P6"):
        return None
    i, n, vals = 2, len(payload), []
    while i < n and len(vals) < 3:
        c = payload[i : i + 1]
        if c == b"#":
            while i < n and payload[i : i + 1] not in (b"\n", b"\r"):
                i += 1
        elif c.isspace():
            i += 1
        elif c.isdigit():
            j = i
            while j < n and payload[j : j + 1].isdigit():
                j += 1
            vals.append(int(payload[i:j]))
            i = j
        else:
            return None
    if len(vals) < 3 or i >= n or not payload[i : i + 1].isspace():
        return None
    w, h, maxval = vals
    if w <= 0 or h <= 0 or not 0 < maxval < 65536:
        return None
    return fmt.decode("ascii"), w, h, maxval, i + 1


def decode_image(payload: bytes):
    """Dependency-free image decode for BMP and Netpbm payloads; returns
    {width, height, n_frames} or None for unrecognized bytes.

    Validation is deliberately strict — BMP requires the header's file
    size field to equal the actual payload length, Netpbm requires the
    raster to hold exactly width*height*channels samples — so arbitrary
    text/binary blobs (the synthetic corpus payloads) can never
    false-positive into a 'decoded image'."""
    n = len(payload)
    if n >= 26 and payload[:2] == b"BM" and int.from_bytes(payload[2:6], "little") == n:
        w = int.from_bytes(payload[18:22], "little", signed=True)
        h = int.from_bytes(payload[22:26], "little", signed=True)
        if w > 0 and h != 0:  # negative height = top-down row order
            return {"width": w, "height": abs(h), "n_frames": 1}
    hdr = _pnm_header(payload)
    if hdr is not None:
        fmt, w, h, maxval, start = hdr
        channels = 3 if fmt in ("P3", "P6") else 1
        if fmt in ("P5", "P6"):
            bytes_per = 1 if maxval < 256 else 2
            if n - start == w * h * channels * bytes_per:
                return {"width": w, "height": h, "n_frames": 1}
        else:  # ASCII rasters: exact sample count, all within maxval
            samples = payload[start:].split()
            if len(samples) == w * h * channels and all(
                s.isdigit() and int(s) <= maxval for s in samples
            ):
                return {"width": w, "height": h, "n_frames": 1}
    return None


def fake_decode_features(payload: bytes) -> dict:
    """Deterministic fake 'decode': pure arithmetic on the payload bytes.
    Exists so the Arrow/mapInPandas plumbing is exercisable — and
    DuckDB-oracle-expressible — on a corpus with no real image bytes."""
    n = len(payload)
    first = payload[0] if n else 0
    return {
        "width": 32 + (n % 64),
        "height": 32 + (first % 64),
        "n_frames": 1 + (n % 8),
    }


def decode_image_stub(payload: bytes) -> dict:
    """Decode with the dependency-free codec; unrecognized formats fall
    back to the deterministic fake (so the plumbing stays testable on
    the synthetic text-payload corpus), or raise when the fake is
    disabled.  A real deployment swaps the fallback for PIL/ffmpeg —
    nothing else in the pipeline changes."""
    real = decode_image(payload)
    if real is not None:
        return real
    if not FAKE_DECODE:
        raise NotImplementedError("no codec for this image format in this environment")
    return fake_decode_features(payload)


_DECODE_SCHEMA = "doc_id bigint, n_bytes int, width int, height int, n_frames int"


@register(
    "mm_decode_features",
    oracle="""
    SELECT doc_id, octet_length(encode(text)) AS n_bytes,
           32 + (octet_length(encode(text)) % 64) AS width,
           32 + (ascii(text) % 64) AS height,
           1 + (octet_length(encode(text)) % 8) AS n_frames
    FROM documents
    """,
)
def mm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode/feature-extract via Arrow-batched mapInPandas.

    The fake decoder is deterministic arithmetic on the payload bytes, so
    the oracle can mirror it exactly — the point under test is the REAL
    plumbing: binary columns crossing the Arrow boundary in batches, a
    per-batch Python decode loop, a typed output schema.  The fake is
    called EXPLICITLY (not via decode_image_stub's real-codec-first
    dispatch): a corpus payload that happened to be a valid ASCII
    Netpbm image would otherwise real-decode and diverge from the
    arithmetic oracle.  The real codec path is driven end-to-end with
    real bytes in tests/test_multimodal_codec.py."""

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [fake_decode_features(bytes(b)) for b in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": [len(bytes(b)) for b in pdf["payload"]],
                    "width": [f["width"] for f in feats],
                    "height": [f["height"] for f in feats],
                    "n_frames": [f["n_frames"] for f in feats],
                }
            )

    return _payloads(spark, sf_dir).mapInPandas(decode_batches, schema=_DECODE_SCHEMA)


_EMBED_DIM = 8
_EMBED_SCHEMA = "doc_id bigint, feat array<double>"


@register(
    "mm_fake_embed",
    oracle=f"""
    SELECT doc_id,
           round(list_sum(list_transform(range(1, {_EMBED_DIM + 1}),
                 i -> CAST((octet_length(encode(text)) * i) % 97 AS DOUBLE) / 97.0)), 6) AS feat_sum,
           {_EMBED_DIM} AS dim
    FROM documents
    """,
)
def mm_fake_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction to an embedding column via mapInPandas — the
    payload→vector step of a multimodal pipeline. The 'model' is a
    deterministic stand-in (bytes → arithmetic features) so the oracle
    can mirror it; the real plumbing under test is binary-in /
    array<double>-out across the Arrow boundary, plus a JVM-side
    post-aggregation over the produced vectors."""

    def embed(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                [((len(bytes(b)) * (i + 1)) % 97) / 97.0 for i in range(_EMBED_DIM)]
                for b in pdf["payload"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "feat": feats})

    vecs = _payloads(spark, sf_dir).mapInPandas(embed, schema=_EMBED_SCHEMA)
    return vecs.select(
        "doc_id",
        F.round(F.aggregate("feat", F.lit(0.0), lambda a, x: a + x), 6).alias("feat_sum"),
        F.size("feat").alias("dim"),
    )


def video_frame_count(payload: bytes):
    """REAL frame count where the payload parses — a concatenated-P5
    container's split length (`split_p5_frames`), or 1 for any single
    image the dependency-free codec accepts — and None for
    unrecognized bytes (the `decode_image` strictness contract, so
    arbitrary blobs can never false-positive into a frame count)."""
    frames = split_p5_frames(payload)
    if frames:
        return len(frames)
    real = decode_image(payload)
    return real["n_frames"] if real is not None else None


def frame_sample_from_payloads(p: DataFrame) -> DataFrame:
    """Frame sampling over a (doc_id, payload) frame: one Arrow pass
    derives each payload's frame count — PARSED from the container
    where the bytes decode (`video_frame_count`), the deterministic
    fake (1 + n_bytes % 8) only for unknown formats, the
    decode_image_stub dispatch discipline — then a pure JVM
    sequence/explode emits every 2nd frame index.  Only (doc_id,
    n_frames) crosses back over the Arrow boundary; payload bytes
    never reach the fan-out."""

    def counts(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ns = []
            for b in pdf["payload"]:
                bb = bytes(b)
                n = video_frame_count(bb)
                ns.append(n if n is not None else 1 + (len(bb) % 8))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "n_frames": ns})

    nf = p.mapInPandas(counts, "doc_id bigint, n_frames int")
    return nf.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(2))
        ).alias("frame_idx"),
    )


@register(
    "mm_frame_sample",
    oracle="""
    SELECT doc_id, unnest(range(0, 1 + (octet_length(encode(text)) % 8), 2)) AS frame_idx
    FROM documents
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling: explode every k-th frame index of a 'video'
    payload into one row per sampled frame — the fan-out pattern
    (1 blob → N frames) that dominates video pipelines.  The frame
    count comes from REALLY parsing the container where the payload
    decodes; the synthetic corpus's text payloads never parse (the
    strict-codec guarantee), so the oracle mirrors the fake fallback
    arithmetic exactly, while real multi-frame P5 containers drive the
    parsed path through the same chain in
    tests/test_multimodal_codec.py."""
    return frame_sample_from_payloads(_payloads(spark, sf_dir))


# --- real 2:1 audio resampler: windowed-sinc anti-aliasing low-pass -------
# Integer FIR taps: 33-tap Hamming-windowed sinc, cutoff at the NEW
# Nyquist (0.25 cycles/sample), quantized to 2^15 units.  Computed once
# at import from the closed form — deterministic across numpy versions
# (round of exact-form doubles), embedded in the oracle as literals.

_AUDIO_TAPS_N = 33
_AUDIO_TAPS_C = (_AUDIO_TAPS_N - 1) // 2  # center tap index


def _audio_taps() -> "list[int]":
    import numpy as np

    t = np.arange(_AUDIO_TAPS_N, dtype=np.float64) - _AUDIO_TAPS_C
    h = 0.5 * np.sinc(0.5 * t)  # ideal half-band low-pass
    w = 0.54 - 0.46 * np.cos(2 * np.pi * np.arange(_AUDIO_TAPS_N) / (_AUDIO_TAPS_N - 1))
    return [int(v) for v in np.round(h * w * 32768)]


_AUDIO_TAPS = _audio_taps()


def resample_pcm(x):
    """2:1 decimation with the anti-aliasing FIR above, exact integer
    arithmetic: y[j] = sum_t h[t] * x[2j + t - C] (zero-padded edges),
    output length ceil(n/2).  This is the 2-phase polyphase form — the
    filter runs only at kept output positions, never on discarded ones.
    Input: int array of centered samples; output: int64 array in
    2^15-scaled units (callers normalize or keep integer for exactness)."""
    import numpy as np

    x = np.asarray(x, dtype=np.int64)
    n = len(x)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    xp = np.concatenate(
        [np.zeros(_AUDIO_TAPS_C, dtype=np.int64), x, np.zeros(_AUDIO_TAPS_N - 1 - _AUDIO_TAPS_C, dtype=np.int64)]
    )
    h = np.asarray(_AUDIO_TAPS, dtype=np.int64)
    win = np.lib.stride_tricks.sliding_window_view(xp, _AUDIO_TAPS_N)  # (n, 33)
    y = win @ h
    return y[::2]


def _audio_oracle() -> str:
    taps_values = ", ".join(
        f"({t}, {h})" for t, h in enumerate(_AUDIO_TAPS)
    )
    return f"""
    WITH taps AS (SELECT * FROM (VALUES {taps_values}) AS t(t, h)),
    docs AS (SELECT doc_id, text, length(text) AS n FROM documents),
    samples AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
             ascii(substring(text, CAST(i AS INTEGER), 1)) - 128 AS x
      FROM (SELECT doc_id, text, unnest(range(1, n + 1)) AS i FROM docs)),
    contrib AS (
      SELECT s.doc_id, (s.pos + {_AUDIO_TAPS_C} - t.t) // 2 AS j, t.h * s.x AS c
      FROM samples s CROSS JOIN taps t
      WHERE (s.pos + {_AUDIO_TAPS_C} - t.t) % 2 = 0
        AND (s.pos + {_AUDIO_TAPS_C} - t.t) >= 0),
    y AS (
      SELECT c.doc_id, c.j, sum(c.c) AS y
      FROM contrib c JOIN docs d USING (doc_id)
      WHERE c.j < CAST(ceil(d.n / 2.0) AS BIGINT)
      GROUP BY c.doc_id, c.j)
    SELECT d.doc_id, CAST(d.n AS BIGINT) AS n_in,
           CAST(ceil(d.n / 2.0) AS BIGINT) AS n_out,
           CAST(coalesce(sum(y.y), 0) AS BIGINT) AS y_sum,
           CAST(coalesce(sum(abs(y.y)), 0) AS BIGINT) AS y_abs_sum
    FROM docs d LEFT JOIN y ON y.doc_id = d.doc_id
    GROUP BY d.doc_id, d.n
    """


@register("mm_audio_resample", oracle=_audio_oracle())
def mm_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL 2:1 audio resampling over opaque PCM payloads: byte samples
    center at zero, pass through the 33-tap Hamming-windowed-sinc
    anti-aliasing low-pass, and decimate — the polyphase form (the
    filter only evaluates at kept positions).  All-integer (quantized
    taps, int64 accumulation), so the DuckDB oracle re-derives the
    exact convolution as a tap-join + group-by and the output checksums
    (sum, abs-sum of filtered samples) hash-match bit-for-bit.  The
    aliasing property — a tone above the new Nyquist is suppressed
    ~30 dB while the passband survives — is pytest-locked on synthetic
    tones (tests/test_multimodal_codec.py).  Scale shape: one Arrow
    mapInPandas pass, zero shuffle, per-row cost n·taps/2."""
    import numpy as np

    def resample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                x = np.frombuffer(bytes(payload), dtype=np.uint8).astype(np.int64) - 128
                y = resample_pcm(x)
                out.append(
                    (
                        doc_id,
                        len(x),
                        (len(x) + 1) // 2,
                        int(y.sum()),
                        int(np.abs(y).sum()),
                    )
                )
            yield pd.DataFrame(
                out, columns=["doc_id", "n_in", "n_out", "y_sum", "y_abs_sum"]
            )

    return _payloads(spark, sf_dir).mapInPandas(
        resample,
        schema="doc_id bigint, n_in bigint, n_out bigint, y_sum bigint, y_abs_sum bigint",
    )


_RESIZE_TARGET = 224
_RESIZE_SCHEMA = (
    "doc_id bigint, width int, height int, out_w int, out_h int, scale_pct int"
)


@register(
    "mm_resize_batch",
    oracle=f"""
    WITH dims AS (
      SELECT doc_id,
             32 + (octet_length(encode(text)) % 64) AS width,
             32 + (ascii(text) % 64) AS height
      FROM documents)
    SELECT doc_id, width, height,
           CAST(round(width * {_RESIZE_TARGET}.0 / greatest(width, height)) AS INTEGER) AS out_w,
           CAST(round(height * {_RESIZE_TARGET}.0 / greatest(width, height)) AS INTEGER) AS out_h,
           CAST(round({_RESIZE_TARGET}.0 / greatest(width, height) * 100) AS INTEGER) AS scale_pct
    FROM dims
    """,
)
def mm_resize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving resize planning (longest side → 224) via the
    same Arrow mapInPandas discipline as mm_decode_features: decode dims
    per batch, compute the target geometry vectorized in pandas. The
    pixel transform itself is the stubbed codec step — a real deployment
    swaps in PIL's resize inside the same batch loop; the Spark-side
    shape (binary in, typed dims out, no shuffle) is what's under test.
    Rounding stays half-away-from-zero on both engines (numpy floor(x+.5)
    here, round() there — positive domain, so they agree)."""
    import numpy as np

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [decode_image_stub(bytes(b)) for b in pdf["payload"]]
            w = np.array([f["width"] for f in feats], dtype=np.float64)
            h = np.array([f["height"] for f in feats], dtype=np.float64)
            long_side = np.maximum(w, h)
            s = _RESIZE_TARGET / long_side
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": w.astype(np.int32),
                    "height": h.astype(np.int32),
                    "out_w": np.floor(w * s + 0.5).astype(np.int32),
                    "out_h": np.floor(h * s + 0.5).astype(np.int32),
                    "scale_pct": np.floor(s * 100 + 0.5).astype(np.int32),
                }
            )

    return _payloads(spark, sf_dir).mapInPandas(resize_batches, schema=_RESIZE_SCHEMA)


# --- perceptual image fingerprinting (difference hash) ---------------------

_DH_GRID = 8  # dHash grid: 9x8 luma grid -> 64 comparisons (real path)
_DH_FAKE_BITS = 48  # fake byte-stride fingerprint width (fits bigint)


def decode_gray(payload: bytes):
    """Decode a BMP / Netpbm payload to a row-major grayscale matrix
    (list of rows of floats, top-down); None for non-images.  Shares
    `decode_image`'s strict validation; BMP supports the 24-bit
    uncompressed layout the codec tests generate (bottom-up or
    top-down), Netpbm covers P2/P3/P5/P6 with 8/16-bit samples."""
    meta = decode_image(payload)
    if meta is None:
        return None
    n = len(payload)
    if payload[:2] == b"BM":
        w = int.from_bytes(payload[18:22], "little", signed=True)
        h_raw = int.from_bytes(payload[22:26], "little", signed=True)
        h = abs(h_raw)
        bpp = int.from_bytes(payload[28:30], "little")
        if bpp != 24:
            return None
        off = int.from_bytes(payload[10:14], "little") or 54
        stride = (w * 3 + 3) // 4 * 4
        rows = []
        for r in range(h):
            src = r if h_raw < 0 else h - 1 - r  # bottom-up unless negative
            base = off + src * stride
            row = []
            for c in range(w):
                b_, g_, r_ = payload[base + c * 3 : base + c * 3 + 3]
                row.append(0.299 * r_ + 0.587 * g_ + 0.114 * b_)
            rows.append(row)
        return rows
    fmt, w, h, maxval, start = _pnm_header(payload)
    channels = 3 if fmt in ("P3", "P6") else 1
    if fmt in ("P5", "P6"):
        bytes_per = 1 if maxval < 256 else 2
        vals = [
            int.from_bytes(payload[start + i * bytes_per : start + (i + 1) * bytes_per], "big")
            for i in range(w * h * channels)
        ]
    else:
        vals = [int(s) for s in payload[start:].split()]
    rows = []
    for r in range(h):
        row = []
        for c in range(w):
            i = (r * w + c) * channels
            if channels == 3:
                row.append(0.299 * vals[i] + 0.587 * vals[i + 1] + 0.114 * vals[i + 2])
            else:
                row.append(float(vals[i]))
        rows.append(row)
    return rows


def dhash_image(payload: bytes):
    """Real perceptual difference hash: decode to grayscale, average-pool
    to a (grid+1)×grid luma matrix, set bit r*grid+c when cell (r, c) is
    brighter than its right neighbor.  Robust to uniform brightness and
    contrast changes (monotone transforms preserve the comparisons) —
    the property exact checksums lack and the reason image dedup
    pipelines hash THIS instead of bytes.  None for non-images."""
    g = decode_gray(payload)
    if g is None:
        return None
    h, w = len(g), len(g[0])
    gw, gh = _DH_GRID + 1, _DH_GRID
    pooled = []
    for r in range(gh):
        row = []
        r0, r1 = r * h // gh, max((r + 1) * h // gh, r * h // gh + 1)
        for c in range(gw):
            c0, c1 = c * w // gw, max((c + 1) * w // gw, c * w // gw + 1)
            cells = [g[rr][cc] for rr in range(r0, min(r1, h)) for cc in range(c0, min(c1, w))]
            row.append(sum(cells) / len(cells))
        pooled.append(row)
    bits = 0
    for r in range(gh):
        for c in range(_DH_GRID):
            if pooled[r][c] > pooled[r][c + 1]:
                bits |= 1 << (r * _DH_GRID + c)
    return bits


def _dhash_fake_terms(engine: str, col: str = "text") -> str:
    """The fake byte-stride fingerprint, emitted for Spark SQL and
    DuckDB (both operate on the ASCII payload): bit i compares the
    codepoints at stride positions 1 + (7i mod (len-1)) and its
    successor.  ``col`` names the string column hashed (the video twin
    hashes per-FRAME substrings).

    The DuckDB form stays the literal 48-term CASE sum the
    oracles have always carried.  The Spark form is the SAME integer
    fold written as one ``aggregate`` higher-order expression: bit
    terms are added in ascending-``i`` order with BIGINT arithmetic, so
    the result is bit-identical (locked by test_multimodal_codec's
    unrolled-vs-HOF equality pytest and every dhash-family oracle row).
    The rewrite is a PLAN-SIZE optimization (r14 opt round, guide §1.2
    step 2): the unrolled form is a ~1500-node expression tree that the
    banded dedup self-joins replicate ~12x into one logical plan —
    measured 2.1 s of F.expr parse per construction and ~3 s of
    optimizer time per action at sf0.1 — while the HOF form is ~40
    nodes (parse 0.09 s), cutting per-run plan construction,
    optimization, and CacheManager canonicalization across the whole
    image/video dedup family without touching a single output bit."""
    if engine == "spark":
        p = f"(i * 7) % greatest(length({col}) - 1, 1)"
        return (
            f"aggregate(sequence(0, {_DH_FAKE_BITS - 1}), CAST(0 AS BIGINT), "
            f"(acc, i) -> acc + CASE WHEN ascii(substring({col}, {p} + 1, 1)) > "
            f"ascii(substring({col}, {p} + 2, 1)) "
            f"THEN shiftleft(CAST(1 AS BIGINT), i) ELSE CAST(0 AS BIGINT) END)"
        )
    terms = []
    for i in range(_DH_FAKE_BITS):
        p = f"(1 + (({i} * 7) % greatest(length({col}) - 1, 1)))"
        terms.append(
            f"(CASE WHEN ascii(substring({col}, {p}, 1)) > "
            f"ascii(substring({col}, {p} + 1, 1)) THEN CAST({1 << i} AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END)"
        )
    return " + ".join(terms)


@register(
    "mm_dhash_fingerprint",
    oracle=f"""
    SELECT doc_id, {_dhash_fake_terms('duckdb')} AS dhash
    FROM documents ORDER BY doc_id
    """,
)
def mm_dhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed perceptual-fingerprint pass over the binary payload
    column: one JVM-codegen projection per row, no Python in the plan —
    the shape of an image-dedup pipeline's hashing stage at 100 TB
    (hash every blob once, then group/band on the tiny fingerprints).
    On the synthetic text-payload corpus the fingerprint is the
    deterministic byte-stride fake (oracle-expressible arithmetic, the
    `mm_decode_features` discipline); real BMP/Netpbm payloads go
    through `dhash_image` — brightness/contrast-invariant 9x8 luma
    comparisons — exercised with real image bytes in
    tests/test_multimodal_codec.py."""
    d = table(spark, sf_dir, "documents")
    return _dhash_fake_frame(d, ["doc_id"]).orderBy("doc_id")


# --- image/text JOINT pipeline: caption dedup by perceptual cluster -------
# The VERDICT r10 gap: multimodal columns and text curation never
# composed, yet at 100 TB multimodal corpora the workload IS that join
# (LAION-style pipelines keep one caption per near-identical image).

_CAP_BANDS = 4  # 4 x 12-bit bands over the 48-bit fingerprint
_CAP_BAND_BITS = _DH_FAKE_BITS // _CAP_BANDS
_CAP_HAM_T = 3  # near-dup iff hamming <= 3: < bands, so banding is complete

# Hub immunity for the image/video perceptual-hash joins — the audio
# stop-shingle discipline (_AUD_MAXDF) ported to the banded family:
#   * _MM_MAXDF: a hash VALUE shared by more docs is a hub (a literal
#     black keyframe hashes identically across millions of videos; all
#     4 bands collide and an uncapped candidate join goes N²/2 inside
#     one bucket, unprunable by hamming verify since the distance is 0)
#     — dropped from keyframe sets BEFORE any band join, and the
#     containment denominators (n_k/n_c) count KEPT hashes only, so
#     both vote operands see the same universe.  Image dedup doesn't
#     need this cap: exact-equal hashes collapse to ONE representative
#     before the band join (linear, and the blank-image mega-group
#     still clusters — see caption_dedup_from_fingerprints).
#   * _MM_BAND_MAXDF: a band BUCKET holding more DISTINCT hashes is a
#     hub bucket (low-entropy imagery agreeing on one 12-bit band) —
#     dropped before the self-join; a candidate lost this way needed
#     its ONLY shared band inside a hub bucket.
# Both caps are mirrored verbatim in every DuckDB oracle; at the
# fixture scales the observed maxima are 7 docs/hash and 5 hashes/
# bucket, so 64 is a provable no-op there (the split_oversized_cells
# discipline: the guard is exercised by dedicated hub pytests, not by
# perturbing the driver fixtures).
_MM_MAXDF = 64
_MM_BAND_MAXDF = 64


def _caption_oracle() -> str:
    bandmask = (1 << _CAP_BAND_BITS) - 1
    return f"""
    WITH fp AS (SELECT doc_id, {_dhash_fake_terms('duckdb')} AS dhash FROM documents),
    reps AS (SELECT dhash, min(doc_id) AS rep FROM fp GROUP BY dhash),
    bands AS (
      SELECT rep, dhash, b, (dhash >> ({_CAP_BAND_BITS} * b)) & {bandmask} AS v
      FROM reps, (SELECT unnest(range(0, {_CAP_BANDS})) AS b)),
    keepb AS (
      SELECT b, v FROM bands GROUP BY b, v
      HAVING count(*) <= {_MM_BAND_MAXDF}),
    pairs AS (
      SELECT DISTINCT a.rep AS a_id, b.rep AS b_id
      FROM bands a JOIN bands b ON a.b = b.b AND a.v = b.v AND a.rep < b.rep
      JOIN keepb k ON k.b = a.b AND k.v = a.v
      WHERE bit_count(xor(a.dhash, b.dhash)) <= {_CAP_HAM_T}),
    edges AS (SELECT a_id AS u, b_id AS v FROM pairs
              UNION SELECT b_id, a_id FROM pairs),
    reach AS (
      WITH RECURSIVE r(u, v) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.u, e.v FROM r JOIN edges e ON r.v = e.u)
      SELECT * FROM r),
    clusters AS (
      SELECT f.doc_id,
             least(rp.rep, coalesce(min(r.v), rp.rep)) AS img_cluster
      FROM fp f JOIN reps rp USING (dhash)
      LEFT JOIN reach r ON r.u = rp.rep
      GROUP BY f.doc_id, rp.rep),
    ranked AS (
      SELECT doc_id, img_cluster,
             row_number() OVER (
               PARTITION BY img_cluster
               ORDER BY d.n_chars DESC, doc_id) AS rk
      FROM clusters c JOIN documents d USING (doc_id))
    SELECT doc_id, img_cluster, (rk = 1) AS kept
    FROM ranked
    """


@register("mm_caption_dedup", oracle=_caption_oracle())
def mm_caption_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image/text JOINT dedup — the composition a multimodal training
    pipeline runs at scale: perceptually near-identical images (dHash
    hamming <= {t}, found via {b}-band bucketing on the fingerprint —
    complete by pigeonhole since t < bands) form clusters, and ONE
    caption survives per cluster (longest text, doc_id tie-break — the
    dedup_keep_best rule applied across the modality join).

    Scale shape: the fingerprint is one codegen projection (the
    mm_dhash_fingerprint pass); the candidate join is keyed on 12-bit
    band values of the 8-byte hash — never pixels, never text; hamming
    verification is two integer ops per candidate; clustering is the
    shared min-label propagation.  On the synthetic corpus the
    fingerprint is the deterministic byte-stride fake, so the full
    chain (banding, hamming, closure, keep-best) is DuckDB-re-derived
    exactly; real payloads go through `dhash_image` with the same
    downstream plan."""
    d = table(spark, sf_dir, "documents")
    fp = _dhash_fake_frame(d, ["doc_id"])
    return caption_dedup_from_fingerprints(fp, d.select("doc_id", "n_chars"))


def caption_dedup_from_fingerprints(fp: DataFrame, docs: DataFrame) -> DataFrame:
    """The modality-joint chain after fingerprinting: exact-hash
    collapse -> band-bucketed candidates over DISTINCT hashes (hub
    buckets dropped) -> hamming verify -> min-label clusters ->
    keep-best caption.  ``fp`` is (doc_id, dhash BIGINT) from ANY
    fingerprint source — the registered query feeds the
    oracle-expressible fake; tests feed real `dhash_image` bits over
    real image bytes — and ``docs`` carries (doc_id, n_chars) for the
    keep-best rule.

    Hub immunity (r13 VERDICT #1): exact-equal hashes collapse to ONE
    representative (min doc_id) via a linear aggregate BEFORE the band
    join — the dedup.py exact-dup-collapse discipline — so a blank
    image shared by millions of docs costs one join row instead of
    N²/2 hamming-0 candidates, and the mega-group STILL clusters
    (docs rejoin through their hash's rep).  Residual hub BUCKETS
    (> _MM_BAND_MAXDF distinct hashes agreeing on one 12-bit band) are
    dropped before the self-join, mirrored in the oracle."""
    from ..cachescope import scoped_persist
    from .graph import propagate_min_labels

    bandmask = (1 << _CAP_BAND_BITS) - 1
    # one rep per DISTINCT hash: read by the band self-join (both
    # sides) and the doc->rep mapping below
    reps = scoped_persist(
        fp.groupBy("dhash").agg(F.min("doc_id").alias("rep"))
    )
    # band id rides the join key: posexplode keeps (band index, value)
    bands = reps.select(
        "rep",
        "dhash",
        F.posexplode(
            F.array(*[
                F.expr(f"shiftright(dhash, {_CAP_BAND_BITS * b}) & {bandmask}")
                for b in range(_CAP_BANDS)
            ])
        ).alias("b", "v"),
    )
    keepb = bands.groupBy("b", "v").agg(F.count(F.lit(1)).alias("nh")).filter(
        F.col("nh") <= _MM_BAND_MAXDF
    )
    bk = bands.join(keepb.select("b", "v"), ["b", "v"])
    a = bk.select(F.col("rep").alias("a_id"), F.col("dhash").alias("ha"), "b", "v")
    bb = bk.select(F.col("rep").alias("b_id"), F.col("dhash").alias("hb"), "b", "v")
    pairs = scoped_persist(
        a.join(bb, ["b", "v"])
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(F.expr(f"bit_count(ha ^ hb) <= {_CAP_HAM_T}"))
        .select("a_id", "b_id")
        .distinct()
    )
    # closure over PAIR-TOUCHED reps only (duplicate-count-sized
    # iterations — the video-dedup discipline); untouched reps keep
    # their own id as the cluster
    touched = (
        pairs.select(F.col("a_id").alias("doc_id"))
        .unionByName(pairs.select(F.col("b_id").alias("doc_id")))
        .distinct()
    )
    clustered = propagate_min_labels(touched, pairs)
    clusters = (
        fp.join(reps, "dhash")
        .join(
            clustered.withColumnRenamed("doc_id", "rep"), "rep", "left"
        )
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("rep")).alias("img_cluster"),
        )
    )
    ranked = clusters.join(docs.select("doc_id", "n_chars"), "doc_id")
    w = W.partitionBy("img_cluster").orderBy(F.col("n_chars").desc(), "doc_id")
    return (
        ranked.withColumn("rk", F.row_number().over(w))
        .select("doc_id", "img_cluster", (F.col("rk") == 1).alias("kept"))
    )


mm_caption_dedup.__doc__ = mm_caption_dedup.__doc__.format(
    t=_CAP_HAM_T, b=_CAP_BANDS
)


# --- real-bytes video: multi-frame Netpbm container -> keyframes ----------
# The r11 VERDICT gap: mm_frame_sample never decoded a frame.  A "video"
# here is a concatenation of P5 frames (the env has no codecs; the
# container composes the repo's own strict real-bytes decoder), and
# keyframe detection is the dHash scene-cut rule: frame 0, plus every
# frame whose perceptual hash moved > t bits from its predecessor.
# Within-scene frames (identical or uniformly brightened) hash equal, so
# they are NOT keyframes — the property byte checksums lack.

_VID_SCENES_MOD = 3  # scenes per doc = 2 + length(text) % 3 -> 2..4
_VID_REP = 2  # frames per scene (static scene, then a cut)
_VID_HAM_T = 3  # scene cut iff hamming > 3 (the caption-dedup threshold)


def split_p5_frames(payload: bytes):
    """Split a concatenated-P5 'video' container into per-frame P5
    payloads.  Each frame is header + exactly w*h*bytes_per raster
    bytes (the strict layout `decode_image` validates), so frame
    boundaries are derivable without a codec.  Returns None if any
    frame header is malformed or the tail is truncated."""
    frames = []
    off = 0
    while off < len(payload):
        head = _pnm_header(payload[off:])
        if head is None or head[0] != "P5":
            return None
        _, w, h, maxval, start = head
        end = off + start + w * h * (1 if maxval < 256 else 2)
        if end > len(payload):
            return None
        frames.append(payload[off:end])
        off = end
    return frames


def video_keyframes_from_fingerprints(fh: DataFrame, t: int = _VID_HAM_T) -> DataFrame:
    """The keyframe chain after per-frame fingerprinting: lag the dHash
    within each video (frame order), flag a keyframe when the hash
    moved > t bits (or there is no predecessor).  ``fh`` is (doc_id,
    frame_idx, dhash BIGINT) from ANY fingerprint source — the
    registered query feeds the oracle-expressible fake over synthetic
    frame substrings; tests feed real `dhash_image` bits over decoded
    P5 frames.  Scale shape: one doc-partitioned window over the tiny
    fingerprint rows — pixels never shuffle."""
    w = W.partitionBy("doc_id").orderBy("frame_idx")
    return (
        fh.withColumn("_prev", F.lag("dhash").over(w))
        .withColumn(
            "is_keyframe",
            F.when(F.col("_prev").isNull(), F.lit(True)).otherwise(
                F.expr(f"bit_count(dhash ^ _prev) > {t}")
            ),
        )
        .select("doc_id", "frame_idx", "dhash", "is_keyframe")
    )


def _vid_frame_sql(idiv: str) -> str:
    """Frame substring: scene sc = frame_idx/{rep}, scene sc covers the
    [sc*L/s, (sc+1)*L/s) char slice — pure integer arithmetic, exact in
    both engines (``idiv`` is 'DIV' for Spark, '//' for DuckDB)."""
    sc = f"(frame_idx {idiv} {_VID_REP})"
    ln = "length(text)"
    start = f"(1 + ({sc} * {ln}) {idiv} s)"
    flen = f"((({sc} + 1) * {ln}) {idiv} s - ({sc} * {ln}) {idiv} s)"
    return f"substring(text, {start}, {flen})"


def _vid_fh_cte() -> str:
    """The shared synthetic frame-fingerprint chain (frame explode +
    per-frame fake dHash) as WITH-parts; `_video_oracle` and
    `_video_dedup_oracle` both build on it."""
    return f"""fr0 AS (
      SELECT doc_id, text, s, unnest(range(0, {_VID_REP} * s)) AS frame_idx
      FROM (SELECT doc_id, text,
                   2 + (length(text) % {_VID_SCENES_MOD}) AS s
            FROM documents)),
    fr AS (SELECT doc_id, frame_idx, {_vid_frame_sql("//")} AS ft FROM fr0),
    fh AS (SELECT doc_id, frame_idx,
                  {_dhash_fake_terms("duckdb", "ft")} AS dhash
           FROM fr)"""


def _video_oracle() -> str:
    return f"""
    WITH {_vid_fh_cte()}
    SELECT doc_id, frame_idx, dhash,
           coalesce(bit_count(xor(dhash,
               lag(dhash) OVER (PARTITION BY doc_id ORDER BY frame_idx))) > {_VID_HAM_T},
               TRUE) AS is_keyframe
    FROM fh
    """


@register("mm_video_keyframes", oracle=_video_oracle(), bench=True)
def mm_video_keyframes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video keyframe / scene-change detection, driver-checked: explode
    each payload into frames (scenes shown {rep} frames each — the
    static-scene-then-cut structure of real footage), fingerprint every
    frame, and flag keyframes where the perceptual hash jumps > {t}
    bits.  Repeated frames within a scene hash identically and are
    correctly NOT keyframes, so the fixture exercises both classes.

    On the synthetic text-payload corpus the frame split is an integer
    char-slice and the fingerprint the deterministic byte-stride fake,
    so the full chain (frame explode, per-frame hash, lag window,
    hamming threshold) is DuckDB-re-derived exactly; REAL multi-frame
    P5 containers go through `split_p5_frames` + `dhash_image` into
    the same `video_keyframes_from_fingerprints` chain in
    tests/test_multimodal_codec.py.  Scale shape: the frame fan-out is
    one generate+project (codegen); only (doc_id, frame_idx, 8-byte
    hash) rows reach the window shuffle — never frame payloads."""
    # Scene-level derivation (r14 opt round): the lag window runs over
    # (doc, scene) rows — 1/rep of the frame rows the generic
    # `video_keyframes_from_fingerprints` window shuffles — and frames
    # explode AFTER.  Frame-level equivalence: a frame is a keyframe
    # iff it is the FIRST frame of its scene (within a scene the lag
    # hash is identical, hamming 0 <= t) and its scene's hash jumps
    # > t bits from the previous scene's (frame 0's NULL-lag coalesces
    # to TRUE, which the j=0 conjunction of sc=0's NULL-lag TRUE
    # reproduces).  Bit-identical rows, proven by the unchanged oracle
    # and test_multimodal_codec's frame-vs-scene equality pytest.
    sch = _vid_scene_hashes(table(spark, sf_dir, "documents"))
    w = W.partitionBy("doc_id").orderBy("sc")
    sck = sch.withColumn("_prev", F.lag("dhash").over(w)).withColumn(
        "scene_kf",
        F.when(F.col("_prev").isNull(), F.lit(True)).otherwise(
            F.expr(f"bit_count(dhash ^ _prev) > {_VID_HAM_T}")
        ),
    )
    return sck.select(
        "doc_id",
        "sc",
        "dhash",
        "scene_kf",
        F.explode(F.expr(f"sequence(0, {_VID_REP} - 1)")).alias("j"),
    ).select(
        "doc_id",
        (F.col("sc") * _VID_REP + F.col("j")).alias("frame_idx"),
        "dhash",
        ((F.col("j") == 0) & F.col("scene_kf")).alias("is_keyframe"),
    )


mm_video_keyframes.__doc__ = mm_video_keyframes.__doc__.format(
    rep=_VID_REP, t=_VID_HAM_T
)


# --- video near-dup: keyframe-SET matching across videos ------------------
# The video analog of mm_caption_dedup (r12 VERDICT missing #2): two
# videos are copies of the same footage when the keyframe hash set of
# the SMALLER one is mostly contained (hamming <= t per keyframe) in the
# other's — re-encoding and uniform brightening leave dHashes within t,
# trimming only shrinks the smaller set, so the containment denominator
# least(|A|, |B|) is what makes truncated copies match.

_VID_CONT_NUM = 1  # matched keyframes >= 1/2 of the smaller set
_VID_CONT_DEN = 2  # (integer cross-multiplied — no float compare)


def video_dedup_from_fingerprints(
    fh: DataFrame, docs: DataFrame, t: int = _CAP_HAM_T
) -> DataFrame:
    """The cross-video chain after per-frame fingerprinting: keyframe
    hash SETS -> band-bucketed candidate keyframe pairs -> hamming
    verify -> per-video-pair containment vote -> min-label clusters ->
    keep-best.  ``fh`` is (doc_id, frame_idx, dhash BIGINT) from ANY
    fingerprint source — the registered query feeds the
    oracle-expressible fake; the real-bytes pytest feeds `dhash_image`
    bits over `split_p5_frames` output — and ``docs`` carries
    (doc_id, n_chars) for the keep-best rule.

    Scale shape: videos collapse to their keyframe hash sets FIRST
    (distinct 8-byte hashes per video — the only rows that ever
    shuffle; within-scene frames are already gone), hub hashes (shared
    by > _MM_MAXDF videos — a literal black frame hashes identically
    across millions, all {b} bands collide, and the candidate join
    would emit N²/2 hamming-0 pairs inside one bucket) are dropped by
    the stop-shingle df rule BEFORE the self-join with the set sizes
    counted over KEPT hashes (the audio _AUD_MAXDF discipline, r13
    VERDICT #1), hub band BUCKETS (> _MM_BAND_MAXDF distinct hashes on
    one 12-bit band value) are likewise dropped, the candidate join is
    keyed on {b} 12-bit bands (complete for hamming <= {t} by
    pigeonhole), the containment vote is one integer aggregate per
    candidate video pair, and clustering is the shared min-label
    propagation."""
    return video_dedup_from_keyframe_sets(
        video_keyframes_from_fingerprints(fh, t=_VID_HAM_T)
        .filter(F.col("is_keyframe"))
        .select("doc_id", "dhash")
        .distinct(),
        docs,
        t=t,
    )


def video_dedup_from_keyframe_sets(
    kf_raw: DataFrame, docs: DataFrame, t: int = _CAP_HAM_T
) -> DataFrame:
    """The cross-video chain from the raw keyframe hash SETS down:
    df-cap -> band candidates -> hamming verify -> containment vote ->
    closure -> keep-best.  Split out of
    ``video_dedup_from_fingerprints`` (r14 opt round) so callers that
    can derive the keyframe set more cheaply than the generic per-frame
    lag window — the synthetic faces hash per SCENE and never explode
    frames at all — feed the identical set without paying the frame
    fan-out.  ``kf_raw`` is distinct (doc_id, dhash) keyframe hashes
    from ANY derivation."""
    from ..cachescope import scoped_persist
    from .graph import propagate_min_labels

    # The raw keyframe hash set is read TWICE (the df aggregate and the
    # kept-set join) and it sits on top of the whole fingerprint chain —
    # persist it, or that chain executes once per branch (measured 2x
    # the head's wall-clock when this lapsed in the r14 cap rewrite).
    kf = scoped_persist(kf_raw)
    # stop-shingle df rule: a hash value shared by more videos than the
    # cap is a hub (black frames, title cards) — dropped before the
    # join, and n_k counts the KEPT set so both vote operands agree
    keph = kf.groupBy("dhash").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= _MM_MAXDF
    )
    # The kept keyframe hash set is read by THREE consumers (set sizes,
    # and both sides of the band self-join); it is tiny (distinct
    # 8-byte hashes per video), so it persists under cachescope — the
    # downstream plan reads the materialized set instead of leaning on
    # exchange reuse across consumers.
    kfk = scoped_persist(kf.join(keph.select("dhash"), "dhash"))
    sizes = kfk.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_k"))
    bandmask = (1 << _CAP_BAND_BITS) - 1
    bands = kfk.select(
        "doc_id",
        "dhash",
        F.posexplode(
            F.array(*[
                F.expr(f"shiftright(dhash, {_CAP_BAND_BITS * b}) & {bandmask}")
                for b in range(_CAP_BANDS)
            ])
        ).alias("b", "v"),
    )
    keepb = bands.groupBy("b", "v").agg(
        F.countDistinct("dhash").alias("nh")
    ).filter(F.col("nh") <= _MM_BAND_MAXDF)
    bk = bands.join(keepb.select("b", "v"), ["b", "v"])
    a = bk.select(
        F.col("doc_id").alias("a_id"), F.col("dhash").alias("ha"), "b", "v"
    )
    bb = bk.select(
        F.col("doc_id").alias("b_id"), F.col("dhash").alias("hb"), "b", "v"
    )
    cand = (
        a.join(bb, ["b", "v"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "ha", "hb")
        .distinct()
    )
    matched = (
        cand.filter(F.expr(f"bit_count(ha ^ hb) <= {t}"))
        .groupBy("a_id", "b_id")
        .agg(F.countDistinct("ha").alias("m"))
    )
    na = sizes.select(F.col("doc_id").alias("a_id"), F.col("n_k").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("b_id"), F.col("n_k").alias("n_b"))
    # duplicate-count-sized; read by the touched-node projection AND the
    # propagation's edge build — persist so the band join runs once
    pairs = scoped_persist(
        matched.join(na, "a_id")
        .join(nb, "b_id")
        .filter(
            F.col("m") * _VID_CONT_DEN
            >= F.least("n_a", "n_b") * _VID_CONT_NUM
        )
        .select("a_id", "b_id")
    )
    # Closure only over PAIR-TOUCHED videos: after dedup's own success
    # almost every video is a singleton, and feeding them through the
    # iterative propagation makes every iteration's join corpus-sized
    # for no information — the min-label of a node with no edges is
    # itself.  Touched nodes are duplicate-count-sized; singletons
    # rejoin with their own id as the cluster.
    touched = (
        pairs.select(F.col("a_id").alias("doc_id"))
        .unionByName(pairs.select(F.col("b_id").alias("doc_id")))
        .distinct()
    )
    clustered = propagate_min_labels(touched, pairs)
    clusters = (
        docs.select("doc_id")
        .join(clustered, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("vid_cluster"),
        )
    )
    ranked = clusters.join(docs.select("doc_id", "n_chars"), "doc_id")
    w = W.partitionBy("vid_cluster").orderBy(F.col("n_chars").desc(), "doc_id")
    return ranked.withColumn("rk", F.row_number().over(w)).select(
        "doc_id", "vid_cluster", (F.col("rk") == 1).alias("kept")
    )


video_dedup_from_fingerprints.__doc__ = video_dedup_from_fingerprints.__doc__.format(
    b=_CAP_BANDS, t=_CAP_HAM_T
)


def _video_dedup_oracle(fh_rel: str = "fh", extra_cte: str = "") -> str:
    """The full video-dedup chain in SQL over the ``fh_rel`` frame
    fingerprints; ``extra_cte`` appends derived CTEs between the shared
    fingerprint chain and the keyframe scan (the hub face wraps fh)."""
    bandmask = (1 << _CAP_BAND_BITS) - 1
    return f"""
    WITH {_vid_fh_cte()},{extra_cte}
    kfl AS (
      SELECT doc_id, dhash,
             coalesce(bit_count(xor(dhash,
                 lag(dhash) OVER (PARTITION BY doc_id ORDER BY frame_idx))) > {_VID_HAM_T},
                 TRUE) AS is_keyframe
      FROM {fh_rel}),
    kf AS (SELECT DISTINCT doc_id, dhash FROM kfl WHERE is_keyframe),
    keph AS (SELECT dhash FROM kf GROUP BY dhash
             HAVING count(*) <= {_MM_MAXDF}),
    kfk AS (SELECT kf.doc_id, kf.dhash FROM kf JOIN keph USING (dhash)),
    nk AS (SELECT doc_id, count(*) AS n_k FROM kfk GROUP BY doc_id),
    bands AS (
      SELECT doc_id, dhash, b, (dhash >> ({_CAP_BAND_BITS} * b)) & {bandmask} AS v
      FROM kfk, (SELECT unnest(range(0, {_CAP_BANDS})) AS b)),
    keepb AS (SELECT b, v FROM bands GROUP BY b, v
              HAVING count(DISTINCT dhash) <= {_MM_BAND_MAXDF}),
    cand AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
                      a.dhash AS ha, b.dhash AS hb
      FROM bands a JOIN bands b ON a.b = b.b AND a.v = b.v
                              AND a.doc_id < b.doc_id
      JOIN keepb k ON k.b = a.b AND k.v = a.v),
    m AS (
      SELECT a_id, b_id, count(DISTINCT ha) AS m
      FROM cand WHERE bit_count(xor(ha, hb)) <= {_CAP_HAM_T}
      GROUP BY a_id, b_id),
    pairs AS (
      SELECT a_id, b_id
      FROM m JOIN nk na ON na.doc_id = m.a_id
             JOIN nk nb ON nb.doc_id = m.b_id
      WHERE m * {_VID_CONT_DEN} >= least(na.n_k, nb.n_k) * {_VID_CONT_NUM}),
    edges AS (SELECT a_id AS u, b_id AS v FROM pairs
              UNION SELECT b_id, a_id FROM pairs),
    reach AS (
      WITH RECURSIVE r(u, v) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.u, e.v FROM r JOIN edges e ON r.v = e.u)
      SELECT * FROM r),
    clusters AS (
      SELECT d.doc_id,
             least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS vid_cluster
      FROM documents d LEFT JOIN reach r ON r.u = d.doc_id
      GROUP BY d.doc_id),
    ranked AS (
      SELECT doc_id, vid_cluster,
             row_number() OVER (
               PARTITION BY vid_cluster
               ORDER BY d.n_chars DESC, doc_id) AS rk
      FROM clusters c JOIN documents d USING (doc_id))
    SELECT doc_id, vid_cluster, (rk = 1) AS kept
    FROM ranked
    """


def _dhash_codepoints(text: str):
    """int64 codepoint array for a string — frombuffer fast path for
    ASCII (1 byte = 1 char), ord map otherwise (ord == Spark/DuckDB
    ascii for any codepoint)."""
    import numpy as np

    if text.isascii():
        return np.frombuffer(text.encode(), dtype=np.uint8).astype(np.int64)
    return np.fromiter(map(ord, text), dtype=np.int64, count=len(text))


def _dhash_fake_frame(d: DataFrame, keep: list[str]) -> DataFrame:
    """(keep..., dhash): the whole-text byte-stride fake dHash in ONE
    Arrow pass — the full-text twin of `_vid_scene_hashes`' numpy core
    (r15 opt round, guide §4.2: the HOF fold evaluates interpreted and
    re-slices the text per bit term).  Bit-identical to
    `_dhash_fake_terms("spark")` — same int64 comparisons, same
    ascii('')=0 edge — pinned by test_multimodal_codec's
    numpy-vs-SQL equality pytest."""
    import numpy as np
    import pandas as pd

    bits = _DH_FAKE_BITS
    types = {f.name: f.dataType.simpleString() for f in d.schema.fields}
    fields = ", ".join(f"{c} {types[c]}" for c in keep)

    def hash_batches(batches):
        shifts = 1 << np.arange(bits, dtype=np.int64)
        ii7 = 7 * np.arange(bits, dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            out = np.empty(len(pdf), dtype=np.int64)
            for k, text in enumerate(pdf["text"]):
                n = len(text)
                cp = np.concatenate(
                    [_dhash_codepoints(text), np.zeros(2, dtype=np.int64)]
                )
                p = ii7 % max(n - 1, 1)
                va = np.where(p < n, cp[p], 0)
                vb = np.where(p + 1 < n, cp[p + 1], 0)
                out[k] = ((va > vb) * shifts).sum()
            cols = {c: pdf[c] for c in keep}
            cols["dhash"] = out
            yield pd.DataFrame(cols)

    return d.select(*keep, "text").mapInPandas(
        hash_batches, f"{fields}, dhash bigint"
    )


def _vid_scene_hashes(d: DataFrame) -> DataFrame:
    """documents -> (doc_id, s, sc, dhash): ONE fake dHash per SCENE.

    All {rep} frames of a scene show the same char slice by
    construction (``_vid_frame_sql``: the slice depends only on
    frame_idx DIV rep), so hashing per frame computes every scene hash
    rep times and ships rep identical rows into whatever window or
    distinct follows.  Hashing per scene and exploding frames AFTER
    (r14 opt round, guide §2.3 "shuffle fewer bytes" + §1.2 step 1)
    does the substring+dhash work once per scene and, for consumers
    that only need scene-level structure (the keyframe flag, the
    keyframe SET), never materializes frame rows at all — bit-identical
    output by construction, locked by the keyframes/dedup oracle rows
    and test_multimodal_codec's frame-vs-scene equality pytest.

    Since the r15 opt round the hashes are computed in ONE Arrow pass
    (numpy integer ops — guide §4.2): the HOF fold evaluated
    INTERPRETED and re-sliced the scene substring per bit term,
    profiled at 36.7 s of task CPU for the sf0.1 corpus (the whole
    mm_video_keyframes head).  Integer comparisons and shifts are
    exact, `ord` equals Spark/DuckDB ``ascii`` for any codepoint, and
    Python ``len``/slicing match the character-based SQL
    length/substring, so every hash is bit-identical to the SQL fold —
    locked by test_multimodal_codec's numpy-vs-SQL equality pytest
    (real corpus + empty/1-char/non-ASCII adversaries) and the
    unchanged video-family oracles."""
    import numpy as np
    import pandas as pd

    bits = _DH_FAKE_BITS
    mod = _VID_SCENES_MOD

    def scene_hash_batches(batches):
        shifts = 1 << np.arange(bits, dtype=np.int64)
        ii7 = 7 * np.arange(bits, dtype=np.int64)
        for pdf in batches:
            ids, ss, scs, hs = [], [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                n = len(text)
                s = 2 + (n % mod)
                if text.isascii():
                    cp = np.frombuffer(
                        text.encode(), dtype=np.uint8
                    ).astype(np.int64)
                else:
                    cp = np.fromiter(map(ord, text), dtype=np.int64, count=n)
                cp = np.concatenate([cp, np.zeros(2, dtype=np.int64)])
                sc = np.arange(s, dtype=np.int64)
                st = (sc * n) // s  # 0-based scene slice starts
                ln = ((sc + 1) * n) // s - st
                # bit i compares slice chars at positions p, p+1
                # (0-based), p = (7i) % max(ln-1, 1); out-of-slice
                # reads are ascii('') = 0, exactly the SQL edge.
                m = np.maximum(ln - 1, 1)
                p = ii7[None, :] % m[:, None]  # (s, bits)
                ia = st[:, None] + p
                va = np.where(p < ln[:, None], cp[ia], 0)
                vb = np.where(p + 1 < ln[:, None], cp[ia + 1], 0)
                h = ((va > vb) * shifts[None, :]).sum(axis=1)
                ids.append(np.full(s, doc_id, dtype=np.int64))
                ss.append(np.full(s, s, dtype=np.int64))
                scs.append(sc)
                hs.append(h)
            if not ids:
                continue
            yield pd.DataFrame(
                {
                    "doc_id": np.concatenate(ids),
                    "s": np.concatenate(ss),
                    "sc": np.concatenate(scs),
                    "dhash": np.concatenate(hs),
                }
            )

    return d.select("doc_id", "text").mapInPandas(
        scene_hash_batches, "doc_id bigint, s int, sc int, dhash bigint"
    )


def _vid_scene_hashes_sql(d: DataFrame) -> DataFrame:
    """The pure-SQL scene-hash form (the pre-r15 implementation and
    the semantic spec the DuckDB oracles re-derive) — kept as the
    equality-test reference for the Arrow pass above."""
    sc, ln = "sc", "length(text)"
    start = f"(1 + ({sc} * {ln}) DIV s)"
    flen = f"((({sc} + 1) * {ln}) DIV s - ({sc} * {ln}) DIV s)"
    ft = f"substring(text, {start}, {flen})"
    return (
        d.select(
            "doc_id",
            "text",
            F.expr(f"2 + (length(text) % {_VID_SCENES_MOD})").alias("s"),
        )
        .select(
            "doc_id", "s", F.explode(F.expr("sequence(0, s - 1)")).alias("sc"), "text"
        )
        .select(
            "doc_id",
            "s",
            "sc",
            F.expr(_dhash_fake_terms("spark", f"({ft})")).alias("dhash"),
        )
    )


_vid_scene_hashes.__doc__ = _vid_scene_hashes.__doc__.format(rep=_VID_REP)


def _vid_fh(d: DataFrame) -> DataFrame:
    """documents -> the synthetic per-frame fingerprint chain shared by
    every video face: scene-level hashes (`_vid_scene_hashes`) exploded
    to frame granularity (frame_idx = sc * rep + j) — row-identical to
    hashing each frame directly, at 1/rep the hash work."""
    return _vid_scene_hashes(d).select(
        "doc_id",
        F.explode(
            F.expr(
                f"sequence(sc * {_VID_REP}, sc * {_VID_REP} + {_VID_REP} - 1)"
            )
        ).alias("frame_idx"),
        "dhash",
    )


@register("mm_video_dedup", oracle=_video_dedup_oracle(), bench=True)
def mm_video_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup detection — the composition that catches
    re-encoded, brightened, or TRIMMED copies of the same footage:
    every video collapses to its keyframe dHash set, keyframe pairs
    are band-bucket candidates verified by hamming, and two videos are
    duplicates when at least half the smaller keyframe set matches
    (containment, so a truncated copy still pairs with its source);
    duplicate groups close transitively and one video survives per
    cluster (longest text, doc_id tie-break — the keep-best rule).

    On the synthetic text-payload corpus the frame chain is the
    mm_video_keyframes fake, so banding, hamming, the containment
    vote, the closure, and keep-best are all DuckDB-re-derived
    exactly; REAL concatenated-P5 containers (including a brightened +
    frame-dropped copy) go through `split_p5_frames` + `dhash_image`
    into the same chain in tests/test_multimodal_codec.py."""
    d = table(spark, sf_dir, "documents")
    # Scene-level keyframe SET (r14 opt round): the dedup chain only
    # consumes distinct keyframe hashes per video, and on the synthetic
    # chain those are exactly the scene hashes that jump > t bits from
    # their predecessor (see mm_video_keyframes) — so the set derives
    # from scene rows directly and the frame explode never happens.
    sch = _vid_scene_hashes(d)
    w = W.partitionBy("doc_id").orderBy("sc")
    kf = (
        sch.withColumn("_prev", F.lag("dhash").over(w))
        .filter(
            F.col("_prev").isNull()
            | F.expr(f"bit_count(dhash ^ _prev) > {_VID_HAM_T}")
        )
        .select("doc_id", "dhash")
        .distinct()
    )
    return video_dedup_from_keyframe_sets(kf, d.select("doc_id", "n_chars"))


_VID_HUB_CASE = (
    "CASE WHEN frame_idx = 0 AND doc_id % 10 < 3 "
    "THEN CAST(0 AS BIGINT) ELSE dhash END"
)


def _video_hub_oracle() -> str:
    extra = f"""
    fhh AS (SELECT doc_id, frame_idx, {_VID_HUB_CASE} AS dhash FROM fh),"""
    return _video_dedup_oracle(fh_rel="fhh", extra_cte=extra)


@register("mm_video_dedup_hub", oracle=_video_hub_oracle())
def mm_video_dedup_hub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hub df-cap EXERCISED under the driver oracle: 30% of videos
    get a literal black frame (frame 0's hash forced to 0), so the hub
    hash's document frequency (~150 at sf0.01) exceeds _MM_MAXDF and
    the stop-shingle rule FIRES — the fixture-scale faces prove the
    capped chain where the caps are no-ops; this face proves the cap
    arithmetic itself (df rule, kept-set containment denominators,
    bucket rule) is bit-identical in both engines while active.
    Uncapped, the planted hub alone would emit C(150,2) hamming-0
    candidate pairs inside one bucket and weld 30% of the corpus into
    one cluster; capped, hub videos pair only through their remaining
    keyframes."""
    d = table(spark, sf_dir, "documents")
    fh = _vid_fh(d).withColumn("dhash", F.expr(_VID_HUB_CASE))
    return video_dedup_from_fingerprints(fh, d.select("doc_id", "n_chars"))


# ---------------------------------------------------------------------------
# audio near-dup detection — the last modality without a dedup face
# (image: dhash/caption, video: keyframe sets; this closes the matrix).
# Fingerprint: per-frame DELTA-SIGN crossing counts (sign changes of
# the first difference), shingled over consecutive frames.  Two
# properties make this the audio-native choice:
#   * GAIN-INVARIANT: scaling PCM by any c > 0 preserves the sign of
#     every sample DIFFERENCE exactly (integer scaling, no rounding),
#     so a louder/quieter copy fingerprints identically — the classic
#     audio-dup transformation hamming-dhash can't see and byte-exact
#     dedup breaks on.  Plain zero-crossing of the SIGNAL would also be
#     gain-invariant but degenerates on payloads that never cross zero
#     (this corpus: ASCII bytes - 128 are all negative); the delta-sign
#     keeps per-frame entropy on any non-constant signal.
#   * TRIM-COMPATIBLE: a copy cut at frame granularity shares all its
#     surviving shingles, so the CONTAINMENT vote (shared >= half the
#     smaller set) still pairs it with the source — the video-dedup
#     rule, reused verbatim.
# ---------------------------------------------------------------------------

_AUD_W = 32  # first-difference samples per frame (zcr in 0.._AUD_W-1)
_AUD_SH = 6  # frames per shingle: 6 x 5 bits = 30-bit values
_AUD_Q = 32  # zcr alphabet size (radix of the shingle encoding)
_AUD_MAXDF = 64  # stop-shingle rule: drop values shared by > 64 docs
_AUD_MIN_SHARED = 2  # never pair on a single shared shingle
_AUD_CONT_NUM, _AUD_CONT_DEN = 1, 2  # containment threshold 1/2


def audio_shingle_values(x) -> "list[int]":
    """Distinct shingle values of one PCM channel (int array of
    centered samples).  Frames are _AUD_W consecutive first
    differences; a frame's feature is its delta-sign crossing count
    (within-frame comparisons only, so frame f is a pure function of
    samples [f*W, (f+1)*W]); _AUD_SH consecutive complete frames pack
    base-_AUD_Q into one integer.  Exact integer arithmetic end-to-end
    — the DuckDB oracle re-derives every value from the same sample
    stream."""
    import numpy as np

    x = np.asarray(x, dtype=np.int64)
    if len(x) < 2:
        return []
    s = (np.diff(x) >= 0).astype(np.int8)
    nf = len(s) // _AUD_W
    if nf < _AUD_SH:
        return []
    sr = s[: nf * _AUD_W].reshape(nf, _AUD_W)
    zcr = (sr[:, 1:] != sr[:, :-1]).sum(axis=1).astype(np.int64)
    win = np.lib.stride_tricks.sliding_window_view(zcr, _AUD_SH)
    pw = _AUD_Q ** np.arange(_AUD_SH - 1, -1, -1)
    return sorted(set((win @ pw).tolist()))


def audio_shingles_from_payloads(p: DataFrame) -> DataFrame:
    """(doc_id, payload) -> (doc_id, v): the distinct audio shingle
    set, one Arrow mapInPandas pass (the resample precedent — per-row
    numpy, zero shuffle; only the tiny (doc, 30-bit value) rows ever
    leave the scan)."""
    import numpy as np

    def fp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, vals = [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    continue
                x = np.frombuffer(bytes(payload), dtype=np.uint8).astype(
                    np.int64
                ) - 128
                for v in audio_shingle_values(x):
                    ids.append(doc_id)
                    vals.append(v)
            yield pd.DataFrame({"doc_id": ids, "v": vals})

    return p.mapInPandas(fp, schema="doc_id bigint, v bigint")


def audio_dedup_from_shingles(vs: DataFrame, docs: DataFrame) -> DataFrame:
    """The cross-track chain after fingerprinting: df-capped shingle
    sets -> exact-match candidate pairs -> min-shared + containment
    vote -> min-label clusters -> keep-best.  ``vs`` is (doc_id, v)
    distinct shingles from ANY source — the registered query feeds the
    text-as-PCM fake; the real-PCM pytest feeds tones through the same
    mapInPandas path — and ``docs`` carries (doc_id, n_chars) for the
    keep-best rule.

    Scale shape: tracks collapse to DISTINCT shingle values first, the
    stop-shingle rule (df > _AUD_MAXDF, the AllPairs stop-word
    discipline) removes hub values BEFORE the self-join — silence and
    other low-entropy audio would otherwise bucket millions of tracks
    on one value — and set sizes count KEPT shingles so both vote
    operands see the same universe.  The _AUD_MIN_SHARED floor exists
    because one 30-bit shingle (~18 effective bits on speech-like
    signals) is not evidence at corpus scale; a track must share at
    least 2.  Closure runs over pair-touched tracks only (the video
    discipline — singleton tracks never enter the iteration)."""
    from ..cachescope import scoped_persist
    from .graph import propagate_min_labels

    dv = vs.distinct()
    kept_vals = dv.groupBy("v").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= _AUD_MAXDF
    )
    # read by the size aggregate AND both sides of the pair self-join
    vk = scoped_persist(dv.join(kept_vals.select("v"), "v"))
    sizes = vk.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_v"))
    a = vk.select(F.col("doc_id").alias("a_id"), "v")
    b = vk.select(F.col("doc_id").alias("b_id"), "v")
    m = (
        a.join(b, "v")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    na = sizes.select(F.col("doc_id").alias("a_id"), F.col("n_v").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("b_id"), F.col("n_v").alias("n_b"))
    pairs = scoped_persist(
        m.join(na, "a_id")
        .join(nb, "b_id")
        .filter(
            (F.col("m") >= _AUD_MIN_SHARED)
            & (
                F.col("m") * _AUD_CONT_DEN
                >= F.least("n_a", "n_b") * _AUD_CONT_NUM
            )
        )
        .select("a_id", "b_id")
    )
    touched = (
        pairs.select(F.col("a_id").alias("doc_id"))
        .unionByName(pairs.select(F.col("b_id").alias("doc_id")))
        .distinct()
    )
    clustered = propagate_min_labels(touched, pairs)
    clusters = (
        docs.select("doc_id")
        .join(clustered, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("aud_cluster"),
        )
    )
    ranked = clusters.join(docs.select("doc_id", "n_chars"), "doc_id")
    w = W.partitionBy("aud_cluster").orderBy(F.col("n_chars").desc(), "doc_id")
    return ranked.withColumn("rk", F.row_number().over(w)).select(
        "doc_id", "aud_cluster", (F.col("rk") == 1).alias("kept")
    )


def _audio_vals_cte() -> str:
    """Shared oracle prefix: documents -> per-doc DISTINCT shingle
    values (the `vals` relation) — the full sample -> delta-sign ->
    frame zcr -> shingle chain in SQL."""
    shingle_terms = " + ".join(
        f"l{t} * {_AUD_Q ** (_AUD_SH - 1 - t)}" if t else f"zcr * {_AUD_Q ** (_AUD_SH - 1)}"
        for t in range(_AUD_SH)
    )
    leads = ", ".join(
        f"lead(zcr, {t}) OVER (PARTITION BY doc_id ORDER BY f) AS l{t}"
        for t in range(1, _AUD_SH)
    )
    return f"""docs AS (SELECT doc_id, text, length(text) AS n FROM documents),
    x AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
             ascii(substring(text, CAST(i AS INTEGER), 1)) - 128 AS x
      FROM (SELECT doc_id, text, unnest(range(1, n + 1)) AS i FROM docs)),
    dx AS (
      SELECT doc_id, pos,
             CASE WHEN lead(x) OVER (PARTITION BY doc_id ORDER BY pos) >= x
                  THEN 1 ELSE 0 END AS s,
             lead(x) OVER (PARTITION BY doc_id ORDER BY pos) IS NOT NULL AS ok
      FROM x),
    dd AS (SELECT doc_id, pos, s, pos // {_AUD_W} AS f FROM dx WHERE ok),
    dl AS (
      SELECT doc_id, f,
             CASE WHEN s <> lag(s) OVER (PARTITION BY doc_id, f ORDER BY pos)
                  THEN 1 ELSE 0 END AS chg
      FROM dd),
    zc AS (
      SELECT doc_id, f, CAST(sum(chg) AS BIGINT) AS zcr, count(*) AS cnt
      FROM dl GROUP BY doc_id, f),
    zf AS (SELECT doc_id, f, zcr FROM zc WHERE cnt = {_AUD_W}),
    sh AS (
      SELECT doc_id, {shingle_terms} AS v
      FROM (SELECT doc_id, f, zcr, {leads} FROM zf)
      WHERE l{_AUD_SH - 1} IS NOT NULL),
    vals AS (SELECT DISTINCT doc_id, v FROM sh)"""


def _audio_dedup_oracle() -> str:
    return f"""
    WITH {_audio_vals_cte()},
    keepv AS (SELECT v FROM vals GROUP BY v HAVING count(*) <= {_AUD_MAXDF}),
    vk AS (SELECT vals.doc_id, vals.v FROM vals JOIN keepv USING (v)),
    nv AS (SELECT doc_id, count(*) AS n_v FROM vk GROUP BY doc_id),
    m AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS m
      FROM vk a JOIN vk b ON a.v = b.v AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    pairs AS (
      SELECT a_id, b_id
      FROM m JOIN nv na ON na.doc_id = m.a_id
             JOIN nv nb ON nb.doc_id = m.b_id
      WHERE m >= {_AUD_MIN_SHARED}
        AND m * {_AUD_CONT_DEN} >= least(na.n_v, nb.n_v) * {_AUD_CONT_NUM}),
    edges AS (SELECT a_id AS u, b_id AS v FROM pairs
              UNION SELECT b_id, a_id FROM pairs),
    reach AS (
      WITH RECURSIVE r(u, v) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.u, e.v FROM r JOIN edges e ON r.v = e.u)
      SELECT * FROM r),
    clusters AS (
      SELECT d.doc_id,
             least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS aud_cluster
      FROM documents d LEFT JOIN reach r ON r.u = d.doc_id
      GROUP BY d.doc_id),
    ranked AS (
      SELECT doc_id, aud_cluster,
             row_number() OVER (
               PARTITION BY aud_cluster
               ORDER BY d.n_chars DESC, doc_id) AS rk
      FROM clusters c JOIN documents d USING (doc_id))
    SELECT doc_id, aud_cluster, (rk = 1) AS kept
    FROM ranked
    """


@register("mm_audio_dedup", oracle=_audio_dedup_oracle(), bench=True)
def mm_audio_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup detection — gain- and trim-robust copies of the
    same track: every payload collapses to its delta-sign-crossing
    shingle set (one Arrow mapInPandas pass, `audio_shingle_values`),
    hub shingles are dropped by the stop-shingle df rule, tracks pair
    on >= 2 shared values covering half the smaller set (containment,
    so a truncated copy still pairs with its source), duplicate groups
    close transitively, and one track survives per cluster (longest,
    doc_id tie-break).

    On the synthetic text-as-PCM corpus (the mm_audio_resample fake)
    every stage — frame zcr, shingle packing, the df cap, the vote,
    the closure, keep-best — is DuckDB-re-derived exactly; REAL PCM
    tones (including a gain-doubled and a front-trimmed copy) go
    through the same mapInPandas chain in
    tests/test_multimodal_codec.py, which also locks the
    gain-invariance property (c > 0 scaling preserves every first
    difference's sign, hence the whole fingerprint)."""
    d = table(spark, sf_dir, "documents")
    vs = audio_shingles_from_payloads(_payloads(spark, sf_dir))
    return audio_dedup_from_shingles(vs, d.select("doc_id", "n_chars"))


# ---------------------------------------------------------------------------
# multimodal curation capstone — the COMPOSITION a production multimodal
# training pipeline runs: row-level quality gate + all three modality
# dedups (image/caption, video, audio), one keep verdict per document.
# Each stage is individually driver-proven; this face proves they
# compose (the corpus_curate_q discipline applied to the modality
# matrix).
# ---------------------------------------------------------------------------


def _mm_curate_oracle() -> str:
    from .corpus_ext import _QC_GATE_LANGS

    langs = ", ".join(f"'{lg}'" for lg in _QC_GATE_LANGS)
    return f"""
    WITH cap AS ({_caption_oracle()}),
    vid AS ({_video_dedup_oracle()}),
    aud AS ({_audio_dedup_oracle()}),
    gate AS (
      SELECT doc_id,
             (coalesce(n_chars >= 100, FALSE)
              AND coalesce(lang IN ({langs}), FALSE)
              AND source IS NOT NULL) AS gate_ok
      FROM documents)
    SELECT d.doc_id, g.gate_ok,
           c.kept AS cap_kept, v.kept AS vid_kept, a.kept AS aud_kept,
           (g.gate_ok AND c.kept AND v.kept AND a.kept) AS kept
    FROM documents d
    JOIN gate g USING (doc_id)
    JOIN cap c USING (doc_id)
    JOIN vid v USING (doc_id)
    JOIN aud a USING (doc_id)
    """


@register("mm_curate_q", oracle=_mm_curate_oracle())
def mm_curate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal curation capstone: a document survives iff it passes
    the row-level quality gate (length floor, known language, non-null
    source — the docs_quality_gate rule) AND is the kept representative
    of its image cluster, its video cluster, and its audio cluster.
    Per-doc verdicts for every stage ride along, so the funnel is
    auditable — which stage dropped each document is a projection, not
    a re-run.  The oracle composes all four stage oracles in one SQL
    pipeline, proving the COMPOSITION cross-engine (the
    corpus_curate_q discipline).

    Scale shape: each modality chain keeps its own proven shape
    (banded candidate joins, duplicate-sized closures); the capstone
    adds only doc-keyed equi-joins of (doc_id, flag) verdict frames."""
    from .corpus_ext import _qc_labels

    d = table(spark, sf_dir, "documents")
    gate = _qc_labels(d).select("doc_id", (F.col("y") == 1).alias("gate_ok"))
    cap = mm_caption_dedup(spark, sf_dir).select(
        "doc_id", F.col("kept").alias("cap_kept")
    )
    vid = mm_video_dedup(spark, sf_dir).select(
        "doc_id", F.col("kept").alias("vid_kept")
    )
    aud = mm_audio_dedup(spark, sf_dir).select(
        "doc_id", F.col("kept").alias("aud_kept")
    )
    return (
        gate.join(cap, "doc_id")
        .join(vid, "doc_id")
        .join(aud, "doc_id")
        .select(
            "doc_id",
            "gate_ok",
            "cap_kept",
            "vid_kept",
            "aud_kept",
            (
                F.col("gate_ok")
                & F.col("cap_kept")
                & F.col("vid_kept")
                & F.col("aud_kept")
            ).alias("kept"),
        )
    )


# ---------------------------------------------------------------------------
# incremental audio dedup — the persisted-index probe face (completing
# the family: exact -> fingerprint table, MinHash -> band table,
# containment -> shingle index, IVF -> cell index, audio -> shingle
# index): a new crawl batch probes the frozen corpus index instead of
# re-fingerprinting the corpus.
# ---------------------------------------------------------------------------


def build_audio_shingle_index(
    spark: SparkSession, p: DataFrame, out_path: str
) -> None:
    """Persist the corpus's df-capped (doc_id, v) audio shingle rows —
    write-once; the stop-shingle rule is baked in at BUILD time so a
    hub value (silence) can never flood a future probe."""
    vs = audio_shingles_from_payloads(p)
    kept = vs.groupBy("v").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= _AUD_MAXDF
    )
    vs.join(kept.select("v"), "v").write.mode("overwrite").parquet(out_path)


def audio_dedup_incremental(
    spark: SparkSession, new_p: DataFrame, index_path: str
) -> DataFrame:
    """Audio near-dups between a NEW batch and the persisted corpus
    index: fingerprint only the batch (one Arrow pass), join its
    shingles onto the index scan, count shared values per (new,
    corpus) pair, keep pairs with >= {ms} shared covering half the NEW
    track's set (containment of the new track in the corpus — a
    trimmed or gain-changed re-upload of corpus audio still pairs).
    Cost scales with the batch; the corpus is one index scan, its
    audio never re-decoded."""
    from .dedup import _probe_hint

    nv = audio_shingles_from_payloads(new_p)
    n_tab = nv.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_new"))
    nb = nv.join(n_tab, "doc_id").select(
        F.col("doc_id").alias("new_id"), "v", "n_new"
    )
    corpus = spark.read.parquet(index_path).select(
        F.col("doc_id").alias("corpus_id"), "v"
    )
    inter = (
        corpus.join(_probe_hint(nb), "v")
        .groupBy("new_id", "corpus_id")
        .agg(
            F.count(F.lit(1)).alias("shared"),
            F.any_value("n_new").alias("n_new"),
        )
    )
    return inter.filter(
        (F.col("shared") >= _AUD_MIN_SHARED)
        & (F.col("shared") * _AUD_CONT_DEN >= F.col("n_new") * _AUD_CONT_NUM)
    ).select("new_id", "corpus_id", "shared", "n_new")


audio_dedup_incremental.__doc__ = audio_dedup_incremental.__doc__.format(
    ms=_AUD_MIN_SHARED
)


def _audio_incr_oracle() -> str:
    from .dedup import _BATCH_IN

    return f"""
    WITH {_audio_vals_cte()},
    src AS (SELECT doc_id, source FROM documents),
    cvals AS (SELECT v.doc_id, v.v FROM vals v JOIN src s USING (doc_id)
              WHERE s.source NOT IN ({_BATCH_IN})),
    keepv AS (SELECT v FROM cvals GROUP BY v HAVING count(*) <= {_AUD_MAXDF}),
    idx AS (SELECT cvals.doc_id AS corpus_id, cvals.v
            FROM cvals JOIN keepv USING (v)),
    bvals AS (SELECT v.doc_id AS new_id, v.v FROM vals v JOIN src s USING (doc_id)
              WHERE s.source IN ({_BATCH_IN})),
    nn AS (SELECT new_id, count(*) AS n_new FROM bvals GROUP BY new_id),
    inter AS (
      SELECT b.new_id, i.corpus_id, count(*) AS shared
      FROM bvals b JOIN idx i USING (v)
      GROUP BY b.new_id, i.corpus_id)
    SELECT t.new_id, t.corpus_id, t.shared, nn.n_new
    FROM inter t JOIN nn USING (new_id)
    WHERE t.shared >= {_AUD_MIN_SHARED}
      AND t.shared * {_AUD_CONT_DEN} >= nn.n_new * {_AUD_CONT_NUM}
    """


@register("mm_audio_dedup_incremental", oracle=_audio_incr_oracle())
def mm_audio_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checked end-to-end run of the incremental audio probe:
    the corpus split (sources outside the batch set) freezes its
    df-capped shingle index once per process; the batch split
    fingerprints itself and probes the index.  The oracle re-derives
    the split, the build-time stop-shingle rule, and the probe
    arithmetic in one SQL pipeline."""
    from .dedup import _BATCH_SRCS

    d = table(spark, sf_dir, "documents")
    payload = F.col("text").cast("binary").alias("payload")
    corpus_p = d.filter(~F.col("source").isin(*_BATCH_SRCS)).select(
        "doc_id", payload
    )
    batch_p = d.filter(F.col("source").isin(*_BATCH_SRCS)).select(
        "doc_id", payload
    )
    idx = build_once(
        "audidx", sf_dir, lambda out: build_audio_shingle_index(spark, corpus_p, out)
    )
    return audio_dedup_incremental(spark, batch_p, idx)


class AudioIndexStore:
    """Segment-committed audio shingle index for a ROLLING corpus — the
    audio twin of dedup.SpanIndexStore: the df-capped shingle artifact
    lives as version-named committed segments (``seg_*`` with parquet's
    ``_SUCCESS`` written last — torn writes are invisible), and every
    admitted batch appends ONE segment holding its ADMITTED tracks'
    shingles (rejected dups contribute nothing; the originals they
    duplicate are already indexed by definition).

    ``probe_admit(batch, tag)`` is deterministic-idempotent: the
    verdict is a pure function of (batch, committed segments minus the
    tag's own), and a replayed tag skips its already-committed segment
    — the streaming sink rides that with batch-id tags, giving
    exactly-once admission under foreachBatch's at-least-once
    redelivery.  The df-cap is enforced per segment; a value can drift
    over the cap ACROSS segments (each under cap locally), which
    ``compact()`` re-caps GLOBALLY while also folding the micro-batch
    segments into ~128 MB files (segstore.compact_segments — see its
    quiescence contract)."""

    def __init__(self, spark: SparkSession, path: str):
        import os

        self.spark = spark
        self.path = path
        os.makedirs(path, exist_ok=True)

    def _seg_dir(self, tag: str) -> str:
        import os

        return os.path.join(self.path, f"seg_{tag}")

    def _segments(self) -> "list[str]":
        from ..segstore import list_segments

        return list_segments(self.path)

    def compact(self) -> int:
        """Fold all committed segments into one, re-applying the
        stop-shingle df rule over the MERGED rows (a value under the
        per-segment cap in every segment but over it globally is
        dropped here).  Run at a quiescent point only."""
        from ..segstore import compact_segments

        def recap(df: DataFrame) -> DataFrame:
            kept = df.groupBy("v").agg(F.count(F.lit(1)).alias("df")).filter(
                F.col("df") <= _AUD_MAXDF
            )
            return df.join(kept.select("v"), "v").select("doc_id", "v")

        return compact_segments(self.spark, self.path, recap)

    def shingles(self, exclude_tag: "str | None" = None) -> DataFrame:
        segs = [
            p
            for p in self._segments()
            if exclude_tag is None or not p.endswith(f"seg_{exclude_tag}")
        ]
        if not segs:
            return local_rows_df(self.spark, [], "doc_id bigint, v bigint")
        return self.spark.read.parquet(*segs).select("doc_id", "v")

    def build(self, p: DataFrame) -> None:
        """Base corpus segment (idempotent under a replayed build)."""
        import os

        seg = self._seg_dir("base")
        if not os.path.exists(os.path.join(seg, "_SUCCESS")):
            build_audio_shingle_index(self.spark, p, seg)

    def probe_admit(self, batch_p: DataFrame, tag: str) -> DataFrame:
        """Probe the batch against every committed segment (excluding
        the tag's own — so a post-crash replay sees the identical index
        the original run saw), commit the ADMITTED tracks' df-capped
        shingles as segment ``tag``, and return the per-track
        disposition (doc_id, n_shingles, is_dup).  A track with no
        shingles (too short) admits by definition — it can never pair."""
        import os

        from ..cachescope import scoped_local_checkpoint

        nv = audio_shingles_from_payloads(batch_p)
        n_tab = nv.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_new"))
        nb = nv.join(n_tab, "doc_id").select(
            F.col("doc_id").alias("new_id"), "v", "n_new"
        )
        corpus = self.shingles(exclude_tag=tag).select(
            F.col("doc_id").alias("corpus_id"), "v"
        )
        dup_ids = (
            corpus.join(nb, "v")
            .groupBy("new_id", "corpus_id")
            .agg(
                F.count(F.lit(1)).alias("shared"),
                F.any_value("n_new").alias("n_new"),
            )
            .filter(
                (F.col("shared") >= _AUD_MIN_SHARED)
                & (
                    F.col("shared") * _AUD_CONT_DEN
                    >= F.col("n_new") * _AUD_CONT_NUM
                )
            )
            .select(F.col("new_id").alias("doc_id"))
            .distinct()
            .withColumn("is_dup", F.lit(True))
        )
        # eager checkpoint BEFORE writing under self.path: the segment
        # append writes where the probe's lazy plan reads (the
        # SpanIndexStore read-then-write discipline)
        disp = scoped_local_checkpoint(
            batch_p.select("doc_id")
            .join(
                n_tab.withColumnRenamed("n_new", "n_shingles"), "doc_id", "left"
            )
            .join(dup_ids, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
                F.coalesce("is_dup", F.lit(False)).alias("is_dup"),
            )
        )
        seg = self._seg_dir(tag)
        if not os.path.exists(os.path.join(seg, "_SUCCESS")):
            admitted = nv.join(
                disp.filter(~F.col("is_dup")).select("doc_id"), "doc_id"
            )
            kept = admitted.groupBy("v").agg(
                F.count(F.lit(1)).alias("df")
            ).filter(F.col("df") <= _AUD_MAXDF)
            admitted.join(kept.select("v"), "v").write.mode(
                "overwrite"
            ).parquet(seg)
        return disp


def _make_audio_sink(store: AudioIndexStore, out_dir: str):
    """Idempotent foreachBatch sink for streaming audio admission: the
    probe-and-commit is deterministic-idempotent per batch tag, and the
    disposition lands in a batch-keyed dir (overwrite — a redelivered
    batch rewrites identical rows), so the fold is exactly-once under
    foreachBatch's at-least-once redelivery."""
    import os

    def _sink(batch_df, batch_id):  # noqa: ANN001 — foreachBatch contract
        from ..cachescope import release_scoped_caches

        disp = store.probe_admit(batch_df, f"b{batch_id:08d}")
        disp.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch={batch_id:08d}")
        )
        release_scoped_caches()

    return _sink


def admit_audio_stream(
    spark: SparkSession,
    source_dir: str,
    state_path: str,
    checkpoint_dir: str,
    out_dir: str,
):
    """Streaming audio-dedup admission: a file stream of
    (doc_id, payload) tracks probes the rolling shingle index per
    micro-batch — a gain-changed or trimmed re-upload of ANY
    previously admitted track rejects, fresh tracks admit and their
    shingles commit as the batch's segment.  Per-batch cost is the
    batch fingerprint pass + one index scan; corpus audio is never
    re-decoded.  Returns the ready DataStreamWriter (caller
    .start()s it)."""
    store = AudioIndexStore(spark, state_path)
    return (
        spark.readStream.schema("doc_id bigint, payload binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
        .writeStream.foreachBatch(_make_audio_sink(store, out_dir))
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )


def build_image_band_index(
    spark: SparkSession, fp: DataFrame, out_path: str
) -> None:
    """Persist the corpus's df-capped (doc_id, dhash, b, v) band rows —
    the write-once LSH index for incremental image dedup (the
    dedup_minhash_incremental band-table discipline on perceptual
    hashes): each new crawl batch probes this instead of re-banding
    the corpus.  Both hub caps are baked in at BUILD time (the
    build_audio_shingle_index discipline): hash values shared by
    > _MM_MAXDF docs (a blank image across millions) and band buckets
    holding > _MM_BAND_MAXDF distinct hashes are dropped, so a hub can
    never flood a future probe's candidate join."""
    keph = fp.groupBy("dhash").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= _MM_MAXDF
    )
    fpk = fp.join(keph.select("dhash"), "dhash")
    bandmask = (1 << _CAP_BAND_BITS) - 1
    bands = fpk.select(
        "doc_id",
        "dhash",
        F.posexplode(
            F.array(*[
                F.expr(f"shiftright(dhash, {_CAP_BAND_BITS * b}) & {bandmask}")
                for b in range(_CAP_BANDS)
            ])
        ).alias("b", "v"),
    )
    keepb = bands.groupBy("b", "v").agg(
        F.countDistinct("dhash").alias("nh")
    ).filter(F.col("nh") <= _MM_BAND_MAXDF)
    bands.join(keepb.select("b", "v"), ["b", "v"]).write.mode(
        "overwrite"
    ).parquet(out_path)


def image_dedup_incremental(
    spark: SparkSession, new_fp: DataFrame, index_path: str
) -> DataFrame:
    """Near-dup images between a NEW batch's fingerprints and the
    persisted corpus band index: band the batch (4 x 12-bit keys per
    hash), join the index scan on (b, v), verify candidates by exact
    hamming — (new_id, corpus_id, hamming).  Cost scales with the
    batch; corpus pixels are never re-decoded (the probe touches only
    8-byte hashes)."""
    from .dedup import _probe_hint

    bandmask = (1 << _CAP_BAND_BITS) - 1
    nb = new_fp.select(
        F.col("doc_id").alias("new_id"),
        F.col("dhash").alias("hn"),
        F.posexplode(
            F.array(*[
                F.expr(f"shiftright(dhash, {_CAP_BAND_BITS * b}) & {bandmask}")
                for b in range(_CAP_BANDS)
            ])
        ).alias("b", "v"),
    )
    corpus = spark.read.parquet(index_path).select(
        F.col("doc_id").alias("corpus_id"), F.col("dhash").alias("hc"), "b", "v"
    )
    cand = (
        corpus.join(_probe_hint(nb), ["b", "v"])
        .filter(F.col("new_id") != F.col("corpus_id"))
        .select("new_id", "corpus_id", "hn", "hc")
        .distinct()
    )
    return cand.filter(F.expr(f"bit_count(hn ^ hc) <= {_CAP_HAM_T}")).select(
        "new_id",
        "corpus_id",
        F.expr("CAST(bit_count(hn ^ hc) AS INT)").alias("hamming"),
    )


def _image_incr_oracle() -> str:
    from .dedup import _BATCH_IN

    bandmask = (1 << _CAP_BAND_BITS) - 1
    return f"""
    WITH fp AS (SELECT doc_id, source, {_dhash_fake_terms('duckdb')} AS dhash
                FROM documents),
    cfp AS (SELECT doc_id, dhash FROM fp WHERE source NOT IN ({_BATCH_IN})),
    keph AS (SELECT dhash FROM cfp GROUP BY dhash
             HAVING count(*) <= {_MM_MAXDF}),
    cb0 AS (
      SELECT c.doc_id AS corpus_id, c.dhash AS hc, b,
             (c.dhash >> ({_CAP_BAND_BITS} * b)) & {bandmask} AS v
      FROM cfp c JOIN keph USING (dhash),
           (SELECT unnest(range(0, {_CAP_BANDS})) AS b)),
    keepb AS (SELECT b, v FROM cb0 GROUP BY b, v
              HAVING count(DISTINCT hc) <= {_MM_BAND_MAXDF}),
    cb AS (SELECT cb0.* FROM cb0 JOIN keepb USING (b, v)),
    nb AS (
      SELECT doc_id AS new_id, dhash AS hn, b,
             (dhash >> ({_CAP_BAND_BITS} * b)) & {bandmask} AS v
      FROM fp, (SELECT unnest(range(0, {_CAP_BANDS})) AS b)
      WHERE source IN ({_BATCH_IN})),
    cand AS (
      SELECT DISTINCT new_id, corpus_id, hn, hc
      FROM nb JOIN cb USING (b, v)
      WHERE new_id <> corpus_id)
    SELECT new_id, corpus_id,
           CAST(bit_count(xor(hn, hc)) AS INTEGER) AS hamming
    FROM cand
    WHERE bit_count(xor(hn, hc)) <= {_CAP_HAM_T}
    """


@register("mm_image_dedup_incremental", oracle=_image_incr_oracle())
def mm_image_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checked incremental image dedup: the corpus split freezes
    its perceptual-hash band index once per process; the batch split
    fingerprints itself (one codegen projection) and probes the index
    — band-bucket candidates, exact-hamming verify.  Completes the
    incremental family across the modality matrix (text shingles,
    MinHash bands, audio shingles, IVF cells — and now image bands).
    The oracle re-derives the split, the banding, and the hamming
    verify in one SQL pipeline."""
    from .dedup import _BATCH_SRCS

    d = table(spark, sf_dir, "documents")
    fp = _dhash_fake_frame(d, ["doc_id", "source"])
    corpus_fp = fp.filter(~F.col("source").isin(*_BATCH_SRCS)).select(
        "doc_id", "dhash"
    )
    batch_fp = fp.filter(F.col("source").isin(*_BATCH_SRCS)).select(
        "doc_id", "dhash"
    )
    idx = build_once(
        "imgidx", sf_dir, lambda out: build_image_band_index(spark, corpus_fp, out)
    )
    return image_dedup_incremental(spark, batch_fp, idx)


class ImageBandIndexStore:
    """Segment-committed perceptual-hash band index for a ROLLING image
    corpus — the image twin of AudioIndexStore: each admitted batch
    appends one _SUCCESS-fenced segment of (doc_id, dhash, b, v) band
    rows (both hub caps baked in per segment by build_image_band_index);
    probes exclude the tag's own segment, so ``probe_admit`` is
    deterministic-idempotent and the streaming sink below is
    exactly-once under foreachBatch redelivery.  ``compact()`` folds
    segments and re-applies both caps GLOBALLY (per-segment caps drift
    across segments)."""

    def __init__(self, spark: SparkSession, path: str):
        import os

        self.spark = spark
        self.path = path
        os.makedirs(path, exist_ok=True)

    def _seg_dir(self, tag: str) -> str:
        import os

        return os.path.join(self.path, f"seg_{tag}")

    def _segments(self) -> "list[str]":
        from ..segstore import list_segments

        return list_segments(self.path)

    def compact(self) -> int:
        """Fold all committed segments into one, re-applying the hash
        df-cap and the band-bucket cap over the MERGED rows.  Run at a
        quiescent point only (segstore contract)."""
        from ..segstore import compact_segments

        def recap(df: DataFrame) -> DataFrame:
            keph = df.groupBy("dhash").agg(
                F.countDistinct("doc_id").alias("df")
            ).filter(F.col("df") <= _MM_MAXDF)
            r1 = df.join(keph.select("dhash"), "dhash")
            keepb = r1.groupBy("b", "v").agg(
                F.countDistinct("dhash").alias("nh")
            ).filter(F.col("nh") <= _MM_BAND_MAXDF)
            return r1.join(keepb.select("b", "v"), ["b", "v"]).select(
                "doc_id", "dhash", "b", "v"
            )

        return compact_segments(self.spark, self.path, recap)

    def bands(self, exclude_tag: "str | None" = None) -> DataFrame:
        segs = [
            p
            for p in self._segments()
            if exclude_tag is None or not p.endswith(f"seg_{exclude_tag}")
        ]
        if not segs:
            return local_rows_df(
                self.spark, [], "doc_id bigint, dhash bigint, b int, v bigint"
            )
        return self.spark.read.parquet(*segs).select("doc_id", "dhash", "b", "v")

    def build(self, fp: DataFrame) -> None:
        import os

        seg = self._seg_dir("base")
        if not os.path.exists(os.path.join(seg, "_SUCCESS")):
            build_image_band_index(self.spark, fp, seg)

    def probe_admit(self, batch_fp: DataFrame, tag: str) -> DataFrame:
        """Probe the batch's fingerprints against every committed
        segment (excluding the tag's own), commit the ADMITTED images'
        band rows as segment ``tag``, return (doc_id, is_dup).  Dup =
        any corpus hash within hamming {t} found via band buckets
        (complete by pigeonhole for t < bands)."""
        import os

        from ..cachescope import scoped_local_checkpoint
        from .dedup import _probe_hint

        bandmask = (1 << _CAP_BAND_BITS) - 1
        nb = batch_fp.select(
            F.col("doc_id").alias("new_id"),
            F.col("dhash").alias("hn"),
            F.posexplode(
                F.array(*[
                    F.expr(
                        f"shiftright(dhash, {_CAP_BAND_BITS * b}) & {bandmask}"
                    )
                    for b in range(_CAP_BANDS)
                ])
            ).alias("b", "v"),
        )
        corpus = self.bands(exclude_tag=tag).select(
            F.col("doc_id").alias("corpus_id"), F.col("dhash").alias("hc"), "b", "v"
        )
        dup_ids = (
            corpus.join(_probe_hint(nb), ["b", "v"])
            .filter(F.col("new_id") != F.col("corpus_id"))
            .filter(F.expr(f"bit_count(hn ^ hc) <= {_CAP_HAM_T}"))
            .select(F.col("new_id").alias("doc_id"))
            .distinct()
            .withColumn("is_dup", F.lit(True))
        )
        disp = scoped_local_checkpoint(
            batch_fp.select("doc_id")
            .join(dup_ids, "doc_id", "left")
            .select(
                "doc_id", F.coalesce("is_dup", F.lit(False)).alias("is_dup")
            )
        )
        seg = self._seg_dir(tag)
        if not os.path.exists(os.path.join(seg, "_SUCCESS")):
            admitted = batch_fp.join(
                disp.filter(~F.col("is_dup")).select("doc_id"), "doc_id"
            )
            build_image_band_index(self.spark, admitted, seg)
        return disp


probe_admit_doc = ImageBandIndexStore.probe_admit
probe_admit_doc.__doc__ = probe_admit_doc.__doc__.format(t=_CAP_HAM_T)


def _make_image_sink(store: ImageBandIndexStore, out_dir: str):
    """Idempotent foreachBatch sink for streaming image admission (the
    audio sink's contract: deterministic probe, fenced segment,
    batch-keyed overwrite landing)."""
    import os

    def _sink(batch_df, batch_id):  # noqa: ANN001 — foreachBatch contract
        from ..cachescope import release_scoped_caches

        disp = store.probe_admit(batch_df, f"b{batch_id:08d}")
        disp.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch={batch_id:08d}")
        )
        release_scoped_caches()

    return _sink


def admit_image_stream(
    spark: SparkSession,
    source_dir: str,
    state_path: str,
    checkpoint_dir: str,
    out_dir: str,
):
    """Streaming image-dedup admission: a file stream of
    (doc_id, dhash) fingerprints — produced upstream by the one-pass
    hashing stage (mm_dhash_fingerprint on the fake corpus,
    `dhash_image` on real bytes) — probes the rolling band index per
    micro-batch; perceptual near-copies (re-encoded, brightened) of
    ANY previously admitted image reject, fresh images admit and their
    band rows commit as the batch's segment.  Only 8-byte hashes ever
    stream; pixels stay wherever they were decoded."""
    store = ImageBandIndexStore(spark, state_path)
    return (
        spark.readStream.schema("doc_id bigint, dhash bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
        .writeStream.foreachBatch(_make_image_sink(store, out_dir))
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )


class VideoKeyframeIndexStore:
    """Segment-committed keyframe-hash index for a ROLLING video corpus
    — completes the streaming admission matrix (text spans/clusters,
    audio shingles, image bands): each admitted batch appends one
    fenced segment of its videos' DISTINCT keyframe dHashes; a probe
    bands the batch's keyframes, hamming-verifies candidates, and
    takes the video-dedup containment vote (matched keyframes >= half
    the smaller set), so a re-encoded/brightened/TRIMMED re-upload of
    ANY previously admitted footage rejects.  Segments are
    hash-df-capped at commit (hub keyframes dropped); ``compact()``
    folds segments and re-applies the cap GLOBALLY."""

    def __init__(self, spark: SparkSession, path: str):
        import os

        self.spark = spark
        self.path = path
        os.makedirs(path, exist_ok=True)

    def _seg_dir(self, tag: str) -> str:
        import os

        return os.path.join(self.path, f"seg_{tag}")

    def _segments(self) -> "list[str]":
        from ..segstore import list_segments

        return list_segments(self.path)

    def compact(self) -> int:
        """Fold all committed segments into one, re-applying the
        keyframe-hash df-cap over the MERGED rows.  Run at a quiescent
        point only (segstore contract)."""
        from ..segstore import compact_segments

        def recap(df: DataFrame) -> DataFrame:
            keph = df.groupBy("dhash").agg(
                F.count(F.lit(1)).alias("df")
            ).filter(F.col("df") <= _MM_MAXDF)
            return df.join(keph.select("dhash"), "dhash").select(
                "doc_id", "dhash"
            )

        return compact_segments(self.spark, self.path, recap)

    def keyframes(self, exclude_tag: "str | None" = None) -> DataFrame:
        segs = [
            p
            for p in self._segments()
            if exclude_tag is None or not p.endswith(f"seg_{exclude_tag}")
        ]
        if not segs:
            return local_rows_df(self.spark, [], "doc_id bigint, dhash bigint")
        return self.spark.read.parquet(*segs).select("doc_id", "dhash")

    @staticmethod
    def _kf_sets(fh: DataFrame) -> DataFrame:
        """(doc_id, frame_idx, dhash) -> distinct keyframe hash set."""
        return (
            video_keyframes_from_fingerprints(fh)
            .filter(F.col("is_keyframe"))
            .select("doc_id", "dhash")
            .distinct()
        )

    def build(self, fh: DataFrame) -> None:
        import os

        seg = self._seg_dir("base")
        if not os.path.exists(os.path.join(seg, "_SUCCESS")):
            # hash-df cap baked in at build time (the audio index rule)
            _capped_kf_sets(fh).write.mode("overwrite").parquet(seg)

    def probe_admit(self, batch_fh: DataFrame, tag: str) -> DataFrame:
        """Probe the batch's per-frame fingerprints against every
        committed segment (excluding the tag's own), commit the
        ADMITTED videos' keyframe sets as segment ``tag``, return
        (doc_id, n_keyframes, is_dup)."""
        import os

        from ..cachescope import scoped_local_checkpoint, scoped_persist
        from .dedup import _probe_hint

        bandmask = (1 << _CAP_BAND_BITS) - 1

        def banded(kf: DataFrame, idc: str, hc: str) -> DataFrame:
            return kf.select(
                F.col("doc_id").alias(idc),
                F.col("dhash").alias(hc),
                F.posexplode(
                    F.array(*[
                        F.expr(
                            f"shiftright(dhash, {_CAP_BAND_BITS * b}) & {bandmask}"
                        )
                        for b in range(_CAP_BANDS)
                    ])
                ).alias("b", "v"),
            )

        # read by the size aggregate AND the band probe
        nk = scoped_persist(self._kf_sets(batch_fh))
        sizes = nk.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_k"))
        corpus = self.keyframes(exclude_tag=tag)
        csizes = corpus.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_c"))
        # segments are hash-df-capped at commit; the residual hub class
        # (distinct near hashes agreeing on one band value) is dropped
        # here, before the probe join
        cb = banded(corpus, "corpus_id", "hc")
        keepb = cb.groupBy("b", "v").agg(
            F.countDistinct("hc").alias("nh")
        ).filter(F.col("nh") <= _MM_BAND_MAXDF)
        matched = (
            cb.join(keepb.select("b", "v"), ["b", "v"])
            .join(_probe_hint(banded(nk, "new_id", "hn")), ["b", "v"])
            .filter(F.expr(f"bit_count(hn ^ hc) <= {_CAP_HAM_T}"))
            .select("new_id", "corpus_id", "hn")
            .distinct()
            .groupBy("new_id", "corpus_id")
            .agg(F.count(F.lit(1)).alias("m"))
        )
        dup_ids = (
            matched.join(
                sizes.select(F.col("doc_id").alias("new_id"), "n_k"), "new_id"
            )
            .join(
                csizes.select(F.col("doc_id").alias("corpus_id"), "n_c"),
                "corpus_id",
            )
            .filter(
                F.col("m") * _VID_CONT_DEN
                >= F.least("n_k", "n_c") * _VID_CONT_NUM
            )
            .select(F.col("new_id").alias("doc_id"))
            .distinct()
            .withColumn("is_dup", F.lit(True))
        )
        disp = scoped_local_checkpoint(
            batch_fh.select("doc_id")
            .distinct()
            .join(
                sizes.withColumnRenamed("n_k", "n_keyframes"), "doc_id", "left"
            )
            .join(dup_ids, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("n_keyframes", F.lit(0)).alias("n_keyframes"),
                F.coalesce("is_dup", F.lit(False)).alias("is_dup"),
            )
        )
        seg = self._seg_dir(tag)
        if not os.path.exists(os.path.join(seg, "_SUCCESS")):
            admitted = nk.join(
                disp.filter(~F.col("is_dup")).select("doc_id"), "doc_id"
            )
            # per-segment hash-df cap (the audio segment-commit rule);
            # cross-segment drift is re-capped by compact()
            keph = admitted.groupBy("dhash").agg(
                F.count(F.lit(1)).alias("df")
            ).filter(F.col("df") <= _MM_MAXDF)
            admitted.join(keph.select("dhash"), "dhash").write.mode(
                "overwrite"
            ).parquet(seg)
        return disp


def _make_video_sink(store: VideoKeyframeIndexStore, out_dir: str):
    """Idempotent foreachBatch sink (the audio/image sinks' contract)."""
    import os

    def _sink(batch_df, batch_id):  # noqa: ANN001 — foreachBatch contract
        from ..cachescope import release_scoped_caches

        disp = store.probe_admit(batch_df, f"b{batch_id:08d}")
        disp.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch={batch_id:08d}")
        )
        release_scoped_caches()

    return _sink


def admit_video_stream(
    spark: SparkSession,
    source_dir: str,
    state_path: str,
    checkpoint_dir: str,
    out_dir: str,
):
    """Streaming video-dedup admission: a file stream of per-frame
    fingerprints (doc_id, frame_idx, dhash) — hashed upstream by the
    frame-decode stage — collapses each video to its keyframe set and
    probes the rolling index per micro-batch; re-encoded, brightened,
    or trimmed re-uploads of ANY previously admitted footage reject
    (hamming bands + the containment vote), fresh videos admit and
    their keyframe sets commit as the batch's segment.  Only 8-byte
    hashes ever stream; pixels stay at the decode stage."""
    store = VideoKeyframeIndexStore(spark, state_path)
    return (
        spark.readStream.schema("doc_id bigint, frame_idx int, dhash bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
        .writeStream.foreachBatch(_make_video_sink(store, out_dir))
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )


def _capped_kf_sets(fh: DataFrame) -> DataFrame:
    """Per-frame fingerprints -> distinct keyframe hash sets with the
    hub df rule baked in: hash values shared by > _MM_MAXDF of the
    input's docs are dropped (the build_audio_shingle_index build-time
    discipline), so a black frame can never flood a future probe."""
    from ..cachescope import scoped_persist

    # read twice (df aggregate + kept join) atop the frame chain
    kf = scoped_persist(
        video_keyframes_from_fingerprints(fh)
        .filter(F.col("is_keyframe"))
        .select("doc_id", "dhash")
        .distinct()
    )
    keph = kf.groupBy("dhash").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= _MM_MAXDF
    )
    return kf.join(keph.select("dhash"), "dhash")


def video_dedup_incremental(
    spark: SparkSession, new_fh: DataFrame, index_path: str
) -> DataFrame:
    """Video near-dups between a NEW batch's frame fingerprints and a
    persisted corpus keyframe index: collapse the batch to keyframe
    sets, band + hamming-verify against the index scan, and keep
    (new, corpus) pairs where matched keyframes cover half the SMALLER
    set (the mm_video_dedup containment vote, so a trimmed re-upload
    still pairs with its longer source and vice versa).  Cost scales
    with the batch; corpus frames are never re-decoded.  Hub immunity:
    the index is hash-df-capped at BUILD time and hub band buckets
    (> _MM_BAND_MAXDF distinct corpus hashes on one value) are dropped
    before the probe join, so a corpus hub can never flood a batch's
    candidates; the batch side stays uncapped (micro-batch-bounded,
    the audio incremental precedent) and n_corpus counts the index's
    KEPT hashes so the vote operands agree."""
    from ..cachescope import scoped_persist
    from .dedup import _probe_hint

    bandmask = (1 << _CAP_BAND_BITS) - 1

    def banded(kf: DataFrame, idc: str, hc: str) -> DataFrame:
        return kf.select(
            F.col("doc_id").alias(idc),
            F.col("dhash").alias(hc),
            F.posexplode(
                F.array(*[
                    F.expr(
                        f"shiftright(dhash, {_CAP_BAND_BITS * b}) & {bandmask}"
                    )
                    for b in range(_CAP_BANDS)
                ])
            ).alias("b", "v"),
        )

    nk = scoped_persist(
        video_keyframes_from_fingerprints(new_fh)
        .filter(F.col("is_keyframe"))
        .select("doc_id", "dhash")
        .distinct()
    )
    nsz = nk.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_new"))
    corpus = spark.read.parquet(index_path).select("doc_id", "dhash")
    csz = corpus.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_corpus"))
    cb = banded(corpus, "corpus_id", "hc")
    keepb = cb.groupBy("b", "v").agg(F.countDistinct("hc").alias("nh")).filter(
        F.col("nh") <= _MM_BAND_MAXDF
    )
    matched = (
        cb.join(keepb.select("b", "v"), ["b", "v"])
        .join(_probe_hint(banded(nk, "new_id", "hn")), ["b", "v"])
        .filter(F.expr(f"bit_count(hn ^ hc) <= {_CAP_HAM_T}"))
        .select("new_id", "corpus_id", "hn")
        .distinct()
        .groupBy("new_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    return (
        matched.join(nsz.select(F.col("doc_id").alias("new_id"), "n_new"), "new_id")
        .join(
            csz.select(F.col("doc_id").alias("corpus_id"), "n_corpus"),
            "corpus_id",
        )
        .filter(
            F.col("m") * _VID_CONT_DEN
            >= F.least("n_new", "n_corpus") * _VID_CONT_NUM
        )
        .select("new_id", "corpus_id", "m", "n_new", "n_corpus")
    )


def _video_incr_oracle() -> str:
    from .dedup import _BATCH_IN

    bandmask = (1 << _CAP_BAND_BITS) - 1
    return f"""
    WITH {_vid_fh_cte()},
    kfl AS (
      SELECT doc_id, dhash,
             coalesce(bit_count(xor(dhash,
                 lag(dhash) OVER (PARTITION BY doc_id ORDER BY frame_idx))) > {_VID_HAM_T},
                 TRUE) AS is_keyframe
      FROM fh),
    kf AS (SELECT DISTINCT doc_id, dhash FROM kfl WHERE is_keyframe),
    src AS (SELECT doc_id, source FROM documents),
    ck0 AS (SELECT kf.doc_id AS corpus_id, kf.dhash AS hc FROM kf
            JOIN src USING (doc_id) WHERE src.source NOT IN ({_BATCH_IN})),
    keph AS (SELECT hc FROM ck0 GROUP BY hc HAVING count(*) <= {_MM_MAXDF}),
    ck AS (SELECT ck0.* FROM ck0 JOIN keph USING (hc)),
    nkf AS (SELECT kf.doc_id AS new_id, kf.dhash AS hn FROM kf
            JOIN src USING (doc_id) WHERE src.source IN ({_BATCH_IN})),
    nsz AS (SELECT new_id, count(*) AS n_new FROM nkf GROUP BY new_id),
    csz AS (SELECT corpus_id, count(*) AS n_corpus FROM ck GROUP BY corpus_id),
    cb0 AS (SELECT corpus_id, hc, b, (hc >> ({_CAP_BAND_BITS} * b)) & {bandmask} AS v
            FROM ck, (SELECT unnest(range(0, {_CAP_BANDS})) AS b)),
    keepb AS (SELECT b, v FROM cb0 GROUP BY b, v
              HAVING count(DISTINCT hc) <= {_MM_BAND_MAXDF}),
    cb AS (SELECT cb0.* FROM cb0 JOIN keepb USING (b, v)),
    nb AS (SELECT new_id, hn, b, (hn >> ({_CAP_BAND_BITS} * b)) & {bandmask} AS v
           FROM nkf, (SELECT unnest(range(0, {_CAP_BANDS})) AS b)),
    m AS (
      SELECT new_id, corpus_id, count(DISTINCT hn) AS m
      FROM nb JOIN cb USING (b, v)
      WHERE bit_count(xor(hn, hc)) <= {_CAP_HAM_T}
      GROUP BY new_id, corpus_id)
    SELECT m.new_id, m.corpus_id, CAST(m.m AS BIGINT) AS m,
           CAST(nsz.n_new AS BIGINT) AS n_new,
           CAST(csz.n_corpus AS BIGINT) AS n_corpus
    FROM m JOIN nsz USING (new_id) JOIN csz USING (corpus_id)
    WHERE m.m * {_VID_CONT_DEN} >= least(nsz.n_new, csz.n_corpus) * {_VID_CONT_NUM}
    """


@register("mm_video_dedup_incremental", oracle=_video_incr_oracle())
def mm_video_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checked incremental video dedup — the registered probe
    face completing the incremental family's modality symmetry (audio
    shingles, image bands, video keyframe sets): the corpus split
    freezes its keyframe index once per process; the batch split runs
    the frame chain on ITSELF only and probes the index (band
    candidates, hamming verify, containment vote).  The oracle
    re-derives the split, the keyframe collapse, and the vote in one
    SQL pipeline."""
    from .dedup import _BATCH_SRCS

    d = table(spark, sf_dir, "documents")
    # fh_of duplicated `_vid_fh` inline before the r14 opt round; both
    # splits now share the scene-hashed chain (same rows, 1/rep hash
    # work — see _vid_scene_hashes).
    corpus = d.filter(~F.col("source").isin(*_BATCH_SRCS)).select(
        "doc_id", "text"
    )
    batch = d.filter(F.col("source").isin(*_BATCH_SRCS)).select("doc_id", "text")
    # hash-df cap baked in at build time (the audio index rule)
    idx = build_once(
        "vididx",
        sf_dir,
        lambda out: _capped_kf_sets(_vid_fh(corpus)).write.mode("overwrite").parquet(out),
    )
    return video_dedup_incremental(spark, _vid_fh(batch), idx)


# --- loudness / level analysis over PCM payloads ---------------------------
# The audio-curation gate next to dedup: level statistics (peak dBFS,
# energy, silence and clipping rates) decide normalization gain and
# drop thresholds before a corpus reaches a trainer.

_LOUD_SILENT = 2  # |sample| <= this counts as silence
_LOUD_CLIP = 127  # |sample| >= this counts as clipped
_LOUD_LN10 = 2302585  # round(ln(10) * 1e6) — exact integer constant


def _loudness_oracle() -> str:
    from .corpus_ext import _duck_fixlog

    return f"""
    WITH docs AS (SELECT doc_id, text, length(text) AS n FROM documents),
    samples AS (
      SELECT doc_id, ascii(substring(text, CAST(i AS INTEGER), 1)) - 128 AS x
      FROM (SELECT doc_id, text, unnest(range(1, n + 1)) AS i FROM docs)),
    agg AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_samples,
             CAST(max(abs(x)) AS BIGINT) AS peak,
             CAST(sum(x * x) AS BIGINT) AS sum_sq,
             CAST(sum(CASE WHEN abs(x) <= {_LOUD_SILENT} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_silent,
             CAST(sum(CASE WHEN abs(x) >= {_LOUD_CLIP} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_clip
      FROM samples GROUP BY doc_id),
    lrel AS (SELECT doc_id, greatest(peak, 1) AS num, 128 AS den FROM agg),
    {_duck_fixlog('lrel', key='doc_id', prefix='ld')}
    SELECT a.doc_id, a.n_samples, a.peak, a.sum_sq, a.n_silent, a.n_clip,
           CAST(CASE WHEN w.w * 2000 >= 0 THEN (w.w * 2000) // {_LOUD_LN10}
                     ELSE -((-(w.w * 2000)) // {_LOUD_LN10}) END AS BIGINT)
             AS peak_db_centi
    FROM agg a JOIN ldw w ON a.doc_id = w.doc_id
    """


@register("mm_audio_loudness", oracle=_loudness_oracle())
def mm_audio_loudness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loudness/level analysis over opaque PCM payloads: per track the
    sample count, absolute peak, integer energy (sum of squares),
    silence and clipping counts, and peak level in centi-dBFS
    (20·log10(peak/128)) — everything an audio-curation gate needs to
    set normalization gain and drop silent/clipped takes.

    Scale shape: one Arrow mapInPandas pass per payload (numpy
    vectorized, only 6 small integers cross back per track — the
    mm_audio_resample discipline), then the dB conversion runs JVM-side
    through the engine-version-proof fixed-point log
    (corpus_ext._fixlog_micro) on a (doc, peak, 128) relation: dB =
    20·ln(r)/ln(10) becomes the pure-integer (w·2000) div 2302585 with
    truncation toward zero spelled out identically in both engines.
    All output columns are integers, so the cross-engine check is
    exact."""
    import numpy as np

    from .corpus_ext import _fixlog_micro

    def level(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                x = np.frombuffer(bytes(payload), dtype=np.uint8).astype(np.int64) - 128
                ax = np.abs(x)
                out.append(
                    (
                        doc_id,
                        len(x),
                        int(ax.max(initial=0)),
                        int((x * x).sum()),
                        int((ax <= _LOUD_SILENT).sum()),
                        int((ax >= _LOUD_CLIP).sum()),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=["doc_id", "n_samples", "peak", "sum_sq", "n_silent", "n_clip"],
            )

    from ..cachescope import scoped_persist

    # read twice (fixlog branch + final join): persist, or the Arrow
    # payload-decode pass — the dominant cost — executes twice
    agg = scoped_persist(
        _payloads(spark, sf_dir).mapInPandas(
            level,
            schema=(
                "doc_id bigint, n_samples bigint, peak bigint, sum_sq bigint,"
                " n_silent bigint, n_clip bigint"
            ),
        )
    )
    w = _fixlog_micro(
        agg.select(
            "doc_id", F.greatest("peak", F.lit(1)).alias("num"), F.lit(128).alias("den")
        )
    ).select("doc_id", "w")
    db = F.expr(
        f"CASE WHEN w * 2000 >= 0 THEN (w * 2000) div {_LOUD_LN10}"
        f" ELSE -((-(w * 2000)) div {_LOUD_LN10}) END"
    ).cast("long")
    return agg.join(w, "doc_id").select(
        "doc_id",
        "n_samples",
        "peak",
        "sum_sq",
        "n_silent",
        "n_clip",
        db.alias("peak_db_centi"),
    )
