"""The dependency-free image codec: real BMP/Netpbm bytes decode
end-to-end through the Arrow mapInPandas path with the fake decoder
DISABLED — the NotImplementedError seam is unreachable for supported
formats — while arbitrary text can never false-positive.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from oxidsql_spark.operators import multimodal
from oxidsql_spark.operators.multimodal import decode_image, decode_image_stub


def _bmp(w: int, h: int) -> bytes:
    raster = bytes(((w * 3 + 3) // 4 * 4) * abs(h))  # row-padded BGR
    total = 54 + len(raster)
    return (
        b"BM"
        + total.to_bytes(4, "little")
        + b"\x00" * 4
        + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + b"\x00" * 24
        + raster
    )


FIXTURES = [
    (_bmp(17, 9), 17, 9),
    (_bmp(5, -4), 5, 4),  # top-down BMP: negative height
    (b"P6\n# a comment\n4 3\n255\n" + bytes(4 * 3 * 3), 4, 3),
    (b"P6 2 2 65535 " + bytes(2 * 2 * 3 * 2), 2, 2),  # 16-bit maxval
    (b"P5 4 3 255 " + bytes(4 * 3), 4, 3),
    (b"P3 2 2 9 0 1 2 3 4 5 6 7 8 9 0 1", 2, 2),
    (b"P2 3 1 7 0 3 7", 3, 1),
]


@pytest.mark.parametrize("payload,w,h", FIXTURES)
def test_decode_image_formats(payload, w, h):
    got = decode_image(payload)
    assert got == {"width": w, "height": h, "n_frames": 1}


@pytest.mark.parametrize(
    "payload",
    [
        b"",
        b"BMP files start with BM but this is text",  # fsize mismatch
        b"P6 is a binary netpbm format",  # non-digit header token
        b"P3 2 2 9 0 1 2 3",  # too few ASCII samples
        b"P5 4 3 255 " + bytes(11),  # raster one byte short
        b"P5 4 3 255 " + bytes(13),  # raster one byte long
        "ordinary document text".encode(),
    ],
)
def test_decode_image_rejects_non_images(payload):
    assert decode_image(payload) is None


def test_stub_uses_real_codec_without_fake(monkeypatch):
    """With the fake decoder disabled, supported formats still decode —
    the NotImplementedError path is unreachable for the fixtures — and
    unknown formats raise (the documented plug-a-real-codec seam)."""
    monkeypatch.setattr(multimodal, "FAKE_DECODE", False)
    for payload, w, h in FIXTURES:
        assert decode_image_stub(payload) == {"width": w, "height": h, "n_frames": 1}
    with pytest.raises(NotImplementedError):
        decode_image_stub(b"ordinary document text")


def test_real_images_through_mapinpandas(spark, monkeypatch):
    """End-to-end: real image payloads cross the Arrow boundary and
    decode in batches with NO fake fallback — the exact plumbing
    mm_decode_features runs, on real bytes."""
    monkeypatch.setattr(multimodal, "FAKE_DECODE", False)
    import pandas as pd

    rows = [(i, payload) for i, (payload, _, _) in enumerate(FIXTURES)]
    df = spark.createDataFrame(rows, "doc_id bigint, payload binary")

    def decode_batches(batches):
        for pdf in batches:
            feats = [decode_image_stub(bytes(b)) for b in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": [f["width"] for f in feats],
                    "height": [f["height"] for f in feats],
                    "n_frames": [f["n_frames"] for f in feats],
                }
            )

    out = df.mapInPandas(
        decode_batches, "doc_id bigint, width int, height int, n_frames int"
    )
    got = {r["doc_id"]: (r["width"], r["height"]) for r in out.collect()}
    assert got == {i: (w, h) for i, (_, w, h) in enumerate(FIXTURES)}


def _bmp_px(pixels):
    """24-bit BMP from a row-major [[(r,g,b),...]] pixel matrix
    (written bottom-up, per the format)."""
    h, w = len(pixels), len(pixels[0])
    stride = (w * 3 + 3) // 4 * 4
    raster = bytearray()
    for row in reversed(pixels):
        line = bytearray()
        for r, g, b in row:
            line += bytes((b, g, r))
        line += bytes(stride - len(line))
        raster += line
    total = 54 + len(raster)
    return (
        b"BM" + total.to_bytes(4, "little") + bytes(4) + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little") + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True) + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little") + bytes(24)
        + bytes(raster)
    )


def test_dhash_brightness_invariance_and_discrimination():
    """The perceptual property exact checksums lack: a uniformly
    brightened copy of an image keeps (almost exactly) the same dHash,
    while a structurally different image lands far away in hamming
    distance — the basis of near-dup image dedup."""
    import random

    from oxidsql_spark.operators.multimodal import dhash_image

    rnd = random.Random(7)
    w, h = 36, 32
    img = [[(rnd.randrange(200), rnd.randrange(200), rnd.randrange(200))
            for _ in range(w)] for _ in range(h)]
    bright = [[(r + 30, g + 30, b + 30) for r, g, b in row] for row in img]
    other = [[(rnd.randrange(200), rnd.randrange(200), rnd.randrange(200))
              for _ in range(w)] for _ in range(h)]

    h0 = dhash_image(_bmp_px(img))
    h1 = dhash_image(_bmp_px(bright))
    h2 = dhash_image(_bmp_px(other))
    assert h0 is not None and h1 is not None and h2 is not None
    ham01 = bin(h0 ^ h1).count("1")
    ham02 = bin(h0 ^ h2).count("1")
    assert ham01 <= 4, f"brightness shift moved dHash by {ham01} bits"
    assert ham02 >= 16, f"unrelated images only {ham02} bits apart"
    # byte-level checksum would see all three as totally different
    assert _bmp_px(img) != _bmp_px(bright)


def test_dhash_same_across_formats():
    """The same grayscale content encoded as P5 (binary) and P2 (ASCII)
    must hash identically — dHash is a function of the pixels, not the
    container."""
    import random

    from oxidsql_spark.operators.multimodal import dhash_image

    rnd = random.Random(11)
    w, h = 18, 16
    vals = [rnd.randrange(256) for _ in range(w * h)]
    p5 = f"P5 {w} {h} 255 ".encode() + bytes(vals)
    p2 = f"P2 {w} {h} 255 ".encode() + " ".join(map(str, vals)).encode()
    h5, h2 = dhash_image(p5), dhash_image(p2)
    assert h5 is not None and h5 == h2
    assert dhash_image(b"not an image at all") is None


def test_audio_resample_suppresses_aliasing():
    """The windowed-sinc anti-aliasing property on synthetic tones: a
    tone ABOVE the new Nyquist (0.4 cycles/sample > 0.25) must come out
    of the 2:1 resampler heavily attenuated, while a passband tone
    (0.1 cycles/sample) survives near-unchanged — the property plain
    decimation (the old stub) maximally violates, since it ALIASES the
    0.4 tone to a full-strength 0.2 tone."""
    import numpy as np

    from oxidsql_spark.operators.multimodal import resample_pcm

    n = 4096
    t = np.arange(n)

    def rms(x):
        x = np.asarray(x, dtype=np.float64)
        return float(np.sqrt((x**2).mean())) if len(x) else 0.0

    amp = 100.0
    pass_tone = np.round(amp * np.cos(2 * np.pi * 0.1 * t)).astype(np.int64)
    stop_tone = np.round(amp * np.cos(2 * np.pi * 0.4 * t)).astype(np.int64)

    y_pass = resample_pcm(pass_tone) / 32768.0
    y_stop = resample_pcm(stop_tone) / 32768.0
    # passband survives (within windowing ripple)
    assert rms(y_pass) > 0.8 * rms(pass_tone)
    # stopband is suppressed at least ~26 dB relative to the passband
    assert rms(y_stop) < 0.05 * rms(y_pass), (rms(y_stop), rms(y_pass))
    # the stub behavior this replaced: plain decimation keeps the
    # aliased tone at FULL strength
    assert rms(stop_tone[::2]) > 0.9 * rms(stop_tone)


def test_audio_resample_output_length_and_dc():
    """Length contract ceil(n/2) for even/odd/empty inputs, and the
    filter's DC gain: a constant signal resamples to (nearly) the same
    constant — sum of taps ~ 2^15."""
    import numpy as np

    from oxidsql_spark.operators.multimodal import _AUDIO_TAPS, resample_pcm

    for n in (0, 1, 2, 7, 8, 101):
        y = resample_pcm(np.ones(n, dtype=np.int64))
        assert len(y) == (n + 1) // 2, n
    assert abs(sum(_AUDIO_TAPS) - 32768) <= 64  # DC gain ~ 1.0
    x = np.full(512, 50, dtype=np.int64)
    mid = resample_pcm(x)[40:-40] / 32768.0
    assert np.allclose(mid, 50.0, atol=0.2)


def test_caption_dedup_over_real_image_bytes(spark):
    """The image/text joint pipeline on REAL pixels: a brightened copy
    of an image must land in its original's cluster (perceptual, not
    byte, identity) and only the LONGEST caption of the pair survives;
    unrelated images keep their own captions.  Drives the same
    caption_dedup_from_fingerprints chain the registered query runs,
    fed by dhash_image over real BMP bytes instead of the
    oracle-expressible fake."""
    import random

    from oxidsql_spark.operators.multimodal import (
        caption_dedup_from_fingerprints,
        dhash_image,
    )

    rnd = random.Random(11)
    w, h = 36, 32

    def rand_img():
        return [
            [(rnd.randrange(200), rnd.randrange(200), rnd.randrange(200)) for _ in range(w)]
            for _ in range(h)
        ]

    img = rand_img()
    bright = [[(r + 25, g + 25, b + 25) for r, g, b in row] for row in img]
    other1, other2 = rand_img(), rand_img()

    payloads = {
        1: (_bmp_px(img), "a short caption"),
        2: (_bmp_px(bright), "a much longer, more descriptive caption"),
        3: (_bmp_px(other1), "unrelated one"),
        4: (_bmp_px(other2), "unrelated two"),
    }
    def signed64(b):  # dhash bits as the BIGINT column stores them
        return b - (1 << 64) if b >= (1 << 63) else b

    fp_rows = [(i, signed64(dhash_image(p))) for i, (p, _) in payloads.items()]
    assert all(b is not None for _, b in fp_rows)
    ham = bin(fp_rows[0][1] ^ fp_rows[1][1]).count("1")
    assert ham <= 3, f"fixture drifted: brightness pair {ham} bits apart"
    fp = spark.createDataFrame(fp_rows, "doc_id bigint, dhash bigint")
    docs = spark.createDataFrame(
        [(i, len(c)) for i, (_, c) in payloads.items()],
        "doc_id bigint, n_chars bigint",
    )
    out = {r.doc_id: (r.img_cluster, r.kept) for r in
           caption_dedup_from_fingerprints(fp, docs).collect()}
    assert out[1][0] == out[2][0] == 1  # the pair clusters under min id
    assert out[3][0] == 3 and out[4][0] == 4
    # keep-best: the LONGER caption of the near-dup pair survives
    assert out[2][1] is True and out[1][1] is False
    assert out[3][1] is True and out[4][1] is True


def test_video_keyframes_over_real_p5_frames(spark):
    """The video path on REAL pixels: a concatenated-P5 container is
    split into frames without a codec, each frame is dHashed, and the
    scene-cut rule flags exactly the content changes — a repeated frame
    and a uniformly BRIGHTENED frame (perceptual, not byte, identity)
    are not keyframes; a genuine scene change is."""
    import random

    from oxidsql_spark.operators.multimodal import (
        dhash_image,
        split_p5_frames,
        video_keyframes_from_fingerprints,
    )

    rnd = random.Random(7)
    w, h = 36, 32

    def p5(pixels):
        return f"P5 {w} {h} 255 ".encode() + bytes(
            v for row in pixels for v in row
        )

    def rand_gray():
        return [[rnd.randrange(200) for _ in range(w)] for _ in range(h)]

    scene_a = rand_gray()
    scene_a_bright = [[v + 30 for v in row] for row in scene_a]
    scene_b = rand_gray()
    # frames: A, A (repeat), A+30 (brightened — same perceptual hash),
    # B (CUT), B (repeat)
    container = b"".join(
        p5(px) for px in (scene_a, scene_a, scene_a_bright, scene_b, scene_b)
    )
    frames = split_p5_frames(container)
    assert frames is not None and len(frames) == 5
    # a truncated container must refuse, not mis-split
    assert split_p5_frames(container[:-1]) is None

    def signed64(b):
        return b - (1 << 64) if b >= (1 << 63) else b

    fp_rows = []
    for i, fb in enumerate(frames):
        bits = dhash_image(fb)
        assert bits is not None
        fp_rows.append((1, i, signed64(bits)))
    # fixture sanity: the cut really moves the hash, brightness doesn't
    assert bin(fp_rows[2][2] ^ fp_rows[1][2]).count("1") <= 3
    assert bin(fp_rows[3][2] ^ fp_rows[2][2]).count("1") > 3

    fh = spark.createDataFrame(
        fp_rows, "doc_id bigint, frame_idx int, dhash bigint"
    )
    out = {
        r.frame_idx: r.is_keyframe
        for r in video_keyframes_from_fingerprints(fh).collect()
    }
    assert out == {0: True, 1: False, 2: False, 3: True, 4: False}


def test_frame_sample_uses_parsed_frame_counts(spark):
    """mm_frame_sample's r13 re-point: where a payload PARSES (a
    5-frame P5 container, a single BMP), the sampled indices come from
    the real frame count; only an unrecognized blob falls back to the
    deterministic fake (1 + n_bytes % 8)."""
    import random

    from oxidsql_spark.operators.multimodal import (
        frame_sample_from_payloads,
        video_frame_count,
    )

    rnd = random.Random(5)
    w, h = 12, 10

    def p5(pixels):
        return f"P5 {w} {h} 255 ".encode() + bytes(
            v for row in pixels for v in row
        )

    def rand_gray():
        return [[rnd.randrange(200) for _ in range(w)] for _ in range(h)]

    container5 = b"".join(p5(rand_gray()) for _ in range(5))
    single = p5(rand_gray())
    blob = b"not an image at all, longer than a header"  # 42 bytes
    assert video_frame_count(container5) == 5
    assert video_frame_count(single) == 1
    assert video_frame_count(blob) is None

    p = spark.createDataFrame(
        [(1, bytearray(container5)), (2, bytearray(single)), (3, bytearray(blob))],
        "doc_id bigint, payload binary",
    )
    got: dict = {}
    for r in frame_sample_from_payloads(p).collect():
        got.setdefault(r.doc_id, []).append(r.frame_idx)
    assert sorted(got[1]) == [0, 2, 4]  # parsed 5 frames, every 2nd
    assert sorted(got[2]) == [0]  # single image
    assert sorted(got[3]) == list(range(0, 1 + len(blob) % 8, 2))  # fake


def test_video_dedup_over_real_p5_containers(spark):
    """Video near-dup on REAL pixels: a brightened AND frame-dropped
    copy of a container must cluster with its source (re-encoding
    invariance via dHash, trimming tolerance via the containment
    denominator), an unrelated container must stay alone, and keep-best
    must retain exactly one video per cluster."""
    import random

    from oxidsql_spark.operators.multimodal import (
        dhash_image,
        split_p5_frames,
        video_dedup_from_fingerprints,
    )

    rnd = random.Random(21)
    w, h = 36, 32

    def p5(pixels):
        return f"P5 {w} {h} 255 ".encode() + bytes(
            v for row in pixels for v in row
        )

    def rand_gray():
        return [[rnd.randrange(200) for _ in range(w)] for _ in range(h)]

    def brighten(px, d=25):
        return [[v + d for v in row] for row in px]

    s1, s2, s3 = rand_gray(), rand_gray(), rand_gray()
    u1, u2 = rand_gray(), rand_gray()
    # video 1: three scenes, two frames each; video 2: a brightened copy
    # missing the LAST scene entirely (trimmed); video 3: unrelated
    videos = {
        1: b"".join(p5(px) for px in (s1, s1, s2, s2, s3, s3)),
        2: b"".join(p5(brighten(px)) for px in (s1, s1, s2, s2)),
        3: b"".join(p5(px) for px in (u1, u1, u2, u2)),
    }

    def signed64(b):
        return b - (1 << 64) if b >= (1 << 63) else b

    fp_rows = []
    for vid, container in videos.items():
        frames = split_p5_frames(container)
        assert frames is not None
        for i, fb in enumerate(frames):
            bits = dhash_image(fb)
            assert bits is not None
            fp_rows.append((vid, i, signed64(bits)))
    fh = spark.createDataFrame(
        fp_rows, "doc_id bigint, frame_idx int, dhash bigint"
    )
    docs = spark.createDataFrame(
        [(1, 600), (2, 400), (3, 500)], "doc_id bigint, n_chars int"
    )
    rows = {r.doc_id: r for r in video_dedup_from_fingerprints(fh, docs).collect()}
    assert rows[1].vid_cluster == rows[2].vid_cluster == 1
    assert rows[3].vid_cluster == 3
    # keep-best: the longer source survives, the trimmed copy is dropped
    assert rows[1].kept and not rows[2].kept and rows[3].kept


def test_audio_shingles_gain_invariance_and_trim_subset():
    """The fingerprint property the face is built on, pure numpy: any
    c > 0 gain preserves every first difference's sign, so the shingle
    set is IDENTICAL; a front-trim at frame granularity yields a
    SUBSET (the surviving frames are untouched)."""
    import random

    import numpy as np

    from oxidsql_spark.operators.multimodal import (
        _AUD_SH,
        _AUD_W,
        audio_shingle_values,
    )

    rnd = random.Random(7)
    x = np.array([rnd.randrange(-60, 61) for _ in range(2048)], dtype=np.int64)
    base = audio_shingle_values(x)
    assert len(base) > 20
    assert audio_shingle_values(2 * x) == base
    assert audio_shingle_values(3 * x) == base
    # trim 10 whole frames off the front (the suffix's delta sequence is
    # d[10*W:], so its frames align with the original's frame grid)
    trimmed = audio_shingle_values(x[10 * _AUD_W :])
    assert len(trimmed) >= _AUD_SH
    assert set(trimmed) <= set(base)
    # and a genuinely different signal fingerprints differently
    y = np.array([rnd.randrange(-60, 61) for _ in range(2048)], dtype=np.int64)
    assert set(audio_shingle_values(y)).isdisjoint(base)


def test_audio_dedup_over_real_pcm(spark):
    """Audio near-dup end-to-end on REAL PCM byte payloads through the
    same mapInPandas chain the registered query runs: a gain-doubled
    copy and a front-trimmed copy must cluster with the source
    (gain invariance + containment), an unrelated track stays alone,
    keep-best retains the longest per cluster."""
    import random

    import numpy as np

    from oxidsql_spark.operators.multimodal import (
        _AUD_W,
        audio_dedup_from_shingles,
        audio_shingles_from_payloads,
    )

    rnd = random.Random(13)
    x = np.array([rnd.randrange(-60, 61) for _ in range(2048)], dtype=np.int64)
    u = np.array([rnd.randrange(-60, 61) for _ in range(2048)], dtype=np.int64)

    def payload(arr):
        return bytes((np.asarray(arr, dtype=np.int64) + 128).astype(np.uint8))

    tracks = [
        (1, payload(x)),
        (2, payload(2 * x)),  # gain-doubled copy
        (3, payload(x[10 * _AUD_W :])),  # front-trimmed copy
        (4, payload(u)),  # unrelated
    ]
    p = spark.createDataFrame(tracks, "doc_id bigint, payload binary")
    docs = spark.createDataFrame(
        [(1, 2048), (2, 2048), (3, 2048 - 10 * _AUD_W), (4, 2048)],
        "doc_id bigint, n_chars int",
    )
    vs = audio_shingles_from_payloads(p)
    rows = {r.doc_id: r for r in audio_dedup_from_shingles(vs, docs).collect()}
    assert rows[1].aud_cluster == rows[2].aud_cluster == rows[3].aud_cluster == 1
    assert rows[4].aud_cluster == 4
    kept = [d for d in (1, 2, 3) if rows[d].kept]
    assert kept == [1] and rows[4].kept


def test_audio_dedup_silence_hub_is_df_capped(spark):
    """The audio black-frame case: N identical silence tracks share ONE
    shingle value — naively a single bucket with N(N-1)/2 candidate
    pairs.  The build-time stop-shingle df rule drops the hub value, so
    every silence track stays a singleton (byte-exact dedup upstream is
    the face that owns literal duplicates — the collapse-first
    discipline), while a genuine structured near-dup pair in the same
    corpus still clusters."""
    import random

    import numpy as np

    from oxidsql_spark.operators.multimodal import (
        _AUD_MAXDF,
        audio_dedup_from_shingles,
        audio_shingles_from_payloads,
    )

    rnd = random.Random(5)
    x = np.array([rnd.randrange(-60, 61) for _ in range(2048)], dtype=np.int64)

    def payload(arr):
        return bytes((np.asarray(arr, dtype=np.int64) + 128).astype(np.uint8))

    n_silence = _AUD_MAXDF + 16
    # periodic "room tone": every track is the SAME 64-sample pattern
    # tiled — each carries >= 2 distinct shingles shared by all N, so
    # min-shared alone would NOT stop the N-clique; only the df cap does
    tone = np.tile(
        np.array([rnd.randrange(-8, 9) for _ in range(64)], dtype=np.int64), 32
    )
    rows = [(i, payload(tone)) for i in range(n_silence)]
    rows += [(1000, payload(x)), (1001, payload(2 * x))]  # true near-dups
    p = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    docs = spark.createDataFrame(
        [(i, 2048) for i, _ in rows], "doc_id bigint, n_chars int"
    )
    out = {
        r.doc_id: r.aud_cluster
        for r in audio_dedup_from_shingles(
            audio_shingles_from_payloads(p), docs
        ).collect()
    }
    assert out[1000] == out[1001] == 1000  # structure still pairs
    for i in range(n_silence):
        assert out[i] == i  # every silence track is its own singleton


def test_audio_fingerprint_properties_hypothesis():
    """Property-based locks for the two claims the audio face is built
    on, over arbitrary PCM: (1) gain invariance — any positive integer
    gain (clipping-free range) preserves the full shingle set exactly;
    (2) trim compatibility — removing whole frames off the front
    yields a SUBSET of the original set."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from oxidsql_spark.operators.multimodal import (
        _AUD_SH,
        _AUD_W,
        audio_shingle_values,
    )

    pcm = st.lists(
        st.integers(min_value=-40, max_value=40),
        min_size=(_AUD_SH + 2) * _AUD_W + 1,
        max_size=(_AUD_SH + 8) * _AUD_W,
    )

    @settings(max_examples=40, deadline=None)
    @given(pcm, st.integers(min_value=1, max_value=3), st.integers(min_value=0, max_value=2))
    def _prop(xs, gain, trim_frames):
        x = np.array(xs, dtype=np.int64)
        base = audio_shingle_values(x)
        assert audio_shingle_values(gain * x) == base
        trimmed = audio_shingle_values(x[trim_frames * _AUD_W :])
        assert set(trimmed) <= set(base)

    _prop()


def _spread48(i: int) -> int:
    """8-bit index -> 48-bit hash with every index bit widened to 6
    copies, so DISTINCT indexes are >= 6 hamming apart (> _CAP_HAM_T)
    and every value is >= 6 bits from zero — the deterministic way to
    plant hashes that never near-match each other or a black frame."""
    v = 0
    for j in range(8):
        if (i >> j) & 1:
            v |= 0x3F << (6 * j)
    return v


def test_video_dedup_black_frame_hub_is_df_capped(spark):
    """The video black-frame case (r13 VERDICT #1): a literal black
    keyframe hashes IDENTICALLY across > _MM_MAXDF videos, all 4 bands
    collide, and without the stop-shingle df rule the candidate join
    emits N²/2 hamming-0 pairs inside one bucket AND the containment
    vote pairs every hub video with every other (m=1 >= half of
    n_k=2).  With the cap: the hub hash is dropped BEFORE the join,
    n_k counts the KEPT set, every hub video stays a singleton, and a
    genuine near-dup pair in the same corpus (one of them carrying the
    black frame too) still clusters."""
    from oxidsql_spark.operators.multimodal import (
        _MM_MAXDF,
        video_dedup_from_fingerprints,
    )

    n_hub = _MM_MAXDF + 16
    black = 0
    rows = []
    # hub videos: [black, unique] -> keyframe set {black, spread(i+1)}
    for i in range(n_hub):
        rows += [(i, 0, black), (i, 1, _spread48(i + 1))]
    # planted near-dups: share two keyframes within hamming 1; video
    # 1000 ALSO carries the black frame (its n_k must count kept only,
    # or the 1/2-containment vote would miss the pair)
    p, q = _spread48(120), _spread48(121)
    rows += [(1000, 0, black), (1000, 1, p), (1000, 2, q)]
    rows += [(1001, 0, p ^ 1), (1001, 1, q ^ 2)]
    fh = spark.createDataFrame(rows, "doc_id bigint, frame_idx int, dhash bigint")
    docs = spark.createDataFrame(
        [(d, 100) for d in sorted({r[0] for r in rows})],
        "doc_id bigint, n_chars int",
    )
    out = {r.doc_id: r for r in video_dedup_from_fingerprints(fh, docs).collect()}
    assert out[1000].vid_cluster == out[1001].vid_cluster == 1000
    assert out[1000].kept and not out[1001].kept
    for i in range(n_hub):
        assert out[i].vid_cluster == i and out[i].kept


def test_caption_dedup_blank_image_hub_is_linear_and_still_clusters(spark):
    """The image blank-page case: > _MM_MAXDF docs share ONE dhash.
    Unlike audio/video (where hub VALUES are dropped), the image chain
    collapses exact-equal hashes to one representative BEFORE the band
    join — linear cost — and the mega-group STILL clusters (one kept,
    longest caption), because exact duplicates are precisely what a
    caption dedup must collapse.  A genuine near-dup pair (hamming 1)
    still clusters through the banded rep join."""
    from oxidsql_spark.operators.multimodal import (
        _MM_MAXDF,
        caption_dedup_from_fingerprints,
    )

    n_hub = _MM_MAXDF + 16
    rows = [(i, 0) for i in range(n_hub)]  # blank images: dhash 0
    p = _spread48(120)
    rows += [(1000, p), (1001, p ^ 1)]  # near-dup pair
    rows += [(2000, _spread48(9))]  # unrelated singleton
    fp = spark.createDataFrame(rows, "doc_id bigint, dhash bigint")
    docs = spark.createDataFrame(
        [(d, 500 if d == 5 else 100 + (d % 7)) for d, _ in rows],
        "doc_id bigint, n_chars int",
    )
    out = {r.doc_id: r for r in caption_dedup_from_fingerprints(fp, docs).collect()}
    for i in range(n_hub):
        assert out[i].img_cluster == 0  # ONE cluster, rep = min doc_id
    assert sum(out[i].kept for i in range(n_hub)) == 1
    assert out[5].kept  # keep-best: the longest caption survives
    assert out[1000].img_cluster == out[1001].img_cluster == 1000
    assert out[2000].img_cluster == 2000 and out[2000].kept


def test_image_band_index_bakes_both_hub_caps(spark, tmp_path):
    """build_image_band_index drops (a) hash values shared by more than
    _MM_MAXDF docs and (b) band buckets holding more than
    _MM_BAND_MAXDF DISTINCT hashes — at BUILD time, so no future probe
    can flood on them (the build_audio_shingle_index discipline)."""
    from oxidsql_spark.operators.multimodal import (
        _MM_BAND_MAXDF,
        _MM_MAXDF,
        build_image_band_index,
    )

    rows = []
    hub_hash = _spread48(200)
    for i in range(_MM_MAXDF + 8):  # (a) one hash across too many docs
        rows.append((i, hub_hash))
    # (b) too many DISTINCT hashes agreeing on band 0 (low 12 bits all
    # zero via << 12), each from a df-1 doc
    for i in range(_MM_BAND_MAXDF + 8):
        rows.append((10_000 + i, _spread48(i + 1) << 12))
    rows.append((50_000, _spread48(77)))  # a normal survivor
    fp = spark.createDataFrame(rows, "doc_id bigint, dhash bigint")
    out = str(tmp_path / "imgidx")
    build_image_band_index(spark, fp, out)
    idx = spark.read.parquet(out)
    assert idx.filter(F.col("dhash") == hub_hash).count() == 0  # (a)
    assert idx.filter((F.col("b") == 0) & (F.col("v") == 0)).count() == 0  # (b)
    # the capped docs' OTHER bands survive (value-level, not doc-level)
    assert idx.filter(F.col("doc_id") == 10_000).count() == 3
    assert idx.filter(F.col("doc_id") == 50_000).count() == 4


def test_capped_band_join_candidates_linear_in_hub_size(spark):
    """The skew-measurement discipline (test_dedup_skew) applied to the
    video band join: on a corpus where a black keyframe is shared by
    EVERY hub video, the number of candidate rows entering the hamming
    verify — reconstructed from the chain's own kept sets and band
    expressions — is EXACTLY the planted pair's collisions and does
    not grow when the hub doubles (uncapped it would grow
    quadratically: C(n,2) hamming-0 candidates per band)."""
    from oxidsql_spark.operators.multimodal import (
        _CAP_BAND_BITS,
        _CAP_BANDS,
        _capped_kf_sets,
    )

    def all_bands(k: int) -> int:
        """48-bit hash whose EVERY 12-bit band holds value k: distinct
        k -> distinct value in every band, so tails never collide with
        each other or with black in any bucket (band-disjoint by
        construction — the naive `_spread48(i)` tails share high-band
        zero groups and collide quadratically)."""
        return sum(k << (12 * j) for j in range(4))

    def cand_count(n_hub: int) -> int:
        rows = []
        for i in range(n_hub):
            rows += [(i, 0, 0), (i, 1, all_bands(i + 1))]
        p, q = all_bands(500), all_bands(600)
        rows += [(1000, 0, p), (1000, 1, q)]
        rows += [(1001, 0, p ^ 1), (1001, 1, q ^ 2)]
        fh = spark.createDataFrame(
            rows, "doc_id bigint, frame_idx int, dhash bigint"
        )
        kfk = _capped_kf_sets(fh)
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
        a = bands.select(F.col("doc_id").alias("a_id"), "b", "v")
        b = bands.select(F.col("doc_id").alias("b_id"), "b", "v")
        return (
            a.join(b, ["b", "v"]).filter(F.col("a_id") < F.col("b_id")).count()
        )

    small, big = cand_count(80), cand_count(160)
    assert small == big, (small, big)
    # exactly the planted pair's band collisions: p~p^1 and q~q^2 agree
    # on 3 of 4 bands each (hamming 1 within one 12-bit band)
    assert small == 6, small


def _dhash_hof(col: str = "text") -> str:
    """The Spark SQL form of the fake byte-stride dHash, the reference
    the engine's Arrow passes are checked against: the integer fold of
    `multimodal._dhash_fake_terms` written as one ``aggregate``
    higher-order expression.  Bit terms are added in ascending-``i``
    order with BIGINT arithmetic, so it is bit-identical to the
    unrolled 48-term CASE sum while being a ~40-node expression instead
    of a ~1500-node one."""
    from oxidsql_spark.operators.multimodal import _DH_FAKE_BITS

    p = f"(i * 7) % greatest(length({col}) - 1, 1)"
    return (
        f"aggregate(sequence(0, {_DH_FAKE_BITS - 1}), CAST(0 AS BIGINT), "
        f"(acc, i) -> acc + CASE WHEN ascii(substring({col}, {p} + 1, 1)) > "
        f"ascii(substring({col}, {p} + 2, 1)) "
        f"THEN shiftleft(CAST(1 AS BIGINT), i) ELSE CAST(0 AS BIGINT) END)"
    )


def _vid_scene_hashes_sql(d):
    """The pure-SQL scene-hash form (the semantic spec the DuckDB
    oracles re-derive) — the equality-test reference for the engine's
    Arrow pass `multimodal._vid_scene_hashes`."""
    from oxidsql_spark.operators.multimodal import _VID_SCENES_MOD

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
            F.expr(_dhash_hof(f"({ft})")).alias("dhash"),
        )
    )


def test_dhash_hof_equals_unrolled_sum(spark, sf_dir):
    """r14 opt round: the Spark-side fake dHash is the aggregate() HOF
    fold; the DuckDB oracle keeps the unrolled 48-term CASE sum.  Both
    add the same BIGINT bit terms in ascending-i order, so the values
    must be bit-identical on the live fixture corpus — this pins the
    equivalence the plan-size optimization rests on, engine-side only
    (no DuckDB needed)."""
    from oxidsql_spark.operators.multimodal import _DH_FAKE_BITS
    from oxidsql_spark.sources import table

    d = table(spark, sf_dir, "documents")
    hof = _dhash_hof()
    assert "aggregate(" in hof  # the optimization is actually in place
    unrolled = []
    for i in range(_DH_FAKE_BITS):
        p = f"(1 + (({i} * 7) % greatest(length(text) - 1, 1)))"
        unrolled.append(
            f"(CASE WHEN ascii(substring(text, {p}, 1)) > "
            f"ascii(substring(text, {p} + 1, 1)) THEN CAST({1 << i} AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END)"
        )
    got = d.select(
        "doc_id",
        F.expr(hof).alias("h"),
        F.expr(" + ".join(unrolled)).alias("u"),
    )
    assert got.filter("h IS NULL OR h <> u").count() == 0
    assert got.count() > 0


def test_video_scene_hash_equals_per_frame_chain(spark, sf_dir):
    """r14 opt round: `_vid_fh` hashes once per SCENE and explodes
    frames after; this pins row-set equality against the original
    per-frame formulation (explode frames first, hash each frame's
    substring) on the live fixture corpus — the equivalence the
    keyframe/dedup scene shortcuts rest on."""
    from oxidsql_spark.operators.multimodal import (
        _VID_REP,
        _VID_SCENES_MOD,
        _vid_fh,
        _vid_frame_sql,
    )
    from oxidsql_spark.sources import table

    d = table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        "text",
        F.expr(f"2 + (length(text) % {_VID_SCENES_MOD})").alias("s"),
    )
    frame_level = (
        base.select(
            "doc_id",
            "text",
            "s",
            F.explode(F.expr(f"sequence(0, {_VID_REP} * s - 1)")).alias(
                "frame_idx"
            ),
        )
        .select("doc_id", "frame_idx", F.expr(_vid_frame_sql("DIV")).alias("ft"))
        .select(
            "doc_id",
            "frame_idx",
            F.expr(_dhash_hof("ft")).alias("dhash"),
        )
    )
    a = sorted(map(tuple, _vid_fh(d).collect()))
    b = sorted(map(tuple, frame_level.collect()))
    assert a == b
    assert len(a) > 0


def test_scene_hash_numpy_equals_sql_fold(spark, sf_dir):
    """The r15 Arrow scene-hash pass must be BIT-identical to the SQL
    fold the DuckDB oracles re-derive — on the real corpus AND the
    substring/ascii edge cases (empty text, 1-char slices where the
    successor read is ascii('')=0, non-ASCII codepoints where ord must
    equal Spark's ascii)."""
    from oxidsql_spark.operators.multimodal import _vid_scene_hashes
    from oxidsql_spark.sources import table

    def rows(df):
        return sorted(map(tuple, df.collect()))

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    assert rows(_vid_scene_hashes(d)) == rows(_vid_scene_hashes_sql(d))
    adv = spark.createDataFrame(
        [
            (1, ""),
            (2, "x"),
            (3, "ab"),
            (4, "ba"),
            (5, "z" * 7),
            (6, "héllo wörld ünïcode"),
            (7, "é中文" * 5),
            (8, " "),
            (9, "abcdefghij" * 123),
        ],
        "doc_id bigint, text string",
    )
    a, b = rows(_vid_scene_hashes(adv)), rows(_vid_scene_hashes_sql(adv))
    assert a == b
    assert len(a) > 0
    # the whole-text twin against the SQL fold, same corpora
    from oxidsql_spark.operators.multimodal import _dhash_fake_frame

    for frame in (d, adv):
        got = rows(_dhash_fake_frame(frame, ["doc_id"]))
        want = rows(
            frame.select(
                "doc_id", F.expr(_dhash_hof()).alias("dhash")
            )
        )
        assert got == want
