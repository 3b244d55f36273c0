"""Segment compaction for the rolling-index stores (r13 VERDICT Next
#3): compact() folds micro-batch segments into one, probe verdicts are
IDENTICAL before/after, and the GLOBAL df-cap is re-applied — a hub
value under the per-segment cap in every segment but over it across
them is dropped at compaction."""

from __future__ import annotations

import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from oxidsql_spark.segstore import list_segments


def _aud_payload(arr) -> bytes:
    return bytes((np.asarray(arr, dtype=np.int64) + 128).astype(np.uint8))


def _rand_pcm(seed: int, n: int = 2048):
    import random

    rnd = random.Random(seed)
    return np.array([rnd.randrange(-60, 61) for _ in range(n)], dtype=np.int64)


@pytest.fixture
def audio_store_dirs(spark, tmp_path):
    """An AudioIndexStore with a base segment + two admitted batches,
    duplicated into two directories so one can compact while the other
    stays as the reference."""
    from oxidsql_spark.operators.multimodal import AudioIndexStore

    base = spark.createDataFrame(
        [(i, _aud_payload(_rand_pcm(i))) for i in range(6)],
        "doc_id bigint, payload binary",
    )
    a = str(tmp_path / "a")
    store = AudioIndexStore(spark, a)
    store.build(base)
    for b, lo in enumerate((100, 200)):
        batch = spark.createDataFrame(
            [(lo + i, _aud_payload(_rand_pcm(lo + i))) for i in range(3)],
            "doc_id bigint, payload binary",
        )
        store.probe_admit(batch, f"b{b}")
    bdir = str(tmp_path / "b")
    shutil.copytree(a, bdir)
    return a, bdir


def test_audio_compact_preserves_probe_verdicts(spark, audio_store_dirs):
    from oxidsql_spark.operators.multimodal import AudioIndexStore

    a_dir, b_dir = audio_store_dirs
    ref = AudioIndexStore(spark, a_dir)
    cmp_store = AudioIndexStore(spark, b_dir)
    assert len(list_segments(b_dir)) == 3
    assert cmp_store.compact() == 3
    assert len(list_segments(b_dir)) == 1
    # index CONTENT identical (no value crossed the global cap here)
    ref_rows = {tuple(r) for r in ref.rows().collect()}
    cmp_rows = {tuple(r) for r in cmp_store.rows().collect()}
    assert ref_rows == cmp_rows
    # probe the SAME fresh batch on both stores: a re-upload of an
    # admitted track must reject on each, a fresh track admit on each
    probe = spark.createDataFrame(
        [(900, _aud_payload(2 * _rand_pcm(100))), (901, _aud_payload(_rand_pcm(999)))],
        "doc_id bigint, payload binary",
    )
    ref_disp = {r.doc_id: r.is_dup for r in ref.probe_admit(probe, "t1").collect()}
    cmp_disp = {
        r.doc_id: r.is_dup for r in cmp_store.probe_admit(probe, "t1").collect()
    }
    assert ref_disp == cmp_disp == {900: True, 901: False}
    # compacting again folds the compacted dir + the new t1 segment
    assert cmp_store.compact() == 2


def test_audio_compact_reapplies_global_df_cap(spark, tmp_path):
    """A shingle value held by _AUD_MAXDF-10 tracks in the base and
    another _AUD_MAXDF-10 in an admitted batch is under the cap in
    EACH segment but over it globally — compact() drops it (the drift
    the AudioIndexStore docstring defers to compaction)."""
    from oxidsql_spark.operators.multimodal import (
        _AUD_MAXDF,
        AudioIndexStore,
        audio_shingle_values,
    )

    tone = np.tile(_rand_pcm(7, 64), 40)  # same fingerprint for all
    hub_vals = set(audio_shingle_values(tone))
    assert hub_vals
    n_half = _AUD_MAXDF - 10
    store = AudioIndexStore(spark, str(tmp_path / "s"))
    store.build(
        spark.createDataFrame(
            [(i, _aud_payload(tone)) for i in range(n_half)],
            "doc_id bigint, payload binary",
        )
    )
    # batch tracks: the hub tone (shared < cap within the segment)
    # plus a unique tail so each also carries private shingles
    batch = spark.createDataFrame(
        [
            (100 + i, _aud_payload(np.concatenate([tone, _rand_pcm(100 + i)])))
            for i in range(n_half)
        ],
        "doc_id bigint, payload binary",
    )
    disp = store.probe_admit(batch, "b0")
    # hub-tone-only corpus tracks share ALL their shingles with every
    # batch track -> batch tracks reject or admit per the vote; what
    # matters here is the INDEX: both segments carry hub values
    assert disp.count() == n_half
    pre = store.rows().filter(F.col("v").isin(*hub_vals)).count()
    assert pre > _AUD_MAXDF  # global drift: over the cap across segments
    store.compact()
    assert store.rows().filter(F.col("v").isin(*hub_vals)).count() == 0


def test_video_store_compact_and_image_store_compact(spark, tmp_path):
    """The image/video stores compact the same way: fold to one
    segment, identical probe verdicts, global caps re-applied."""
    from oxidsql_spark.operators.multimodal import (
        ImageBandIndexStore,
        VideoKeyframeIndexStore,
    )
    from tests.test_multimodal_codec import _spread48

    # --- video ---
    vdir = str(tmp_path / "v")
    vs = VideoKeyframeIndexStore(spark, vdir)
    vs.build(
        spark.createDataFrame(
            [(i, j, _spread48(3 * i + j + 1)) for i in range(3) for j in range(2)],
            "doc_id bigint, frame_idx int, dhash bigint",
        )
    )
    vs.probe_admit(
        spark.createDataFrame(
            [(100, 0, _spread48(40)), (100, 1, _spread48(41))],
            "doc_id bigint, frame_idx int, dhash bigint",
        ),
        "b0",
    )
    vref = str(tmp_path / "vref")
    shutil.copytree(vdir, vref)
    assert vs.compact() == 2
    assert len(list_segments(vdir)) == 1
    probe = spark.createDataFrame(
        # a near-copy of admitted video 100 (hamming 1 per keyframe)
        [(200, 0, _spread48(40) ^ 1), (200, 1, _spread48(41) ^ 2),
         (201, 0, _spread48(50)), (201, 1, _spread48(51))],
        "doc_id bigint, frame_idx int, dhash bigint",
    )
    got = {r.doc_id: r.is_dup for r in vs.probe_admit(probe, "t").collect()}
    want = {
        r.doc_id: r.is_dup
        for r in VideoKeyframeIndexStore(spark, vref).probe_admit(probe, "t").collect()
    }
    assert got == want == {200: True, 201: False}

    # --- image ---
    idir = str(tmp_path / "i")
    im = ImageBandIndexStore(spark, idir)
    im.build(
        spark.createDataFrame(
            [(i, _spread48(i + 1)) for i in range(4)],
            "doc_id bigint, dhash bigint",
        )
    )
    im.probe_admit(
        spark.createDataFrame(
            [(100, _spread48(30))], "doc_id bigint, dhash bigint"
        ),
        "b0",
    )
    assert im.compact() == 2
    got = {
        r.doc_id: r.is_dup
        for r in im.probe_admit(
            spark.createDataFrame(
                [(200, _spread48(30) ^ 1), (201, _spread48(60))],
                "doc_id bigint, dhash bigint",
            ),
            "t",
        ).collect()
    }
    assert got == {200: True, 201: False}


def test_span_store_compact_dedups_grams(spark, tmp_path):
    from oxidsql_spark.operators.dedup import SpanIndexStore

    sdir = str(tmp_path / "sp")
    st = SpanIndexStore(spark, sdir)
    text = "the quick brown fox jumps over the lazy dog again and again"
    st.build(spark.createDataFrame([(1, text)], "doc_id bigint, text string"))
    st.cut_admit(
        spark.createDataFrame(
            [(2, text + " plus a brand new unique tail of tokens")],
            "doc_id bigint, text string",
        ),
        "b0",
    )
    sref = str(tmp_path / "spref")
    shutil.copytree(sdir, sref)
    pre = {r.gram for r in st.rows().collect()}
    assert st.compact() == 2
    assert len(list_segments(sdir)) == 1
    assert {r.gram for r in st.rows().collect()} == pre
    # the cut over a fresh batch is unchanged by compaction
    batch = spark.createDataFrame(
        [(3, text + " and some totally fresh words appended here")],
        "doc_id bigint, text string",
    )
    got = st.cut_admit(batch, "t").select("doc_id", "cleaned").collect()
    want = (
        SpanIndexStore(spark, sref)
        .cut_admit(batch, "t")
        .select("doc_id", "cleaned")
        .collect()
    )
    assert got == want


def test_compact_pointer_crash_safety(spark, tmp_path):
    """A cmp dir WITHOUT a pointer is invisible (crash before the
    pointer landed); once the pointer lands, retired segments are
    excluded even if their dirs still exist (crash before the lazy
    deletes)."""
    import json
    import os

    from oxidsql_spark.operators.multimodal import AudioIndexStore

    d = str(tmp_path / "p")
    store = AudioIndexStore(spark, d)
    store.build(
        spark.createDataFrame(
            [(1, _aud_payload(_rand_pcm(1)))], "doc_id bigint, payload binary"
        )
    )
    # orphan cmp dir (no pointer): invisible
    spark.createDataFrame([(999, 1)], "doc_id bigint, v bigint").write.parquet(
        os.path.join(d, "cmp_00000042")
    )
    assert [os.path.basename(p) for p in list_segments(d)] == ["seg_base"]
    # pointer retiring seg_base while the dir still exists: excluded
    with open(os.path.join(d, "_COMPACTED"), "w") as fh:
        json.dump({"active": "cmp_00000042", "retired": ["seg_base"]}, fh)
    assert [os.path.basename(p) for p in list_segments(d)] == ["cmp_00000042"]


def test_segment_store_base_commit_rows_and_compact(spark, tmp_path):
    """The shared SegmentStore on a two-column toy store: a replayed
    commit tag writes nothing, ``rows(exclude_tag=...)`` drops exactly
    that segment, an empty store reads as the declared schema, and
    ``compact()`` folds through the store's ``recap``.  ``store_sink``
    commits the batch's segment, lands its disposition and releases
    the batch's scoped caches."""
    import os

    from oxidsql_spark.cachescope import scoped_cache_count, scoped_persist
    from oxidsql_spark.segstore import SegmentStore, store_sink

    class Toy(SegmentStore):
        schema = "k bigint, n bigint"

        def recap(self, df):
            return df.groupBy("k").agg(F.sum("n").alias("n"))

        def probe_admit(self, batch, tag):
            self.commit(tag, lambda seg: batch.write.parquet(seg))
            return scoped_persist(batch.select("k"))

    store = Toy(spark, str(tmp_path / "toy"))
    empty = store.rows()
    assert empty.schema.simpleString() == "struct<k:bigint,n:bigint>"
    assert empty.count() == 0

    def writer(rows):
        def write(seg):
            calls.append(os.path.basename(seg))
            spark.createDataFrame(rows, store.schema).write.parquet(seg)

        return write

    calls = []
    store.commit("base", writer([(1, 1), (2, 1)]))
    store.commit("b0", writer([(1, 5)]))
    store.commit("b0", writer([(9, 9)]))  # replayed tag: not written
    store.commit("b00", writer([(3, 1)]))  # shares the prefix of b0's name
    assert calls == ["seg_base", "seg_b0", "seg_b00"]

    def got(df):
        return sorted(tuple(r) for r in df.collect())

    assert got(store.rows()) == [(1, 1), (1, 5), (2, 1), (3, 1)]
    assert got(store.rows(exclude_tag="b0")) == [(1, 1), (2, 1), (3, 1)]
    assert got(store.rows(exclude_tag="b00")) == [(1, 1), (1, 5), (2, 1)]
    assert store.compact() == 3
    assert len(list_segments(store.path)) == 1
    assert got(store.rows()) == [(1, 6), (2, 1), (3, 1)]

    out = str(tmp_path / "out")
    store_sink(store, out)(spark.createDataFrame([(4, 1)], store.schema), 7)
    assert scoped_cache_count() == 0
    assert got(spark.read.parquet(os.path.join(out, "batch=00000007"))) == [(4,)]
    assert got(store.rows(exclude_tag="b00000007")) == [(1, 6), (2, 1), (3, 1)]
    assert (4, 1) in got(store.rows())


def test_stream_plumbing_lives_only_in_segstore():
    """The segment format and the exactly-once sink protocol have one
    owner: no other engine module sets the file-stream trigger size
    (beyond the watermarked events source), spells the landing swap's
    tmp dir or the batch marker's file name, or lists/compacts segments
    itself."""
    import ast
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "oxidsql_spark"
    own = pkg / "segstore.py"
    offenders = []
    for p in sorted(pkg.rglob("*.py")):
        if p == own:
            continue
        src = p.read_text()
        rel = p.relative_to(pkg.parent)
        if "maxFilesPerTrigger" in src and p != pkg / "streaming" / "events.py":
            offenders.append(f"{rel}: maxFilesPerTrigger")
        if re.search(r"\.batch_\{[^}]*\}\.tmp", src):
            offenders.append(f"{rel}: .batch_{{...}}.tmp")
        if "_stream_batch.json" in src:
            offenders.append(f"{rel}: _stream_batch.json")
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name in ("list_segments", "compact_segments"):
                    offenders.append(f"{rel}:{node.lineno} {name}()")
    assert not offenders, "stream plumbing belongs in segstore: " + ", ".join(
        offenders
    )
