"""Index build: postings vs naive Python, merge-equals-direct,
resumable runs, compressed codec roundtrip on real data."""

import shutil

import pytest
from pyspark.sql import functions as F

from cs6913_web_search_engines_spark.config import EngineConfig
from cs6913_web_search_engines_spark.functions.tokenizer import doc_term_freqs
from cs6913_web_search_engines_spark.operators import (
    block_codec as bc,
    index_build as ib,
)


def test_postings_match_naive(built, documents):
    postings, *_ = built
    got = {
        (r["doc_id"], r["term"]): r["tf"]
        for r in postings.collect()
    }
    want = {}
    for row in documents.select("doc_id", "text").collect():
        for t, c in doc_term_freqs(row["text"]).items():
            want[(row["doc_id"], t)] = c
    assert got == want


def test_doc_stats_semantics(built, documents):
    _, doc_stats, stats, _ = built
    rows = {r["doc_id"]: r for r in doc_stats.collect()}
    sample = documents.limit(20).collect()
    for row in sample:
        tf = doc_term_freqs(row["text"])
        r = rows[row["doc_id"]]
        assert r["distinct_terms"] == len(tf)
        assert r["byte_len"] == len(row["text"].encode("utf-8"))
    assert stats["total_docs"] == documents.count()


def test_lexicon_df(built):
    postings, _, _, lexicon = built
    # df == exact distinct doc count per term (postings unique per
    # (term, doc) by construction)
    dfs = {r["term"]: r["df"] for r in lexicon.collect()}
    check = {
        r["term"]: r["n"]
        for r in postings.groupBy("term")
        .agg(F.countDistinct("doc_id").alias("n"))
        .collect()
    }
    assert dfs == check


def test_merge_equals_direct(built):
    """Index built via 1 partition == via 16 partitions (the shuffle
    k-way merge is deterministic in content)."""
    postings, *_ = built
    one = set(map(tuple, postings.coalesce(1).collect()))
    many = set(map(tuple, postings.repartition(16).collect()))
    assert one == many


@pytest.mark.parametrize("segment_docs", [1 << 20, 64])
def test_compressed_roundtrip(built, segment_docs):
    postings, *_ = built
    cfg = EngineConfig(segment_docs=segment_docs, postings_per_chunk=16,
                       block_bytes=512)
    enc = bc.encode_index(postings, cfg)
    dec = bc.decode_postings(enc, cfg)
    a = set(map(tuple, postings.select("term", "doc_id", "tf").collect()))
    b = set(map(tuple, dec.select("term", "doc_id", "tf").collect()))
    assert a == b


def test_block_invariants(built):
    postings, *_ = built
    cfg = EngineConfig(postings_per_chunk=8, block_bytes=256, segment_docs=1 << 20)
    rows = bc.encode_index(postings, cfg).collect()
    assert rows
    for r in rows:
        assert r["n_postings"] == sum(r["chunk_counts"])
        assert all(c <= cfg.postings_per_chunk for c in r["chunk_counts"])
        assert r["chunk_last_doc_ids"][-1] == r["last_doc_id"]
        assert r["max_tf"] == max(r["chunk_max_tfs"])
        assert sorted(r["chunk_last_doc_ids"]) == r["chunk_last_doc_ids"]
        # per-chunk payload sizes tile the buffers exactly (the random
        # access chunk skipping relies on)
        assert sum(r["chunk_gap_bytes"]) == len(r["doc_gaps"])
        assert sum(r["chunk_tf_bytes"]) == len(r["tfs"])
        assert all(s > 0 for s in r["chunk_gap_bytes"] + r["chunk_tf_bytes"])
    # block_ids contiguous from 0 per (term, seg)
    by_key = {}
    for r in rows:
        by_key.setdefault((r["term"], r["seg"]), []).append(r["block_id"])
    for ids in by_key.values():
        assert sorted(ids) == list(range(len(ids)))


def test_runs_resumable(built, tmp_path_factory):
    postings, *_ = built
    path = str(tmp_path_factory.mktemp("runs") / "runs")
    cfg = EngineConfig(run_partitions=4)
    m1 = ib.write_runs(postings, path, cfg, lineage={"source": "sf0.001"})
    assert m1["total_postings"] == postings.count()
    assert all(b["complete"] for b in m1["buckets"])
    # Re-run: all buckets complete → append writes nothing new
    m2 = ib.write_runs(postings, path, cfg)
    assert m2["total_postings"] == m1["total_postings"]
    back = ib.read_runs(postings.sparkSession, path)
    assert back.count() == m1["total_postings"]
    shutil.rmtree(path, ignore_errors=True)


def test_partial_runs_resume(built, tmp_path_factory):
    """Kill-between-stages analog: manifest marking only some buckets
    complete → resume fills in exactly the missing ones."""
    import json
    import os

    postings, *_ = built
    path = str(tmp_path_factory.mktemp("runs2") / "runs")
    cfg = EngineConfig(run_partitions=4)
    m1 = ib.write_runs(postings, path, cfg)
    # Simulate a crash that completed only bucket 0: rewrite manifest,
    # delete other bucket dirs.
    keep = m1["buckets"][0]["bucket"]
    for b in m1["buckets"][1:]:
        shutil.rmtree(os.path.join(path, f"run={b['bucket']}"))
    with open(os.path.join(path, "_manifest.json"), "w") as f:
        json.dump({"bucket_fn": m1["bucket_fn"],
                   "buckets": [{"bucket": keep, "complete": True}]}, f)
    m2 = ib.write_runs(postings, path, cfg)
    assert m2["total_postings"] == m1["total_postings"]
    back = set(map(tuple, ib.read_runs(postings.sparkSession, path).collect()))
    direct = set(map(tuple, postings.select("doc_id", "term", "tf").collect()))
    assert back == direct
    shutil.rmtree(path, ignore_errors=True)


def test_stale_bucket_fn_checkpoint_is_wiped_not_resumed(built, tmp_path_factory):
    """A runs checkpoint bucketed under a different hash/partition
    count must NOT be resumed (appending would duplicate every posting
    under its new bucket) — write_runs wipes and rebuilds."""
    import json
    import os

    postings, *_ = built
    path = str(tmp_path_factory.mktemp("runs3") / "runs")
    cfg = EngineConfig(run_partitions=4)
    m1 = ib.write_runs(postings, path, cfg)
    # forge a checkpoint from an older engine version (different hash)
    with open(os.path.join(path, "_manifest.json"), "w") as f:
        json.dump({"bucket_fn": "xxhash64%32",
                   "buckets": [{"bucket": b["bucket"], "complete": True}
                               for b in m1["buckets"]]}, f)
    m2 = ib.write_runs(postings, path, cfg)
    assert m2["bucket_fn"] == m1["bucket_fn"]
    assert m2["total_postings"] == m1["total_postings"]
    back = ib.read_runs(postings.sparkSession, path)
    assert back.count() == postings.count()          # no duplication
    assert back.distinct().count() == back.count()
    shutil.rmtree(path, ignore_errors=True)


def test_runs_uri_checkpoint(built, tmp_path_factory):
    """write_runs over a URI path (file:// here; same Hadoop
    FileSystem client as hdfs://, s3a://): manifest read/write, the
    resume skip, and per-bucket byte accounting must all work without
    the local-os fast paths (VERDICT r3 review: the _bucket_counts
    Spark fallback alone left manifest I/O os-only, so URI checkpoints
    could never complete end-to-end)."""
    postings, *_ = built
    local = str(tmp_path_factory.mktemp("runs_uri") / "runs")
    path = "file://" + local
    cfg = EngineConfig(run_partitions=4)
    m1 = ib.write_runs(postings, path, cfg, lineage={"source": "sf0.001"})
    assert m1["total_postings"] == postings.count()
    assert all(b["complete"] for b in m1["buckets"])
    assert all((b["bytes"] or 0) > 0 for b in m1["buckets"])
    import os

    assert os.path.exists(os.path.join(local, "_manifest.json"))
    # resume: all buckets complete → nothing appended, same totals
    m2 = ib.write_runs(postings, path, cfg)
    assert m2["total_postings"] == m1["total_postings"]
    back = set(map(tuple, ib.read_runs(postings.sparkSession, path)
                   .collect()))
    direct = set(map(tuple, postings.select("doc_id", "term", "tf")
                     .collect()))
    assert back == direct
    # stale bucket_fn over URI → Hadoop wipe_children path
    import json

    with open(os.path.join(local, "_manifest.json"), "w") as f:
        json.dump({"bucket_fn": "xxhash64%32",
                   "buckets": [{"bucket": b["bucket"], "complete": True}
                               for b in m1["buckets"]]}, f)
    # the out-of-band plain-file write above invalidates the local
    # Hadoop client's checksum sidecar; a real hdfs/s3a writer would
    # go through the same client and keep it consistent
    crc = os.path.join(local, "._manifest.json.crc")
    if os.path.exists(crc):
        os.remove(crc)
    m3 = ib.write_runs(postings, path, cfg)
    assert m3["total_postings"] == m1["total_postings"]
    back3 = ib.read_runs(postings.sparkSession, path)
    assert back3.count() == postings.count()
    assert back3.distinct().count() == back3.count()
    shutil.rmtree(local, ignore_errors=True)


def test_fused_build_equals_staged(spark, documents, tmp_path):
    """The fused single-pass build (tokenize+encode in one kernel, no
    posting shuffle) must emit byte-identical index blocks and
    doc_stats to the two-stage build."""
    import shutil

    from cs6913_web_search_engines_spark.operators import index_build as ib

    cfg = EngineConfig(segment_docs=128)
    a, b = str(tmp_path / "fused"), str(tmp_path / "staged")
    # include a null-text doc: both paths must agree (byte_len 0)
    nulldoc = spark.createDataFrame([(999999, None)], "doc_id long, text string")
    docs = documents.select("doc_id", "text").unionByName(nulldoc)
    ib.build_full(spark, docs, a, cfg, checkpoint_runs=False, fused=True)
    ib.build_full(spark, docs, b, cfg, checkpoint_runs=False, fused=False)
    ra = sorted(map(repr, spark.read.parquet(a + "/index").collect()))
    rb = sorted(map(repr, spark.read.parquet(b + "/index").collect()))
    assert ra == rb
    da = sorted(map(tuple, spark.read.parquet(a + "/doc_stats").collect()))
    db = sorted(map(tuple,
                    spark.read.parquet(b + "/doc_stats")
                    .select("doc_id", "byte_len", "distinct_terms").collect()))
    assert da == db
    lx = sorted(map(tuple, spark.read.parquet(a + "/lexicon").collect()))
    ly = sorted(map(tuple, spark.read.parquet(b + "/lexicon").collect()))
    assert lx == ly


def test_fused_with_runs_raises(spark, documents, tmp_path):
    with pytest.raises(ValueError, match="incompatible"):
        ib.build_full(spark, documents, str(tmp_path / "x"),
                      EngineConfig(), checkpoint_runs=True, fused=True)


def test_head_term_segment_cap(spark):
    """Skew ceiling: a term present in EVERY doc (the 'the' case) may
    never concentrate more than segment_docs postings in one encode
    group — the (term, seg) key splits it across n_docs/segment_docs
    independent units (SURVEY §7 head-term salting)."""
    docs = spark.createDataFrame(
        [(i, "the common filler word") for i in range(20000)],
        "doc_id long, text string",
    )
    cfg = EngineConfig(segment_docs=4096)
    enc = bc.encode_index(ib.build_postings(docs), cfg)
    per_group = (
        enc.groupBy("term", "seg")
        .agg(F.sum("n_postings").alias("n")).collect()
    )
    assert max(r["n"] for r in per_group) <= 4096
    segs = {r["seg"] for r in per_group if r["term"] == "the"}
    assert len(segs) == 20000 // 4096 + 1


def test_subset_build_equals_filtered_full(built, documents):
    """S2: postings built over a doc-id subset == full postings
    restricted to the subset (IndexBuilder.cpp:126-149 semantics)."""
    postings, *_ = built
    subset = documents.select("doc_id").filter(F.col("doc_id") % 3 == 1)
    sub_postings = ib.build_postings(ib.subset_filter(documents, subset))
    got = set(map(tuple, sub_postings.select("doc_id", "term", "tf").collect()))
    want = set(
        map(tuple,
            postings.join(subset, "doc_id", "left_semi")
            .select("doc_id", "term", "tf").collect())
    )
    assert got == want and got


def test_runs_crash_before_manifest_does_not_duplicate(built, tmp_path_factory):
    """Exactly-once for the runs checkpoint: a crash after the parquet
    job commits but before the manifest is written must not duplicate
    postings on the re-run — dynamic partition overwrite rewrites the
    same run=K partitions deterministically (the old mode('append')
    doubled every bucket)."""
    import os

    postings, *_ = built
    path = str(tmp_path_factory.mktemp("runs_crash") / "runs")
    cfg = EngineConfig(run_partitions=4)
    m1 = ib.write_runs(postings, path, cfg)
    os.remove(os.path.join(path, "_manifest.json"))   # the crash window
    m2 = ib.write_runs(postings, path, cfg)
    assert m2["total_postings"] == m1["total_postings"]
    back = ib.read_runs(postings.sparkSession, path)
    assert back.count() == postings.count()
    assert back.distinct().count() == back.count()
    shutil.rmtree(path, ignore_errors=True)


def _block_rows(df):
    return sorted(
        tuple(bytes(v) if isinstance(v, (bytes, bytearray))
              else tuple(v) if isinstance(v, list) else v for v in r)
        for r in df.select(*bc._BLOCK_COLS, "shard").collect()
    )


def test_codec_parity_across_arrow_batches(spark, documents, tmp_path):
    """With 7-record Arrow batches nearly every (term, seg) group spans
    batches: the staged encode's carried-over groups, the fused build,
    a compacted incremental index and the batched block decode must
    all still agree byte for byte / posting for posting."""
    import numpy as np

    from cs6913_web_search_engines_spark.streaming import incremental as si

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        cfg = EngineConfig(segment_docs=128, postings_per_chunk=16,
                           block_bytes=512)
        docs = documents.select("doc_id", "text")
        postings = ib.build_postings(docs)
        staged = _block_rows(bc.encode_index(postings, cfg))
        fused = _block_rows(bc.fused_blocks(bc.encode_fused(docs, cfg)))
        assert staged == fused
        # blocks far larger than one 7-posting batch: groups spanned
        assert max(r[3] for r in staged) > 7 * 4

        src, out = str(tmp_path / "drops"), str(tmp_path / "idx")
        for half in (0, 1):
            (documents.filter(F.col("doc_id") % 2 == half)
             .repartition(1).write.mode("append").parquet(src))
            si.run_incremental_build(spark, src, out, cfg)
        assert si.compact_index(spark, out, cfg,
                                max_generations=1)["compacted_groups"] > 0
        assert _block_rows(spark.read.parquet(out + "/index")) == staged

        # decode with a carried tag column and a page table that lacks
        # some ids (zeros, and ids past its end): exactly those drop
        posts = [(r["term"], r["doc_id"], r["tf"]) for r in postings.collect()]
        max_id = max(d for _, d, _ in posts)
        lens = (np.arange(max_id - 2) % 7 + 1).astype(np.int32)
        lens[::5] = 0
        lk = spark.sparkContext.broadcast(lens)
        tagged = bc.encode_index(postings, cfg).withColumn(
            "query_id", F.concat(F.lit("q"), F.col("seg").cast("string")))
        got = sorted(map(tuple, bc.decode_postings(
            tagged, cfg, extra_cols=("query_id",), len_lookup=lk)
            .select("query_id", "term", "doc_id", "tf", "doc_len")
            .collect()))
        want = sorted(
            (f"q{d // 128}", t, d, tf, int(lens[d]))
            for t, d, tf in posts if d < lens.size and lens[d] > 0)
        assert got == want
        assert len(want) < len(posts)
    finally:
        spark.conf.set(key, saved)


def test_encode_groups_batched_equals_per_group():
    """One _encode_groups call over many groups (the batch path) emits
    exactly the rows of one call per group, and decodes back."""
    import numpy as np

    from cs6913_web_search_engines_spark.functions import varbyte

    cfg = EngineConfig(segment_docs=4096, postings_per_chunk=8,
                       block_bytes=96)
    rng = np.random.default_rng(7)
    terms, segs, docs, tfs, lens = [], [], [], [], []
    for g in range(60):
        n = int(rng.choice([1, 7, 8, 9, 40, 300]))
        seg = int(rng.integers(0, 3))
        d = np.sort(rng.choice(4096, n, replace=False)) + seg * 4096
        terms.append(f"t{g}")
        segs.append(seg)
        docs.append(d)
        tfs.append(rng.integers(1, 1 << 20, n))
        lens.append(n)
    batched = bc._encode_groups(terms, segs, np.concatenate(docs),
                                np.concatenate(tfs), lens, cfg)
    single = [bc._encode_groups([t], [s], d, f, [d.size], cfg)
              for t, s, d, f in zip(terms, segs, docs, tfs)]

    def rows(frames):
        return [tuple(v.tolist() if isinstance(v, np.ndarray) else v
                      for v in r)
                for f in frames for r in f.itertuples(index=False)]

    assert rows([batched]) == rows(single)
    assert (batched["block_id"] > 0).any()      # multi-block groups
    got_docs, got_tfs = varbyte.decode_blocks(
        batched["n_postings"], batched["doc_gaps"], batched["tfs"],
        cfg.postings_per_chunk)
    assert got_docs.tolist() == np.concatenate(docs).tolist()
    assert got_tfs.tolist() == np.concatenate(tfs).tolist()
