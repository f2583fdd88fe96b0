"""Compressed inverted index: VarByte/delta blocks with block-max metadata.

Spark-native restatement of the reference's final index generation
(``Lexicon::_writeBlocks``, ``query_processor/src/Lexicon.cpp:
100-236``): postings are cut into chunks of ``postings_per_chunk``
(=64), docIDs delta-gap encoded with the base reset per chunk, gaps
and tfs VarByte encoded, chunks greedily packed into blocks of at
most ``block_bytes`` (=64 KB) with parallel metadata arrays
(last docID / gap bytes / tf bytes per chunk).  The reference packs
one mmap'd file; we emit one **row per block** in a term-sharded
parquet table — Parquet column chunks + partition pruning play the
role of the byte offsets + mmap (SURVEY §4).

Block-max upgrade: alongside the reference's `lastDocIdList` skip
metadata we store per-chunk ``max_tf``, which (with df and corpus
stats) yields the BM25 upper bound each chunk needs for block-max
WAND pruning — metadata the reference writes but never uses
(SURVEY §2.12.2).

Skew: the encode groups are ``(term, seg)`` with ``seg = doc_id //
segment_docs``; a head term's postings land in many independent
groups, each bounded, and decode re-concatenates by (seg, block_id)
— segments are self-contained because every chunk starts with an
absolute docID.

The kernel runs as one streaming ``mapInPandas`` pass over
partitions that are hash-partitioned by (term, seg) and sorted by
(term, seg, doc_id).  Each Arrow batch's closed groups are encoded by
one vectorized call (:func:`_encode_groups`, shared with the fused
build) and only the open last group carries into the next batch, so
the numpy call count is per batch, not per group.  Decode is the
mirror image: :func:`varbyte.decode_blocks` turns a batch of block
rows back into postings with one VarByte pass per payload column.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from itertools import chain

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cs6913_web_search_engines_spark.config import DEFAULT, EngineConfig
from cs6913_web_search_engines_spark.functions import varbyte
from cs6913_web_search_engines_spark.session import trim_zip_importers

INDEX_SCHEMA = (
    "term string, seg long, block_id int, n_postings int, "
    "first_doc_id long, last_doc_id long, max_tf int, "
    "chunk_last_doc_ids array<long>, chunk_counts array<int>, "
    "chunk_max_tfs array<int>, chunk_gap_bytes array<int>, "
    "chunk_tf_bytes array<int>, doc_gaps binary, tfs binary"
)


def _encode_groups(terms, segs, docs, tfs, lens,
                   cfg: EngineConfig) -> pd.DataFrame:
    """Encode many ``(term, seg)`` posting groups in one vectorized
    pass → block rows (``INDEX_SCHEMA`` columns, ``shard`` excluded).

    Group ``g`` is ``(terms[g], segs[g])`` and owns the next
    ``lens[g]`` postings of the concatenated, per-group doc_id-sorted
    ``docs``/``tfs``.  The chunk grid restarts at every group start;
    docIDs are delta-gapped with the base reset per chunk; one VarByte
    pass covers all gaps and one all tfs (VarByte is per-value, so the
    bytes equal a per-group encode); chunks are packed greedily into
    blocks of at most ``block_bytes`` (payload + 16 B metadata per
    chunk, a block always takes its first chunk).  Per-group numpy
    calls (~25 each) used to dominate encode CPU at thousands of small
    groups per batch; here the call count is fixed per batch, and only
    the chunks of groups larger than one block see a Python loop.
    """
    chunk = cfg.postings_per_chunk
    docs = np.asarray(docs, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    lens = np.asarray(lens, dtype=np.int64)
    # chunk grid: chunk k of group g starts at g_start + k * chunk
    n_chunks = (lens + chunk - 1) // chunk
    first_chunk = np.cumsum(n_chunks) - n_chunks
    grp = np.repeat(np.arange(lens.size), n_chunks)
    k = np.arange(grp.size) - first_chunk[grp]
    chunk_starts = (np.cumsum(lens) - lens)[grp] + k * chunk
    chunk_ends = np.append(chunk_starts[1:], docs.size)

    gaps = docs.copy()
    gaps[1:] -= docs[:-1]
    gaps[chunk_starts] = docs[chunk_starts]
    gap_arr, gap_groups = varbyte._encode_arr(gaps)
    tf_arr, tf_groups = varbyte._encode_arr(tfs)
    gap_sizes = np.add.reduceat(gap_groups, chunk_starts)
    tf_sizes = np.add.reduceat(tf_groups, chunk_starts)
    last_docs = docs[chunk_ends - 1]
    counts = chunk_ends - chunk_starts
    max_tfs = np.maximum.reduceat(tfs, chunk_starts)

    # greedy packing; a group within one block's budget is one block
    sizes = gap_sizes + tf_sizes + 16
    block_id = np.zeros(grp.size, dtype=np.int64)
    big = np.flatnonzero(np.add.reduceat(sizes, first_chunk)
                         > cfg.block_bytes)
    sz = sizes.tolist()
    for g in big:
        a = int(first_chunk[g])
        bid, acc = 0, 0
        for ci in range(a, a + int(n_chunks[g])):
            if acc and acc + sz[ci] > cfg.block_bytes:
                bid, acc = bid + 1, 0
            acc += sz[ci]
            block_id[ci] = bid
    new_block = np.ones(grp.size, dtype=bool)
    new_block[1:] = (grp[1:] != grp[:-1]) | (block_id[1:] != block_id[:-1])
    bs = np.flatnonzero(new_block)          # first chunk of each block
    be = np.append(bs[1:], grp.size)        # one past its last chunk
    bgrp = grp[bs]

    def chunk_lists(values, typ):
        return pa.ListArray.from_arrays(
            pa.array(np.append(bs, grp.size).astype(np.int32)),
            pa.array(values, type=typ))

    def payload(buf, n_bytes):
        offs = np.zeros(grp.size + 1, dtype=np.int64)
        np.cumsum(n_bytes, out=offs[1:])
        # per-chunk payload sizes — the reference's docIdSizeList /
        # freqSizeList (Lexicon.cpp:196-214): with these, a decoder
        # can SKIP a chunk's bytes without scanning them (VarByte has
        # no other random access), which is what chunk-level
        # block-max pruning needs (query_exec.segment_topk_candidates)
        return (chunk_lists(n_bytes, pa.int32()),
                pa.Array.from_buffers(
                    pa.binary(), bs.size,
                    [None, pa.py_buffer(offs[np.append(bs, grp.size)]
                                        .astype(np.int32)),
                     pa.py_buffer(buf)]))

    gap_lists, gap_bin = payload(gap_arr, gap_sizes)
    tf_lists, tf_bin = payload(tf_arr, tf_sizes)
    return pa.table({
        "term": pa.array(np.asarray(terms, dtype=object)[bgrp],
                         type=pa.string()),
        "seg": pa.array(np.asarray(segs, dtype=np.int64)[bgrp]),
        "block_id": pa.array(block_id[bs].astype(np.int32)),
        "n_postings": pa.array(np.add.reduceat(counts, bs).astype(np.int32)),
        "first_doc_id": pa.array(docs[chunk_starts[bs]]),
        "last_doc_id": pa.array(last_docs[be - 1]),
        "max_tf": pa.array(np.maximum.reduceat(max_tfs, bs).astype(np.int32)),
        "chunk_last_doc_ids": chunk_lists(last_docs, pa.int64()),
        "chunk_counts": chunk_lists(counts, pa.int32()),
        "chunk_max_tfs": chunk_lists(max_tfs, pa.int32()),
        "chunk_gap_bytes": gap_lists,
        "chunk_tf_bytes": tf_lists,
        "doc_gaps": gap_bin,
        "tfs": tf_bin,
    }).to_pandas()


def _encode_stream(cfg: EngineConfig):
    """mapInPandas kernel over (term, seg, doc_id)-sorted postings.

    Every group that closes inside an Arrow batch is encoded by ONE
    :func:`_encode_groups` call for that batch; only the batch's last,
    possibly open group is carried into the next one.  A group holds
    at most ``segment_docs`` postings, so the carry stays bounded.
    """

    def fn(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        trim_zip_importers()
        carry = None            # (terms, segs, docs, tfs) of the open group
        for pdf in batches:
            if pdf.empty:
                continue
            cols = (pdf["term"].values,
                    pdf["seg"].values.astype(np.int64),
                    pdf["doc_id"].values.astype(np.int64),
                    pdf["tf"].values.astype(np.int64))
            if carry is not None:
                cols = tuple(np.concatenate(p) for p in zip(carry, cols))
            terms, segs = cols[0], cols[1]
            change = np.ones(terms.size, dtype=bool)
            change[1:] = (terms[1:] != terms[:-1]) | (segs[1:] != segs[:-1])
            starts = np.flatnonzero(change)
            last = starts[-1]
            carry = tuple(c[last:] for c in cols)
            if starts.size > 1:
                yield _encode_groups(terms[starts[:-1]], segs[starts[:-1]],
                                     cols[2][:last], cols[3][:last],
                                     np.diff(starts), cfg)
        if carry is not None:
            yield _encode_groups(carry[0][:1], carry[1][:1], carry[2],
                                 carry[3], [carry[2].size], cfg)
        trim_zip_importers()

    return fn


def shard_col(term=None, cfg: EngineConfig = DEFAULT):
    """Term shard: crc32(term) % n_shards.  CRC32 is chosen because the
    JVM (F.crc32) and Python (zlib.crc32) implementations agree
    bit-for-bit, so query-time shard pruning needs no Spark job."""
    term = F.col("term") if term is None else term
    return F.pmod(F.crc32(F.encode(term, "UTF-8")), F.lit(cfg.n_term_shards)).cast("int")


def py_shard(term: str, cfg: EngineConfig = DEFAULT) -> int:
    import zlib

    return zlib.crc32(term.encode("utf-8")) % cfg.n_term_shards


def encode_index(postings: DataFrame, cfg: EngineConfig = DEFAULT) -> DataFrame:
    """Logical postings → compressed block rows (+ shard column).

    Physical plan: one hash shuffle on (term, seg) with in-partition
    sort — the distributed k-way merge — then a streaming encode pass.
    The shuffle names no partition count, so AQE coalesces it to the
    data's size: a small drain or compaction runs a few encode tasks
    (each Python task has a fixed start cost) and writes few part
    files.  The sort sits above the coalesced shuffle read, so every
    partition is still ordered by (term, seg, doc_id).
    """
    with_seg = postings.withColumn(
        # integer `div`, not double division: a float64 quotient can
        # round across a segment boundary for doc_id >= 2^53
        "seg", F.expr(f"doc_id div {cfg.segment_docs}")
    )
    arranged = (
        with_seg.repartition("term", "seg")
        .sortWithinPartitions("term", "seg", "doc_id")
    )
    blocks = arranged.mapInPandas(_encode_stream(cfg), INDEX_SCHEMA)
    return blocks.withColumn("shard", shard_col(cfg=cfg))


# ---------------------------------------------------------------------------
# Fused single-pass build: tokenize + encode in one kernel
# ---------------------------------------------------------------------------
#
# The two-stage build above ships one row per *posting* through a
# shuffle and a second Arrow crossing.  The fused path instead
# shuffles one row per *document* (documents are smaller than their
# postings), doc-range-partitions them so every segment lives wholly
# in one partition, locally sorts by doc_id (no shuffle), and runs
# tokenize → per-segment posting accumulation → block encode inside a
# single Arrow kernel.  Only the compressed block rows (~2 orders of
# magnitude smaller than postings) leave Python.  This is the classic
# document-partitioned index build: per-segment local indexes, with
# the term-sharded layout recovered for free by ``partitionBy(shard)``
# at write time.  Memory is bounded by one segment's postings
# (``segment_docs`` docs), the analog of the reference's 20 MB spill
# bound (``InvertedList.cpp:77-112``).
#
# Output rows are discriminated by ``kind``: 0 = index block (same
# bytes as ``encode_index`` — each (term, seg) group sees the same
# doc_id-sorted posting stream, so the encode is bit-identical),
# 1 = per-document stats row (byte_len, distinct_terms) so the page
# table falls out of the same text pass.

FUSED_SCHEMA = INDEX_SCHEMA + (
    ", doc_id long, byte_len int, distinct_terms int, kind int"
)

_BLOCK_COLS = [c.split()[0] for c in INDEX_SCHEMA.split(",")]


def _fused_stream(cfg: EngineConfig):
    from cs6913_web_search_engines_spark.functions import tokenizer

    all_cols = _BLOCK_COLS + ["doc_id", "byte_len", "distinct_terms", "kind"]
    int_cols = ["seg", "block_id", "n_postings", "first_doc_id",
                "last_doc_id", "max_tf", "doc_id", "byte_len",
                "distinct_terms", "kind"]

    def fn(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        trim_zip_importers()
        cur_seg: int | None = None
        acc: dict[str, tuple[list, list]] = {}
        doc_rows: list[tuple[int, int, int]] = []

        def flush_seg() -> list[pd.DataFrame]:
            nonlocal acc
            if not acc:
                return []
            terms = sorted(acc)
            lens = [len(acc[t][0]) for t in terms]
            n = sum(lens)
            docs = np.fromiter(chain.from_iterable(acc[t][0] for t in terms),
                               dtype=np.int64, count=n)
            tfs = np.fromiter(chain.from_iterable(acc[t][1] for t in terms),
                              dtype=np.int64, count=n)
            acc = {}
            return [_encode_groups(terms, np.full(len(terms), cur_seg),
                                   docs, tfs, lens, cfg)]

        def emit(blocks: list[pd.DataFrame], docs: list) -> pd.DataFrame:
            frames = [b.assign(kind=0) for b in blocks]
            if docs:
                d = pd.DataFrame(
                    docs, columns=["doc_id", "byte_len", "distinct_terms"]
                )
                d["kind"] = 1
                frames.append(d)
            # cast PRESENT int columns to nullable Int64 BEFORE concat:
            # letting concat NaN-fill them detours values through
            # float64, which silently corrupts the low bits of 64-bit
            # ids (doc_id, first/last_doc_id) above 2^53
            for fr in frames:
                for c in int_cols:
                    if c in fr.columns:
                        fr[c] = fr[c].astype("Int64")
            if frames:
                out = pd.concat(frames, ignore_index=True)
            else:
                out = pd.DataFrame()
            out = out.reindex(columns=all_cols)
            # nullable ints: concat turns partially-absent int columns
            # into float64(NaN), which Arrow refuses to cast back
            for c in int_cols:
                out[c] = out[c].astype("Int64")
            # list/binary/string columns: NaN (from reindex/concat)
            # must become None for Arrow
            for c in all_cols:
                if c not in int_cols:
                    s = out[c].astype(object)
                    out[c] = s.where(s.notna(), None)
            return out

        for pdf in batches:
            out: list[pd.DataFrame] = []
            for doc_id, text in zip(pdf["doc_id"].values, pdf["text"].values):
                doc_id = int(doc_id)
                seg = doc_id // cfg.segment_docs
                if seg != cur_seg:
                    out.extend(flush_seg())
                    cur_seg = seg
                if text is None:
                    doc_rows.append((doc_id, 0, 0))
                    continue
                freqs = tokenizer.doc_term_freqs(text)
                doc_rows.append(
                    (doc_id, len(text.encode("utf-8")), len(freqs))
                )
                for t, c in freqs.items():
                    slot = acc.get(t)
                    if slot is None:
                        acc[t] = ([doc_id], [c])
                    else:
                        slot[0].append(doc_id)
                        slot[1].append(c)
            if out or len(doc_rows) >= 65536:
                yield emit(out, doc_rows)
                doc_rows = []
        yield emit(flush_seg(), doc_rows)
        trim_zip_importers()

    return fn


def encode_fused(documents: DataFrame, cfg: EngineConfig = DEFAULT) -> DataFrame:
    """documents(doc_id, text) → union of block rows (kind=0, with
    shard) and doc-stats rows (kind=1).  One doc-shuffle, one Arrow
    crossing; cache and split with :func:`fused_blocks` /
    :func:`fused_doc_stats`."""
    # integer `div` (see encode_index): exact at any 64-bit doc_id
    seg = F.expr(f"doc_id div {cfg.segment_docs}")
    # RANGE partition on seg, not hash: segment cardinality is only
    # n_docs/segment_docs, and hashing few distinct keys over
    # run_partitions leaves Poisson holes (empty partitions next to
    # double-loaded ones — measured 20-40% build-time loss).  Range
    # assignment packs contiguous segments evenly and never splits a
    # segment (block_id contiguity per (term, seg) is preserved).  The
    # count stays fixed: an AQE-sized range shuffle builds 25 k docs
    # 30 % faster but merges segments into fewer, wider files per
    # shard, and batch query set-up then measured ~20 % slower.
    arranged = (
        documents.select("doc_id", "text")
        .repartitionByRange(cfg.run_partitions, seg)
        .sortWithinPartitions("doc_id")
    )
    fused = arranged.mapInPandas(_fused_stream(cfg), FUSED_SCHEMA)
    return fused.withColumn(
        "shard",
        F.when(F.col("kind") == 0, shard_col(cfg=cfg)).otherwise(F.lit(-1)),
    )


def fused_blocks(fused: DataFrame) -> DataFrame:
    return fused.filter(F.col("kind") == 0).select(*_BLOCK_COLS, "shard")


def fused_doc_stats(fused: DataFrame) -> DataFrame:
    return fused.filter(F.col("kind") == 1).select(
        "doc_id", "byte_len", "distinct_terms"
    )


def write_index(blocks: DataFrame, path: str) -> None:
    """Term-sharded layout: partition pruning on `shard` at query time."""
    blocks.write.partitionBy("shard").mode("overwrite").parquet(path)


# ---------------------------------------------------------------------------
# Decode
# ---------------------------------------------------------------------------

DECODED_SCHEMA = "term string, doc_id long, tf int"


def _decode_stream(cfg: EngineConfig, extra_cols: tuple[str, ...] = (),
                   len_bc=None):
    chunk = cfg.postings_per_chunk

    def fn(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        trim_zip_importers()
        for pdf in batches:
            n = pdf["n_postings"].values.astype(np.int64)
            all_docs, tfs = varbyte.decode_blocks(
                n, pdf["doc_gaps"].values, pdf["tfs"].values, chunk)
            data = {
                **{c: np.repeat(pdf[c].values, n) for c in extra_cols},
                "term": np.repeat(pdf["term"].values, n),
                "doc_id": all_docs,
                "tf": tfs.astype(np.int32),
            }
            if len_bc is not None:
                # page-table-in-RAM lookup (reference main.cpp:99-108):
                # one vectorized gather replaces the doc_stats join
                lens = len_bc.value
                idx = all_docs.astype(np.int64)
                dl = np.zeros(idx.size, dtype=np.int32)
                m = idx < lens.size
                dl[m] = lens[idx[m]]
                data["doc_len"] = dl
                # dl == 0 ⇒ the id has no page-table entry (a doc with
                # postings always has length ≥ 1): drop the posting —
                # doc_len = 0 minimizes K and would inflate the BM25
                # score — mirroring the inner doc_stats join the
                # lookup replaces
                ok = dl > 0
                if not ok.all():
                    data = {c: v[ok] for c, v in data.items()}
            yield pd.DataFrame(data)
        trim_zip_importers()

    return fn


def decode_postings(blocks: DataFrame, cfg: EngineConfig = DEFAULT,
                    extra_cols: tuple[str, ...] = (),
                    len_lookup=None) -> DataFrame:
    """Block rows → (term, doc_id, tf[, doc_len]).  Works on any
    filtered subset; segments/blocks decode independently (absolute
    chunk-leading docID).

    ``extra_cols`` are carried through row-wise (e.g. a ``query_id``
    tag so per-query block subsets stay per-query after decode).

    ``len_lookup``: optional ``sparkContext.broadcast`` of a dense
    int32 numpy array mapping doc_id → document length.  When given,
    the kernel emits ``doc_len`` inline — the Spark analog of the
    reference's RAM-resident page table (valid while norms fit
    executor memory; beyond that the scorer joins doc_stats instead).
    """
    cols = blocks.select(*extra_cols, "term", "n_postings", "doc_gaps", "tfs")
    schema = "".join(f"{c} string, " for c in extra_cols) + DECODED_SCHEMA
    if len_lookup is not None:
        schema += ", doc_len int"
    return cols.mapInPandas(_decode_stream(cfg, extra_cols, len_lookup), schema)


def read_index(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def _sql_literal(v) -> str:
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return str(int(v))


def sql_in(expr: str, values) -> Column:
    """``expr IN (v1, ..., vn)`` over int or string literals, parsed
    from ONE SQL string: one Python→JVM call whatever the list length
    (``Column.isin`` makes one call per literal — 0.2–0.35 s for a
    500-term list, against ~1 ms here).  It plans to the same ``In``/``InSet`` as
    ``isin``, so shard ``PartitionFilters`` and term ``PushedFilters``
    still reach the scan.  Strings escape ``\\`` and ``'`` for the
    parser's default (non-``escapedStringLiterals``) mode.  An empty
    list matches no rows."""
    if not values:
        return F.lit(False)
    return F.expr(f"{expr} IN ({', '.join(map(_sql_literal, values))})")


def term_filter(spark: SparkSession, terms: list[str],
                cfg: EngineConfig = DEFAULT):
    """Predicate that prunes both shard partitions and term row groups."""
    if not terms:
        return F.lit(False)
    shards = sorted({py_shard(t, cfg) for t in terms})
    return sql_in("shard", shards) & sql_in("term", terms)
