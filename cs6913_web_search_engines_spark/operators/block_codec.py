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
(term, seg, doc_id): group state carries across Arrow batches, so
one Python call handles a whole partition (no per-group invocation
overhead at millions of terms).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cs6913_web_search_engines_spark.config import DEFAULT, EngineConfig
from cs6913_web_search_engines_spark.functions import varbyte

INDEX_SCHEMA = (
    "term string, seg long, block_id int, n_postings int, "
    "first_doc_id long, last_doc_id long, max_tf int, "
    "chunk_last_doc_ids array<long>, chunk_counts array<int>, "
    "chunk_max_tfs array<int>, chunk_gap_bytes array<int>, "
    "chunk_tf_bytes array<int>, doc_gaps binary, tfs binary"
)


def _encode_group(term: str, seg: int, doc_ids: np.ndarray,
                  tfs: np.ndarray, cfg: EngineConfig) -> list[dict]:
    """Encode one (term, seg) posting run into block rows.

    Delegates to the group-aware batched encoder with a single group —
    ONE packing/chunk-grid implementation (greedy ≤ block_bytes blocks,
    16 B metadata per chunk, per-chunk delta resets) instead of two
    copies whose invariants would have to be edited in lockstep; the
    fused ≡ staged ≡ streaming byte-identity tests pin the equality.
    """
    return _encode_seg_batch(seg, [term], [doc_ids], [tfs], cfg)


def _encode_seg_batch(seg: int, terms: list[str],
                      docs_list: list[list[int]], tfs_list: list[list[int]],
                      cfg: EngineConfig) -> list[dict]:
    """Encode ALL of one segment's (term → postings) groups in one
    vectorized pass.

    With a large vocabulary a segment holds thousands of small groups;
    per-group numpy calls (~25 each) dominated encode CPU.  Here the
    groups are concatenated, the chunk grid is computed group-aware,
    and a single VarByte pass covers everything — identical bytes to
    per-group :func:`_encode_group` (VarByte is per-value; the chunk
    grid and delta resets are reproduced exactly).
    """
    chunk = cfg.postings_per_chunk
    lens = np.fromiter((len(d) for d in docs_list), dtype=np.int64,
                       count=len(docs_list))
    all_docs = np.concatenate([np.asarray(d, dtype=np.int64) for d in docs_list])
    all_tfs = np.concatenate([np.asarray(t, dtype=np.int64) for t in tfs_list])
    g_starts = np.zeros(lens.size, dtype=np.int64)
    np.cumsum(lens[:-1], out=g_starts[1:])

    # global chunk grid: per group, chunks start at g_start + k*chunk
    chunk_starts = np.concatenate(
        [gs + np.arange(0, ln, chunk, dtype=np.int64)
         for gs, ln in zip(g_starts, lens)]
    )
    n_chunks_per_group = (lens + chunk - 1) // chunk

    # delta-gap with reset at every chunk start (== per-group
    # delta_encode: group starts are chunk starts too)
    gaps = all_docs.copy()
    gaps[1:] -= all_docs[:-1]
    gaps[chunk_starts] = all_docs[chunk_starts]

    gap_arr, gap_groups = varbyte._encode_arr(gaps)
    tf_arr, tf_groups = varbyte._encode_arr(all_tfs)
    gap_sizes = np.add.reduceat(gap_groups, chunk_starts)
    tf_sizes = np.add.reduceat(tf_groups, chunk_starts)
    chunk_ends = np.append(chunk_starts[1:], all_docs.size)
    # group boundaries also end chunks; chunk_starts already includes
    # every group start, so chunk_ends is correct except where a group
    # ends mid-gap — impossible: next group's first chunk start is the
    # current group's end.
    last_docs = all_docs[chunk_ends - 1]
    counts = chunk_ends - chunk_starts
    max_tfs = np.maximum.reduceat(all_tfs, chunk_starts)
    gap_offs = np.zeros(chunk_starts.size + 1, dtype=np.int64)
    np.cumsum(gap_sizes, out=gap_offs[1:])
    tf_offs = np.zeros(chunk_starts.size + 1, dtype=np.int64)
    np.cumsum(tf_sizes, out=tf_offs[1:])
    gap_buf = gap_arr.tobytes()
    tf_buf = tf_arr.tobytes()

    rows: list[dict] = []
    ci0 = 0
    for gi, term in enumerate(terms):
        nck = int(n_chunks_per_group[gi])
        block_id = 0
        a = ci0
        block_bytes = 0
        for ci in range(ci0, ci0 + nck):
            sz = int(gap_sizes[ci] + tf_sizes[ci]) + 16
            if ci > a and block_bytes + sz > cfg.block_bytes:
                rows.append(_chunkrange_row(
                    term, seg, block_id, a, ci, all_docs, chunk_starts,
                    last_docs, counts, max_tfs, gap_buf, gap_offs,
                    tf_buf, tf_offs))
                block_id += 1
                a = ci
                block_bytes = 0
            block_bytes += sz
        rows.append(_chunkrange_row(
            term, seg, block_id, a, ci0 + nck, all_docs, chunk_starts,
            last_docs, counts, max_tfs, gap_buf, gap_offs, tf_buf, tf_offs))
        ci0 += nck
    return rows


def _chunkrange_row(term, seg, block_id, a, b, all_docs, chunk_starts,
                    last_docs, counts, max_tfs, gap_buf, gap_offs,
                    tf_buf, tf_offs) -> dict:
    return {
        "term": term,
        "seg": seg,
        "block_id": block_id,
        "n_postings": int(counts[a:b].sum()),
        "first_doc_id": int(all_docs[chunk_starts[a]]),
        "last_doc_id": int(last_docs[b - 1]),
        "max_tf": int(max_tfs[a:b].max()),
        "chunk_last_doc_ids": last_docs[a:b].tolist(),
        "chunk_counts": counts[a:b].astype(np.int32).tolist(),
        "chunk_max_tfs": max_tfs[a:b].astype(np.int32).tolist(),
        # per-chunk payload sizes — the reference's docIdSizeList /
        # freqSizeList (Lexicon.cpp:196-214): with these, a decoder can
        # SKIP a chunk's bytes without scanning them (VarByte has no
        # other random access), which is what chunk-level block-max
        # pruning needs (query_exec.segment_topk_candidates)
        "chunk_gap_bytes": (gap_offs[a + 1:b + 1]
                            - gap_offs[a:b]).astype(np.int32).tolist(),
        "chunk_tf_bytes": (tf_offs[a + 1:b + 1]
                           - tf_offs[a:b]).astype(np.int32).tolist(),
        "doc_gaps": gap_buf[gap_offs[a]:gap_offs[b]],
        "tfs": tf_buf[tf_offs[a]:tf_offs[b]],
    }


def _encode_stream(cfg: EngineConfig):
    """mapInPandas kernel with cross-batch group carry-over."""

    def fn(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        key: tuple[str, int] | None = None
        docs_acc: list[np.ndarray] = []
        tfs_acc: list[np.ndarray] = []
        out: list[dict] = []

        def close_group() -> None:
            nonlocal docs_acc, tfs_acc
            if key is not None and docs_acc:
                d = np.concatenate(docs_acc)
                t = np.concatenate(tfs_acc)
                out.extend(_encode_group(key[0], key[1], d, t, cfg))
            docs_acc, tfs_acc = [], []

        for pdf in batches:
            if pdf.empty:
                continue
            terms = pdf["term"].values
            segs = pdf["seg"].values
            docs = pdf["doc_id"].values.astype(np.int64)
            tfs = pdf["tf"].values.astype(np.int64)
            # boundaries where (term, seg) changes
            change = np.empty(len(pdf), dtype=bool)
            change[0] = True
            change[1:] = (terms[1:] != terms[:-1]) | (segs[1:] != segs[:-1])
            starts = np.flatnonzero(change)
            ends = np.append(starts[1:], len(pdf))
            for s, e in zip(starts, ends):
                k = (terms[s], int(segs[s]))
                if k != key:
                    close_group()
                    key = k
                docs_acc.append(docs[s:e])
                tfs_acc.append(tfs[s:e])
            if len(out) >= 256:
                yield pd.DataFrame(out)
                out = []
        close_group()
        if out:
            yield pd.DataFrame(out)

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
    """
    with_seg = postings.withColumn(
        # integer `div`, not double division: a float64 quotient can
        # round across a segment boundary for doc_id >= 2^53
        "seg", F.expr(f"doc_id div {cfg.segment_docs}")
    )
    arranged = (
        with_seg.repartition(cfg.run_partitions, "term", "seg")
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
        cur_seg: int | None = None
        acc: dict[str, tuple[list, list]] = {}
        doc_rows: list[tuple[int, int, int]] = []

        def flush_seg() -> list[dict]:
            nonlocal acc
            if not acc:
                return []
            terms = sorted(acc)
            rows = _encode_seg_batch(
                cur_seg, terms,
                [acc[t][0] for t in terms],
                [acc[t][1] for t in terms], cfg,
            )
            acc = {}
            return rows

        def emit(rows: list[dict], docs: list) -> pd.DataFrame:
            frames = []
            if rows:
                b = pd.DataFrame(rows)
                b["kind"] = 0
                frames.append(b)
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
            out: list[dict] = []
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
    # segment (block_id contiguity per (term, seg) is preserved).
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
        for pdf in batches:
            terms: list[str] = []
            extras: dict[str, list] = {c: [] for c in extra_cols}
            docs: list[np.ndarray] = []
            tfs: list[np.ndarray] = []
            for row in pdf.itertuples(index=False):
                n = int(row.n_postings)
                gaps = varbyte.decode(bytes(row.doc_gaps), n)
                d = varbyte.delta_decode(gaps, chunk)
                t = varbyte.decode(bytes(row.tfs), n)
                terms.append(row.term)
                for c in extra_cols:
                    extras[c].append(getattr(row, c))
                docs.append(d)
                tfs.append(t)
            if not terms:
                empty = {**{c: [] for c in extra_cols},
                         "term": [], "doc_id": [], "tf": []}
                if len_bc is not None:
                    empty["doc_len"] = []
                yield pd.DataFrame(empty)
                continue
            counts = [d.size for d in docs]
            all_docs = np.concatenate(docs)
            data = {
                **{c: np.repeat(np.array(extras[c], dtype=object), counts)
                   for c in extra_cols},
                "term": np.repeat(np.array(terms, dtype=object), counts),
                "doc_id": all_docs,
                "tf": np.concatenate(tfs).astype(np.int32),
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
