"""Top-k BM25 query execution (conjunctive + disjunctive, batch sets).

Spark-first restatement of the reference query core
(``QueryProcessor::_queryTAAT/_queryDAAT``, SURVEY §3.2):

* disjunctive OR (k-way merge union + score sum, QueryProcessor.cpp:
  643-700) → ``groupBy(query_id, doc_id).agg(sum(score))``;
* conjunctive AND (sorted intersection, QueryProcessor.cpp:373-410 /
  589-634) → the same aggregation with ``HAVING count(*) = n_terms``
  — one hash aggregate replaces the iterated semi/anti joins, and
  the reference's min-df-first term ordering (selectivity ordering,
  :477-487) becomes irrelevant;
* top-k heap (QueryProcessor.cpp:273-319) → per-query ranking window
  ``row_number() <= k`` with the deterministic tie-break
  ``score DESC, doc_id ASC`` (SURVEY §2.12.4), built once in
  :func:`rank_top_k` for every tier;
* batch query sets run as ONE job: queries-as-DataFrame broadcast
  joined against the postings, replacing the reference's
  socket-per-query loop (5.77 s/query, HW3 PDF §4.1).

Two scorers, one formula.  Over the logical postings (and the decoded
output of the compressed index) BM25 is a pure Column expression (JVM
codegen, ``functions/bm25.py``).  Over compressed block rows it is
numpy: :func:`score_blocks` decodes and scores many rows in one pass
with the idf of :func:`bm25_idf`, and :func:`exact_topk_numpy` ranks
them — shared by the segment kernel (one pass per segment's rows in
each Arrow batch) and the engine's driver-local tier.
"""

from __future__ import annotations

import functools

import numpy as np

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cs6913_web_search_engines_spark.config import DEFAULT, EngineConfig
from cs6913_web_search_engines_spark.functions import tokenizer, varbyte
from cs6913_web_search_engines_spark.functions.bm25 import bm25_score
from cs6913_web_search_engines_spark.operators import block_codec
from cs6913_web_search_engines_spark.session import trim_zip_importers


def exact_topk_numpy(cat: "np.ndarray", weights: "np.ndarray",
                     n_terms: int, conjunctive: bool, k: int):
    """The rank-critical exact top-k over concatenated per-term
    (doc_id, contribution) arrays: sum per doc, conjunctive = doc
    matched every query term, order by (score desc, doc_id asc), cut
    at k.  ONE implementation shared by the driver-local tier
    (engine._search_local, over its cached scored postings) and the
    segment kernel (over one segment's :func:`score_blocks` slices) — a
    tie-break or conjunctive fix applied to one copy but not the other
    would break the cross-tier rank-identity the tests pin."""
    uids, inv = np.unique(cat, return_inverse=True)
    scores = np.bincount(inv, weights=weights)
    if conjunctive:
        keep = np.bincount(inv) == n_terms
        uids, scores = uids[keep], scores[keep]
    if uids.size == 0:
        return uids, scores
    order = np.lexsort((uids, -scores))[:k]
    return uids[order], scores[order]


def bm25_idf(df, n_docs) -> np.ndarray:
    """The reference's unclamped BM25 idf (QueryProcessor.cpp:28),
    negative for df > N/2, over a scalar or an array of dfs — the one
    numpy idf."""
    df = np.asarray(df, dtype=np.float64)
    return np.log((float(n_docs) - df + 0.5) / (df + 0.5))


def score_blocks(n_postings, gap_bufs, tf_bufs, row_idf, lens,
                 avg_len: float, cfg: EngineConfig = DEFAULT) -> list:
    """Decode + BM25 over many compressed block rows in one numpy pass
    → one ``(doc_ids, contribs)`` pair per row, in row order.

    Row ``i`` holds ``n_postings[i]`` postings (whole chunks of one
    term, see :func:`varbyte.decode_blocks`) of a term with idf
    ``row_idf[i]`` (:func:`bm25_idf`); ``lens`` is the dense doc-length
    array.  A doc with postings always has length ≥ 1, so ``dl == 0``
    means the id is missing from the norms array (index / page-table
    desync).  ``dl = 0`` MINIMIZES K and would silently MAXIMIZE the
    score, so such postings are dropped instead, matching the
    doc_stats-join tier's inner-join semantics.  The one numpy BM25:
    the segment kernel and the driver-local tier both score here."""
    n = np.asarray(n_postings, dtype=np.int64)
    if n.size == 0:
        return []
    ids, tf = varbyte.decode_blocks(n, gap_bufs, tf_bufs,
                                    cfg.postings_per_chunk)
    tf = tf.astype(np.float64)
    idf = np.repeat(np.asarray(row_idf, dtype=np.float64), n)
    dl = np.zeros(ids.size)
    m = ids < lens.size
    dl[m] = lens[ids[m]]
    ok = dl > 0
    if not ok.all():
        n = np.bincount(np.repeat(np.arange(n.size), n)[ok],
                        minlength=n.size)
        ids, tf, dl, idf = ids[ok], tf[ok], dl[ok], idf[ok]
    k1, b = cfg.k1, cfg.b
    K = k1 * ((1.0 - b) + b * dl / avg_len)
    contrib = idf * (k1 + 1.0) * tf / (K + tf)
    cut = np.cumsum(n)[:-1]
    return list(zip(np.split(ids, cut), np.split(contrib, cut)))


def rank_top_k(cand: DataFrame, k: int) -> DataFrame:
    """(query_id, doc_id, score, ...) → (query_id, doc_id, score, rank),
    rank 1..k per query under ``score DESC, doc_id ASC`` — the one
    Spark ranking window of every tier."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )


def queries_to_terms(spark: SparkSession, queries: dict[str, str],
                     mode: str = "hw3",
                     dfs: dict[str, int] | None = None) -> DataFrame:
    """{query_id: raw_query} → (query_id, term, n_terms[, df]) via the
    reference query tokenizer (deduplicated, SURVEY §2.2 F2).

    ``dfs`` (term → document frequency) attaches df driver-side —
    the reference's lexicon-probe (QueryProcessor.cpp:578-582) result
    reused so the scorer skips its lexicon join."""
    import pandas as pd

    rows = []
    for qid, q in queries.items():
        terms = tokenizer.split_query(q, mode)
        for t in terms:
            if dfs is None:
                rows.append((qid, t, len(terms)))
            else:
                rows.append((qid, t, len(terms), int(dfs.get(t, 0))))
    schema = "query_id string, term string, n_terms int"
    cols = ["query_id", "term", "n_terms"]
    if dfs is not None:
        schema += ", df long"
        cols.append("df")
    pdf = pd.DataFrame(rows, columns=cols)
    if len(pdf) == 0:
        pdf = pdf.astype({"query_id": object, "term": object,
                          "n_terms": "int32",
                          **({"df": "int64"} if dfs is not None else {})})
    # pandas→Arrow conversion beats the row-list path ~8× on driver time
    return spark.createDataFrame(pdf, schema)


def score_query_set(
    postings: DataFrame,
    query_terms: DataFrame,
    lexicon: DataFrame,
    doc_stats: DataFrame,
    stats: dict,
    cfg: EngineConfig = DEFAULT,
    conjunctive: bool = False,
    broadcast_doc_stats: bool = True,
) -> DataFrame:
    """→ (query_id, doc_id, score, rank), rank 1..k per query.

    ``postings`` may be the logical postings table or the decoded
    output of the compressed index — identical schema by design.
    ``broadcast_doc_stats`` should be False at 10^12-doc scale where
    doc_stats exceeds broadcast size; the join then shuffles on
    doc_id (or uses a bucketed layout).
    """
    len_col = "distinct_terms" if cfg.length_norm == "hw3" else "byte_len"
    if "df" in query_terms.columns:  # caller already attached df
        qt = query_terms
    else:
        qt = query_terms.join(
            lexicon.select("term", "df"), "term", "left"
        ).fillna(0, subset=["df"])
    # Query terms are tiny → broadcast them into the postings scan so
    # the term filter happens map-side with no shuffle of postings.
    # Postings pre-tagged with query_id (the pruned path decodes
    # per-query block subsets) join per query instead.
    join_key = ["query_id", "term"] if "query_id" in postings.columns else "term"
    matched = postings.join(F.broadcast(qt), join_key)
    if "doc_len" not in postings.columns:
        # no inline norms → attach the page table by join
        ds = doc_stats.select("doc_id", F.col(len_col).alias("doc_len"))
        if broadcast_doc_stats:
            ds = F.broadcast(ds)
        matched = matched.join(ds, "doc_id")
    scored = matched.withColumn(
        "term_score",
        bm25_score(
            F.col("tf"), F.col("df"), F.col("doc_len"),
            int(stats["total_docs"]), float(stats["avg_len"]), cfg,
        ),
    )
    per_doc = scored.groupBy("query_id", "doc_id").agg(
        F.sum("term_score").alias("score"),
        F.count("*").alias("n_matched"),
        F.first("n_terms").alias("n_terms"),
    )
    if conjunctive:
        per_doc = per_doc.filter(F.col("n_matched") == F.col("n_terms"))
    return rank_top_k(per_doc, cfg.top_k)


def search(
    spark: SparkSession,
    postings: DataFrame,
    lexicon: DataFrame,
    doc_stats: DataFrame,
    stats: dict,
    query: str,
    cfg: EngineConfig = DEFAULT,
    conjunctive: bool = False,
) -> DataFrame:
    """Single interactive query (console-loop analog, main.cpp:147-150).

    The query separator table follows the engine mode: HW2 queries
    keep ``_`` intact (QueryProcessor.cpp:88), HW3 splits on it
    (ranking_optimizer/src/QueryProcessor.cpp:116) — SURVEY §2.11."""
    qt = queries_to_terms(spark, {"q0": query}, cfg.query_mode)
    return score_query_set(
        postings, qt, lexicon, doc_stats, stats, cfg, conjunctive
    ).drop("query_id")


def search_compressed(
    spark: SparkSession,
    index_path: str,
    lexicon: DataFrame,
    doc_stats: DataFrame,
    stats: dict,
    queries: dict[str, str],
    cfg: EngineConfig = DEFAULT,
    conjunctive: bool = False,
    broadcast_doc_stats: bool = True,
    blocks: DataFrame | None = None,
    len_lookup=None,
    query_terms: DataFrame | None = None,
) -> DataFrame:
    """Query the term-sharded compressed index: shard partition pruning
    + term predicate pushdown → decode UDF → same scorer.

    Interactive-latency knobs (all optional; engine.QueryEngine wires
    them at preload, the reference's main.cpp:99-108 analog):
    ``blocks`` — the preloaded index DataFrame (skips re-listing the
    parquet directory per query); ``len_lookup`` — broadcast doc-len
    array attached inside the decode kernel (skips the doc_stats
    join); ``query_terms`` — qt with df already attached (skips the
    lexicon join)."""
    mode = cfg.query_mode
    all_terms = sorted(
        {t for q in queries.values() for t in tokenizer.split_query(q, mode)}
    )
    src = blocks if blocks is not None else spark.read.parquet(index_path)
    filtered = src.filter(block_codec.term_filter(spark, all_terms, cfg))
    postings = block_codec.decode_postings(filtered, cfg, len_lookup=len_lookup)
    qt = query_terms if query_terms is not None else queries_to_terms(
        spark, queries, mode)
    return score_query_set(postings, qt, lexicon, doc_stats, stats, cfg,
                           conjunctive, broadcast_doc_stats=broadcast_doc_stats)


def spark_hash_long(v: int) -> int:
    """Spark's ``hash()`` of a BIGINT — Murmur3_x86_32.hashLong with
    seed 42, the hash ``HashPartitioning`` places rows by."""
    m = 0xFFFFFFFF

    def mix(h: int, k: int) -> int:
        k = (k * 0xCC9E2D51) & m
        k = ((k << 15) | (k >> 17)) & m
        h ^= (k * 0x1B873593) & m
        h = ((h << 13) | (h >> 19)) & m
        return (h * 5 + 0xE6546B64) & m

    v &= 0xFFFFFFFFFFFFFFFF
    h = mix(mix(42, v & m), v >> 32) ^ 8
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & m
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & m
    h ^= h >> 16
    return h - (1 << 32) if h >> 31 else h


@functools.lru_cache(maxsize=None)
def _placement_keys(n: int) -> tuple[int, ...]:
    """k_p = the smallest non-negative long Spark hash-partitions onto
    partition p of n: ``pmod(hash(k_p), n) == p``."""
    keys: dict[int, int] = {}
    k = 0
    while len(keys) < n:
        keys.setdefault(spark_hash_long(k) % n, k)
        k += 1
    return tuple(keys[p] for p in range(n))


def seg_placement(n: int) -> Column:
    """Repartition key that puts every row of segment ``seg`` on
    partition ``seg % n`` under ``repartition(n, key)``: the key is
    the long that hashes to that partition, looked up from a literal
    table (one SQL expression, no data pass)."""
    keys = ", ".join(f"{k}L" for k in _placement_keys(n))
    return F.expr(f"element_at(array({keys}), CAST(pmod(seg, {n}) AS INT) + 1)")


def segment_topk_candidates(
    spark: SparkSession,
    cand: DataFrame,
    lexicon: DataFrame,
    stats: dict,
    queries: dict[str, str],
    cfg: EngineConfig = DEFAULT,
    len_lookup=None,
    conjunctive: bool = False,
    num_partitions: int | None = None,
    dfs: dict[str, int] | None = None,
    chunk_counters=None,
) -> DataFrame:
    """Fused decode + BM25 + per-(segment, query) top-k Arrow kernel
    over candidate block rows → (query_id, doc_id, score) candidates.

    ``cand`` columns: (term, seg, n_postings, doc_gaps, tfs), plus
    optionally ``query_id``.  Untagged rows contribute to EVERY query
    containing the term (the segmented batch tier, which term-filters
    here); tagged rows contribute only to their own query — the pruned
    tier's per-query block survivorship, where one block may survive
    for query A and be pruned for query B.  A ``query_ids``
    array<string> column instead of ``query_id`` is the SHARED-decode
    tagged form (one row per physical block, decoded once, accumulated
    for every listed query): without it a batch whose queries overlap
    on a term ships and decodes one payload copy per (query, block) —
    the pruned tier's worst case is exactly the shared-term batch the
    untagged tier handles for free.

    **Chunk-level skipping** (the deepest block-max granularity): when
    tagged rows also carry ``cut_ub`` (the pruned planner's θ minus
    the other-terms slack for this (query, term, seg); in the
    shared-decode form the MIN over the row's queries, null when any
    of them has none, so decode keeps every chunk ANY tagged query
    needs — a query then accumulates postings it alone would have
    chunk-skipped, which is rank-safe for the same reason block
    add-back is: its true-top-k docs' blocks all survive with complete
    scores, and extra postings only move doomed docs toward true
    scores still below θ) plus the
    per-chunk metadata columns (``chunk_counts/chunk_max_tfs/
    chunk_gap_bytes/chunk_tf_bytes`` — the reference's per-chunk
    lastDocId/size arrays, Lexicon.cpp:196-214, which IT writes but
    never skips with, QueryProcessor.cpp:547-554), the kernel prunes
    chunks INSIDE a surviving block whose BM25 upper bound
    ``idf·(k1+1)·max_tf/(K(min_len)+max_tf)`` falls below ``cut_ub``
    before decoding a byte (the size arrays give the chunk's byte
    offsets; VarByte has no other random access).  Soundness is the
    block argument one level down: every doc in a skipped chunk has
    total score < θ, and dropping a positive contribution only
    deflates already-doomed docs — with a 1e-9 margin on the cut so
    cross-engine (numpy vs Catalyst) ULP drift can only cause extra
    decode, never a wrong skip.  Negative-idf terms are never
    chunk-pruned (dropping a negative contribution would inflate).
    ``chunk_counters``: optional (total, decoded) accumulator pair for
    bench/pytest accounting of chunks seen vs chunks decoded.

    Each run of same-segment rows in an Arrow batch is decoded and
    scored by one :func:`score_blocks` call (chunk-cut rows are spliced
    first).  Emits each segment's exact top-k per query; the global
    top-k per query is a subset under the same (score DESC, doc_id
    ASC) order (the TakeOrdered argument — see
    :func:`search_segmented`).  Callers add the tiny global ranking
    window (:func:`rank_top_k`) over n_segs × n_queries × k candidate
    rows.
    """
    import pandas as pd

    if len_lookup is None:
        raise ValueError("segment kernel requires the norms broadcast; "
                         "use search_compressed beyond norms-in-RAM scale")
    multi = "query_ids" in cand.columns
    tagged = multi or "query_id" in cand.columns
    qterms = {qid: tokenizer.split_query(q, cfg.query_mode)
              for qid, q in queries.items()}
    all_terms = sorted({t for ts in qterms.values() for t in ts})
    if dfs is None:
        dfs = {r["term"]: r["df"] for r in
               lexicon.filter(block_codec.sql_in("term", all_terms))
               .select("term", "df").collect()}
    idf = dict(zip(all_terms, bm25_idf([dfs.get(t, 0) for t in all_terms],
                                       stats["total_docs"]).tolist()))
    term2q: dict[str, list] = {}
    if not tagged:
        for qid, ts in qterms.items():
            for t in ts:
                term2q.setdefault(t, []).append(qid)
    n_terms_by_q = {qid: len(ts) for qid, ts in qterms.items()}
    avg = float(stats["avg_len"])
    k1, b = cfg.k1, cfg.b
    top_k = cfg.top_k
    _SKIP_COLS = ("cut_ub", "chunk_counts", "chunk_max_tfs",
                  "chunk_gap_bytes", "chunk_tf_bytes")
    chunk_skip = tagged and all(c in cand.columns for c in _SKIP_COLS)
    # K at the corpus-minimum length — the positive-idf chunk bound's
    # denominator, matching pruning.block_upper_bound exactly
    k_min_len = k1 * ((1.0 - b)
                      + b * float(max(int(stats.get("min_len", 1)), 1)) / avg)
    sc = spark.sparkContext
    t2q_b = sc.broadcast(term2q)
    idf_b = sc.broadcast(idf)
    nt_b = sc.broadcast(n_terms_by_q)

    def kept_chunks(idf_t, n, gaps, tfs, cut, ccounts, cmaxtfs, cgbytes,
                    ctbytes):
        """(n, gap bytes, tf bytes, chunks seen, chunks kept) of one
        row after dropping the chunks whose bound falls below ``cut``.
        Mixed-generation guard: rows encoded before the per-chunk
        byte-size arrays existed read them as null — no random access
        without the sizes, so they decode whole."""
        cc = np.asarray(ccounts, dtype=np.int64)
        if (cut is None or pd.isna(cut) or idf_t <= 0 or cmaxtfs is None
                or cgbytes is None or ctbytes is None):
            return n, gaps, tfs, cc.size, cc.size
        mt = np.asarray(cmaxtfs, dtype=np.float64)
        ub_c = idf_t * (k1 + 1.0) * mt / (k_min_len + mt)
        # 1e-9 margin: cross-engine ULP drift may only add decode,
        # never skip a live chunk
        ki = np.flatnonzero(ub_c >= (float(cut) - 1e-9))
        if ki.size == cc.size:
            return n, gaps, tfs, cc.size, cc.size
        go = np.concatenate(([0], np.cumsum(cgbytes)))
        to = np.concatenate(([0], np.cumsum(ctbytes)))
        # kept chunks are all full (only a block's LAST chunk can be
        # partial), so the per-chunk delta resets stay aligned after
        # dropping chunks
        return (int(cc[ki].sum()),
                b"".join(gaps[go[i]:go[i + 1]] for i in ki),
                b"".join(tfs[to[i]:to[i + 1]] for i in ki),
                cc.size, ki.size)

    def kernel(batches):
        trim_zip_importers()
        lens = len_lookup.value
        t2q, idfs, nts = t2q_b.value, idf_b.value, nt_b.value
        # per-segment top-k rows accumulate as numpy slices (no
        # per-element boxing) and drain every ~1M rows: holding a
        # whole partition's output (segs/partition × queries × k rows)
        # in boxed Python lists blew up worker memory at big batches
        out_q: list = []
        out_d: list[np.ndarray] = []
        out_s: list[np.ndarray] = []
        nrows = 0
        cur_seg = None
        acc: dict[str, list] = {}   # qid -> [(ids, contribs), ...]

        def drain() -> pd.DataFrame:
            nonlocal out_q, out_d, out_s, nrows
            df = pd.DataFrame({
                "query_id": pd.Series(out_q, dtype=object),
                "doc_id": (np.concatenate(out_d) if out_d
                           else np.empty(0, np.int64)).astype(np.int64),
                "score": (np.concatenate(out_s) if out_s
                          else np.empty(0, np.float64)),
            })
            out_q, out_d, out_s, nrows = [], [], [], 0
            return df

        def flush():
            nonlocal nrows
            for qid, pairs in acc.items():
                uids, scores = exact_topk_numpy(
                    np.concatenate([p[0] for p in pairs]),
                    np.concatenate([p[1] for p in pairs]),
                    nts[qid], conjunctive, top_k)
                if uids.size == 0:
                    continue
                out_q.extend([qid] * uids.size)
                out_d.append(uids)
                out_s.append(scores)
                nrows += uids.size
            acc.clear()

        for pdf in batches:
            terms = pdf["term"].tolist()
            n = pdf["n_postings"].to_numpy(np.int64).copy()
            gaps, tfs = pdf["doc_gaps"].tolist(), pdf["tfs"].tolist()
            if multi:
                targets = pdf["query_ids"].tolist()
            elif tagged:
                targets = [(q,) for q in pdf["query_id"]]
            else:
                targets = [t2q.get(t, ()) for t in terms]
            if chunk_skip:
                seen = kept = 0
                for i, extra in enumerate(zip(
                        pdf["cut_ub"], pdf["chunk_counts"],
                        pdf["chunk_max_tfs"], pdf["chunk_gap_bytes"],
                        pdf["chunk_tf_bytes"])):
                    if extra[1] is not None:
                        n[i], gaps[i], tfs[i], s_, k_ = kept_chunks(
                            idfs[terms[i]], n[i], gaps[i], tfs[i], *extra)
                        seen, kept = seen + s_, kept + k_
                if chunk_counters is not None:
                    chunk_counters[0].add(seen)
                    chunk_counters[1].add(kept)
            # rows are sorted by seg, so each segment is one run per
            # batch (and may continue into the next batch): one decode
            # + score pass per run, one segment resident at a time
            segs = pdf["seg"].to_numpy(np.int64)
            starts = np.flatnonzero(
                np.diff(segs, prepend=segs[:1] - 1)).tolist()
            for lo, hi in zip(starts, starts[1:] + [segs.size]):
                if segs[lo] != cur_seg:
                    flush()
                    cur_seg = segs[lo]
                    if nrows >= 1 << 20:
                        yield drain()
                rows = (np.flatnonzero(n[lo:hi]) + lo).tolist()
                scored = score_blocks(
                    n[rows], [gaps[i] for i in rows], [tfs[i] for i in rows],
                    [idfs[terms[i]] for i in rows], lens, avg, cfg)
                # shared decode: a row's (ids, contribs) pair is
                # appended by reference for every query it feeds
                for i, pair in zip(rows, scored):
                    for qid in targets[i]:
                        acc.setdefault(qid, []).append(pair)
        flush()
        yield drain()
        trim_zip_importers()

    nparts = num_partitions or max(sc.defaultParallelism * 2, 8)
    cols = (["query_ids"] if multi else
            ["query_id"] if tagged else []) + [
        "term", "seg", "n_postings", "doc_gaps", "tfs"]
    if chunk_skip:
        cols += list(_SKIP_COLS)
    if not tagged:
        cand = cand.filter(block_codec.term_filter(spark, all_terms, cfg))
    return (
        cand.select(*cols)
        # Exact placement: segment s lands on partition s % nparts.
        # Hashing seg itself leaves Poisson holes (empty partitions
        # beside double-loaded ones) when n_segs ~ n_partitions, and
        # range partitioning pays a sampling job that re-scans the
        # filtered payload on every call.  An explicit-count
        # repartition is never AQE-coalesced, so the placement holds.
        .repartition(nparts, seg_placement(nparts))
        .sortWithinPartitions("seg")
        .mapInPandas(kernel, "query_id string, doc_id long, score double")
    )


def search_segmented(
    spark: SparkSession,
    blocks: DataFrame,
    lexicon: DataFrame,
    stats: dict,
    queries: dict[str, str],
    cfg: EngineConfig = DEFAULT,
    len_lookup=None,
    conjunctive: bool = False,
    dfs: dict[str, int] | None = None,
) -> DataFrame:
    """Distributed segment-at-a-time exact top-k over the compressed
    index — the batch fast path.

    Every posting of a doc lives in the doc's segment, so a kernel
    holding ALL candidate blocks of one segment computes COMPLETE
    (query, doc) scores and a sound local top-k (the global top-k per
    query is a subset of each segment's top-k under the same
    (score DESC, doc_id ASC) order — the TakeOrdered argument).  Plan:

        blocks filter(terms) → repartition(seg % n) [shuffles only the
        COMPRESSED payload, ~2 bytes/posting; no sampling job]
        → sortWithinPartitions(seg)
        → Arrow kernel: decode + BM25 + per-(seg, query) top-k, one
        segment resident at a time → tiny global ranking window over
        n_segs × n_queries × k candidate rows.

    vs the exhaustive path this removes the 10^2-times-larger Arrow
    transfer and shuffle of per-posting score rows (measured 16× on a
    256-query batch over 186 M postings).  Requires the norms-in-RAM
    broadcast (``len_lookup``); the reference analog is DAAT scoring
    against the RAM page table (QueryProcessor.cpp:459-509),
    distributed by segment.  Rank-identical to
    :func:`search_compressed` (tests/test_query.py).
    """
    cand = segment_topk_candidates(
        spark, blocks.drop("query_id") if "query_id" in blocks.columns
        else blocks,
        lexicon, stats, queries, cfg, len_lookup=len_lookup,
        conjunctive=conjunctive, dfs=dfs,
    )
    return rank_top_k(cand, cfg.top_k)


def attach_content(results: DataFrame, documents: DataFrame) -> DataFrame:
    """Content retrieval (QueryProcessor::readDocContent, SURVEY S3/J5):
    seek-per-hit becomes a join, with the reference's comma-scrub
    projection (SearchResult.cpp:47)."""
    return results.join(
        documents.select(
            "doc_id", F.regexp_replace("text", ",", " ").alias("content")
        ),
        "doc_id",
        "left",
    )
