"""Block-max pruned top-k BM25 — the skip-metadata fast path.

The reference writes block-max skip metadata (``lastDocIdList`` per
chunk, ``query_processor/src/Lexicon.cpp:196-214``) but its MaxScore
traversal never prunes (constant bound, ``QueryProcessor.cpp:691-695``
— SURVEY §2.12.2).  This module is the upgrade the format was built
for, restated for Spark's batch execution model instead of a
document-at-a-time cursor walk:

* Every posting of a doc (for every term) lives in the doc's segment
  ``seg = doc_id // segment_docs``, and in exactly one block of each
  term.  A *matching* doc contains at least one query term (whose
  postings are in the doc's own segment), so its score is bounded by
  ``seg_ub(q, seg) = Σ_t max(0, ub_t) + max_t min(ub_t, 0)``
  (the optional terms clamp at 0; the best mandatory term may be
  negative — this stays below 0 in the all-head-term regime where the
  naive clamped sum degenerates to 0 and can never be pruned by a
  negative θ).  Conjunctive docs contain every term, so the plain
  unclamped ``Σ_t ub_t`` bounds them.
* ``ub`` is a pure Column expression over block metadata (``max_tf``,
  df, corpus stats) — no decode, no Python.  Bounds stay sound for
  the reference's *unclamped* IDF (negative for df > N/2):
  positive-idf terms bound at (max_tf, min doc length), negative-idf
  terms at (tf=1, max doc length) — always ≤ 0 for the latter.
* Phase 1 seeds a threshold: decode only each query's top-``seed_segs``
  segments by ``seg_ub`` and score them exactly (segment scores are
  complete scores — all of a doc's postings share its segment)
  → θ = the k-th best seed score per query.
* Phase 2 decodes only segments with ``seg_ub >= θ`` (strict-less
  pruning keeps rank identity even for score ties).  Within kept
  segments, a block of a *positive-idf* term is pruned when
  ``ub(block) + Σ_{t'≠t} max(0, seg ub of t') < θ`` — dropping a
  positive contribution can only deflate a doomed doc's partial
  score, never inflate it, so partially-decoded docs can never
  displace the true top-k.  Negative-idf terms are never
  block-pruned (dropping a negative contribution would inflate).

Everything stays distributed (no driver-side metadata collect):
θ is a per-query DataFrame joined into the prune filters.  Results
are provably rank-identical to the exhaustive path — pinned by
tests/test_pruning.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cs6913_web_search_engines_spark.config import DEFAULT, EngineConfig
from cs6913_web_search_engines_spark.functions import tokenizer
from cs6913_web_search_engines_spark.operators import block_codec, query_exec

# Below this many PHYSICAL (term, seg, block) metadata rows the
# PLANNING side (bounds, seeds, θ, survivor keys) runs driver-side in
# pandas — the reference's own model, which walks skip metadata in RAM
# (Lexicon.cpp:196-214) — leaving Spark exactly two decode jobs.  The
# estimate (see ``_estimate_phys_rows``) is a hard upper bound known
# from the driver df probe before any job runs.  Physical rows carry
# NO query dimension (round 5): a 256-query batch sharing head terms
# collects the same ~15 k rows as an 8-query batch — the old
# query-tagged collect grew as queries × segments (497 k rows at
# 32 M docs × 256 q) and was the tier's scale ceiling.  1 M rows ≈
# tens of MB of pandas; past that the fully-distributed planner below
# takes over (identical results — pinned by tests/test_pruning.py).
PLAN_LOCAL_MAX_META_ROWS = 1_000_000

# Segments per super-segment for the planner's bound hierarchy: both
# planners prune at sseg = seg // SUPERSEG_FACTOR granularity BEFORE
# expanding per-query per-segment bounds, so planner work scales with
# queries × surviving ssegs (+ segs inside them) instead of queries ×
# all segments (VERDICT r4 #2).  64 × 16 K-doc segments ≈ 1 M docs
# per sseg; at 10^12 docs that is ~1 M sseg rows per head term — the
# level a build-time rollup table serves (see search_pruned notes).
SUPERSEG_FACTOR = 64

# Adaptive abort: after θ/survivor planning (cheap — pandas over the
# physical metadata plus one small seed decode) the driver planner
# KNOWS how many query-tagged blocks phase 2 would decode.  When that
# exceeds this fraction of the exhaustive decode set, the plan is
# non-pruning — the segmented exhaustive kernel decodes each physical
# block once with no survivor bookkeeping and wins — so the planner
# returns the caller-provided fallback instead of executing phase 2.
# CALIBRATED (round 5, forced-tier PRUNED_BENCH rows): shapes where
# pruning wins keep ≤ 10 % of blocks (hothead 0.6-6 %), shapes where
# it measurably loses keep ≈ 100 % (zipf 8 M docs: 40.2 s pruned vs
# 5.8 s exhaustive at ratio 1.0; chunkskew 3.5-7.5 s vs 1.8-2.0 s) —
# any threshold in 0.2-0.8 separates them; 0.5 is the midpoint.
# This is the per-BATCH, per-SHAPE routing signal the df-only engine
# gate cannot see (a Zipf corpus with a positive-idf head term and
# spatially uniform tf has huge candidate volume AND nothing to
# prune).
PRUNED_ABORT_SURVIVOR_RATIO = 0.5


class _DriverPlanOverflow(Exception):
    """A lazy rollup-mode metadata fetch outgrew the driver budget —
    the caller replans with the distributed planner."""


def _estimate_meta_rows(queries: dict[str, str], dfs: dict[str, int],
                        total_docs: int, cfg: EngineConfig,
                        mode: str) -> int:
    """Sound upper bound on the QUERY-TAGGED metadata row count
    # (query_id, term, seg, block_id) — the decode-set width used for
    kernel partition sizing and the auto-tier gate.

    Per (query, term) occurrence — NOT per distinct term: a head term
    shared by Q queries appears Q× in meta.  Per occurrence the term's
    block rows are Σ_seg ceil(df_seg / chunk) ≤ ceil(df / chunk) +
    #nonempty segs ≤ ceil(df/chunk) + min(df, n_segs): each nonempty
    segment adds at most one partial block (a term spread one posting
    per segment has ~n_segs block rows even though df/chunk ≈ 0 —
    the regime the old Σ_t df_t//chunk estimate missed by up to
    chunk×batch_size)."""
    chunk = cfg.postings_per_chunk
    n_segs = max(1, -(-total_docs // cfg.segment_docs))
    total = 0
    for q in queries.values():
        for t in set(tokenizer.split_query(q, mode)):
            df = dfs.get(t, 0)
            total += min(df, n_segs) + -(-df // chunk)
    return max(1, total)


def _estimate_phys_rows(terms, dfs: dict[str, int], total_docs: int,
                        cfg: EngineConfig) -> int:
    """Sound upper bound on the PHYSICAL (term, seg, block_id) row
    count — what the driver planner actually collects (per DISTINCT
    term: physical metadata carries no query dimension).  Same
    per-term bound as ``_estimate_meta_rows``."""
    chunk = cfg.postings_per_chunk
    n_segs = max(1, -(-total_docs // cfg.segment_docs))
    total = 0
    for t in set(terms):
        df = dfs.get(t, 0)
        total += min(df, n_segs) + -(-df // chunk)
    return max(1, total)


def block_upper_bound(cfg: EngineConfig, total_docs: int, avg_len: float,
                      min_len: int, max_len: int):
    """BM25 upper bound for any posting in a block, as a Column.

    Score = idf * (k1+1)·tf / (K(len) + tf) with K increasing in len:
    the product is maximal at (max_tf, min_len) when idf > 0 and at
    (tf=1, max_len) when idf ≤ 0 (least-negative).  idf is the
    reference's unclamped form (QueryProcessor.cpp:28).
    """
    idf = F.log((F.lit(float(total_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5))
    k1, b = cfg.k1, cfg.b

    def tf_part(tf_col, length: float):
        k = k1 * ((1.0 - b) + b * length / avg_len)
        return (k1 + 1.0) * tf_col / (F.lit(k) + tf_col)

    pos = idf * tf_part(F.col("max_tf").cast("double"), float(max(min_len, 1)))
    neg = idf * tf_part(F.lit(1.0), float(max(max_len, 1)))
    return F.when(idf > 0, pos).otherwise(neg)


def _query_meta(
    spark: SparkSession,
    index_path: str,
    lexicon: DataFrame,
    queries: dict[str, str],
    cfg: EngineConfig,
    blocks: DataFrame | None = None,
    dfs: dict[str, int] | None = None,
):
    """Block metadata rows for all query terms, with df attached.

    Reads ONLY metadata columns — the parquet scan never touches the
    ``doc_gaps``/``tfs`` payload bytes (column pruning), and shard/term
    predicates prune partitions and row groups.

    Query tokenization follows ``cfg.length_norm`` (HW2 splits on a
    different separator set than HW3) so the pruned tier stays
    rank-identical to the other tiers under either config.
    """
    mode = "hw2" if cfg.length_norm == "hw2" else "hw3"
    all_terms = sorted({t for q in queries.values()
                        for t in tokenizer.split_query(q, mode)})
    meta_cols = ["shard", "term", "seg", "block_id", "n_postings", "max_tf"]
    src = blocks if blocks is not None else spark.read.parquet(index_path)
    phys = (
        src.select(*meta_cols)
        .filter(block_codec.term_filter(spark, all_terms, cfg))
    )
    if dfs is not None:
        # caller already probed term dfs driver-side (the engine's
        # lexicon memo) — build qt with df attached, no lexicon join
        qt = query_exec.queries_to_terms(spark, queries, mode, dfs=dfs)
    else:
        qt = query_exec.queries_to_terms(spark, queries, mode)
        qt = qt.join(lexicon.select("term", "df"), "term", "left").fillna(
            0, subset=["df"])
    return phys.join(F.broadcast(qt), "term"), qt, all_terms, phys


def search_pruned(
    spark: SparkSession,
    index_path: str,
    lexicon: DataFrame,
    doc_stats: DataFrame,
    stats: dict,
    queries: dict[str, str],
    cfg: EngineConfig = DEFAULT,
    conjunctive: bool = False,
    seed_segs: int = 2,
    broadcast_doc_stats: bool = True,
    broadcast_keys: bool = True,
    blocks: DataFrame | None = None,
    len_lookup=None,
    counters: dict | None = None,
    dfs: dict[str, int] | None = None,
    driver_plan: bool | None = None,
    fallback=None,
) -> DataFrame:
    """Exact top-k BM25 over the compressed index, decoding only
    blocks whose bound can still beat the seeded threshold.

    Returns (query_id, doc_id, score, rank) — rank-identical to
    :func:`query_exec.search_compressed`.

    Two planners, same algorithm and identical results:

    * **driver planner** (small metadata, the default under
      ``PLAN_LOCAL_MAX_META_ROWS``): bounds/seeds/θ/survivors in
      pandas on the collected metadata — the reference's in-RAM
      skip-metadata walk (Lexicon.cpp:196-214) — so Spark runs only
      the seed-decode and survivor-decode jobs;
    * **distributed planner** (``driver_plan=False`` or big
      metadata): everything stays in DataFrames with the metadata
      tables materialized once via localCheckpoint — the 10^12-doc
      regime where even per-query metadata outgrows the driver.

    ``broadcast_keys``: the survivor block-key set grows with corpus
    segments; set False beyond broadcast size (same regime as
    ``broadcast_doc_stats``) and the key join shuffles instead (AQE
    still broadcasts it at runtime when it measures small).

    ``fallback``: zero-arg callable returning a rank-identical
    DataFrame (the engine passes the segmented exhaustive tier).
    When set, the DRIVER planner aborts to it after θ/survivor
    planning if the plan turned out non-pruning
    (``PRUNED_ABORT_SURVIVOR_RATIO``) — the per-shape routing signal
    the candidate-volume gate cannot see.  None (default) forces the
    pruned execution regardless.
    """
    total_docs = int(stats["total_docs"])
    min_len = int(stats.get("min_len", 1))
    max_len = int(stats.get("max_len", 1 << 30))
    src = blocks if blocks is not None else spark.read.parquet(index_path)
    meta, qt, all_terms, meta_phys = _query_meta(
        spark, index_path, lexicon, queries, cfg, src, dfs=dfs)
    if dfs is None:
        # probe term dfs once driver-side (qt carries the lexicon df):
        # kernel idf inputs + the partition-sizing estimate below
        dfs = {r["term"]: int(r["df"]) for r in
               qt.select("term", "df").distinct().collect()}
    # The decode scans must carry the term predicate too: the survivor
    # join alone does NOT push anything into the parquet scan, so an
    # unfiltered src would read EVERY shard's payload bytes to decode a
    # handful of blocks — measured as pruned wall-clock growing with
    # corpus size while the decoded-block count stayed constant.  With
    # the filter, shard partition pruning + term row-group pruning keep
    # the payload read proportional to the query postings.
    src = src.filter(block_codec.term_filter(spark, all_terms, cfg))
    ub_col = block_upper_bound(cfg, total_docs, float(stats["avg_len"]),
                               min_len, max_len)
    meta = meta.withColumn("ub", ub_col)
    # PHYSICAL planner metadata: per-(term, seg, block) rows with df +
    # ub attached via a tiny broadcast term→df map — no query
    # dimension, so its size is invariant in batch width (round 5:
    # the query-tagged collect grew as queries × segments and was the
    # pruned tier's scale ceiling)
    import pandas as pd

    term_df = spark.createDataFrame(
        pd.DataFrame({"term": pd.Series(list(all_terms), dtype=object),
                      "df": pd.Series([int(dfs.get(t, 0))
                                       for t in all_terms], dtype="int64")}),
        "term string, df long")
    phys = (meta_phys.join(F.broadcast(term_df), "term")
            .withColumn("ub", ub_col))
    # The metadata tables below (meta, term_seg, seg_ub) are each
    # referenced 2-4 times across the θ-seed job and the final decode
    # job, and Python-UDF subplans never canonicalize equal, so
    # Catalyst recomputes the scan→join→groupBy chain at every
    # reference — measured as ~40 tiny shuffle stages per search whose
    # scheduling dominated pruned wall-clock (≈10 s for a batch whose
    # decode work is milliseconds).  Materialize each once:
    # localCheckpoint is distributed (executor-memory), and the tables
    # are O(query terms × blocks) / O(query terms × segments) metadata,
    # never payload — safe at any corpus size.
    #
    # Partition counts are sized from the driver-side df probe when
    # available: ``_estimate_meta_rows`` is a hard upper bound on every
    # table and decode set below (per-(query,term) occurrence ×
    # per-segment partial blocks — not the old per-distinct-term
    # df//chunk, which undercounted by up to chunk × batch_size).
    # Tiny queries then run 1-8-task stages instead of scheduling
    # 25-64 mostly-empty tasks per stage (explicit repartition counts
    # are NOT AQE-coalesced) — measured as the dominant pruned-tier
    # constant at small corpora — while head-term queries at large
    # corpora still fan out.
    mode = "hw2" if cfg.length_norm == "hw2" else "hw3"
    est_rows = (_estimate_meta_rows(queries, dfs, total_docs, cfg, mode)
                if dfs else 1 << 20)
    n_meta = max(1, min(32, est_rows // 250_000 + 1))
    kernel_parts = max(8, min(spark.sparkContext.defaultParallelism * 2,
                              est_rows // 2_000 + 1))

    chunk_accs = None
    if counters is not None:
        sc = spark.sparkContext
        chunk_accs = (sc.accumulator(0), sc.accumulator(0))
        # read .value after exactly ONE action: accumulators updated
        # inside a transformation are at-least-once (task retries,
        # speculation, or a second action re-executing the kernel
        # double-count) — bench/pytest accounting only, never used for
        # query results or planning
        counters["_chunk_accs"] = chunk_accs

    # seg lists longer than this stay out of the scan predicate (an
    # isin of tens of thousands of literals bloats the plan for a
    # filter that prunes little)
    SCAN_SEG_MAX = 4096

    def exact_candidates(block_keys: DataFrame,
                         scan_segs: list[int] | None = None,
                         n_keys: int | None = None
                         ) -> DataFrame | None:
        """Fused decode+score+per-segment-top-k over exactly the given
        (query_id, term, seg, block_id[, cut_ub]) rows → per-segment
        candidate rows (query_id, doc_id, score), pre-global-ranking.
        Blocks are tagged with query_id *before* decode so a block
        kept for query A never leaks partial scores into query B
        (which may have pruned it).  ``cut_ub`` (survivor keys only)
        enables chunk-level skipping inside the kernel — see
        query_exec.segment_topk_candidates.  None when norms aren't in
        RAM (the kernel needs the resident length array).

        ``scan_segs``: when the planner knows the exact segment set
        driver-side, it is pushed INTO the parquet scan — the join
        alone prunes nothing at read time, so without it both decode
        jobs re-read every query-term block's payload bytes (measured:
        the whole pruned-tier residual at 32 M docs, where term
        filtering leaves 15 k one-block groups and pruning keeps 24).
        The fused build writes seg-range-clustered files per shard, so
        the seg predicate prunes at file/row-group granularity."""
        if len_lookup is None:
            return None
        key_cols = ["query_id", "term", "seg", "block_id"]
        sel = key_cols + (["cut_ub"] if "cut_ub" in block_keys.columns
                          else [])
        # Share decode across queries that kept the same physical
        # block: grouped keys carry query_ids array<string> so the
        # payload join ships and the kernel decodes ONE copy per
        # (term, seg, block) instead of one per (query, block) —
        # without this a batch whose queries overlap on a term pays
        # payload shuffle + decode per query (measured 256 same-term
        # queries: 125 k tagged rows for 489 physical blocks).  The
        # merged cut_ub is the MIN over the block's queries, null if
        # any has none (decode must keep every chunk any query needs;
        # per-query add-back is rank-safe — see the kernel docstring).
        # The driver planner pre-groups in pandas (stage-count parity:
        # a Spark groupBy here measured +0.5 s of tiny-stage
        # scheduling per batch, the exact trap localCheckpoint fixed);
        # the distributed planner groups here.
        if "query_ids" in block_keys.columns:
            keys = block_keys
        else:
            keys = block_keys.select(*sel).dropDuplicates(key_cols)
            agg = [F.collect_list("query_id").alias("query_ids")]
            if "cut_ub" in block_keys.columns:
                agg.append(
                    F.when(F.count(F.lit(1)) == F.count("cut_ub"),
                           F.min("cut_ub")).alias("cut_ub"))
            keys = keys.groupBy("term", "seg", "block_id").agg(*agg)
        if broadcast_keys:
            keys = F.broadcast(keys)
        scan = src
        if scan_segs is not None and 0 < len(scan_segs) <= SCAN_SEG_MAX:
            scan = scan.filter(block_codec.sql_in("seg", scan_segs))
        kept = scan.join(keys, ["term", "seg", "block_id"])
        # When the driver planner knows the EXACT physical block count
        # (n_keys), size the kernel at ~8 compressed blocks (≤512 KB
        # payload) per task: a ~100-block seed decode then schedules
        # ~12 tasks instead of the est-rows-derived 64 — at 32 M docs
        # × 256 queries the decode work is milliseconds and the
        # mostly-empty task scheduling WAS the seed job (explicit
        # repartition counts are never AQE-coalesced).
        parts = kernel_parts
        if n_keys is not None:
            parts = max(8, min(kernel_parts, -(-n_keys // 8)))
        return query_exec.segment_topk_candidates(
            spark, kept, lexicon, stats, queries, cfg,
            len_lookup=len_lookup, conjunctive=conjunctive, dfs=dfs,
            num_partitions=parts, chunk_counters=chunk_accs,
        )

    def exact_scores(block_keys: DataFrame,
                     scan_segs: list[int] | None = None,
                     n_keys: int | None = None) -> DataFrame:
        """Ranked exact top-k over the given block keys.

        With norms in RAM this is ONE fused Arrow crossing
        (``exact_candidates``) plus a tiny global ranking window —
        instead of decode → per-posting score rows → groupBy → window
        (two extra shuffles of per-posting width, measured as the
        dominant pruned-tier constant).  Beyond norms-in-RAM scale it
        falls back to the distributed doc_stats-join scorer."""
        cand = exact_candidates(block_keys, scan_segs, n_keys)
        if cand is not None:
            w = Window.partitionBy("query_id").orderBy(
                F.col("score").desc(), F.col("doc_id").asc()
            )
            return (
                cand.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= cfg.top_k)
                .select("query_id", "doc_id", "score", "rank")
            )
        bk = block_keys
        if "query_ids" in bk.columns:     # pre-grouped (driver planner)
            bk = bk.withColumn("query_id", F.explode("query_ids"))
        keys = bk.select(
            "query_id", "term", "seg", "block_id"
        ).dropDuplicates()
        if broadcast_keys:
            keys = F.broadcast(keys)
        kept = src.join(keys, ["term", "seg", "block_id"])
        postings = block_codec.decode_postings(
            kept, cfg, extra_cols=("query_id",), len_lookup=len_lookup
        )
        return query_exec.score_query_set(
            postings, qt, lexicon, doc_stats, stats, cfg,
            conjunctive=conjunctive,
            broadcast_doc_stats=broadcast_doc_stats,
        )

    probe_pdf = None
    _PHYS_COLS = ["term", "seg", "block_id", "df", "ub"]
    if driver_plan is None:
        est_phys = (_estimate_phys_rows(all_terms, dfs, total_docs, cfg)
                    if dfs else 1 << 40)
        driver_plan = (len_lookup is not None
                       and est_phys <= PLAN_LOCAL_MAX_META_ROWS)
        if len_lookup is not None and not driver_plan:
            # The estimate bounds CHUNK rows, so it exceeds the true
            # block-row count by up to the chunks-per-block packing
            # factor (~60-100× at 64 KB blocks / ~650 B chunks) —
            # measured routing the 32 M-doc regime to the distributed
            # planner (13 s) when the driver planner answers in ~2 s
            # over the actual 15 k metadata rows.  Probe with ONE
            # bounded metadata-only collect (CollectLimit stops at
            # MAX+1 rows, so driver memory stays gated by the same
            # constant): under the cap, the probe IS the planner's
            # input; over it, the distributed planner takes over as
            # before — metadata genuinely beyond the driver.
            import time as _time

            _t0 = _time.time()
            probe_pdf = (phys.select(*_PHYS_COLS)
                         .limit(PLAN_LOCAL_MAX_META_ROWS + 1).toPandas())
            if counters is not None:
                counters["_t_probe"] = _time.time() - _t0
            if len(probe_pdf) <= PLAN_LOCAL_MAX_META_ROWS:
                driver_plan = True
            else:
                probe_pdf = None
                # Rollup probe (round 5): physical rows outgrew the
                # driver, but the (term, sseg) ROLLUP is
                # SUPERSEG_FACTOR× smaller — one distributed
                # metadata-only agg (exactly what a build-time rollup
                # table would store; computing it per batch costs one
                # tiny Spark job and zero format/maintenance surface).
                # Under the cap, the driver plans hierarchically from
                # the rollup and fetches per-segment metadata ONLY for
                # each query's top super-segments and the
                # θ-surviving ones — extending the driver planner
                # another 64× before the distributed planner takes
                # over (and a fetch that outgrows the budget falls
                # back to it mid-plan via _DriverPlanOverflow).
                _t0 = _time.time()
                rollup_pdf = (
                    phys.groupBy(
                        "term",
                        (F.col("seg") / SUPERSEG_FACTOR)
                        .cast("long").alias("sseg"))
                    .agg(F.max("ub").alias("ss_ub"),
                         F.count("*").alias("n_blocks"))
                    .limit(PLAN_LOCAL_MAX_META_ROWS + 1).toPandas())
                if counters is not None:
                    counters["_t_rollup"] = _time.time() - _t0
                if len(rollup_pdf) <= PLAN_LOCAL_MAX_META_ROWS:
                    driver_plan = "rollup"
    if driver_plan:
        qt_rows = []
        for qid, q in queries.items():
            q_terms = tokenizer.split_query(q, mode)
            for t in q_terms:
                qt_rows.append((qid, t, len(q_terms)))
        qt_pdf = pd.DataFrame(qt_rows,
                              columns=["query_id", "term", "n_terms"])
        try:
            return _search_pruned_driver(
                spark, phys, qt_pdf, exact_scores, exact_candidates,
                stats, cfg, conjunctive, seed_segs, counters,
                mpdf=probe_pdf,
                rollup_pdf=(rollup_pdf if driver_plan == "rollup"
                            else None),
                fallback=fallback)
        except _DriverPlanOverflow:
            # a lazy fetch outgrew the driver budget (survivor ssegs
            # genuinely hold >cap block rows) — replan distributed
            pass

    # ----- distributed planner: the same super-segment hierarchy in
    # DataFrames.  Only ``phys`` (no query dimension) is materialized
    # at per-block width; query-tagged tables exist only at sseg
    # granularity and below surviving ssegs, so planner row counts
    # scale with queries × surviving ssegs instead of queries ×
    # segments (round 5 — the old per-(query, seg) materialization
    # was the tier's scale ceiling).
    phys = phys.coalesce(n_meta).localCheckpoint(eager=True)
    qtb = F.broadcast(qt.select("query_id", "term", "n_terms"))

    # Per (term, seg): best block bound — physical, query-free.
    ts = (
        phys.groupBy("term", "seg")
        .agg(F.max("ub").alias("term_ub"))
        .withColumn("sseg",
                    (F.col("seg") / SUPERSEG_FACTOR).cast("long"))
        .withColumn("term_ub_pos", F.greatest(F.col("term_ub"), F.lit(0.0)))
        .withColumn("term_ub_neg", F.least(F.col("term_ub"), F.lit(0.0)))
    )
    ts = ts.localCheckpoint(eager=True)
    # Per (term, sseg): best bound in the super-segment (≥ every
    # member segment's term bound — monotone in max over segs).
    ss = ts.groupBy("term", "sseg").agg(F.max("term_ub").alias("ss_ub"))

    # Per (query, sseg): bounds + #query terms present.
    #
    # ``sum_pos = Σ_t max(0, ub_t)`` is the bound for a doc that may
    # contain ANY subset of terms — but an empty subset is not a
    # match.  A matching doc contains ≥1 query term t0, and t0's
    # postings live in the doc's own segment, so
    #     score ≤ max_{t0 present} [ub_t0 + Σ_{t'≠t0} max(0, ub_t')]
    #           = sum_pos + max_t min(ub_t, 0)
    # — strictly sharper when every term in the segment has negative
    # ub (the unclamped-idf head-term regime, where the clamped bound
    # degenerates to 0 and can never fall below a negative θ).  For
    # conjunctive queries the doc contains ALL terms, so the plain
    # unclamped sum ``Σ_t ub_t`` bounds it (sharper again).  The same
    # derivation holds per super-segment over the per-term maxima,
    # and presence at sseg level is implied by presence in any member
    # segment — so an sseg bound < θ prunes every member segment
    # without its per-segment bounds ever being computed.
    sug = (
        ss.join(qtb, "term")
        .groupBy("query_id", "sseg")
        .agg(
            F.sum(F.greatest(F.col("ss_ub"), F.lit(0.0))).alias("sum_pos"),
            F.sum("ss_ub").alias("sum_all"),
            F.max(F.least(F.col("ss_ub"), F.lit(0.0))).alias("best_neg"),
            F.count("*").alias("n_terms_present"),
            F.first("n_terms").alias("n_terms"),
        )
        .withColumn(
            "sseg_ub",
            F.col("sum_all") if conjunctive
            else F.col("sum_pos") + F.col("best_neg"),
        )
    )
    if conjunctive:
        # A conjunctive match needs every term; a super-segment whose
        # segments never see some query term cannot match — the
        # zigzag-intersection skip (QueryProcessor.cpp:589-634) at
        # sseg granularity (repeated per-segment below).
        sug = sug.filter(F.col("n_terms_present") == F.col("n_terms"))
    sug = sug.localCheckpoint(eager=True)

    def seg_bounds(qsseg: DataFrame) -> DataFrame:
        """Per-(query, seg) bounds, expanded ONLY inside the given
        (query_id, sseg) rows — same derivation as the sseg bound."""
        rows = ts.join(
            F.broadcast(qsseg.join(qtb, "query_id")), ["term", "sseg"])
        su = (
            rows.groupBy("query_id", "seg")
            .agg(
                F.sum("term_ub_pos").alias("sum_pos"),
                F.sum("term_ub").alias("sum_all"),
                F.max("term_ub_neg").alias("best_neg"),
                F.count("*").alias("n_terms_present"),
                F.first("n_terms").alias("n_terms"),
            )
            .withColumn(
                "seg_ub",
                F.col("sum_all") if conjunctive
                else F.col("sum_pos") + F.col("best_neg"),
            )
        )
        if conjunctive:
            su = su.filter(F.col("n_terms_present") == F.col("n_terms"))
        return su

    # Seeds: the best seed_segs segments WITHIN each query's top
    # seed_segs super-segments (bound-ordered).  Seed choice affects
    # only θ quality, never correctness — phase 2 prunes against the
    # real per-segment bounds regardless.
    w_ss = Window.partitionBy("query_id").orderBy(
        F.col("sseg_ub").desc(), F.col("sseg").asc())
    top_ss = (
        sug.withColumn("ss_rank", F.row_number().over(w_ss))
        .filter(F.col("ss_rank") <= max(seed_segs, 1))
        .select("query_id", "sseg")
    )
    w_seed = Window.partitionBy("query_id").orderBy(
        F.col("seg_ub").desc(), F.col("seg").asc()
    )
    seeds = (
        seg_bounds(top_ss)
        .withColumn("seg_rank", F.row_number().over(w_seed))
        .filter(F.col("seg_rank") <= seed_segs)
        .select("query_id", "seg")
    )

    # Phase 1: exact top-k inside the seed segments → threshold θ.
    # seed_topk is ≤ k rows per query and is used twice — to derive θ
    # AND as the seed segments' contribution to the final result (seed
    # segments are excluded from phase 2 below, so their blocks decode
    # exactly once instead of twice).  Materialize it once; θ derives
    # from the checkpoint for free.
    seed_keys = phys.join(
        F.broadcast(seeds.join(qtb.select("query_id", "term"),
                               "query_id")),
        ["term", "seg"],
    ).select("query_id", "term", "seg", "block_id")
    seed_topk = exact_scores(seed_keys).localCheckpoint(eager=True)
    theta = seed_topk.filter(F.col("rank") == cfg.top_k).select(
        "query_id", F.col("score").alias("theta")
    )

    # Phase 2: super-segments whose bound can still matter, expanded
    # to segments, MINUS the seed segments (already scored exactly;
    # their survivors ride in via the final union).  Queries with
    # fewer than k seed results get θ = -inf (left-join null keeps
    # all).  Segments inside pruned ssegs are dropped soundly:
    # seg_ub ≤ sseg_ub < θ.
    kept_ss = (
        sug.join(theta, "query_id", "left")
        .filter(F.col("theta").isNull()
                | (F.col("sseg_ub") >= F.col("theta")))
        .select("query_id", "sseg")
    )
    kept_segs = (
        seg_bounds(kept_ss)
        .join(theta, "query_id", "left")
        .filter(F.col("theta").isNull() | (F.col("seg_ub") >= F.col("theta")))
        .join(seeds, ["query_id", "seg"], "left_anti")
        .select("query_id", "seg", "sum_pos")
    )
    survivors = (
        phys.join(
            F.broadcast(kept_segs.join(qtb.select("query_id", "term"),
                                       "query_id")),
            ["term", "seg"],
        )
        # block-level bound: the doc CONTAINS this term (ub accounts it
        # exactly), the others stay optional → the CLAMPED sum_pos,
        # not the sharpened seg_ub (which assumes the best single
        # mandatory term and would under-bound docs holding this one)
        .join(ts.select("term", "seg", "term_ub_pos"), ["term", "seg"])
        .join(theta, "query_id", "left")
        .filter(
            F.col("theta").isNull()
            # never block-prune negative-idf terms (df ≥ N/2): dropping
            # a negative contribution would inflate partial scores
            | (F.col("df") * 2 >= F.lit(total_docs))
            | (F.col("ub") + F.col("sum_pos") - F.col("term_ub_pos")
               >= F.col("theta"))
        )
        # cut_ub = θ − other-terms slack: the bound a CHUNK inside this
        # surviving block must still clear — the decode kernel prunes
        # chunks below it (null = no chunk pruning: no θ yet, or a
        # negative-idf term, same rule as the block filter above)
        .select(
            "query_id", "term", "seg", "block_id",
            F.when(
                F.col("theta").isNull()
                | (F.col("df") * 2 >= F.lit(total_docs)),
                F.lit(None).cast("double"),
            ).otherwise(
                F.col("theta") - (F.col("sum_pos") - F.col("term_ub_pos"))
            ).alias("cut_ub"),
        )
    )
    if counters is not None or fallback is not None:
        # Materialize the survivor set once: the abort check (and the
        # bench counters) need its count, and the phase-2 decode below
        # reuses the checkpoint instead of recomputing the planning
        # DAG.  Bounded: query-tagged surviving block keys — at worst
        # the exhaustive decode-set width phase 2 would process anyway.
        survivors = survivors.localCheckpoint(eager=True)
        n_seed = seed_keys.count()
        n_surv = survivors.count() + n_seed
    if counters is not None:
        # bench-only accounting (extra actions): how many (query, term,
        # block) rows the exhaustive plan would decode vs what was
        # actually decoded (seed phase + phase-2 survivors)
        counters["exhaustive_blocks"] = meta.count()
        counters["seed_blocks"] = n_seed
        counters["survivor_blocks"] = n_surv
        # parity with the driver planner's collected-row accounting:
        # the physical width its collect would have had
        counters["planner_meta_rows"] = phys.count()
    if fallback is not None:
        # Adaptive abort, distributed-planner edition (the driver
        # planner's check lives in _search_pruned_driver): this is the
        # path a beyond-driver-cap corpus takes — including a lazy
        # rollup plan that overflowed mid-fetch — so a non-pruning
        # shape at exactly that scale must still hand the batch to the
        # segmented fallback before the phase-2 decode.  The tagged
        # exhaustive width comes arithmetically from per-term block
        # counts over the checkpointed physical frame (one tiny agg +
        # ≤|terms|-row collect, no second parquet scan); sunk cost is
        # the probe, the plan stages, and the seed decode — same
        # contract as the driver abort.
        per_term = {r["term"]: int(r["n"]) for r in
                    phys.groupBy("term").agg(F.count("*").alias("n"))
                    .collect()}
        tagged_total = sum(per_term.get(t, 0)
                           for q in queries.values()
                           for t in set(tokenizer.split_query(q, mode)))
        if n_surv > PRUNED_ABORT_SURVIVOR_RATIO * max(tagged_total, 1):
            if counters is not None:
                counters["aborted_to_fallback"] = True
            return fallback()

    # Per-subset top-k then union then re-rank is exact: a doc ranked
    # past k *within* the seed subset already has k better
    # (score desc, doc_id asc) docs in that subset alone, so it can
    # never enter the overall top-k; same for phase 2.  No doc appears
    # in both subsets (its postings live in exactly one segment, and
    # seed segments are anti-joined out of phase 2).
    phase2 = exact_scores(survivors)
    combined = seed_topk.select("query_id", "doc_id", "score").unionByName(
        phase2.select("query_id", "doc_id", "score")
    )
    w_final = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        combined.withColumn("rank", F.row_number().over(w_final))
        .filter(F.col("rank") <= cfg.top_k)
        .select("query_id", "doc_id", "score", "rank")
    )


def _search_pruned_driver(
    spark: SparkSession,
    phys: DataFrame,
    qt_pdf,
    exact_scores,
    exact_candidates,
    stats: dict,
    cfg: EngineConfig,
    conjunctive: bool,
    seed_segs: int,
    counters: dict | None,
    mpdf=None,
    rollup_pdf=None,
    fallback=None,
) -> DataFrame:
    """Driver-side planning half of :func:`search_pruned` — identical
    bound/seed/θ/survivor math to the distributed planner, in pandas
    over the collected (small) metadata.  Decode + scoring stay in
    Spark (``exact_scores``), so the job count drops from ~6 actions
    of metadata bookkeeping to exactly: one metadata collect, one
    seed-decode job, one survivor-decode job.  The planner's exact
    seed/survivor SEGMENT sets are pushed into both decode scans
    (``scan_segs``) — reads, not just decode, stay proportional to
    what survived.

    Round 5: the collect is PHYSICAL (term, seg, block) rows — no
    query dimension — and the per-query expansion runs through the
    super-segment hierarchy, so both the collect width and the pandas
    work scale with terms × segments and queries × SURVIVING ssegs
    respectively, not queries × segments (the old planner's 497 k-row
    collect at 32 M docs × 256 queries collapses to the same ~15 k
    physical rows as an 8-query batch).  ``qt_pdf``: (query_id, term,
    n_terms) pandas frame.  ``mpdf``: optionally the already-collected
    physical metadata (the routing probe), so the gate costs no
    second scan.

    ``rollup_pdf`` (round 5 — the 64×-beyond-cap regime): the
    (term, sseg, ss_ub, n_blocks) rollup instead of per-block rows;
    the planner then LAZILY fetches per-segment/block metadata only
    for each query's top super-segments and the θ-surviving ones —
    super-segments are pruned against θ before their per-segment
    metadata is ever read.  A fetch that outgrows the driver budget
    raises :class:`_DriverPlanOverflow` (caller replans distributed).
    """
    import time as _time

    import pandas as pd

    total_docs = int(stats["total_docs"])
    grouped_schema = ("term string, seg long, block_id int, "
                      "query_ids array<string>")
    empty = spark.createDataFrame(
        [], "query_id string, doc_id long, score double, rank int")

    lazy = mpdf is None and rollup_pdf is not None
    _t0 = _time.time()
    if mpdf is None and not lazy:
        mpdf = phys.select("term", "seg", "block_id", "df", "ub").toPandas()
        if counters is not None:
            counters["_t_probe"] = _time.time() - _t0
    qt = qt_pdf

    def _ts_of(pdf: pd.DataFrame) -> pd.DataFrame:
        ts = (pdf.groupby(["term", "seg"], as_index=False)
              .agg(term_ub=("ub", "max")))
        ts["term_ub_pos"] = ts["term_ub"].clip(lower=0.0)
        ts["term_ub_neg"] = ts["term_ub"].clip(upper=0.0)
        ts["sseg"] = ts["seg"] // SUPERSEG_FACTOR
        return ts

    _PHYS_COLS = ["term", "seg", "block_id", "df", "ub"]
    if lazy:
        # rollup mode: ss comes straight from the collected rollup;
        # per-block metadata starts EMPTY and is fetched per sseg set
        ss = rollup_pdf
        mpdf = pd.DataFrame(
            {c: pd.Series(dtype=("object" if c == "term" else
                                 "float64" if c == "ub" else "int64"))
             for c in _PHYS_COLS})
        ts = _ts_of(mpdf)
        have_ssegs: set[int] = set()

        def ensure_ssegs(ssegs) -> None:
            """Fetch physical rows for not-yet-loaded super-segments
            (seg-range + sseg predicates pushed into the metadata
            scan), appending to the accumulated mpdf/ts."""
            nonlocal mpdf, ts
            need = sorted({int(s) for s in ssegs} - have_ssegs)
            if not need:
                return
            lo = need[0] * SUPERSEG_FACTOR
            hi = (need[-1] + 1) * SUPERSEG_FACTOR
            scan = phys.filter((F.col("seg") >= lo) & (F.col("seg") < hi))
            if len(need) <= 4096:
                scan = scan.filter(block_codec.sql_in(
                    f"seg div {SUPERSEG_FACTOR}", need))
            budget = PLAN_LOCAL_MAX_META_ROWS - len(mpdf)
            if budget <= 0:
                raise _DriverPlanOverflow()
            t0 = _time.time()
            new = (scan.select(*_PHYS_COLS)
                   .limit(budget + 1).toPandas())
            if counters is not None:
                counters["_t_fetch"] = (counters.get("_t_fetch", 0.0)
                                        + _time.time() - t0)
            if len(new) > budget:
                raise _DriverPlanOverflow()
            if len(need) > 4096:  # range scan over-fetches: trim exact
                new = new[(new["seg"] // SUPERSEG_FACTOR).isin(need)]
            have_ssegs.update(need)
            mpdf = (new if len(mpdf) == 0
                    else pd.concat([mpdf, new], ignore_index=True))
            ts = _ts_of(mpdf)
            if counters is not None:
                counters["planner_meta_rows"] = (len(rollup_pdf)
                                                 + len(mpdf))
    else:
        ts = _ts_of(mpdf)

        def ensure_ssegs(ssegs) -> None:
            return None

    # query-tagged width of the exhaustive decode set — arithmetic
    # over per-term block counts (a head term shared by Q queries
    # counts Q×), matching the distributed planner's meta.count();
    # also the adaptive-abort denominator below
    tagged_total = 0
    if len(qt):
        per_term = (ss.groupby("term")["n_blocks"].sum() if lazy
                    else mpdf.groupby("term").size())
        tagged_total = int(qt["term"].map(per_term).fillna(0).sum())
    if counters is not None:
        counters["exhaustive_blocks"] = tagged_total
        # what the planner actually collected (round-5 done-criterion:
        # physical rows, invariant in batch width — the old planner
        # collected the query-tagged count above).  Lazy mode adds
        # fetched rows as they load (see the return paths).
        counters["planner_meta_rows"] = (len(rollup_pdf) if lazy
                                         else len(mpdf))
    if (len(qt) == 0 or (len(mpdf) == 0 and not lazy)
            or (lazy and len(ss) == 0)):
        if counters is not None:
            counters["seed_blocks"] = counters["survivor_blocks"] = 0
        return empty

    _t0 = _time.time()
    # physical hierarchy — query-free: per-(term, seg) best block
    # bound, rolled up to super-segments
    if not lazy:
        ss = ts.groupby(["term", "sseg"], as_index=False).agg(
            ss_ub=("term_ub", "max"))
    ss = ss.copy()
    ss["ss_ub_pos"] = ss["ss_ub"].clip(lower=0.0)
    ss["ss_ub_neg"] = ss["ss_ub"].clip(upper=0.0)

    # per-(query, sseg) bound — the only full per-query expansion,
    # SUPERSEG_FACTOR× narrower than per-segment (derivation: see the
    # distributed planner)
    qss = qt.merge(ss, on="term")
    sug = (qss.groupby(["query_id", "sseg"], as_index=False)
           .agg(sum_pos=("ss_ub_pos", "sum"), sum_all=("ss_ub", "sum"),
                best_neg=("ss_ub_neg", "max"),
                n_terms_present=("term", "count"),
                n_terms=("n_terms", "first")))
    sug["sseg_ub"] = (sug["sum_all"] if conjunctive
                      else sug["sum_pos"] + sug["best_neg"])
    if conjunctive:
        sug = sug[sug["n_terms_present"] == sug["n_terms"]]
    if len(sug) == 0:
        if counters is not None:
            counters["seed_blocks"] = counters["survivor_blocks"] = 0
        return empty

    def seg_bounds(qsseg: pd.DataFrame) -> pd.DataFrame:
        """Per-(query, seg) bounds, expanded ONLY inside the given
        (query_id, sseg) rows."""
        rows = (qsseg.merge(qt, on="query_id")
                .merge(ts, on=["term", "sseg"]))
        su = (rows.groupby(["query_id", "seg"], as_index=False)
              .agg(sum_pos=("term_ub_pos", "sum"),
                   sum_all=("term_ub", "sum"),
                   best_neg=("term_ub_neg", "max"),
                   n_terms_present=("term", "count"),
                   n_terms=("n_terms", "first")))
        su["seg_ub"] = (su["sum_all"] if conjunctive
                        else su["sum_pos"] + su["best_neg"])
        if conjunctive:
            su = su[su["n_terms_present"] == su["n_terms"]]
        return su

    # seeds: best seed_segs segments within each query's top seed_segs
    # super-segments (seed choice affects only θ quality, never
    # correctness)
    top_ss = (sug.sort_values(["query_id", "sseg_ub", "sseg"],
                              ascending=[True, False, True])
              .groupby("query_id").head(max(seed_segs, 1))
              [["query_id", "sseg"]])
    ensure_ssegs(top_ss["sseg"])
    seeds = (seg_bounds(top_ss)
             .sort_values(["query_id", "seg_ub", "seg"],
                          ascending=[True, False, True])
             .groupby("query_id").head(seed_segs)[["query_id", "seg"]])
    seed_keys = (seeds.merge(qt[["query_id", "term"]], on="query_id")
                 .merge(mpdf[["term", "seg", "block_id"]],
                        on=["term", "seg"]))[
        ["query_id", "term", "seg", "block_id"]].drop_duplicates()

    # Phase 1: exact top-k of the seed segments → θ; reused below so
    # seed blocks decode once.  With the fused kernel available, rank
    # the (collect-sized) per-segment candidates here in pandas —
    # skipping the Spark ranking window saves a shuffle stage in the
    # seed job.
    # pre-group per physical block in pandas (shared decode — see
    # exact_candidates): one Spark row per (term, seg, block) with the
    # query_ids array, zero extra Spark stages
    seed_g = (seed_keys.groupby(["term", "seg", "block_id"],
                                as_index=False)
              .agg(query_ids=("query_id", list)))
    if counters is not None:
        counters["_t_plan_seed"] = _time.time() - _t0
    _t0 = _time.time()
    seed_df = spark.createDataFrame(seed_g, grouped_schema)
    seed_seg_list = sorted(set(seed_keys["seg"].tolist()))
    cand = exact_candidates(seed_df, seed_seg_list, n_keys=len(seed_g))
    if cand is not None:
        cpdf = cand.toPandas()
        cpdf = cpdf.sort_values(["query_id", "score", "doc_id"],
                                ascending=[True, False, True])
        cpdf["rank"] = cpdf.groupby("query_id").cumcount() + 1
        seed_pdf = cpdf[cpdf["rank"] <= cfg.top_k]
    else:
        seed_pdf = exact_scores(seed_df, seed_seg_list,
                                n_keys=len(seed_g)).toPandas()
    theta = (seed_pdf[seed_pdf["rank"] == cfg.top_k]
             [["query_id", "score"]].rename(columns={"score": "theta"}))
    if counters is not None:
        counters["_t_seed_job"] = _time.time() - _t0
    _t0 = _time.time()

    # Phase 2: surviving super-segments → their segments (minus
    # seeds) → surviving blocks.  Segments inside pruned ssegs drop
    # without per-segment bounds ever being computed
    # (seg_ub ≤ sseg_ub < θ).
    kept_ss = sug.merge(theta, on="query_id", how="left")
    kept_ss = kept_ss[kept_ss["theta"].isna()
                      | (kept_ss["sseg_ub"] >= kept_ss["theta"])]
    ensure_ssegs(kept_ss["sseg"])
    kept = seg_bounds(kept_ss[["query_id", "sseg"]])
    kept = kept.merge(theta, on="query_id", how="left")
    kept = kept[kept["theta"].isna() | (kept["seg_ub"] >= kept["theta"])]
    kept = kept.merge(seeds, on=["query_id", "seg"], how="left",
                      indicator=True)
    kept = kept[kept["_merge"] == "left_only"]
    sv = (kept[["query_id", "seg", "sum_pos"]]
          .merge(qt[["query_id", "term"]], on="query_id")
          .merge(ts[["term", "seg", "term_ub_pos"]], on=["term", "seg"])
          .merge(mpdf[["term", "seg", "block_id", "df", "ub"]],
                 on=["term", "seg"])
          .merge(theta, on="query_id", how="left"))
    mask = (sv["theta"].isna()
            | (sv["df"] * 2 >= total_docs)      # never prune negative idf
            | (sv["ub"] + sv["sum_pos"] - sv["term_ub_pos"] >= sv["theta"]))
    # chunk-level cut: same rule as the distributed planner (NaN =
    # no chunk pruning — no θ, or negative-idf term)
    sv["cut_ub"] = sv["theta"] - (sv["sum_pos"] - sv["term_ub_pos"])
    sv.loc[sv["theta"].isna() | (sv["df"] * 2 >= total_docs),
           "cut_ub"] = float("nan")
    surv_keys = sv[mask][["query_id", "term", "seg", "block_id",
                          "cut_ub"]].drop_duplicates(
        subset=["query_id", "term", "seg", "block_id"])
    if counters is not None:
        counters["seed_blocks"] = len(seed_keys)
        counters["survivor_blocks"] = len(surv_keys) + len(seed_keys)
        counters["_t_plan_phase2"] = _time.time() - _t0
    if (fallback is not None
            and len(surv_keys) + len(seed_keys)
            > PRUNED_ABORT_SURVIVOR_RATIO * max(tagged_total, 1)):
        # Adaptive abort (see PRUNED_ABORT_SURVIVOR_RATIO): θ prunes
        # almost nothing on this batch × corpus shape, so phase 2
        # would decode ≈ the exhaustive set WITH survivor bookkeeping
        # on top.  Hand the whole batch to the segmented exhaustive
        # kernel instead — sunk cost is only the metadata probe, the
        # pandas plan, and the tiny seed decode.  Rank identity is
        # unaffected (the fallback is a rank-identical tier).
        if counters is not None:
            counters["aborted_to_fallback"] = True
        return fallback()

    seed_scores = spark.createDataFrame(
        seed_pdf[["query_id", "doc_id", "score"]],
        "query_id string, doc_id long, score double")
    if len(surv_keys) == 0:
        combined = seed_scores
    else:
        # grouped like the seed keys; merged cut_ub = min, reset to
        # NaN when any query has no cut (NaN) so that query's chunks
        # are never pruned from the shared block — vectorised group
        # min + any-NaN mask, no Python call per group
        surv_g = (surv_keys.assign(no_cut=surv_keys["cut_ub"].isna())
                  .groupby(["term", "seg", "block_id"], as_index=False)
                  .agg(query_ids=("query_id", list),
                       cut_ub=("cut_ub", "min"), no_cut=("no_cut", "any")))
        surv_g.loc[surv_g.pop("no_cut"), "cut_ub"] = float("nan")
        phase2 = exact_scores(
            spark.createDataFrame(surv_g, grouped_schema + ", cut_ub double"),
            sorted(set(surv_keys["seg"].tolist())), n_keys=len(surv_g))
        combined = seed_scores.unionByName(
            phase2.select("query_id", "doc_id", "score"))
    # per-subset top-k ∪ re-rank is exact — see search_pruned
    w_final = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        combined.withColumn("rank", F.row_number().over(w_final))
        .filter(F.col("rank") <= cfg.top_k)
        .select("query_id", "doc_id", "score", "rank")
    )


def count_blocks(spark: SparkSession, index_path: str,
                 queries: dict[str, str], lexicon: DataFrame,
                 cfg: EngineConfig = DEFAULT) -> int:
    """Block rows the exhaustive path would decode (pruning-ratio
    metrics for bench)."""
    meta, _, _, _ = _query_meta(spark, index_path, lexicon, queries, cfg)
    return meta.count()
