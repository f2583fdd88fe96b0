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

Planning — bounds, seeds, θ, survivor keys — is ONE set of pandas
functions over block-metadata rows, the reference's in-RAM
skip-metadata walk.  When the query terms' physical (term, seg, block)
rows fit ``PLAN_LOCAL_MAX_META_ROWS`` they are collected and the
functions run on the driver.  Otherwise the driver holds only the
(term, super-segment) rollup, prunes whole super-segments with it, and
the same functions expand each surviving super-segment where its rows
live, through ``groupBy("sseg").applyInPandas`` — the REPOSE model
(ICDE 2021): partition-level bounds prune whole partitions, and each
survivor is expanded locally by the same code.  Decode and scoring
always run in Spark.  Results are provably rank-identical to the
exhaustive path on both paths — pinned by tests/test_pruning.py.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cs6913_web_search_engines_spark.config import DEFAULT, EngineConfig
from cs6913_web_search_engines_spark.functions import tokenizer
from cs6913_web_search_engines_spark.operators import block_codec, query_exec
from cs6913_web_search_engines_spark.session import trim_zip_importers

# Up to this many PHYSICAL (term, seg, block) metadata rows the
# planner runs on the driver over the collected rows, leaving Spark
# exactly two decode jobs.  The estimate (``_estimate_phys_rows``) is a
# hard upper bound known from the driver df probe before any job runs;
# past it, one bounded ``limit(cap + 1)`` probe decides.  Physical rows
# carry NO query dimension: a 256-query batch sharing head terms
# collects the same ~15 k rows as an 8-query batch.  1 M rows ≈ tens of
# MB of pandas.  Beyond it the driver holds only the (term, sseg)
# rollup, which ``_superseg_factor`` keeps under this same cap.
PLAN_LOCAL_MAX_META_ROWS = 1_000_000

# Segments per super-segment (the floor: ``_superseg_factor`` doubles
# it while the rollup could outgrow the driver cap).  Bounds are pruned
# at sseg = seg // factor granularity BEFORE per-query per-segment
# bounds are expanded, so planner work scales with queries × surviving
# ssegs (+ segs inside them) instead of queries × all segments.
# 64 × 16 K-doc segments ≈ 1 M docs per sseg.
SUPERSEG_FACTOR = 64

# Adaptive abort: after θ/survivor planning (cheap — pandas over the
# metadata plus one small seed decode) the planner KNOWS how many
# query-tagged blocks phase 2 would decode.  When that exceeds this
# fraction of the exhaustive decode set, the plan is non-pruning — the
# segmented exhaustive kernel decodes each physical block once with no
# survivor bookkeeping and wins — so the planner returns the
# caller-provided fallback instead of executing phase 2.
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

# Seg lists longer than this stay out of the scan predicate (an IN of
# tens of thousands of literals bloats the plan for a filter that
# prunes little).
SCAN_SEG_MAX = 4096

_PHYS_COLS = ["term", "seg", "block_id", "df", "ub"]
_KEYS_SCHEMA = ("term string, seg long, block_id int, "
                "query_ids array<string>")
_SURV_SCHEMA = _KEYS_SCHEMA + ", cut_ub double"
_SEED_SCHEMA = ("query_id string, seg long, sum_pos double, bound double, "
                "n_blocks long")


def _estimate_phys_rows(terms, dfs: dict[str, int], total_docs: int,
                        cfg: EngineConfig) -> int:
    """Sound upper bound on the PHYSICAL (term, seg, block_id) row
    count — what the driver planner actually collects (per DISTINCT
    term: physical metadata carries no query dimension).  Per term the
    block rows are Σ_seg ceil(df_seg / chunk) ≤ ceil(df / chunk) +
    #nonempty segs ≤ ceil(df/chunk) + min(df, n_segs): each nonempty
    segment adds at most one partial block (a term spread one posting
    per segment has ~n_segs block rows even though df/chunk ≈ 0)."""
    chunk = cfg.postings_per_chunk
    n_segs = max(1, -(-total_docs // cfg.segment_docs))
    total = 0
    for t in set(terms):
        df = dfs.get(t, 0)
        total += min(df, n_segs) + -(-df // chunk)
    return max(1, total)


def _superseg_factor(terms, dfs: dict[str, int], total_docs: int,
                     cfg: EngineConfig) -> int:
    """Segments per super-segment: ``SUPERSEG_FACTOR`` times the
    smallest power of two that keeps the (term, sseg) rollup within
    ``PLAN_LOCAL_MAX_META_ROWS``.  A term spans at most
    ``min(df, n_ssegs)`` super-segments, so the rollup has at most
    ``Σ_t min(df_t, ⌈n_segs / factor⌉)`` rows — known from the df
    probe before any job runs (doc ids dense in ``[0, total_docs)``,
    as ``_estimate_phys_rows`` assumes).  Stops at one super-segment:
    then the rollup has one row per term."""
    n_segs = max(1, -(-total_docs // cfg.segment_docs))
    factor = SUPERSEG_FACTOR
    while factor < n_segs and sum(
            min(dfs.get(t, 0), -(-n_segs // factor))
            for t in set(terms)) > PLAN_LOCAL_MAX_META_ROWS:
        factor *= 2
    return factor


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
    """(qt, all_terms, phys): the per-(query, term) frame with df
    attached, the sorted query terms, and the PHYSICAL block metadata
    rows of those terms (no query dimension).

    Reads ONLY metadata columns — the parquet scan never touches the
    ``doc_gaps``/``tfs`` payload bytes (column pruning), and shard/term
    predicates prune partitions and row groups.

    Query tokenization follows ``cfg.length_norm`` (HW2 splits on a
    different separator set than HW3) so the pruned tier stays
    rank-identical to the other tiers under either config.
    """
    mode = cfg.query_mode
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
    return qt, all_terms, phys


# ---------------------------------------------------------------------
# The planner: pandas over block-metadata rows (term, seg, block_id,
# df, ub).  ``search_pruned`` runs each step over all collected rows on
# the driver, or once per super-segment group in Spark — a physical
# block lies in exactly one super-segment, so a group holds every row
# its steps need.
# ---------------------------------------------------------------------

def _term_bounds(blocks: pd.DataFrame, factor: int) -> pd.DataFrame:
    """Per-(term, seg): best block bound ``term_ub`` and block count,
    tagged with the super-segment ``seg // factor`` — query-free."""
    ts = (blocks.groupby(["term", "seg"], as_index=False)
          .agg(term_ub=("ub", "max"), n_blocks=("ub", "size")))
    ts["sseg"] = ts["seg"] // factor
    return ts


def _bounds(rows: pd.DataFrame, key: str, conjunctive: bool) -> pd.DataFrame:
    """Per-(query, ``key``) score bounds from per-(term, ``key``)
    maxima: ``rows`` is (query_id, term, n_terms, key, term_ub,
    n_blocks), ``key`` a segment or a super-segment.

    ``sum_pos = Σ_t max(0, ub_t)`` bounds a doc holding ANY subset of
    the terms — but an empty subset is not a match.  A matching doc
    contains ≥1 query term t0, whose postings live in the doc's own
    segment, so
        score ≤ max_{t0 present} [ub_t0 + Σ_{t'≠t0} max(0, ub_t')]
              = sum_pos + max_t min(ub_t, 0)
    — strictly sharper when every term present has a negative ub (the
    unclamped-idf head-term regime, where the clamped bound is 0 and
    never falls below a negative θ).  A conjunctive doc holds ALL
    terms: the plain ``Σ_t ub_t`` bounds it, and a key that never sees
    some query term cannot match at all — the zigzag-intersection skip
    (QueryProcessor.cpp:589-634) at segment granularity.  The same
    derivation holds per super-segment over the per-term maxima, so an
    sseg bound < θ prunes every member segment without its
    per-segment bounds ever being computed.  ``n_blocks`` counts the
    query-tagged blocks under each row."""
    rows = rows.assign(pos=rows["term_ub"].clip(lower=0.0),
                       neg=rows["term_ub"].clip(upper=0.0))
    b = (rows.groupby(["query_id", key], as_index=False)
         .agg(sum_pos=("pos", "sum"), sum_all=("term_ub", "sum"),
              best_neg=("neg", "max"), n_present=("term", "count"),
              n_terms=("n_terms", "first"), n_blocks=("n_blocks", "sum")))
    b["bound"] = (b["sum_all"] if conjunctive
                  else b["sum_pos"] + b["best_neg"])
    if conjunctive:
        b = b[b["n_present"] == b["n_terms"]]
    return b


def _top(b: pd.DataFrame, key: str, n: int) -> pd.DataFrame:
    """Each query's ``n`` best rows by (bound desc, key asc) — a total
    order, so the top of per-group tops is the global top."""
    return (b.sort_values(["query_id", "bound", key],
                          ascending=[True, False, True])
            .groupby("query_id").head(n))


def _seg_bounds(ts: pd.DataFrame, qss: pd.DataFrame, qt: pd.DataFrame,
                conjunctive: bool) -> pd.DataFrame:
    """Per-(query, seg) bounds, expanded ONLY inside the given
    (query_id, sseg) rows."""
    rows = (qss[["query_id", "sseg"]].merge(qt, on="query_id")
            .merge(ts, on=["term", "sseg"]))
    return _bounds(rows, "seg", conjunctive)


def _block_keys(blocks: pd.DataFrame, ts: pd.DataFrame, segs: pd.DataFrame,
                qt: pd.DataFrame, total_docs: int) -> pd.DataFrame:
    """Blocks of each query's terms inside its (query_id, seg, sum_pos,
    theta) rows that can still beat θ, one row per physical block →
    (term, seg, block_id, query_ids, cut_ub).

    Block-level bound: the doc CONTAINS this term (ub accounts it
    exactly) and the others stay optional → the CLAMPED sum_pos, not
    the sharpened seg bound (which assumes the best single mandatory
    term and would under-bound docs holding this one).  Negative-idf
    terms (df ≥ N/2) are never pruned: dropping a negative
    contribution would inflate a partial score.  ``cut_ub`` = θ minus
    the other terms' slack is the bound a CHUNK inside the block must
    still clear (the decode kernel skips chunks below it).  Queries
    that keep the same physical block share one decode: the merged
    cut_ub is the MIN over the block's queries, NaN (no chunk cut) if
    any has none — no θ, or a negative-idf term."""
    sv = (segs[["query_id", "seg", "sum_pos", "theta"]]
          .merge(qt[["query_id", "term"]], on="query_id")
          .merge(ts[["term", "seg", "term_ub"]], on=["term", "seg"])
          .merge(blocks[["term", "seg", "block_id", "df", "ub"]],
                 on=["term", "seg"]))
    t_pos = sv["term_ub"].clip(lower=0.0)
    no_cut = sv["theta"].isna() | (sv["df"] * 2 >= total_docs)
    keep = no_cut | (sv["ub"] + sv["sum_pos"] - t_pos >= sv["theta"])
    sv = sv.assign(cut_ub=(sv["theta"] - (sv["sum_pos"] - t_pos))
                   .mask(no_cut), no_cut=no_cut)[keep]
    g = (sv.groupby(["term", "seg", "block_id"], as_index=False)
         .agg(query_ids=("query_id", list), cut_ub=("cut_ub", "min"),
              no_cut=("no_cut", "any")))
    g.loc[g.pop("no_cut"), "cut_ub"] = float("nan")
    return g


def _seg_scan(segs, factor: int = 1) -> Column | None:
    """Decode-scan predicate for the given segments (super-segments
    ``seg div factor`` when factor > 1, with a seg range the parquet
    scan can push down); None when the list is too long to inline."""
    segs = sorted({int(s) for s in segs})
    if len(segs) > SCAN_SEG_MAX:
        return None
    if factor == 1 or not segs:
        return block_codec.sql_in("seg", segs)
    return (F.col("seg").between(segs[0] * factor,
                                 (segs[-1] + 1) * factor - 1)
            & block_codec.sql_in(f"seg div {factor}", segs))


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

    One planner (the pandas functions above), run where the metadata
    fits:

    * **driver** (``driver_plan=True``, or ``None`` and the physical
      rows fit ``PLAN_LOCAL_MAX_META_ROWS``): one metadata collect,
      then bounds, seeds, θ and survivors in pandas; Spark runs only
      the seed-decode and survivor-decode jobs.  The exact seed and
      survivor segment sets are pushed into both decode scans.
    * **Spark** (``driver_plan=False``, or ``None`` and the bounded
      probe overflowed): the driver collects only the
      (term, sseg, term_ub, n_blocks) rollup, picks each query's top
      super-segments and, after the seed decode, the θ-surviving ones;
      the seed bounds and survivor keys inside them come from the same
      functions through ``groupBy("sseg").applyInPandas``.  The
      survivor keys are checkpointed and counted once.

    ``broadcast_keys``: the survivor block-key set grows with corpus
    segments; set False beyond broadcast size (same regime as
    ``broadcast_doc_stats``) and the key join shuffles instead (AQE
    still broadcasts it at runtime when it measures small).

    ``fallback``: zero-arg callable returning a rank-identical
    DataFrame (the engine passes the segmented exhaustive tier).
    When set, the planner aborts to it after θ/survivor planning if
    the plan turned out non-pruning (``PRUNED_ABORT_SURVIVOR_RATIO``)
    — the per-shape routing signal the candidate-volume gate cannot
    see.  None (default) forces the pruned execution regardless.

    ``counters``: filled with ``exhaustive_blocks`` (query-tagged
    blocks the exhaustive plan would decode), ``seed_blocks``,
    ``survivor_blocks`` (seed + phase-2 blocks), ``planner_meta_rows``
    (metadata rows the driver held), ``aborted_to_fallback`` and
    ``_chunk_accs`` (the kernel's chunks seen/decoded accumulators,
    valid after the result's one action).  Setting it launches no job.
    """
    total_docs = int(stats["total_docs"])
    min_len = int(stats.get("min_len", 1))
    max_len = int(stats.get("max_len", 1 << 30))
    src = blocks if blocks is not None else spark.read.parquet(index_path)
    qt, all_terms, meta_phys = _query_meta(
        spark, index_path, lexicon, queries, cfg, src, dfs=dfs)
    if dfs is None:
        # probe term dfs once driver-side (qt carries the lexicon df):
        # kernel idf inputs + the planner-size estimates below
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
    # PHYSICAL planner metadata: per-(term, seg, block) rows with df +
    # ub attached via a tiny broadcast term→df map — no query
    # dimension, so its size is invariant in batch width
    term_df = spark.createDataFrame(
        pd.DataFrame({"term": pd.Series(list(all_terms), dtype=object),
                      "df": pd.Series([int(dfs.get(t, 0))
                                       for t in all_terms], dtype="int64")}),
        "term string, df long")
    phys = (meta_phys.join(F.broadcast(term_df), "term")
            .withColumn("ub", block_upper_bound(
                cfg, total_docs, float(stats["avg_len"]), min_len, max_len))
            .select(*_PHYS_COLS))

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

    def exact_candidates(keys: DataFrame,
                         scan: Column | None = None) -> DataFrame:
        """Exact (query_id, doc_id, score) candidates over exactly the
        given grouped (term, seg, block_id, query_ids[, cut_ub]) keys,
        left for the caller to rank: with norms in RAM, each segment's
        top-k per query from ONE fused Arrow crossing
        (query_exec.segment_topk_candidates); beyond norms-in-RAM
        scale, each query's top-k from the distributed doc_stats-join
        scorer.  Blocks are tagged with their queries *before* decode
        so a block kept for query A never leaks partial scores into
        query B (which may have pruned it); one row per physical block
        ships and decodes ONE payload copy for all of them.
        ``cut_ub`` enables chunk-level skipping inside the kernel.

        ``scan``: the planner's segment predicate, pushed INTO the
        parquet scan — the join alone prunes nothing at read time, so
        without it both decode jobs re-read every query-term block's
        payload bytes.  The fused build writes seg-range-clustered
        files per shard, so the seg predicate prunes at file/row-group
        granularity."""
        if len_lookup is None:
            keys = keys.select(F.explode("query_ids").alias("query_id"),
                               "term", "seg", "block_id")
        if broadcast_keys:
            keys = F.broadcast(keys)
        kept = (src if scan is None else src.filter(scan)).join(
            keys, ["term", "seg", "block_id"])
        if len_lookup is not None:
            return query_exec.segment_topk_candidates(
                spark, kept, lexicon, stats, queries, cfg,
                len_lookup=len_lookup, conjunctive=conjunctive, dfs=dfs,
                chunk_counters=chunk_accs,
            )
        postings = block_codec.decode_postings(kept, cfg,
                                               extra_cols=("query_id",))
        return query_exec.score_query_set(
            postings, qt, lexicon, doc_stats, stats, cfg,
            conjunctive=conjunctive,
            broadcast_doc_stats=broadcast_doc_stats,
        ).select("query_id", "doc_id", "score")

    # ----- planner input: all physical rows on the driver, or the
    # super-segment rollup with the rows left in Spark
    factor = _superseg_factor(all_terms, dfs, total_docs, cfg)
    mpdf = None
    if driver_plan or driver_plan is None and _estimate_phys_rows(
            all_terms, dfs, total_docs, cfg) <= PLAN_LOCAL_MAX_META_ROWS:
        mpdf = phys.toPandas()
    elif driver_plan is None:
        # The estimate bounds CHUNK rows, so it exceeds the true
        # block-row count by up to the chunks-per-block packing factor
        # (~60-100× at 64 KB blocks / ~650 B chunks).  Probe with ONE
        # bounded metadata-only collect (CollectLimit stops at MAX+1
        # rows, so driver memory stays gated by the same constant):
        # under the cap, the probe IS the planner's input.
        probe = phys.limit(PLAN_LOCAL_MAX_META_ROWS + 1).toPandas()
        if len(probe) <= PLAN_LOCAL_MAX_META_ROWS:
            mpdf = probe
    if mpdf is not None:
        ts = _term_bounds(mpdf, factor)
        ss = (ts.groupby(["term", "sseg"], as_index=False)
              .agg(term_ub=("term_ub", "max"), n_blocks=("n_blocks", "sum")))
        held = len(mpdf)
    else:
        sseg_phys = phys.withColumn("sseg", F.expr(f"seg div {factor}"))
        ss = (sseg_phys.groupBy("term", "sseg")
              .agg(F.max("ub").alias("term_ub"),
                   F.count("*").alias("n_blocks")).toPandas())
        held = len(ss)

    def in_spark(step, ssegs, schema: str) -> DataFrame:
        """``step(blocks, ts)`` run once per super-segment in
        ``ssegs``, in Spark, over that super-segment's block rows."""
        names = [c.split()[0] for c in schema.split(", ")]
        scan = _seg_scan(ssegs, factor)
        rows = sseg_phys if scan is None else sseg_phys.filter(scan)

        def group(g: pd.DataFrame) -> pd.DataFrame:
            trim_zip_importers()
            return step(g, _term_bounds(g, factor))[names]

        return rows.groupBy("sseg").applyInPandas(group, schema)

    # per-(query, term) pairs: split_query dedupes, so a repeated term
    # counts once here, in the bounds and in the abort denominator,
    # exactly as the survivor keys count it
    qt_rows = []
    for qid, q in queries.items():
        terms = tokenizer.split_query(q, cfg.query_mode)
        qt_rows += [(qid, t, len(terms)) for t in terms]
    qt_pdf = pd.DataFrame(qt_rows, columns=["query_id", "term", "n_terms"])
    per_term = ss.groupby("term")["n_blocks"].sum()
    tagged_total = int(qt_pdf["term"].map(per_term).fillna(0).sum())
    if counters is not None:
        counters["exhaustive_blocks"] = tagged_total
        counters["planner_meta_rows"] = held
    # per-(query, sseg) bounds — the only full per-query expansion,
    # ``factor``× narrower than per-segment
    sug = _bounds(qt_pdf.merge(ss, on="term"), "sseg", conjunctive)
    if len(sug) == 0:
        if counters is not None:
            counters["seed_blocks"] = counters["survivor_blocks"] = 0
        return spark.createDataFrame(
            [], "query_id string, doc_id long, score double, rank int")

    # Seeds: the best seed_segs segments WITHIN each query's top
    # seed_segs super-segments.  Seed choice affects only θ quality,
    # never correctness — phase 2 prunes against the real bounds.
    top_ss = _top(sug, "sseg", max(seed_segs, 1))

    def seed_step(b, ts_):
        return _top(_seg_bounds(ts_, top_ss, qt_pdf, conjunctive), "seg",
                    seed_segs)

    if mpdf is not None:
        seeds = seed_step(mpdf, ts)
    else:
        seeds = _top(in_spark(seed_step, top_ss["sseg"], _SEED_SCHEMA)
                     .toPandas(), "seg", seed_segs)
    seeds = seeds[["query_id", "seg", "sum_pos", "n_blocks"]].assign(
        theta=float("nan"))
    n_seed = int(seeds["n_blocks"].sum())

    def seed_keys_step(b, ts_):
        return _block_keys(b, ts_, seeds, qt_pdf, total_docs)

    # Phase 1: exact top-k of the seed segments → θ; the seed results
    # are reused below, so seed blocks decode once.  The ranking of the
    # (collect-sized) candidates runs here in pandas — skipping the
    # Spark ranking window saves a shuffle stage.
    if mpdf is not None:
        seed_g = seed_keys_step(mpdf, ts).drop(columns="cut_ub")
        seed_df = spark.createDataFrame(seed_g, _KEYS_SCHEMA)
    else:
        seed_df = in_spark(seed_keys_step, seeds["seg"] // factor,
                           _KEYS_SCHEMA)
    cpdf = (exact_candidates(seed_df, _seg_scan(seeds["seg"])).toPandas()
            .sort_values(["query_id", "score", "doc_id"],
                         ascending=[True, False, True]))
    cpdf["rank"] = cpdf.groupby("query_id").cumcount() + 1
    seed_pdf = cpdf[cpdf["rank"] <= cfg.top_k]
    # θ lowered by a margin: a bound comes from Spark's arithmetic, and a
    # sum of bounds adds in another order than the kernel adds a doc's
    # contributions, so a segment or block whose best doc TIES θ can
    # get a bound a few ULPs below it and be dropped with the tie.  The
    # margin costs extra decode only, never a wrong skip (the chunk cut
    # carries the same 1e-9, see query_exec.segment_topk_candidates).
    theta = (seed_pdf[seed_pdf["rank"] == cfg.top_k]
             [["query_id", "score"]].rename(columns={"score": "theta"}))
    theta["theta"] -= 1e-9

    # Phase 2: super-segments whose bound can still matter, expanded
    # to segments MINUS the seed segments (already scored exactly),
    # then to surviving blocks.  Queries with fewer than k seed results
    # get θ = NaN and keep everything.  Segments inside pruned ssegs
    # drop without per-segment bounds ever being computed
    # (seg_ub ≤ sseg_ub < θ).
    kept_ss = sug.merge(theta, on="query_id", how="left")
    kept_ss = kept_ss[kept_ss["theta"].isna()
                      | (kept_ss["bound"] >= kept_ss["theta"])]

    def survivor_step(b, ts_):
        kept = (_seg_bounds(ts_, kept_ss, qt_pdf, conjunctive)
                .merge(theta, on="query_id", how="left"))
        kept = kept[kept["theta"].isna() | (kept["bound"] >= kept["theta"])]
        kept = kept.merge(seeds[["query_id", "seg"]], on=["query_id", "seg"],
                          how="left", indicator=True)
        return _block_keys(b, ts_, kept[kept["_merge"] == "left_only"],
                           qt_pdf, total_docs)

    if mpdf is not None:
        surv_g = survivor_step(mpdf, ts)
        n_keys = len(surv_g)
        n_surv = int(surv_g["query_ids"].map(len).sum())
        surv_scan = _seg_scan(surv_g["seg"])
        if n_keys:
            surv_df = spark.createDataFrame(surv_g, _SURV_SCHEMA)
    else:
        # materialize once: the count and the phase-2 decode both read
        # the checkpoint instead of re-running the planning groups
        surv_df = in_spark(survivor_step, kept_ss["sseg"],
                           _SURV_SCHEMA).localCheckpoint(eager=True)
        n_keys, n_surv = surv_df.agg(
            F.count("*"), F.coalesce(F.sum(F.size("query_ids")), F.lit(0))
        ).first()
        surv_scan = _seg_scan(kept_ss["sseg"], factor)
    if counters is not None:
        counters["seed_blocks"] = n_seed
        counters["survivor_blocks"] = n_seed + n_surv
    if (fallback is not None and n_seed + n_surv
            > PRUNED_ABORT_SURVIVOR_RATIO * max(tagged_total, 1)):
        # Adaptive abort (see PRUNED_ABORT_SURVIVOR_RATIO): θ prunes
        # almost nothing on this batch × corpus shape, so phase 2
        # would decode ≈ the exhaustive set WITH survivor bookkeeping
        # on top.  Hand the whole batch to the segmented exhaustive
        # kernel instead — sunk cost is only the metadata probe, the
        # plan, and the tiny seed decode.  Rank identity is unaffected
        # (the fallback is a rank-identical tier).
        if counters is not None:
            counters["aborted_to_fallback"] = True
        return fallback()

    # Per-subset top-k then union then ONE ranking is exact (the
    # TakeOrdered argument): a doc ranked past k *within* a seed or
    # phase-2 segment already has k better (score desc, doc_id asc)
    # docs in that segment alone, so it can never enter the overall
    # top-k.  No doc appears in both subsets (its postings live in
    # exactly one segment, and seed segments are excluded from phase 2).
    combined = spark.createDataFrame(
        seed_pdf[["query_id", "doc_id", "score"]],
        "query_id string, doc_id long, score double")
    if n_keys:
        combined = combined.unionByName(
            exact_candidates(surv_df, surv_scan))
    return query_exec.rank_top_k(combined, cfg.top_k)
