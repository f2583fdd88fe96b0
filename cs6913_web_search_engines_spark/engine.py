"""High-level engine facade: build once, query many.

``QueryEngine`` is the analog of the reference server's startup
preload (``main.cpp:99-108`` pins lexicon + page table in RAM,
10.85 s):

* lexicon and doc_stats DataFrames are read once and cached;
* the index DataFrame is planned once (no per-query directory
  re-listing);
* when the page table fits in RAM (the reference's own regime), the
  doc-length column is collected into a dense int32 array and
  broadcast — the decode kernels then attach ``doc_len`` inline and
  the scorer needs NO doc_stats join at query time.  Beyond that
  (10^12 docs) the engine falls back to the shuffle join, same as
  ``broadcast_doc_stats`` auto-disabling.

``search`` routes each batch to one of four rank-identical tiers:

* **driver-local** — collect-sized candidate volume: the candidate
  blocks are collected and scored with numpy on the driver;
* **segmented** — the distributed segment kernel
  (``query_exec.search_segmented``);
* **pruned** — the block-max pruned path (``operators/pruning.py``),
  for large candidate volumes; it aborts back to the segmented tier
  when the plan would prune too little;
* **exhaustive compressed** — ``query_exec.search_compressed``, the
  only tier that needs no norms array.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from cs6913_web_search_engines_spark.config import DEFAULT, EngineConfig
from cs6913_web_search_engines_spark.functions import tokenizer
from cs6913_web_search_engines_spark.sources.fsutil import FsShim
from cs6913_web_search_engines_spark.operators import (
    block_codec, pruning, query_exec,
)

# Above this many docs the dense norms array stops being a sane
# executor-RAM resident (int32 → 4 bytes/doc; 64 M ≈ 256 MB).
NORMS_IN_RAM_MAX_DOCS = 64_000_000


def build_len_lookup(spark, doc_stats, len_col: str = "distinct_terms"):
    """Dense doc_id → doc_len int32 array, broadcast once (the
    reference's RAM page table, PageTable.cpp:75-106).  Falls back to
    None (join path) when doc ids are too sparse for a dense array —
    the single hardened implementation shared by QueryEngine and the
    bench harnesses."""
    pdf = doc_stats.select("doc_id", len_col).toPandas()
    if len(pdf) == 0:
        return None
    max_id = int(pdf["doc_id"].max())
    # dense-slot budget = the SAME ceiling that gates norms_in_ram
    # (int32 slots, 256 MB at 64 M): the old 4×-doc-count sparsity
    # allowance let a 25%-dense 64 M-doc id space allocate 4× the
    # documented broadcast budget
    if (max_id + 1 > 4 * max(len(pdf), 1)
            or max_id + 1 > NORMS_IN_RAM_MAX_DOCS
            or max_id >= 1 << 31):
        return None  # sparse/huge id space — dense array would balloon
    arr = np.zeros(max_id + 1, dtype=np.int32)
    arr[pdf["doc_id"].to_numpy(np.int64)] = pdf[len_col].to_numpy(np.int32)
    return spark.sparkContext.broadcast(arr)

# Candidate-posting volume below which the driver-local executor wins:
# collecting the few candidate blocks (JVM-only scan, no Python
# workers) and scoring them with numpy against the resident norms
# array beats scheduling a distributed decode — the interactive
# analog of Spark's own local fast paths (LocalTableScan /
# TakeOrderedAndProject), and exactly the reference's single-node
# scoring model (QueryProcessor.cpp:459-509).
LOCAL_EXEC_MAX_POSTINGS = 5_000_000
# Auto-tier gate between the segmented-exhaustive kernel and the
# block-max pruned tier — TWO terms, both CALIBRATED from round-5
# forced-tier PRUNED_BENCH.json rows (rounds 3-4 mislabeled the auto
# engine call as "exhaustive"; at ≥3 M candidates/query the gate had
# routed it to pruned, so the recorded big-corpus "inversions"
# compared pruned against itself — see bench_pruned.level):
#
# * avg candidates/query ≥ 3 M — the narrow-batch crossover: at
#   8 queries (hothead) pruned first wins at the 8 M-doc level
#   (1.14 vs 1.21 s, avg 3.1 M) and still loses at 2 M docs
#   (1.18 vs 1.05 s, avg 0.77 M).  Per-query decode volume is what
#   the exhaustive kernel pays that pruning avoids.
# * total batch candidates ≥ 100 M — the wide-batch crossover: the
#   exhaustive kernel's Σ_q scoring grows with batch width even when
#   per-query volume is small, so at 256 queries pruned already wins
#   at 2 M docs (1.53 vs 1.83 s, avg 0.78 M, total 199 M) while
#   exhaustive still wins at 0.5 M docs (1.14 vs 1.52 s, total
#   50 M).  100 M sits at the geometric mean of the bracketing
#   measurements; the zipf-shape rows (realistic df distribution)
#   route consistently under the same pair.
PRUNED_MIN_AVG_CANDIDATES = 3_000_000
PRUNED_MIN_TOTAL_CANDIDATES = 100_000_000

# Per-term df memo cap: ~50 B/entry → ~50 MB of driver heap; past it
# the memo clears wholesale (same policy as the postings cache).
DF_MEMO_MAX_TERMS = 1_000_000

_NO_IDS, _NO_SCORES = np.empty(0, np.int64), np.empty(0, np.float64)


class QueryEngine:
    def __init__(self, spark: SparkSession, index_dir: str,
                 cfg: EngineConfig = DEFAULT, cache: bool = True,
                 broadcast_doc_stats: bool | None = None,
                 norms_in_ram: bool | None = None,
                 stats: dict | None = None):
        self.spark = spark
        fs = FsShim(spark, index_dir)
        self.index_path = fs.join(index_dir, "index")
        self.cfg = cfg
        # FsShim: stats.json may live beside a URI-hosted index
        # (hdfs://, file://) as well as a local one.  Callers that
        # already loaded it (the CLI) pass it in to skip a second
        # remote round trip.  read_json_or_none (not bare read_text):
        # the remote write_text has a delete→rename window where only
        # stats.json.tmp exists — a crash there must not brick engine
        # init when the complete tmp is sitting right beside it.
        if stats is None:
            stats = fs.read_json_or_none(fs.join(index_dir, "stats.json"))
            if stats is None:
                raise FileNotFoundError(
                    f"no readable stats.json (or .tmp) under {index_dir!r}")
        self.stats = stats
        if broadcast_doc_stats is None:
            # a broadcast doc_stats is a driver collect + per-executor
            # copy — a win only while the page table is genuinely
            # small; beyond that the scorer must shuffle-join on
            # doc_id (the 10^12-doc regime uses a bucketed layout)
            broadcast_doc_stats = self.stats["total_docs"] <= 2_000_000
        self.broadcast_doc_stats = broadcast_doc_stats
        # manifest-committed indexes (object-store maintenance —
        # sources/manifest_commit) resolve the live file set through
        # the pointer; rename-mode indexes scan the directories
        from cs6913_web_search_engines_spark.sources import manifest_commit
        mblocks = manifest_commit.read_blocks(spark, index_dir, fs=fs)
        mlex = manifest_commit.read_lexicon(spark, index_dir, fs=fs)
        self.lexicon = (mlex if mlex is not None
                        else spark.read.parquet(fs.join(index_dir, "lexicon")))
        self.doc_stats = spark.read.parquet(fs.join(index_dir, "doc_stats"))
        self.blocks = (mblocks if mblocks is not None
                       else spark.read.parquet(self.index_path))
        if cache:
            self.lexicon = self.lexicon.cache()
            self.doc_stats = self.doc_stats.cache()
            # materialize now — the reference pays its preload up front
            self.lexicon.count()
            self.doc_stats.count()
        self.len_lookup = None
        if norms_in_ram is None:
            norms_in_ram = self.stats["total_docs"] <= NORMS_IN_RAM_MAX_DOCS
        if norms_in_ram:
            self.len_lookup = self._build_len_lookup()
        # Hot-term caches (immutable index → safe): per-term df memo
        # and a bounded cache of scored posting lists — the
        # engine-level analog of the reference's mmap/OS page cache
        # keeping hot lists resident (QueryProcessor.cpp:110-169).
        self._df_memo: dict[str, int] = {}
        self._postings_cache: dict[str, tuple] = {}
        self._postings_cache_n = 0
        # Adaptive-routing memo: when an auto-routed pruned batch
        # ABORTS (non-pruning shape — pruning.PRUNED_ABORT_*), the
        # term-set is remembered and identical workloads route
        # straight to the segmented tier, skipping the probe + plan +
        # seed-decode sunk cost on every repeat (real workloads
        # repeat: the reference's TREC batch reruns the same 1,097
        # queries).  Keyed per (conjunctive, seed_segs, term set):
        # prunability is a property of the terms' posting shapes and
        # of the seed θ, not of the batch.  top_k also sets θ but is
        # fixed per engine (cfg), so it needs no key slot.
        self._route_memo: dict = {}

    def _build_len_lookup(self):
        len_col = ("distinct_terms" if self.cfg.length_norm == "hw3"
                   else "byte_len")
        return build_len_lookup(self.spark, self.doc_stats, len_col)

    def _search_local(self, queries: dict[str, str], dfs: dict[str, int],
                      conjunctive: bool, mode: str) -> DataFrame:
        """Driver-local exact top-k: one JVM-only job collects the
        candidate block rows of the terms not cached yet, and
        ``query_exec.score_blocks`` decodes and scores them in one
        numpy pass against the resident norms array.  The cache holds
        each term's SCORED postings, concatenated (doc_ids, contribs):
        the index is immutable and the dfs memoised, so a repeated term
        skips decode and BM25.  Rank-identical to the distributed path
        (same scorer, same top-k); used only when the candidate volume
        is collect-sized."""
        all_terms = sorted({t for q in queries.values()
                            for t in tokenizer.split_query(q, mode)})
        missing = [t for t in all_terms if t not in self._postings_cache]
        fetched = sum(dfs.get(t, 0) for t in missing)
        if missing and self._postings_cache_n + fetched > LOCAL_EXEC_MAX_POSTINGS * 4:
            # Evict BEFORE deciding what to fetch: clearing the cache
            # invalidates this query's previously-cached terms too, so
            # the whole term set must be (re-)fetched — otherwise the
            # per-query lookup below KeyErrors on evicted terms.
            self._postings_cache.clear()
            self._postings_cache_n = 0
            missing = list(all_terms)
            fetched = sum(dfs.get(t, 0) for t in missing)
        if missing:
            rows = (
                self.blocks
                .filter(block_codec.term_filter(self.spark, missing, self.cfg))
                .select("term", "n_postings", "doc_gaps", "tfs")
                .collect()
            )
            scored = query_exec.score_blocks(
                [r["n_postings"] for r in rows], [r["doc_gaps"] for r in rows],
                [r["tfs"] for r in rows],
                query_exec.bm25_idf([dfs.get(r["term"], 0) for r in rows],
                                    self.stats["total_docs"]),
                self.len_lookup.value, float(self.stats["avg_len"]), self.cfg)
            # negative entries too: a term absent from the index
            per_term: dict[str, list] = {t: [] for t in missing}
            for r, pair in zip(rows, scored):
                per_term[r["term"]].append(pair)
            for t, pairs in per_term.items():
                self._postings_cache[t] = (
                    np.concatenate([p[0] for p in pairs] + [_NO_IDS]),
                    np.concatenate([p[1] for p in pairs] + [_NO_SCORES]))
            self._postings_cache_n += fetched
        out = []
        for qid in sorted(queries):
            terms = tokenizer.split_query(queries[qid], mode)
            if not terms:
                continue
            uids, scores = query_exec.exact_topk_numpy(
                np.concatenate([self._postings_cache[t][0] for t in terms]),
                np.concatenate([self._postings_cache[t][1] for t in terms]),
                len(terms), conjunctive, self.cfg.top_k)
            for rank in range(uids.size):
                out.append((qid, int(uids[rank]), float(scores[rank]),
                            rank + 1))
        import pandas as pd

        pdf = pd.DataFrame(out, columns=["query_id", "doc_id", "score", "rank"])
        if len(pdf) == 0:
            pdf = pdf.astype({"query_id": object, "doc_id": "int64",
                              "score": "float64", "rank": "int32"})
        # pandas→Arrow conversion: ~8× cheaper than the row-list path
        return self.spark.createDataFrame(
            pdf, "query_id string, doc_id long, score double, rank int"
        )

    def search(self, queries: dict[str, str], conjunctive: bool = False,
               pruned: bool | None = None, seed_segs: int = 2,
               local: bool | None = None) -> DataFrame:
        """(query_id, doc_id, score, rank) for a batch of queries.

        ``pruned=None`` auto-selects: the block-max pruned path costs
        two decode passes plus threshold joins, which only pays for
        itself when the candidate posting volume is large (head terms
        / the 10^12-doc regime); small candidate sets answer faster
        exhaustively.  The df probe against the cached lexicon — the
        reference's driver-side lexicon lookup
        (QueryProcessor.cpp:578-582) — doubles as the qt builder, so
        the scorer job carries no lexicon join.
        """
        mode = self.cfg.query_mode
        terms = sorted({t for q in queries.values()
                        for t in tokenizer.split_query(q, mode)})
        unknown = [t for t in terms if t not in self._df_memo]
        if unknown:
            if len(self._df_memo) + len(unknown) > DF_MEMO_MAX_TERMS:
                # bounded like the postings cache: a long-lived server
                # fed ever-new terms (typos, URLs) must not grow the
                # driver-side memo without limit
                self._df_memo.clear()
            probed = {r["term"]: r["df"] for r in
                      self.lexicon.filter(block_codec.sql_in("term", unknown))
                      .select("term", "df").collect()}
            for t in unknown:
                self._df_memo[t] = int(probed.get(t, 0))
        dfs = {t: self._df_memo[t] for t in terms}
        if local is None:
            local = (self.len_lookup is not None
                     and sum(dfs.values()) <= LOCAL_EXEC_MAX_POSTINGS)
        if local and self.len_lookup is not None and pruned is not True:
            return self._search_local(queries, dfs, conjunctive, mode)
        auto_routed = pruned is None
        if pruned is None:
            # per-query candidate volume, counting a shared head term
            # once PER QUERY — the distinct-term sum undercounts a
            # batch sharing one head term by the batch-size factor and
            # would route exactly the pruned tier's target regime to
            # the exhaustive kernel
            total = sum(dfs.get(t, 0)
                        for q in queries.values()
                        for t in tokenizer.split_query(q, mode))
            avg_candidates = total / max(len(queries), 1)
            pruned = (avg_candidates >= PRUNED_MIN_AVG_CANDIDATES
                      or total >= PRUNED_MIN_TOTAL_CANDIDATES)
            route_key = (conjunctive, seed_segs, frozenset(terms))
            if pruned and self._route_memo.get(route_key) == "exhaustive":
                # this exact term set aborted before — don't pay the
                # probe/plan/seed sunk cost again
                pruned = False
        if not pruned and self.len_lookup is not None:
            # distributed batch tier: segment-at-a-time kernel (decode
            # + score + local top-k in one Arrow pass; ~16× less
            # cross-boundary traffic than the exhaustive plan)
            return query_exec.search_segmented(
                self.spark, self.blocks, self.lexicon, self.stats,
                queries, self.cfg, len_lookup=self.len_lookup,
                conjunctive=conjunctive, dfs=dfs,
            )
        if pruned:
            fallback = None
            if auto_routed and self.len_lookup is not None:
                # Adaptive abort target (pruning.PRUNED_ABORT_*): the
                # df-only gate above cannot see SHAPE — a Zipf corpus
                # with a positive-idf head term and spatially uniform
                # tf has huge candidate volume and nothing to prune
                # (measured: 40.2 s pruned vs 5.8 s exhaustive at 8 M
                # docs × 256 q).  The pruned planner knows its
                # survivor count before the expensive decode and
                # hands such batches back to the segmented kernel.
                # Only on AUTO routing: an explicit pruned=True keeps
                # the forced path (bench/test contract).
                route_key = (conjunctive, seed_segs, frozenset(terms))

                def fallback():
                    if len(self._route_memo) > DF_MEMO_MAX_TERMS:
                        self._route_memo.clear()
                    self._route_memo[route_key] = "exhaustive"
                    return query_exec.search_segmented(
                        self.spark, self.blocks, self.lexicon,
                        self.stats, queries, self.cfg,
                        len_lookup=self.len_lookup,
                        conjunctive=conjunctive, dfs=dfs,
                    )
            return pruning.search_pruned(
                self.spark, self.index_path, self.lexicon, self.doc_stats,
                self.stats, queries, self.cfg, conjunctive=conjunctive,
                seed_segs=seed_segs,
                broadcast_doc_stats=self.broadcast_doc_stats,
                # survivor keys grow with corpus segments — same
                # broadcastability regime as the page table
                broadcast_keys=self.broadcast_doc_stats,
                blocks=self.blocks,
                len_lookup=self.len_lookup,
                dfs=dfs,
                fallback=fallback,
            )
        qt = query_exec.queries_to_terms(self.spark, queries, mode, dfs=dfs)
        return query_exec.search_compressed(
            self.spark, self.index_path, self.lexicon, self.doc_stats,
            self.stats, queries, self.cfg, conjunctive=conjunctive,
            broadcast_doc_stats=self.broadcast_doc_stats,
            blocks=self.blocks, len_lookup=self.len_lookup, query_terms=qt,
        )
