"""The benchmark's workloads, their correctness checks and their metrics.

Every workload generates its inputs, starts the Python workers, and
then runs the same three timed phases in one Spark session:

1. ``phase.build`` -- one fused ``index_build.build_full`` of the
   workload's corpus (``build_postings_per_s``);
2. ``phase.setup`` x ``SETUP_CYCLES`` -- make the workload ready to
   serve, from nothing cached (``setup_s`` is their median);
3. ``phase.ops`` -- the workload's operations (``throughput``).

The median over set-up cycles and the best of the batch rounds after
the first keep the first, slower cycle of a session and host hiccups
out of the metrics.

``batch``: set-up opens a ``QueryEngine`` and answers a few single
warm-up queries (driver-local tier); the operations are rounds of one
Zipf-family batch (auto routing -> segmented kernel) and one hot-family
batch (forced pruned tier).

``ingest``: set-up opens an empty incremental index (the streaming
checkpoint); the operations drain new document drops into it and then
compact it to one generation.
"""

from __future__ import annotations

import glob
import importlib.util
import os
import shutil
import statistics
from dataclasses import dataclass, replace
from time import perf_counter

from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from cs6913_web_search_engines_spark import engine, session
from cs6913_web_search_engines_spark.config import DEFAULT
from cs6913_web_search_engines_spark.engine import QueryEngine
from cs6913_web_search_engines_spark.functions import tokenizer, varbyte
from cs6913_web_search_engines_spark.operators import (
    block_codec, index_build, pruning, query_exec,
)
from cs6913_web_search_engines_spark.streaming import incremental

from perfbench import gen, tracing


@dataclass(frozen=True)
class Scale:
    docs: int            # the corpus of the fused build (batch: queried)
    batch_queries: int   # distinct queries per batch
    warmups: int         # single queries per set-up cycle
    sample: int          # oracle-checked queries per family
    segment_docs: int    # batch: the index's segment size
    drop_docs: int       # ingest: docs per drop


# batch's segments: more than pruning's default seed_segs = 2, so its
# phase 2 has segments whose blocks it may skip
SCALES = {
    "full": Scale(docs=25_000, batch_queries=256, warmups=4, sample=4,
                  segment_docs=4096, drop_docs=5_000),
    # smoke-test size: every code path, a fraction of the data
    "toy": Scale(docs=6_500, batch_queries=16, warmups=2, sample=2,
                 segment_docs=2048, drop_docs=500),
}
# set-up cycles per run (their median is setup_s); ingest's empty drain
# takes ~0.1 s, so it takes many samples to be steady
SETUP_CYCLES = {"batch": 5, "ingest": 25}
DROPS = 2           # ingest: drops drained per run
MIN_ROUNDS = 3
TOL = 1e-9          # the tests' rank-identity tolerance
# route each batch family must take: (segmented calls, pruned calls)
ROUTES = {"zipf": (1, 0), "hot": (0, 1), "single": (0, 0)}


def _load_oracle():
    """``tests/oracle.py``'s OracleIndex, loaded by path (a ``tests``
    package elsewhere on ``sys.path`` must not shadow it)."""
    path = os.path.join(os.path.dirname(os.path.dirname(__file__)),
                        "tests", "oracle.py")
    spec = importlib.util.spec_from_file_location("perfbench_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.OracleIndex


def install_probes(tr: tracing.Tracer) -> None:
    tr.patch(query_exec, "search_segmented", "query_exec.search_segmented",
             label=True, route="segmented")
    tr.patch(pruning, "search_pruned", "pruning.search_pruned",
             label=True, route="pruned")
    if not tr.enabled:
        return
    tr.patch(session, "get_spark", "session.get_spark")
    tr.patch(index_build, "build_full", "index_build.build_full", label=True)
    tr.patch(block_codec, "write_index", "block_codec.write_index", label=True)
    tr.patch(DataFrameWriter, "parquet", _parquet_span)
    tr.patch(QueryEngine, "__init__", "engine.preload", label=True)
    tr.patch(QueryEngine, "search", "engine.search", label=True)
    tr.patch(QueryEngine, "_search_local", "engine.local", label=True)
    tr.patch(block_codec, "term_filter", "block_codec.term_filter",
             count=lambda a, k: len(a[1]))
    tr.patch(varbyte, "decode", "varbyte.decode")
    tr.patch(varbyte, "delta_decode", "varbyte.decode")
    tr.patch(query_exec, "exact_topk_numpy", "query_exec.topk")
    tr.patch(incremental, "run_incremental_build", "incremental.drain",
             label=True)
    tr.patch(StreamingQuery, "awaitTermination", "incremental.stream",
             label=True)
    tr.patch(incremental, "compact_index", "incremental.compact", label=True)


def _parquet_span(args, kwargs) -> str:
    path = kwargs.get("path", args[1] if len(args) > 1 else "")
    return ("parquet.lexicon" if os.path.basename(str(path)) == "lexicon"
            else "parquet.write")


class Run:
    """One workload run: its session, tracer, scratch dir and sizes."""

    def __init__(self, tracer, work, seed, seconds, scale, slots):
        self.tr, self.work, self.seed, self.seconds = tracer, work, seed, seconds
        self.scale, self.slots = scale, slots
        self.spark = session.get_spark(app_name="perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.checked = 0
        self.failed = 0
        self.facts: dict[str, float] = {}

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def warm_workers(self) -> None:
        """Start one Python worker per slot with the engine's kernel
        modules imported, as any earlier job of a session would have:
        the timed phases then measure the engine, not interpreter
        start-up."""
        (self.spark.range(0, self.slots, 1, self.slots)
         .mapInPandas(_import_kernels, "id long").count())

    def build(self, corpus: str, out: str, cfg=DEFAULT) -> tuple[dict, float]:
        docs = self.spark.read.parquet(corpus)
        with self.tr.span("phase.build", label=True):
            t0 = perf_counter()
            stats = index_build.build_full(self.spark, docs, out, cfg,
                                           checkpoint_runs=False, fused=True)
            dt = perf_counter() - t0
        self.facts["index_bytes"] = _du(os.path.join(out, "index"))
        self.facts["n_postings"] = stats["n_postings"]
        return stats, stats["n_postings"] / dt

    def oracle(self, path: str):
        pdf = self.spark.read.parquet(path).select("doc_id", "text").toPandas()
        return _load_oracle()(list(zip(pdf["doc_id"].tolist(), pdf["text"].tolist())))

    def lexicon_matches(self, index_dir: str, oracle) -> bool:
        """The index's lexicon rows (term, df, max_tf) equal the oracle's."""
        pdf = self.spark.read.parquet(os.path.join(index_dir, "lexicon")).toPandas()
        got = {t: (int(d), int(m))
               for t, d, m in zip(pdf["term"], pdf["df"], pdf["max_tf"])}
        want: dict[str, tuple[int, int]] = {}
        for tfs in oracle.freqs.values():
            for t, tf in tfs.items():
                df, mx = want.get(t, (0, 0))
                want[t] = (df + 1, max(mx, tf))
        return got == want


def _import_kernels(batches):
    from cs6913_web_search_engines_spark.operators import (  # noqa: F401
        block_codec, pruning, query_exec)
    yield from batches


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


# -- batch -----------------------------------------------------------------

def batch(run: Run) -> dict:
    tr, sc = run.tr, run.scale
    corpus, idx = run.path("corpus"), run.path("index")
    t0 = perf_counter()
    gen.write_corpus(run.spark, corpus, sc.docs, run.seed, hot=True)
    run.facts["gen_s"] = perf_counter() - t0
    qgen = gen.QueryGen(run.seed)
    warm = qgen.batch("zipf", sc.warmups)
    run.facts["warm_terms"] = sum(len(tokenizer.split_query(q))
                                  for q in warm.values())
    run.warm_workers()
    cfg = replace(DEFAULT, segment_docs=sc.segment_docs)
    _, build_rate = run.build(corpus, idx, cfg)

    setup_s, singles = [], []
    for _ in range(SETUP_CYCLES["batch"]):
        run.spark.catalog.clearCache()      # each cycle preloads afresh
        with tr.span("phase.setup", label=True):
            t0 = perf_counter()
            eng = QueryEngine(run.spark, idx, cfg)
            rows = {}
            for qid, q in warm.items():
                before = tr.route.copy()
                df = eng.search({qid: q})
                with tr.span("engine.collect", label=True):
                    rows[qid] = df.collect()
                singles.append((qid, _route(tr, before)))
            setup_s.append(perf_counter() - t0)

    batches = []   # (family, queries, rows, seconds, route)
    with tr.span("phase.ops", label=True):
        start = perf_counter()
        while (len(batches) < 2 * (1 + MIN_ROUNDS)
               or perf_counter() - start < run.seconds):
            for family in ("zipf", "hot"):
                qs = qgen.batch(family, sc.batch_queries)
                before = tr.route.copy()
                t0 = perf_counter()
                df = eng.search(qs, local=False,
                                pruned=None if family == "zipf" else True)
                route = _route(tr, before)
                name = ("pruning.collect" if route == ROUTES["hot"]
                        else "query_exec.collect")
                with tr.span(name, label=True):
                    out = df.collect()
                batches.append((family, qs, out, perf_counter() - t0, route))
        run.facts["ops_wall_s"] = perf_counter() - start
    run.facts["op_s"] = [b[3] for b in batches]

    if tr.enabled:
        _count_survivors(run, eng, batches)
    t0 = perf_counter()
    _check_batch(run, corpus, eng, warm, rows, singles, batches)
    run.facts["check_s"] = perf_counter() - t0
    rounds = [z[3] + h[3] for z, h in zip(batches[::2], batches[1::2])]
    return {
        # every query answered: the warm-ups (the same ids each cycle)
        # and the batched ones, all counted by the checks
        "attempted": len(warm) + sum(len(b[1]) for b in batches),
        "build_rate": build_rate, "setup_s": setup_s,
        # best of the rounds after the first, which runs the tiers' code
        # cold: other tenants of the host only ever slow a round down
        "throughput": 2 * sc.batch_queries / min(rounds[1:]),
    }


def _route(tr: tracing.Tracer, before) -> tuple[int, int]:
    return (tr.route["segmented"] - before["segmented"],
            tr.route["pruned"] - before["pruned"])


def _count_survivors(run: Run, eng: QueryEngine, batches) -> None:
    """Counting pass for ``pruning.survivor_block_ratio``: the first hot
    batch again with ``counters=``, which adds jobs, so it is run apart
    from the timed operations and labelled as such."""
    qs = next(b[1] for b in batches if b[0] == "hot")
    counters: dict = {}
    before = run.tr.route.copy()
    with run.tr.span("pruning.counting", label=True):
        pruning.search_pruned(
            run.spark, eng.index_path, eng.lexicon, eng.doc_stats, eng.stats,
            qs, eng.cfg, broadcast_doc_stats=eng.broadcast_doc_stats,
            broadcast_keys=eng.broadcast_doc_stats, blocks=eng.blocks,
            len_lookup=eng.len_lookup, counters=counters).count()
    run.tr.route = before      # not an operation: keep it out of the guard
    run.facts["survivor_ratio"] = (counters["survivor_blocks"]
                                   / max(counters["exhaustive_blocks"], 1))


def _check_batch(run, corpus, eng, warm, warm_rows, singles, batches) -> None:
    """Every query: k rows ranked 1..k, on its family's tier path, with
    candidate volumes at least 2x away from the routing gates.  A fixed
    sample per family: rank identity with the oracle."""
    oracle = run.oracle(corpus)
    k = eng.cfg.top_k

    def cands(queries):
        return sum(oracle.df.get(t, 0) for q in queries.values()
                   for t in tokenizer.split_query(q))

    bad = {qid for qid, route in singles if route != ROUTES["single"]}
    bad.update(qid for qid, q in warm.items()
               if 2 * cands({qid: q}) > engine.LOCAL_EXEC_MAX_POSTINGS)
    sample = dict(warm)
    sampled_families = set()
    for family, qs, rows, _, route in batches:
        total = cands(qs)
        if route != ROUTES[family] or (
                family == "zipf"
                and (2 * total > engine.PRUNED_MIN_TOTAL_CANDIDATES
                     or 2 * total / len(qs) > engine.PRUNED_MIN_AVG_CANDIDATES)):
            bad.update(qs)
        ranks: dict[str, list[int]] = {}
        for r in rows:
            ranks.setdefault(r["query_id"], []).append(r["rank"])
        bad.update(q for q in qs
                   if sorted(ranks.get(q, [])) != list(range(1, k + 1)))
        if family not in sampled_families:
            sampled_families.add(family)
            sample.update(sorted(qs.items())[:run.scale.sample])
    by_qid: dict[str, list] = {}
    for rows in list(warm_rows.values()) + [b[2] for b in batches]:
        for r in rows:
            if r["query_id"] in sample:
                by_qid.setdefault(r["query_id"], []).append(r)
    for qid, q in sample.items():
        got = sorted(by_qid.get(qid, []), key=lambda r: r["rank"])
        want = oracle.search(q, k)
        if len(got) != len(want) or any(
                r["doc_id"] != d or abs(r["score"] - s) > TOL * max(1.0, abs(s))
                for r, (d, s) in zip(got, want)):
            bad.add(qid)
    run.checked = len(sample)
    run.failed = len(bad)


# -- ingest ----------------------------------------------------------------

def ingest(run: Run) -> dict:
    """Fused build of a corpus, then new drops drained one by one into an
    incremental index and compacted.  The operations are fixed (every
    drop, then one compaction): one drain outlasts a typical
    ``--seconds``."""
    tr, sc = run.tr, run.scale
    corpus, idx, staged = run.path("corpus"), run.path("index"), run.path("drops")
    t0 = perf_counter()
    gen.write_corpus(run.spark, corpus, sc.docs, run.seed)
    gen.write_drops(run.spark, staged, DROPS, sc.drop_docs, run.seed,
                    first_id=sc.docs)
    run.facts["gen_s"] = perf_counter() - t0
    run.warm_workers()
    _, build_rate = run.build(corpus, idx)

    setup_s = []
    for c in range(SETUP_CYCLES["ingest"]):
        with tr.span("phase.setup", label=True):
            t0 = perf_counter()
            inbox, out = run.path(f"inbox{c}"), run.path(f"incremental{c}")
            os.makedirs(inbox)
            incremental.run_incremental_build(run.spark, inbox, out, DEFAULT)
            setup_s.append(perf_counter() - t0)

    with tr.span("phase.ops", label=True):
        start, op_s = perf_counter(), []
        for k in range(DROPS):
            for f in glob.glob(os.path.join(staged, f"drop={k}", "*.parquet")):
                shutil.move(f, os.path.join(inbox, f"drop{k}.parquet"))
            t0 = perf_counter()
            incremental.run_incremental_build(run.spark, inbox, out, DEFAULT)
            op_s.append(perf_counter() - t0)
        t0 = perf_counter()
        compacted = incremental.compact_index(run.spark, out, DEFAULT,
                                              max_generations=1)
        op_s.append(perf_counter() - t0)
        run.facts["ops_wall_s"] = perf_counter() - start
    run.facts["op_s"] = op_s
    run.facts.update(drains=DROPS, drained_docs=DROPS * sc.drop_docs,
                     compact_groups=compacted["compacted_groups"])

    # checks: the compacted incremental index's lexicon equals the
    # oracle's over the drained docs, with one generation per (term, seg)
    # group; the fused build's output is checked by batch's queries
    t0 = perf_counter()
    gens = (run.spark.read.parquet(os.path.join(out, "index"))
            .filter(F.col("block_id") == 0).groupBy("term", "seg").count()
            .agg(F.max("count")).collect()[0][0])
    run.checked = 2
    run.failed = (int(not run.lexicon_matches(out, run.oracle(inbox)))
                  + int(gens != 1))
    run.facts["check_s"] = perf_counter() - t0
    return {
        "attempted": run.checked, "build_rate": build_rate, "setup_s": setup_s,
        "throughput": run.facts["drained_docs"] / run.facts["ops_wall_s"],
    }


WORKLOADS = {"batch": batch, "ingest": ingest}


# -- per-layer metrics (traced run) ------------------------------------------

def layer_metrics(run: Run, jobs: dict) -> dict[str, float]:
    """Every per-layer metric; a layer the workload does not exercise
    reads 0."""
    tr = run.tr
    own = tr.self_times()
    S, O, B = "phase.setup", "phase.ops", "phase.build"
    phase = {p: tr.within(tr.named(p)) for p in (S, O, B)}

    def spans(ph, name):
        return [s for s in phase[ph] if s.name == name]

    def self_s(ph, name):
        return sum(own[s.id] for s in spans(ph, name))

    def wall_s(ph, name):
        return sum(s.dur for s in spans(ph, name))

    def job(ph, *names, subtree=False):
        """Jobs charged to the named spans (and, with ``subtree``, to
        every span below them)."""
        roots = [s for n in names for s in spans(ph, n)]
        st = tracing.JobStats()
        for s in (tr.within(roots) if subtree else roots):
            if s.id in jobs:
                st.add(jobs[s.id])
        return st

    def coverage(ph):
        ph = tr.named(ph)
        total = sum(s.dur for s in ph)
        return 1.0 - sum(own[s.id] for s in ph) / total if total else 0.0

    def median(xs):
        return statistics.median(xs) if xs else 0.0

    nq = len(spans(S, "engine.search"))
    per_q = 1e3 / nq if nq else 0.0
    fetch = job(S, "engine.local")
    local_jobs = job(S, "engine.search", "engine.collect", subtree=True).jobs
    seg = job(O, "query_exec.search_segmented", "query_exec.collect", subtree=True)
    pr = job(O, "pruning.search_pruned", "pruning.collect")
    enc = job(B, "block_codec.write_index")
    bld = job(B, B, subtree=True)
    drains = job(O, "incremental.drain", subtree=True)
    n_drains = run.facts.get("drains", 0)
    pruned_spans = spans(O, "pruning.search_pruned")
    return {
        "trace.build_wall_s": wall_s(B, B),
        "trace.setup_wall_s": wall_s(S, S),
        "trace.ops_wall_s": run.facts.get("ops_wall_s", 0.0),
        "trace.build_coverage": coverage(B),
        "trace.setup_coverage": coverage(S),
        "trace.ops_coverage": coverage(O),
        "session.start_s": sum(s.dur for s in tr.named("session.get_spark")),
        "engine.preload_s": median([s.dur for s in spans(S, "engine.preload")]),
        "engine.df_probe_ms": self_s(S, "engine.search") * per_q,
        "engine.fetch_ms": fetch.wall_s * per_q,
        "engine.result_ms": (self_s(S, "engine.local") - fetch.wall_s
                             + wall_s(S, "engine.collect")) * per_q,
        "engine.spark_jobs_per_query": local_jobs / nq if nq else 0.0,
        "engine.fetch_terms_ratio": (
            sum(s.n for s in spans(S, "block_codec.term_filter"))
            / (run.facts["warm_terms"] * SETUP_CYCLES["batch"]) if nq else 0.0),
        "varbyte.decode_ms": self_s(S, "varbyte.decode") * per_q,
        "query_exec.topk_ms": self_s(S, "query_exec.topk") * per_q,
        "query_exec.segmented_s": (self_s(O, "query_exec.search_segmented")
                                   + wall_s(O, "query_exec.collect")),
        "query_exec.python_s": seg.python_s,
        "query_exec.arrow_bytes_in": seg.arrow_in,
        "query_exec.arrow_bytes_out": seg.arrow_out,
        "query_exec.shuffle_bytes": seg.shuffle_bytes,
        "query_exec.sched_s": seg.sched_s,
        "pruning.plan_s": self_s(O, "pruning.search_pruned"),
        "pruning.aborted_batches": sum(
            any(c.parent == s.id and c.name == "query_exec.search_segmented"
                for c in tr.spans) for s in pruned_spans),
        "pruning.phase2_s": wall_s(O, "pruning.collect"),
        "pruning.python_s": pr.python_s,
        "pruning.survivor_block_ratio": run.facts.get("survivor_ratio", 0.0),
        "block_codec.encode_python_s": enc.python_s,
        "block_codec.arrow_bytes_in": enc.arrow_in,
        "block_codec.arrow_bytes_out": enc.arrow_out,
        "index_build.shuffle_bytes": bld.shuffle_bytes,
        "index_build.write_s": wall_s(B, "parquet.write"),
        "index_build.lexicon_s": wall_s(B, "parquet.lexicon"),
        "index.bytes_per_posting": (run.facts.get("index_bytes", 0)
                                    / max(run.facts.get("n_postings", 0), 1)),
        "incremental.microbatch_s": (wall_s(O, "incremental.stream") / n_drains
                                     if n_drains else 0.0),
        "incremental.finalize_s": ((wall_s(O, "incremental.drain")
                                    - wall_s(O, "incremental.stream")) / n_drains
                                   if n_drains else 0.0),
        "incremental.bytes_written_per_doc": (
            drains.output_bytes / run.facts["drained_docs"] if n_drains else 0.0),
        "compact.wall_s": wall_s(O, "incremental.compact"),
        "compact.bytes_rewritten": job(O, "incremental.compact",
                                       subtree=True).output_bytes,
        "compact.groups": run.facts.get("compact_groups", 0),
    }
