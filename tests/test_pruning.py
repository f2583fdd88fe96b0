"""Block-max pruned search must be rank-identical to the exhaustive
compressed path (and therefore to the oracle), while decoding fewer
blocks.  Small segment_docs forces many segments so pruning has
something to skip."""

import pytest

from pyspark.sql import functions as F

from cs6913_web_search_engines_spark.config import EngineConfig
from cs6913_web_search_engines_spark.operators import (
    block_codec as bc,
    index_build as ib,
    pruning,
    query_exec as qe,
)
from tests.oracle import OracleIndex

QUERIES = {
    "q1": "data fast join",
    "q2": "the query window",   # head terms (possible negative idf)
    "q3": "spark",
    "q4": "nosuchterm data",
    "q5": "zzz qqq",            # nothing matches
    "q6": "merge sort stream",
}


@pytest.fixture(scope="module")
def compressed(spark, built, tmp_path_factory):
    postings, doc_stats, stats, lexicon = built
    cfg = EngineConfig(segment_docs=64, n_term_shards=4)
    path = str(tmp_path_factory.mktemp("pidx") / "index")
    bc.write_index(bc.encode_index(postings, cfg), path)
    return path, cfg, postings, doc_stats, stats, lexicon


def _canon(rows):
    return [
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"]))
    ]


@pytest.mark.parametrize("conjunctive", [False, True])
def test_pruned_rank_identity(spark, compressed, conjunctive):
    path, cfg, postings, doc_stats, stats, lexicon = compressed
    got = pruning.search_pruned(
        spark, path, lexicon, doc_stats, stats, QUERIES, cfg,
        conjunctive=conjunctive, seed_segs=2,
    ).collect()
    want = qe.search_compressed(
        spark, path, lexicon, doc_stats, stats, QUERIES, cfg,
        conjunctive=conjunctive,
    ).collect()
    assert _canon(got) == _canon(want)


def test_pruned_with_tiny_k(spark, compressed):
    """Small k → high threshold → aggressive pruning; still identical."""
    path, cfg0, postings, doc_stats, stats, lexicon = compressed
    cfg = EngineConfig(segment_docs=64, n_term_shards=4, top_k=3)
    got = pruning.search_pruned(
        spark, path, lexicon, doc_stats, stats, QUERIES, cfg, seed_segs=1,
    ).collect()
    want = qe.search_compressed(
        spark, path, lexicon, doc_stats, stats, QUERIES, cfg,
    ).collect()
    assert _canon(got) == _canon(want)


def _norms_broadcast(spark, doc_stats):
    """Dense doc_id → distinct_terms array, as the engine's
    norms-in-RAM preload builds it (engine._build_len_lookup)."""
    import numpy as np

    pdf = doc_stats.select("doc_id", "distinct_terms").toPandas()
    arr = np.zeros(int(pdf["doc_id"].max()) + 1, dtype=np.int32)
    arr[pdf["doc_id"].to_numpy(np.int64)] = (
        pdf["distinct_terms"].to_numpy(np.int32))
    return spark.sparkContext.broadcast(arr)


@pytest.mark.parametrize("conjunctive", [False, True])
@pytest.mark.parametrize("driver_plan", [True, False])
def test_pruned_planners_rank_identity(spark, compressed, driver_plan,
                                       conjunctive):
    """The planner run on the driver (collected metadata) and run in
    Spark (rollup on the driver, per-super-segment expansion through
    applyInPandas) must both be rank-identical to the exhaustive path
    AND agree exactly on pruning accounting — both paths call the same
    bound math.  Only ``planner_meta_rows`` differs by design: the
    driver path holds the physical rows, the Spark path the smaller
    (term, sseg) rollup."""
    path, cfg, postings, doc_stats, stats, lexicon = compressed
    norms = _norms_broadcast(spark, doc_stats)
    counters: dict = {}
    got = pruning.search_pruned(
        spark, path, lexicon, doc_stats, stats, QUERIES, cfg,
        conjunctive=conjunctive, seed_segs=2, len_lookup=norms,
        driver_plan=driver_plan, counters=counters,
    ).collect()
    want = qe.search_compressed(
        spark, path, lexicon, doc_stats, stats, QUERIES, cfg,
        conjunctive=conjunctive,
    ).collect()
    assert _canon(got) == _canon(want)
    other: dict = {}
    pruning.search_pruned(
        spark, path, lexicon, doc_stats, stats, QUERIES, cfg,
        conjunctive=conjunctive, seed_segs=2, len_lookup=norms,
        driver_plan=not driver_plan, counters=other,
    )
    # underscore keys are lazy accumulator handles (populated only
    # after an action), not planner accounting
    strip = lambda d: {k: v for k, v in d.items()
                       if not k.startswith("_") and k != "planner_meta_rows"}
    assert strip(counters) == strip(other)
    held = {driver_plan: counters["planner_meta_rows"],
            not driver_plan: other["planner_meta_rows"]}
    assert 0 < held[False] < held[True]


def test_pruning_actually_prunes_on_selective_terms(spark, tmp_path):
    """On a corpus with a rare, concentrated term the pruned tier must
    (a) decode strictly fewer blocks than the exhaustive plan and
    (b) stay rank-identical.

    The per-round bench corpus (31-word uniform vocabulary) makes
    every query term a head term — negative idf, uniform block maxima
    — so pruning is structurally impossible there (recorded ratio
    0.0); this fixture is the selective-term regime where block-max
    pruning earns its keep: 'rare' lives only in segment 0 with high
    tf, so θ seeded there exceeds every other segment's bound."""
    rows = []
    for d in range(2048):
        words = ["common", "filler"]
        if d < 64:
            words += ["rare"] * 8          # concentrated + high tf
        rows.append((d, " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cfg = EngineConfig(segment_docs=64, n_term_shards=4, top_k=10)
    postings = ib.build_postings(docs)
    doc_stats = ib.build_doc_stats(docs, postings)
    stats = ib.corpus_stats(doc_stats)
    lexicon = ib.build_lexicon(postings)
    path = str(tmp_path / "index")
    bc.write_index(bc.encode_index(postings, cfg), path)

    queries = {"q1": "rare common", "q2": "rare"}
    counters: dict = {}
    got = pruning.search_pruned(
        spark, path, lexicon, doc_stats, stats, queries, cfg,
        seed_segs=1, counters=counters,
    ).collect()
    want = qe.search_compressed(
        spark, path, lexicon, doc_stats, stats, queries, cfg,
    ).collect()
    assert _canon(got) == _canon(want)
    assert counters["survivor_blocks"] < counters["exhaustive_blocks"]
    # the rare term's 32-segment spread of 'common' blocks must be
    # mostly gone: ≥half the block rows pruned
    assert counters["survivor_blocks"] <= counters["exhaustive_blocks"] // 2


def test_upper_bound_is_sound(spark, compressed):
    """Every actual BM25 term contribution must be ≤ its block's ub."""
    path, cfg, postings, doc_stats, stats, lexicon = compressed
    blocks = spark.read.parquet(path)
    lex = lexicon.select("term", "df")
    meta = blocks.join(lex, "term").withColumn(
        "ub",
        pruning.block_upper_bound(
            cfg, stats["total_docs"], stats["avg_len"],
            stats.get("min_len", 1), stats.get("max_len", 1 << 30),
        ),
    )
    decoded = bc.decode_postings(blocks, cfg)
    from cs6913_web_search_engines_spark.functions.bm25 import bm25_score
    scored = (
        decoded.join(lex, "term")
        .join(doc_stats.select("doc_id", "distinct_terms"), "doc_id")
        .withColumn(
            "contrib",
            bm25_score(F.col("tf"), F.col("df"), F.col("distinct_terms"),
                       stats["total_docs"], stats["avg_len"], cfg),
        )
    )
    per_term_max = scored.groupBy("term").agg(F.max("contrib").alias("mx"))
    per_term_ub = meta.groupBy("term").agg(F.max("ub").alias("ub"))
    bad = (
        per_term_max.join(per_term_ub, "term")
        .filter(F.col("mx") > F.col("ub") + 1e-9)
        .count()
    )
    assert bad == 0


def test_meta_row_estimate_is_upper_bound(spark, compressed):
    """The driver-plan gate hinges on _estimate_phys_rows being a SOUND
    upper bound on the PHYSICAL (term, seg, block_id) metadata row
    count the driver planner collects — including the
    one-partial-block-per-nonempty-segment floor that the naive
    Σ df//chunk estimate misses."""
    path, cfg, postings, doc_stats, stats, lexicon = compressed
    # head terms shared by many queries (physical rows carry no query
    # dimension)
    batch = dict(QUERIES)
    for i in range(20):
        batch[f"b{i}"] = "the data query"
    _, all_terms, meta_phys = pruning._query_meta(
        spark, path, lexicon, batch, cfg)
    dfs = {r["term"]: int(r["df"])
           for r in lexicon.select("term", "df").collect()}
    actual_phys = meta_phys.count()
    est_phys = pruning._estimate_phys_rows(
        all_terms, dfs, int(stats["total_docs"]), cfg)
    assert est_phys >= actual_phys, (est_phys, actual_phys)


@pytest.mark.parametrize("driver_plan", [True, False])
def test_chunk_skipping_inside_surviving_blocks(spark, tmp_path, driver_plan):
    """VERDICT r3 #2: chunk-level skipping.  Segment 1's single 'hot'
    block survives block-level pruning (one chunk has max_tf=50), but
    its tf=1 chunks bound below θ and must be SKIPPED inside the
    decode kernel — fewer chunks decoded than seen, ranks identical
    to the exhaustive path, under both planners."""
    rows = []
    for d in range(2048):
        words = ["common", "filler"]
        if d < 64:
            words += ["hot"] * 50              # seg 0: seeds a high θ
        elif 1024 <= d < 1536:                 # seg 1: 8 chunks of 'hot'
            words += ["hot"] * (50 if 1088 <= d < 1152 else 1)
        rows.append((d, " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cfg = EngineConfig(segment_docs=1024, n_term_shards=4, top_k=10)
    postings = ib.build_postings(docs)
    doc_stats = ib.build_doc_stats(docs, postings)
    stats = ib.corpus_stats(doc_stats)
    lexicon = ib.build_lexicon(postings)
    path = str(tmp_path / "index")
    bc.write_index(bc.encode_index(postings, cfg), path)
    norms = _norms_broadcast(spark, doc_stats)

    counters: dict = {}
    got = pruning.search_pruned(
        spark, path, lexicon, doc_stats, stats, {"q": "hot"}, cfg,
        seed_segs=1, counters=counters, len_lookup=norms,
        driver_plan=driver_plan,
    ).collect()
    want = qe.search_compressed(
        spark, path, lexicon, doc_stats, stats, {"q": "hot"}, cfg,
    ).collect()
    assert _canon(got) == _canon(want)
    total, decoded = (a.value for a in counters["_chunk_accs"])
    assert decoded >= 1
    assert decoded < total, (decoded, total)
    # seg 1 spans 8 chunks of 'hot'; only the max_tf=50 chunk clears θ
    assert total - decoded >= 6, (decoded, total)


@pytest.mark.parametrize("driver_plan", [True, False])
def test_shared_decode_across_overlapping_queries(spark, tmp_path,
                                                 driver_plan):
    """Queries that keep the same physical block share ONE decode:
    grouped survivor keys (query_ids array) mean the chunk accounting
    for four copies of a query equals the single-query accounting —
    not 4× — while every copy still ranks identically to the
    exhaustive path (the shared-term batch was the pruned tier's
    measured worst case: payload shuffle + decode per (query, block))."""
    rows = []
    for d in range(2048):
        words = ["common", "filler"]
        if d < 64:
            words += ["hot"] * 50
        elif 1024 <= d < 1536:
            words += ["hot"] * (50 if 1088 <= d < 1152 else 1)
        rows.append((d, " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cfg = EngineConfig(segment_docs=1024, n_term_shards=4, top_k=10)
    postings = ib.build_postings(docs)
    doc_stats = ib.build_doc_stats(docs, postings)
    stats = ib.corpus_stats(doc_stats)
    lexicon = ib.build_lexicon(postings)
    path = str(tmp_path / "index")
    bc.write_index(bc.encode_index(postings, cfg), path)
    norms = _norms_broadcast(spark, doc_stats)

    chunks = {}
    for label, queries in (("one", {"q0": "hot common"}),
                           ("four", {f"q{i}": "hot common"
                                     for i in range(4)})):
        counters: dict = {}
        got = pruning.search_pruned(
            spark, path, lexicon, doc_stats, stats, queries, cfg,
            seed_segs=1, counters=counters, len_lookup=norms,
            driver_plan=driver_plan,
        ).collect()
        want = qe.search_compressed(
            spark, path, lexicon, doc_stats, stats, queries, cfg,
        ).collect()
        assert _canon(got) == _canon(want)
        chunks[label] = tuple(a.value for a in counters["_chunk_accs"])
    # identical queries → identical survivor blocks → the physical
    # chunk decode is deduplicated, not repeated per query
    assert chunks["four"] == chunks["one"], chunks


def test_adaptive_abort_on_nonpruning_shape(spark, tmp_path):
    """Round-5 routing guard: when θ prunes (almost) nothing — a
    uniform corpus where every segment's bound ties — the driver
    planner must hand the batch to the caller's fallback BEFORE the
    phase-2 decode (PRUNED_ABORT_SURVIVOR_RATIO); on a genuinely
    prunable shape it must NOT abort.  Measured basis: zipf 8 M docs
    × 256 q ran 40.2 s pruned vs 5.8 s exhaustive at survivor ratio
    ≈ 1.0, while pruning-friendly shapes keep ≤ 10 % of blocks."""
    rows = [(d, "alpha beta gamma") for d in range(2048)]  # uniform
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cfg = EngineConfig(segment_docs=64, n_term_shards=4, top_k=10)
    postings = ib.build_postings(docs)
    doc_stats = ib.build_doc_stats(docs, postings)
    stats = ib.corpus_stats(doc_stats)
    lexicon = ib.build_lexicon(postings)
    path = str(tmp_path / "uidx")
    bc.write_index(bc.encode_index(postings, cfg), path)
    norms = _norms_broadcast(spark, doc_stats)

    calls = []

    def fallback():
        calls.append(1)
        return qe.search_compressed(
            spark, path, lexicon, doc_stats, stats, {"q": "alpha beta"},
            cfg)

    counters: dict = {}
    got = pruning.search_pruned(
        spark, path, lexicon, doc_stats, stats, {"q": "alpha beta"}, cfg,
        len_lookup=norms, counters=counters, fallback=fallback,
    ).collect()
    assert calls == [1] and counters.get("aborted_to_fallback")
    want = qe.search_compressed(
        spark, path, lexicon, doc_stats, stats, {"q": "alpha beta"}, cfg,
    ).collect()
    assert _canon(got) == _canon(want)
    # forced path (no fallback) still executes pruned and stays
    # rank-identical even on the hostile shape
    forced = pruning.search_pruned(
        spark, path, lexicon, doc_stats, stats, {"q": "alpha beta"}, cfg,
        len_lookup=norms,
    ).collect()
    assert _canon(forced) == _canon(want)

    # prunable shape: rare concentrated term — no abort
    rows = []
    for d in range(2048):
        words = ["common", "filler"]
        if d < 64:
            words += ["rare"] * 8
        rows.append((d, " ".join(words)))
    docs2 = spark.createDataFrame(rows, "doc_id long, text string")
    postings2 = ib.build_postings(docs2)
    doc_stats2 = ib.build_doc_stats(docs2, postings2)
    stats2 = ib.corpus_stats(doc_stats2)
    lexicon2 = ib.build_lexicon(postings2)
    path2 = str(tmp_path / "ridx")
    bc.write_index(bc.encode_index(postings2, cfg), path2)
    norms2 = _norms_broadcast(spark, doc_stats2)
    calls.clear()
    counters2: dict = {}
    got2 = pruning.search_pruned(
        spark, path2, lexicon2, doc_stats2, stats2, {"q": "rare common"},
        cfg, len_lookup=norms2, seed_segs=1, counters=counters2,
        fallback=lambda: (_ for _ in ()).throw(AssertionError("aborted")),
    ).collect()
    assert calls == [] and not counters2.get("aborted_to_fallback")
    assert counters2["survivor_blocks"] < counters2["exhaustive_blocks"] // 2
    want2 = qe.search_compressed(
        spark, path2, lexicon2, doc_stats2, stats2, {"q": "rare common"},
        cfg).collect()
    assert _canon(got2) == _canon(want2)


def test_engine_auto_abort_rank_identity(spark, tmp_path, monkeypatch):
    """Engine-level: with the gate constants forced low (so auto
    routing picks pruned on a tiny hostile corpus), the adaptive
    abort must still deliver rank-identical results through the
    fallback tier."""
    import cs6913_web_search_engines_spark.engine as eng_mod

    rows = [(d, "alpha beta gamma") for d in range(2048)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cfg = EngineConfig(segment_docs=64, n_term_shards=4, top_k=10)
    out = str(tmp_path / "full")
    ib.build_full(spark, docs, out, cfg, checkpoint_runs=False)
    monkeypatch.setattr(eng_mod, "PRUNED_MIN_AVG_CANDIDATES", 1)
    monkeypatch.setattr(eng_mod, "LOCAL_EXEC_MAX_POSTINGS", 0)
    engine = eng_mod.QueryEngine(spark, out, cfg)
    got = engine.search({"q": "alpha beta"}).collect()
    want = engine.search({"q": "alpha beta"}, pruned=False,
                         local=False).collect()
    assert _canon(got) == _canon(want)
    # the abort taught the router: the same term set now routes
    # straight to the segmented tier (memo populated), same results
    assert engine._route_memo
    key = (False, 2, frozenset(["alpha", "beta"]))
    assert engine._route_memo.get(key) == "exhaustive"
    got2 = engine.search({"other": "beta alpha"}).collect()
    assert ([("other",) + r[1:] for r in _canon(got2)]
            == [("other",) + r[1:] for r in _canon(got)])


def test_route_memo_keyed_by_seed_segs(spark, tmp_path, monkeypatch):
    """An abort memoised at one seed_segs must not reroute a call with
    another: θ — and so the survivor ratio the abort judged — depends
    on how many segments phase 1 seeds."""
    import cs6913_web_search_engines_spark.engine as eng_mod

    rows = [(d, "alpha beta gamma") for d in range(2048)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cfg = EngineConfig(segment_docs=64, n_term_shards=4, top_k=10)
    out = str(tmp_path / "full")
    ib.build_full(spark, docs, out, cfg, checkpoint_runs=False)
    monkeypatch.setattr(eng_mod, "PRUNED_MIN_AVG_CANDIDATES", 1)
    monkeypatch.setattr(eng_mod, "LOCAL_EXEC_MAX_POSTINGS", 0)
    planned = []
    real = pruning.search_pruned

    def spy(*a, **k):
        planned.append(k["seed_segs"])
        return real(*a, **k)

    monkeypatch.setattr(pruning, "search_pruned", spy)
    engine = eng_mod.QueryEngine(spark, out, cfg)
    q = {"q": "alpha beta"}
    want = _canon(engine.search(q, pruned=False, local=False).collect())
    assert _canon(engine.search(q, seed_segs=2).collect()) == want
    assert engine._route_memo == {
        (False, 2, frozenset(["alpha", "beta"])): "exhaustive"}
    assert _canon(engine.search(q, seed_segs=2).collect()) == want
    assert planned == [2]                  # memo hit: no re-plan
    assert _canon(engine.search(q, seed_segs=8).collect()) == want
    assert planned == [2, 8]               # other seed_segs: planned


def _build(spark, path, rows, cfg):
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    postings = ib.build_postings(docs)
    doc_stats = ib.build_doc_stats(docs, postings)
    stats = ib.corpus_stats(doc_stats)
    lexicon = ib.build_lexicon(postings)
    bc.write_index(bc.encode_index(postings, cfg), path)
    return path, doc_stats, stats, lexicon, _norms_broadcast(spark, doc_stats)


@pytest.fixture(scope="module")
def rare_index(spark, tmp_path_factory):
    """32 segments of 64 docs: 'rare' concentrated (tf 8) in segment 0,
    'common' and 'filler' in every doc — a prunable shape."""
    rows = [(d, " ".join(["common", "filler"] + (["rare"] * 8 if d < 64
                                                  else [])))
            for d in range(2048)]
    cfg = EngineConfig(segment_docs=64, n_term_shards=4, top_k=10)
    path = str(tmp_path_factory.mktemp("rare") / "index")
    return (cfg, *_build(spark, path, rows, cfg))


@pytest.fixture(scope="module")
def uniform_index(spark, tmp_path_factory):
    """Every doc 'alpha beta gamma': all segment bounds tie, so θ
    prunes nothing — the non-pruning shape the abort exists for."""
    rows = [(d, "alpha beta gamma") for d in range(2048)]
    cfg = EngineConfig(segment_docs=64, n_term_shards=4, top_k=10)
    path = str(tmp_path_factory.mktemp("uniform") / "index")
    return (cfg, *_build(spark, path, rows, cfg))


def _accounting(counters):
    return {k: v for k, v in counters.items()
            if not k.startswith("_") and k != "planner_meta_rows"}


def test_rollup_probed_driver_planner(spark, rare_index, monkeypatch):
    """Big path: when the physical metadata outgrows the driver cap,
    the bounded probe overflows and the driver holds only the
    (term, sseg) rollup; the seed bounds and survivor keys inside the
    chosen super-segments come from the same pandas functions, run per
    super-segment in Spark.  Identical results and pruning accounting
    to the driver path, with fewer rows held on the driver."""
    cfg, path, doc_stats, stats, lexicon, norms = rare_index
    queries = {"q1": "rare common", "q2": "rare"}
    # 8 segs per sseg → 4 ssegs over the 32 segments
    monkeypatch.setattr(pruning, "SUPERSEG_FACTOR", 8)

    def run(**kw):
        counters: dict = {}
        rows = pruning.search_pruned(
            spark, path, lexicon, doc_stats, stats, queries, cfg,
            seed_segs=1, len_lookup=norms, counters=counters, **kw,
        ).collect()
        return _canon(rows), counters

    want, ref = run(driver_plan=True)
    nphys = int(ref["planner_meta_rows"])
    monkeypatch.setattr(pruning, "PLAN_LOCAL_MAX_META_ROWS", nphys - 1)
    got, big = run()
    assert got == want
    # the rollup: 'rare' in sseg 0 only, 'common' in all 4
    assert big["planner_meta_rows"] == 5 < nphys
    assert _accounting(big) == _accounting(ref)
    # super-segments were pruned before their blocks were expanded
    assert big["survivor_blocks"] <= ref["exhaustive_blocks"] // 2


def test_distributed_planner_abort(spark, uniform_index, rare_index,
                                   monkeypatch):
    """The adaptive abort on the Spark path — the path a
    beyond-driver-cap corpus takes — so a non-pruning shape at exactly
    that scale still hands the batch to the segmented fallback before
    the phase-2 decode.  Same shapes as the driver-path abort test,
    with the driver cap forced to 0 so planning runs in Spark; the
    prunable shape must NOT abort."""
    monkeypatch.setattr(pruning, "PLAN_LOCAL_MAX_META_ROWS", 0)
    cfg, path, doc_stats, stats, lexicon, norms = uniform_index
    q = {"q": "alpha beta"}
    calls = []

    def fallback():
        calls.append(1)
        return qe.search_compressed(
            spark, path, lexicon, doc_stats, stats, q, cfg)

    counters: dict = {}
    got = pruning.search_pruned(
        spark, path, lexicon, doc_stats, stats, q, cfg,
        len_lookup=norms, counters=counters, fallback=fallback,
    ).collect()
    assert calls == [1] and counters.get("aborted_to_fallback")
    # planned in Spark: the driver held only the rollup (2 terms × 1 sseg)
    assert counters["planner_meta_rows"] == 2
    want = qe.search_compressed(
        spark, path, lexicon, doc_stats, stats, q, cfg).collect()
    assert _canon(got) == _canon(want)

    # prunable shape through the same Spark path: no abort, pruning
    # accounting intact, rank identity holds
    cfg, path, doc_stats, stats, lexicon, norms = rare_index
    q = {"q": "rare common"}
    counters2: dict = {}
    got2 = pruning.search_pruned(
        spark, path, lexicon, doc_stats, stats, q, cfg,
        len_lookup=norms, seed_segs=1, counters=counters2,
        fallback=lambda: (_ for _ in ()).throw(AssertionError("aborted")),
    ).collect()
    assert not counters2.get("aborted_to_fallback")
    assert counters2["survivor_blocks"] < counters2["exhaustive_blocks"] // 2
    want2 = qe.search_compressed(
        spark, path, lexicon, doc_stats, stats, q, cfg).collect()
    assert _canon(got2) == _canon(want2)


@pytest.mark.parametrize("driver_plan", [None, False])
def test_planner_rows_within_cap(spark, rare_index, monkeypatch,
                                 driver_plan):
    """The driver never holds more metadata rows than
    ``PLAN_LOCAL_MAX_META_ROWS``: the driver path only takes rows the
    probe proved to fit, and the Spark path holds the rollup, whose
    super-segment factor is derived to keep it under the cap."""
    cfg, path, doc_stats, stats, lexicon, norms = rare_index
    queries = {"q1": "rare common", "q2": "rare", "q3": "common filler"}
    monkeypatch.setattr(pruning, "SUPERSEG_FACTOR", 8)
    ref: dict = {}
    want = _canon(pruning.search_pruned(
        spark, path, lexicon, doc_stats, stats, queries, cfg,
        len_lookup=norms, driver_plan=True, counters=ref).collect())
    nphys = int(ref["planner_meta_rows"])
    for cap in (nphys, nphys - 1):
        monkeypatch.setattr(pruning, "PLAN_LOCAL_MAX_META_ROWS", cap)
        counters: dict = {}
        got = pruning.search_pruned(
            spark, path, lexicon, doc_stats, stats, queries, cfg,
            len_lookup=norms, driver_plan=driver_plan,
            counters=counters).collect()
        assert _canon(got) == want
        assert counters["planner_meta_rows"] <= cap, (cap, counters)


@pytest.mark.parametrize("shape,aborts", [("uniform", True),
                                          ("rare", False)])
def test_repeated_term_abort_parity(spark, uniform_index, rare_index,
                                    shape, aborts):
    """A repeated query term counts once — in the bounds, the survivor
    keys and the abort denominator alike — so the driver path and the
    Spark path make the same abort decision with the same counters,
    equal to those of the deduplicated query."""
    cfg, path, doc_stats, stats, lexicon, norms = (
        uniform_index if shape == "uniform" else rare_index)
    dup, plain = (("alpha alpha beta", "alpha beta") if shape == "uniform"
                  else ("rare rare common", "rare common"))
    want = _canon(qe.search_compressed(
        spark, path, lexicon, doc_stats, stats, {"q": plain}, cfg).collect())
    seen = []
    for query, driver_plan in ((dup, True), (dup, False), (plain, True)):
        calls = []

        def fallback():
            calls.append(1)
            return qe.search_compressed(
                spark, path, lexicon, doc_stats, stats, {"q": plain}, cfg)

        counters: dict = {}
        got = pruning.search_pruned(
            spark, path, lexicon, doc_stats, stats, {"q": query}, cfg,
            len_lookup=norms, seed_segs=1, counters=counters,
            driver_plan=driver_plan, fallback=fallback).collect()
        assert _canon(got) == want
        assert calls == ([1] if aborts else [])
        seen.append(_accounting(counters))
    assert seen[0] == seen[1] == seen[2]
    assert bool(seen[0].get("aborted_to_fallback")) is aborts


def test_superseg_factor_coarsens_under_cap(spark, rare_index, monkeypatch):
    """With the cap below the rollup bound at the default factor, the
    factor doubles until Σ_t min(df_t, ⌈n_segs / factor⌉) fits, and
    both paths stay rank-identical and agree on accounting."""
    cfg, path, doc_stats, stats, lexicon, norms = rare_index
    monkeypatch.setattr(pruning, "SUPERSEG_FACTOR", 8)
    terms = ["rare", "common", "filler"]
    dfs = {"rare": 64, "common": 2048, "filler": 2048}
    n = int(stats["total_docs"])

    def factor(cap):
        monkeypatch.setattr(pruning, "PLAN_LOCAL_MAX_META_ROWS", cap)
        return pruning._superseg_factor(terms, dfs, n, cfg)

    # 32 segments: 4 ssegs at 8 → 12 rows, 2 at 16 → 6, 1 at 32 → 3
    assert [factor(c) for c in (12, 11, 6, 5, 3, 0)] == [8, 16, 16, 32,
                                                         32, 32]
    queries = {"q1": "rare common", "q2": "common filler"}
    want = _canon(qe.search_compressed(
        spark, path, lexicon, doc_stats, stats, queries, cfg).collect())
    factor(3)
    seen = []
    for driver_plan in (True, False):
        counters: dict = {}
        got = pruning.search_pruned(
            spark, path, lexicon, doc_stats, stats, queries, cfg,
            len_lookup=norms, seed_segs=1, counters=counters,
            driver_plan=driver_plan).collect()
        assert _canon(got) == want
        seen.append(counters)
    assert _accounting(seen[0]) == _accounting(seen[1])
    assert seen[1]["planner_meta_rows"] <= 3


@pytest.mark.parametrize("driver_plan,norms_in_ram", [(True, True),
                                                      (False, False)])
def test_bound_tying_theta_keeps_segment(spark, tmp_path, driver_plan,
                                         norms_in_ram):
    """A segment whose best doc TIES θ must survive although its bound,
    computed in another float order than the doc's score, lands an ULP
    below θ on this corpus.  Seed segment 2 ('x x x', 'x x') sets θ to
    the 'x x' score; segment 0's 'x x' doc ties it and ranks first by
    doc id, so dropping segment 0 returns doc 131 at rank 2."""
    x_docs = {1: "x x", 130: "x x x", 131: "x x", 200: "x x"}
    rows = [(d, x_docs.get(d, "a b c")) for d in range(256)]
    cfg = EngineConfig(segment_docs=64, n_term_shards=2, top_k=2)
    path, doc_stats, stats, lexicon, norms = _build(
        spark, str(tmp_path / "index"), rows, cfg)
    got = pruning.search_pruned(
        spark, path, lexicon, doc_stats, stats, {"q": "x"}, cfg,
        seed_segs=1, len_lookup=norms if norms_in_ram else None,
        driver_plan=driver_plan).collect()
    got = [(r["doc_id"], r["score"]) for r in sorted(got,
                                                     key=lambda r: r["rank"])]
    want = OracleIndex(rows).search("x", 2)
    assert [d for d, _ in got] == [d for d, _ in want] == [130, 1]
    assert all(abs(g - w) <= 1e-9 for (_, g), (_, w) in zip(got, want))
