"""Differential property test of every query tier against the
pure-Python oracle: both pruned planner paths — driver (collected
metadata) and Spark (rollup on the driver, seed and survivor expansion
per super-segment) — the segmented kernel, the driver-local tier
(``QueryEngine.search(local=True)``) and the exhaustive compressed tier.

One small corpus per module, shaped so that every pruning decision is
exercised: 24 segments of 64 docs in 3 super-segments of 8, several
blocks per term per segment, a negative-idf head term, rare terms
concentrated in a quarter of the segments, one-term documents whose
scores reach their block bound, a zero-idf term (df exactly N/2: every
contribution and bound is exactly 0, so θ ties segment bounds exactly)
and a term in only 4 docs of segment 13 (fewer than k hits, so θ falls
to such a tie).  Arrow batches of 3 records, one of the drawn inputs,
split every segment across several batches of the segment and pruned
kernels."""

import json
from pathlib import Path
from dataclasses import replace

import numpy as np
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from cs6913_web_search_engines_spark.config import EngineConfig
from cs6913_web_search_engines_spark.engine import QueryEngine
from cs6913_web_search_engines_spark.operators import (
    block_codec as bc,
    index_build as ib,
    pruning,
    query_exec as qe,
)
from tests.oracle import OracleIndex

N_DOCS, SEG = 1536, 64
MID = [f"m{i}" for i in range(3)]
RARE = [f"r{i}" for i in range(4)]
SOLO_DOCS = {13 * SEG + i for i in (5, 17, 30, 41)}
ARROW_BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"
# zzz, qqq: unknown terms
VOCAB = ["h0", "half", "solo"] + MID + RARE + ["f0", "zzz", "qqq"]


def _docs(seed=7):
    rng = np.random.default_rng(seed)
    docs = []
    for d in range(N_DOCS):
        if d % 2 and d not in SOLO_DOCS and rng.random() < 0.25:
            # one distinct term: its score reaches the block bound
            t = rng.choice(MID + RARE)
            docs.append((d, " ".join([t] * int(rng.integers(1, 4)))))
            continue
        words = ["half"] if d % 2 == 0 else []
        words += ["solo"] * (d in SOLO_DOCS)
        words += ["h0"] * (rng.random() < 0.8)
        words += [t for t in MID if rng.random() < 0.12]
        if rng.random() < 0.25:
            words += [RARE[(d // SEG) % 4]] * int(rng.integers(1, 6))
        words += [f"f{i}" for i in rng.choice(20, int(rng.integers(0, 6)),
                                              replace=False)]
        docs.append((d, " ".join(words or ["f0"])))
    return docs


@pytest.fixture(scope="module", autouse=True)
def _superseg_8():
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(pruning, "SUPERSEG_FACTOR", 8)
        yield


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    docs = _docs()
    df = spark.createDataFrame(docs, "doc_id long, text string")
    cfg = EngineConfig(segment_docs=64, n_term_shards=2,
                       postings_per_chunk=8, block_bytes=256)
    postings = ib.build_postings(df)
    doc_stats = ib.build_doc_stats(df, postings).cache()
    stats = ib.corpus_stats(doc_stats)
    lexicon = ib.build_lexicon(postings).cache()
    root = tmp_path_factory.mktemp("diff")
    path = str(root / "index")
    bc.write_index(bc.encode_index(postings, cfg), path)
    # what QueryEngine reads beside the index
    lexicon.write.parquet(str(root / "lexicon"))
    doc_stats.write.parquet(str(root / "doc_stats"))
    (root / "stats.json").write_text(json.dumps(stats))
    pdf = doc_stats.select("doc_id", "distinct_terms").toPandas()
    lens = np.zeros(int(pdf["doc_id"].max()) + 1, dtype=np.int32)
    lens[pdf["doc_id"].to_numpy()] = pdf["distinct_terms"].to_numpy()
    norms = spark.sparkContext.broadcast(lens)
    return cfg, path, doc_stats, stats, lexicon, norms, OracleIndex(docs)


@pytest.fixture(scope="module")
def engines(spark, corpus):
    """One ``QueryEngine`` per ``top_k``, kept for the module, so later
    draws also answer from the local tier's scored-postings cache."""
    cfg0, path = corpus[:2]
    made = {}

    def get(top_k):
        if top_k not in made:
            made[top_k] = QueryEngine(spark, str(Path(path).parent),
                                      replace(cfg0, top_k=top_k))
        return made[top_k]

    return get


def _check(rows, want, k, tier):
    """Same docs at the same ranks as the oracle, scores within 1e-9.
    Both sides rank by (score rounded to 1e-9 desc, doc_id asc), so
    sums of three or more terms, whose last bit depends on the order
    the kernel adds them in, cannot swap docs whose scores tie."""
    got = [(r["doc_id"], r["score"]) for r in sorted(rows,
                                                     key=lambda r: r["rank"])]
    assert sorted(r["rank"] for r in rows) == list(range(1, len(rows) + 1))
    key = lambda ds: (-round(ds[1], 9), ds[0])
    got, want = sorted(got, key=key), sorted(want, key=key)[:k]
    assert [d for d, _ in got] == [d for d, _ in want], (tier, got, want)
    assert all(abs(g - w) <= 1e-9 for (_, g), (_, w) in zip(got, want)), tier


queries_st = st.lists(
    st.lists(st.sampled_from(VOCAB), min_size=0, max_size=4)
    .map(" ".join), min_size=1, max_size=4)


@settings(max_examples=8, deadline=None, derandomize=True, database=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@example(qs=["half solo"], conjunctive=False, top_k=8, seed_segs=1,
         norms_in_ram=True, small_batches=False)
@example(qs=["h0 m1 r2", "m0 zzz h0"], conjunctive=False, top_k=10,
         seed_segs=2, norms_in_ram=True, small_batches=True)
# phase 2 keeps a block of m0 holding a top-3 doc and skips chunks in it
@example(qs=["m0", "half m0"], conjunctive=False, top_k=3, seed_segs=2,
         norms_in_ram=True, small_batches=True)
@given(qs=queries_st, conjunctive=st.booleans(),
       top_k=st.integers(1, 10), seed_segs=st.integers(1, 2),
       norms_in_ram=st.booleans(), small_batches=st.booleans())
def test_tiers_match_oracle(spark, corpus, engines, qs, conjunctive, top_k,
                            seed_segs, norms_in_ram, small_batches):
    cfg0, path, doc_stats, stats, lexicon, norms, oracle = corpus
    cfg = replace(cfg0, top_k=top_k)
    queries = {f"q{i}": q for i, q in enumerate(qs)}
    len_lookup = norms if norms_in_ram else None
    tiers = {
        f"pruned driver_plan={dp}": lambda dp=dp: pruning.search_pruned(
            spark, path, lexicon, doc_stats, stats, queries, cfg,
            conjunctive=conjunctive, seed_segs=seed_segs,
            len_lookup=len_lookup, driver_plan=dp)
        for dp in (True, False)
    }
    tiers["compressed"] = lambda: qe.search_compressed(
        spark, path, lexicon, doc_stats, stats, queries, cfg,
        conjunctive=conjunctive, len_lookup=len_lookup)
    if norms_in_ram:
        tiers["segmented"] = lambda: qe.search_segmented(
            spark, spark.read.parquet(path), lexicon, stats, queries, cfg,
            len_lookup=norms, conjunctive=conjunctive)
        tiers["local"] = lambda: engines(top_k).search(
            queries, conjunctive=conjunctive, local=True)
    saved = spark.conf.get(ARROW_BATCH)
    if small_batches:
        spark.conf.set(ARROW_BATCH, "3")
    try:
        got = {name: run().collect() for name, run in tiers.items()}
    finally:
        spark.conf.set(ARROW_BATCH, saved)
    for qid, q in queries.items():
        full = oracle.search(q, len(oracle.freqs), conjunctive)
        for name, rows in got.items():
            _check([r for r in rows if r["query_id"] == qid], full, top_k,
                   name)
