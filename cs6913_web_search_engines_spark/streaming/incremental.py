"""Incremental (streaming) index build via Structured Streaming.

The reference's build is strictly batch (SURVEY §1.7: "no Structured
Streaming required"); at web scale the corpus *arrives* continuously
(new WARC drops), so the build must be incremental.  This module runs
the stage-1 tokenize→postings pass as a Structured Streaming job:

    readStream(parquet docs dir)
      → build_postings (same mapInPandas kernel as batch)
      → foreachBatch: append doc_id-tagged posting micro-runs

Each micro-batch appends a *posting run* — exactly the checkpointed
run unit the batch pipeline writes (operators/index_build.py), tagged
with the batch id for lineage.  Finalization (merge + block-encode)
is the unchanged batch stage over the accumulated runs, so

    streaming build ≡ batch build   (same runs → same index)

which the tests assert (lexicon equality).  ``foreachBatch`` is
at-least-once, so the run sink is made idempotent: each micro-batch
writes with dynamic partition overwrite keyed on its ``run=batch_id``
partition — a replayed batch *overwrites* its own run instead of
appending a duplicate.  Together with the streaming checkpoint
(offset log + batch commits) this yields effectively-exactly-once
runs — the streaming half of the north rule's "resumable from
per-partition checkpoints".

Finalization is *incremental* and exactly-once: ``_finalized.json``
records which runs are already encoded AND which generation ids are
committed; a drain encodes only newer runs and installs their block
rows as gen-tagged parquet files inside the shard dirs (block rows
decode independently — absolute chunk-leading docIDs, SURVEY §2.9 —
so a multi-generation index answers queries identically), then
merges the NEW generation's per-term (df, max_tf) deltas into the
existing lexicon — sum/max are associative, so the merge equals the
full re-agg at O(new postings) per drain instead of O(index terms);
the full metadata re-agg survives as the repair path (first build,
pre-merge snapshots, or a crash between the generation commit and
the lexicon update, tracked by ``lex_gens`` in the snapshot).  A
crash between the install and the snapshot
leaves orphan gen files that the next drain deletes and re-encodes —
never the silent posting duplication a plain append would produce.
One finalizer at a time is assumed (the streaming checkpoint already
implies a single writer per ``out``).

Watermark/stateful operators are intentionally absent: postings are
append-only facts (no late-data semantics); dedup happens at merge
time.

Everything above describes the **rename** commit protocol (atomic
rename on POSIX/HDFS).  On object stores — where rename is
copy+delete and the crash-safety argument fails — finalize and
compaction route through the **manifest-pointer** protocol instead
(``sources/manifest_commit``: append-only uniquely-named data files,
one single-key pointer PUT per commit, roll-forward recovery, GC of
unreferenced files).  ``commit="auto"`` picks per scheme; the crash
windows of both protocols are pytest-simulated
(tests/test_manifest_commit.py, tests/test_streaming_multimodal.py).

**Compaction** (:func:`compact_index`): each drain APPENDS a fresh
block-row generation per touched (term, seg) group, so a hot term's
query-time block-row count grows linearly with drains.  Compaction
re-encodes every group spanning more than ``max_generations``
generations (detected structurally: each generation restarts
``block_id`` at 0, so generations = count of block_id==0 rows) into
the single-generation encoding — decode → the same (term, seg,
doc_id)-sorted encode the batch build runs — and rewrites ONLY the
term shards that contain fragmented groups (cost ∝ fragmentation,
not index size).  After full compaction the index is byte-identical
to the one-shot batch build, which the tests assert.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from cs6913_web_search_engines_spark.config import DEFAULT, EngineConfig
from cs6913_web_search_engines_spark.operators import index_build as ib
from cs6913_web_search_engines_spark.sources.fsutil import FsShim

DOCS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def stream_postings(spark: SparkSession, docs_dir: str,
                    max_files_per_trigger: int | None = None) -> DataFrame:
    """Streaming postings DataFrame from a parquet documents directory."""
    reader = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger or 1)
    )
    docs = reader.parquet(docs_dir)
    return ib.build_postings(docs)


def _restore_compact_stash(fs: FsShim, join, index_dir: str) -> None:
    """Restore shards stashed aside by a crashed :func:`compact_index`
    swap (stash dst→old_dir, install src→dst; a kill between the two
    renames leaves the live shard only in the stash).  Must run before
    ANY writer touches ``index_dir`` — a finalize that recreates a
    missing shard dir first would make the exists-check below see a
    live destination and the stash (the only complete copy) would be
    discarded.  A stash whose destination exists means the install
    committed; only then is dropping it correct."""
    old_dir = index_dir + ".compact_old"
    if fs.is_dir(old_dir):
        for name in fs.list_names(old_dir):
            dst = join(index_dir, name)
            if not fs.exists(dst):
                fs.rename(join(old_dir, name), dst)
        fs.delete_tree(old_dir)


def run_incremental_build(
    spark: SparkSession,
    docs_dir: str,
    out: str,
    cfg: EngineConfig = DEFAULT,
    compact_generations: int | None = None,
    commit: str = "auto",
    fault=None,
) -> dict:
    """Drain all available input (Trigger.AvailableNow), appending one
    posting-run per micro-batch, then finalize the compressed index
    incrementally (only runs not yet encoded).  Returns build stats.

    ``compact_generations``: when set, finalize ends with
    :func:`compact_index` — (term, seg) groups spanning more than this
    many appended generations are re-encoded into one (and the stats
    gain the compaction counters).

    ``out`` may be a local path or a URI (hdfs://, file://): the
    finalize snapshot and run listing go through :class:`FsShim`, the
    parquet/checkpoint writes through Spark's own Hadoop client.

    ``commit`` selects the finalize protocol: ``"rename"`` is the
    atomic-rename path below (POSIX/HDFS); ``"manifest"`` is the
    object-store-safe manifest-pointer path
    (:mod:`sources.manifest_commit` — append-only data files, one
    pointer PUT per drain, no renames); ``"auto"`` picks manifest
    whenever the scheme lacks atomic rename (s3a, gs, abfs) or the
    index is already manifest-committed.  ``fault``: test hook —
    called with a window name at each crash point of the manifest
    protocol (raise to simulate the crash).  On a real object store
    the parquet job commits themselves should additionally use the
    store's zero-rename committer (e.g. the S3A magic committer) —
    that is cluster config, orthogonal to this index-level protocol."""
    import json

    fs = FsShim(spark, out)
    join = fs.join
    runs_dir = join(out, "runs")
    ckpt_dir = join(out, "_stream_checkpoint")
    fin_path = join(out, "_finalized.json")
    # staging is keyed on the INPUT's locality (a local single parquet
    # file needs a directory for the file stream source), independent
    # of where the output lives
    if "://" not in docs_dir and os.path.isfile(docs_dir):
        # The file stream source requires a directory; stage a
        # symlink (sandbox convenience — real deployments stream a
        # landing directory of WARC-derived parquet drops).  The
        # staging dir must be LOCAL — under `out` only when out is a
        # local path (os.makedirs on a URI string would create a
        # literal ./file:/... directory under the CWD).
        import hashlib

        if "://" in out:
            # STABLE per-out staging dir (not mkdtemp): the file
            # stream's seen-files log keys on absolute path, so a
            # fresh temp dir per drain would re-ingest the same file
            # as a new path every call, duplicating postings.  The
            # root is per-USER and owner-only (0700, ownership
            # verified): a predictable world-shared path in /tmp is a
            # squatting/symlink-ingestion surface on multi-user hosts.
            import stat
            import tempfile

            root = os.path.join(tempfile.gettempdir(),
                                f"spark_docs_src_u{os.getuid()}")
            os.makedirs(root, mode=0o700, exist_ok=True)
            st = os.lstat(root)
            if stat.S_ISLNK(st.st_mode) or st.st_uid != os.getuid():
                raise PermissionError(
                    f"staging root {root} exists but is not an owned "
                    "directory (squatted?) — remove it or set TMPDIR")
            os.chmod(root, 0o700)
            src = os.path.join(
                root, hashlib.md5(out.encode()).hexdigest()[:16])
        else:
            src = os.path.join(out, "_src")
        os.makedirs(src, exist_ok=True)
        # link name keyed on the RESOLVED source: a later drain passing
        # a different file with the same basename must surface as a
        # NEW path to the seen-files log (a basename-keyed link would
        # silently never index it), while re-drains of the same file
        # reuse their link and stay exactly-once
        real = os.path.realpath(docs_dir)
        link = os.path.join(
            src, hashlib.md5(real.encode()).hexdigest()[:16]
            + "_" + os.path.basename(docs_dir))
        if os.path.lexists(link):
            if not os.path.exists(link):
                raise FileNotFoundError(
                    f"staged docs symlink {link} dangles: source "
                    f"{real} was removed after a prior drain")
        else:
            os.symlink(real, link)
        # prune links for sources no longer passed: already-ingested
        # paths live in the stream's seen-files log, so a source
        # re-passed later recreates the same link name and stays
        # exactly-once — without pruning the staging dir grows one
        # symlink per distinct source forever
        for name in os.listdir(src):
            p = os.path.join(src, name)
            if os.path.islink(p) and name != os.path.basename(link):
                os.remove(p)
        docs_dir = src
    postings = stream_postings(spark, docs_dir)

    def _append_run(batch_df: DataFrame, batch_id: int) -> None:
        # idempotent sink: dynamic overwrite of exactly this batch's
        # run=<batch_id> partition — an at-least-once replay rewrites
        # the same run instead of duplicating it.  No fixed partition
        # count: AQE sizes the shuffle to the micro-batch, so a small
        # drop writes a few run files, not one per run_partitions slot
        (
            batch_df.withColumn("run", F.lit(batch_id).cast("int"))
            .repartition("term")
            .sortWithinPartitions("term", "doc_id")
            .write.partitionBy("run")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite").parquet(runs_dir)
        )

    q = (
        postings.writeStream.foreachBatch(_append_run)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    from cs6913_web_search_engines_spark.sources import manifest_commit as mc

    if commit == "manifest" or (
            commit == "auto" and (not FsShim.scheme_atomic(out)
                                  or mc.has_pointer(fs, out))):
        return _finalize_manifest(spark, fs, out, cfg,
                                  compact_generations, fault)

    from cs6913_web_search_engines_spark.operators import block_codec as bc

    # incremental finalize: encode only runs newer than the last
    # finalized snapshot, install their blocks as a new GENERATION of
    # gen-prefixed parquet files inside the shard dirs.  Exactly-once
    # without a transaction log: the snapshot records committed
    # generation ids, and any gen-prefixed file whose id is NOT in the
    # snapshot is an orphan of a crashed finalize (encode committed,
    # snapshot not yet written — the window where a plain
    # mode("append") would silently double every affected term's
    # postings on the re-run) and is deleted before re-encoding.
    finalized: set[int] = set()
    committed_gens: set[int] = set()
    lex_gens: set[int] | None = None
    fin = fs.read_json_or_none(fin_path)
    if fin is not None:
        finalized = set(fin["runs"])
        committed_gens = set(fin.get("gens", []))
        # generations the on-disk lexicon reflects; absent (pre-round-4
        # snapshot or crash between the gen commit and the lexicon
        # update) means "unknown" → the full re-agg repair path below
        if "lex_gens" in fin:
            lex_gens = set(fin["lex_gens"])
    index_dir = join(out, "index")
    lex_dir = join(out, "lexicon")
    # lexicon-swap crash recovery: a kill between the two swap renames
    # leaves the live lexicon only in .old — restore it (its content
    # matches the snapshot's lex_gens, so the incremental path stays
    # available); a leftover .old BESIDE a live lexicon is stale
    lex_old = lex_dir + ".old"
    fs.delete_tree(join(out, "_lexicon_stage"))
    if fs.is_dir(lex_old):
        if not fs.is_dir(lex_dir):
            fs.rename(lex_old, lex_dir)
        else:
            fs.delete_tree(lex_old)
    # FIRST restore any shard stashed by a crashed compact_index swap:
    # installing a new generation below would recreate a missing shard
    # dir, making the stash recovery's exists-check see a live
    # destination and discard the stashed postings
    _restore_compact_stash(fs, join, index_dir)
    # crash cleanup: stale staging dirs + uncommitted generations
    for name in fs.list_names(out):
        if name.startswith("_finalize_stage_gen"):
            fs.delete_tree(join(out, name))
    if fs.is_dir(index_dir):
        for shard_name in fs.list_names(index_dir):
            if not shard_name.startswith("shard="):
                continue
            sd = join(index_dir, shard_name)
            for f in fs.list_names(sd):
                if (f.startswith("gen-") and f.endswith(".parquet")
                        and int(f.split("-", 3)[1]) not in committed_gens):
                    fs.delete_file(join(sd, f))
                    # a rolled-back generation may or may not have been
                    # merged into the lexicon by the crashed finalize —
                    # unknowable here, so force the full re-agg repair
                    lex_gens = None
    if not fs.is_dir(runs_dir):
        # zero-input drain: the stream terminated without a single
        # micro-batch, so there is nothing to finalize (and possibly
        # no index yet either)
        return {"n_batches": 0, "n_new_runs": 0, "n_postings": 0,
                "out": out}
    all_runs = sorted(
        int(d.split("=", 1)[1]) for d in fs.list_names(runs_dir)
        if d.startswith("run=")
    )
    new_runs = [r for r in all_runs if r not in finalized]
    delta = None
    if new_runs:
        runs = (
            spark.read.parquet(runs_dir)
            .filter(F.col("run").isin(new_runs))
            .select("doc_id", "term", "tf")
        )
        blocks_new = bc.encode_index(runs, cfg)
        gen = max(new_runs)
        stage = join(out, f"_finalize_stage_gen{gen}")
        bc.write_index(blocks_new, stage)   # canonical shard layout
        # this generation's per-term lexicon delta, aggregated from the
        # STAGED metadata (payload columns pruned) and pinned eagerly —
        # the stage files are consumed by the install renames below.
        # (df, max_tf) are associative (sum / max), so merging the
        # delta into the existing lexicon equals the full re-agg —
        # O(new postings) per drain instead of O(index terms).
        delta = (
            spark.read.parquet(stage)
            .groupBy("term")
            .agg(F.sum("n_postings").alias("df_new"),
                 F.max("max_tf").alias("max_tf_new"))
            .localCheckpoint(eager=True)
        )
        # install: atomic per-file renames into the live shard dirs,
        # names carrying the generation id for the cleanup above
        for shard_name in fs.list_names(stage):
            if not shard_name.startswith("shard="):
                continue
            dst_dir = join(index_dir, shard_name)
            fs.mkdirs(dst_dir)
            for i, f in enumerate(sorted(fs.list_names(join(stage, shard_name)))):
                if f.endswith(".parquet"):
                    fs.rename(join(stage, shard_name, f),
                              join(dst_dir, f"gen-{gen}-{i}-{f}"))
        fs.delete_tree(stage)
        # snapshot #1 commits the generation; lex_gens stays at what
        # the on-disk lexicon actually reflects (a crash before the
        # lexicon update below then routes the next drain to repair)
        fs.write_text(fin_path, json.dumps(
            {"runs": all_runs,
             "gens": sorted(committed_gens | {gen}),
             **({} if lex_gens is None
                else {"lex_gens": sorted(lex_gens)})}))
        committed_gens = committed_gens | {gen}
    compact_stats = {}
    if compact_generations is not None:
        # compaction re-encodes the same postings: per-term Σn_postings
        # and max(max_tf) are invariant, so the lexicon (and lex_gens)
        # are untouched by it
        compact_stats = compact_index(spark, out, cfg,
                                      max_generations=compact_generations)
    blocks = spark.read.parquet(index_dir)
    if (delta is not None and lex_gens is not None
            and lex_gens == committed_gens - {max(new_runs)}
            and fs.is_dir(lex_dir)):
        # incremental path: merge the new generation's (df, max_tf)
        # deltas into the existing lexicon — reads ONLY the old lexicon
        # and the staged delta, never the pre-existing shards' metadata
        old_lex = spark.read.parquet(lex_dir)
        merged = old_lex.join(delta, "term", "full_outer").select(
            "term",
            (F.coalesce(F.col("df"), F.lit(0))
             + F.coalesce(F.col("df_new"), F.lit(0))).alias("df"),
            F.greatest(
                F.coalesce(F.col("max_tf"), F.lit(0)),
                F.coalesce(F.col("max_tf_new"), F.lit(0)),
            ).alias("max_tf"),
        )
        # can't overwrite a parquet dir mid-read: stage + swap (crash
        # between the renames → recovery preamble restores from .old)
        stage_lex = join(out, "_lexicon_stage")
        merged.write.mode("overwrite").parquet(stage_lex)
        fs.rename(lex_dir, lex_old)
        fs.rename(stage_lex, lex_dir)
        fs.delete_tree(lex_old)
        lexicon_mode = "incremental"
    elif delta is not None or lex_gens is None or lex_gens != committed_gens:
        # repair / first-build path: full re-agg over block METADATA
        # (no payload decode; parquet column pruning drops the binary
        # columns)
        lexicon = blocks.groupBy("term").agg(
            F.sum("n_postings").alias("df"), F.max("max_tf").alias("max_tf")
        )
        lexicon.write.mode("overwrite").parquet(lex_dir)
        lexicon_mode = "full"
    else:
        lexicon_mode = "skip"   # zero-input drain over a current lexicon
    # snapshot #2: the lexicon now reflects every committed generation
    fs.write_text(fin_path, json.dumps(
        {"runs": all_runs, "gens": sorted(committed_gens),
         "lex_gens": sorted(committed_gens)}))
    return {
        "n_batches": len(all_runs),
        "n_new_runs": len(new_runs),
        # Σ df over the (just-maintained) lexicon == Σ block
        # n_postings, at one row per TERM instead of a full-index
        # block-metadata scan per drain — keeps the whole drain
        # O(new postings) + O(lexicon)
        "n_postings": int(
            spark.read.parquet(lex_dir).agg(F.sum("df"))
            .collect()[0][0] or 0),
        "out": out,
        "lexicon_mode": lexicon_mode,
        **compact_stats,
    }


def _finalize_manifest(
    spark: SparkSession,
    fs: FsShim,
    out: str,
    cfg: EngineConfig,
    compact_generations: int | None,
    fault=None,
) -> dict:
    """Object-store finalize: append-only data files plus ONE
    manifest-pointer commit covering blocks and lexicon together —
    no renames anywhere (protocol + crash windows:
    :mod:`sources.manifest_commit`; pinned by
    tests/test_manifest_commit.py on a scheme-forced non-atomic
    store).

    Flow per drain: roll-forward + GC preamble → encode new runs →
    APPEND their block files into the live shard dirs (unique part
    names, invisible to manifest readers until the pointer flips) →
    write the merged lexicon to a fresh ``_lex_*`` dir → one commit.
    Because blocks and lexicon commit atomically together, the
    rename-mode ``lex_gens`` divergence window (snapshot #1 vs #2)
    does not exist here — the incremental O(new postings) lexicon
    merge is always valid after the first drain."""
    import uuid

    from cs6913_web_search_engines_spark.operators import block_codec as bc
    from cs6913_web_search_engines_spark.sources import manifest_commit as mc

    fault = fault or (lambda point: None)
    join = fs.join
    index_dir = join(out, "index")
    runs_dir = join(out, "runs")
    ms = mc.ManifestStore(spark, out, fs=fs)
    man = ms.roll_forward()
    if man is None and (fs.exists(join(out, "_finalized.json"))
                        or fs.exists(join(out, "stats.json"))):
        # evidence of NON-manifest maintenance (rename-mode streaming
        # writes _finalized.json; batch builds write stats.json): a
        # pre-existing index landing on an object store — adopt in
        # place.  Index files WITHOUT either marker are orphans of a
        # crashed first manifest drain and must NOT be adopted (they
        # would double every re-encoded run's postings).
        man = mc.adopt_in_place(spark, out, fs=fs)
    # GC against the committed state — with no state, everything
    # unreferenced (crashed-first-drain orphans) is deleted
    ms.gc(man or mc.empty_state())
    state = man or mc.empty_state()

    if not fs.is_dir(runs_dir):
        return {"n_batches": 0, "n_new_runs": 0, "n_postings": 0,
                "out": out, "commit": "manifest"}
    all_runs = sorted(
        int(d.split("=", 1)[1]) for d in fs.list_names(runs_dir)
        if d.startswith("run="))
    new_runs = [r for r in all_runs if r not in set(state["runs"])]
    lexicon_mode = "skip"

    def _blocks_of(rels: list[str]):
        return (spark.read.option("basePath", index_dir)
                .parquet(*[join(out, r) for r in rels]))

    if new_runs:
        runs = (spark.read.parquet(runs_dir)
                .filter(F.col("run").isin(new_runs))
                .select("doc_id", "term", "tf"))
        gen = max(new_runs)
        before = set(mc.list_index_files(fs, out))
        (bc.encode_index(runs, cfg).write.partitionBy("shard")
         .mode("append").parquet(index_dir))
        new_files = sorted(set(mc.list_index_files(fs, out)) - before)
        fault("after-data")
        delta = (_blocks_of(new_files)
                 .groupBy("term")
                 .agg(F.sum("n_postings").alias("df_new"),
                      F.max("max_tf").alias("max_tf_new"))
                 .localCheckpoint(eager=True))
        if (state["lexicon"]
                and set(state["lex_gens"]) == set(state["gens"])):
            old_lex = spark.read.parquet(join(out, state["lexicon"]))
            merged = old_lex.join(delta, "term", "full_outer").select(
                "term",
                (F.coalesce(F.col("df"), F.lit(0))
                 + F.coalesce(F.col("df_new"), F.lit(0))).alias("df"),
                F.greatest(
                    F.coalesce(F.col("max_tf"), F.lit(0)),
                    F.coalesce(F.col("max_tf_new"), F.lit(0)),
                ).alias("max_tf"))
            lexicon_mode = "incremental"
        else:  # first build / adopted index with unknown lex_gens
            merged = (_blocks_of(state["index_files"] + new_files)
                      .groupBy("term")
                      .agg(F.sum("n_postings").alias("df"),
                           F.max("max_tf").alias("max_tf")))
            lexicon_mode = "full"
        lex_rel = f"_lex_g{gen}_{uuid.uuid4().hex[:8]}"
        merged.write.mode("overwrite").parquet(join(out, lex_rel))
        fault("after-lexicon")
        gens = sorted(set(state["gens"]) | {gen})
        state = ms.commit(
            man, index_files=state["index_files"] + new_files,
            lexicon=lex_rel, runs=all_runs, gens=gens, lex_gens=gens)
        man = state
        fault("after-commit")
        ms.gc(state)  # best-effort now; the next preamble repeats it
    elif state["index_files"] and (
            state["lexicon"] is None
            or set(state["lex_gens"]) != set(state["gens"])):
        # repair: adopted index whose lexicon is missing or stale
        merged = (_blocks_of(state["index_files"])
                  .groupBy("term")
                  .agg(F.sum("n_postings").alias("df"),
                       F.max("max_tf").alias("max_tf")))
        lex_rel = f"_lex_repair_{uuid.uuid4().hex[:8]}"
        merged.write.mode("overwrite").parquet(join(out, lex_rel))
        state = ms.commit(man, lexicon=lex_rel,
                          lex_gens=sorted(state["gens"]))
        man = state
        lexicon_mode = "full"
        ms.gc(state)

    compact_stats = {}
    if compact_generations is not None:
        compact_stats = _compact_manifest(
            spark, out, cfg, max_generations=compact_generations,
            fault=fault, fs=fs)
        man = ms.current() or man

    n_postings = 0
    if man and man.get("lexicon"):
        n_postings = int(
            spark.read.parquet(join(out, man["lexicon"]))
            .agg(F.sum("df")).collect()[0][0] or 0)
    return {"n_batches": len(all_runs), "n_new_runs": len(new_runs),
            "n_postings": n_postings, "out": out,
            "lexicon_mode": lexicon_mode, "commit": "manifest",
            **compact_stats}


def _compact_manifest(
    spark: SparkSession,
    out: str,
    cfg: EngineConfig,
    max_generations: int = 1,
    fault=None,
    fs: FsShim | None = None,
) -> dict:
    """Manifest-mode compaction: same fragmentation detection and
    decode→re-encode as the rename path, but the affected shards'
    replacement files are APPENDED (unique names) and the old files
    are dropped from the manifest in one pointer commit — physical
    deletion is best-effort afterwards and completed by the next GC
    preamble.  On an Iceberg-backed index this whole function is
    ``rewrite_data_files``."""
    from cs6913_web_search_engines_spark.operators import block_codec as bc
    from cs6913_web_search_engines_spark.sources import manifest_commit as mc

    fault = fault or (lambda point: None)
    fs = fs or FsShim(spark, out)
    join = fs.join
    index_dir = join(out, "index")
    ms = mc.ManifestStore(spark, out, fs=fs)
    man = ms.roll_forward()
    if man is None:
        if not (fs.exists(join(out, "_finalized.json"))
                or fs.exists(join(out, "stats.json"))):
            # no manifest and no rename-mode/batch markers: nothing
            # committed here to compact (same adoption rule as
            # _finalize_manifest — never adopt crash orphans)
            return {"compacted_groups": 0, "compacted_shards": 0}
        man = mc.adopt_in_place(spark, out, fs=fs)
    ms.gc(man)
    if not man["index_files"]:
        return {"compacted_groups": 0, "compacted_shards": 0}
    blocks = (spark.read.option("basePath", index_dir)
              .parquet(*[join(out, r) for r in man["index_files"]]))
    frag = (
        blocks.groupBy("term", "seg")
        .agg(F.count(F.when(F.col("block_id") == 0, 1)).alias("n_gen"))
        .filter(F.col("n_gen") > max_generations)
        .select("term", "seg")
        .localCheckpoint(eager=True)
    )
    affected = [
        r["shard"]
        for r in blocks.join(frag, ["term", "seg"], "left_semi")
        .select("shard").distinct().collect()
    ]
    if not affected:
        return {"compacted_groups": 0, "compacted_shards": 0}
    n_frag = frag.count()
    in_shards = blocks.filter(F.col("shard").isin(affected))
    frag_rows = in_shards.join(frag, ["term", "seg"], "left_semi")
    keep_rows = in_shards.join(frag, ["term", "seg"], "left_anti")
    redone = bc.encode_index(
        bc.decode_postings(frag_rows, cfg).select("doc_id", "term", "tf"), cfg
    )
    cols = bc._BLOCK_COLS + ["shard"]
    staged = keep_rows.select(*cols).unionByName(redone.select(*cols))
    before = set(mc.list_index_files(fs, out))
    # append-install: reads the manifest's explicit file list while
    # writing fresh part files into the same shard dirs — the lazy
    # scan never sees the files being appended
    staged.write.partitionBy("shard").mode("append").parquet(index_dir)
    new_files = sorted(set(mc.list_index_files(fs, out)) - before)
    fault("after-data")
    names = {f"shard={k}" for k in affected}
    replaced = [r for r in man["index_files"] if r.split("/")[1] in names]
    live = sorted(
        [r for r in man["index_files"] if r.split("/")[1] not in names]
        + new_files)
    man = ms.commit(man, index_files=live)
    fault("after-commit")
    for r in replaced:  # best-effort; the next GC preamble finishes
        fs.delete_file(join(out, r))
    return {"compacted_groups": int(n_frag), "compacted_shards": len(affected)}


def compact_index(
    spark: SparkSession,
    out: str,
    cfg: EngineConfig = DEFAULT,
    max_generations: int = 1,
    fault=None,
) -> dict:
    """Re-encode fragmented (term, seg) groups into one generation.

    Each incremental drain appends a fresh block-row *generation* per
    touched group (block_id restarts at 0), so a hot term's query-time
    block-row count grows linearly with drains.  Compaction:

    1. Generations per group = count of ``block_id == 0`` rows — a
       metadata-only aggregate (parquet prunes the payload columns).
    2. Groups spanning > ``max_generations`` generations are decoded
       (blocks decode independently — absolute chunk-leading docIDs)
       and re-encoded through the SAME (term, seg, doc_id)-sorted
       :func:`block_codec.encode_index` kernel the batch build uses,
       so a fully-compacted index is byte-identical to the one-shot
       batch build (tests assert this).
    3. Only term shards CONTAINING fragmented groups are rewritten
       (pass-through rows union re-encoded rows, staged to a temp dir
       then swapped per ``shard=K`` partition) — I/O cost scales with
       fragmentation, not index size.  On an Iceberg-backed index this
       step is a rewrite_data_files action over the same row set.

    Idempotent: a compacted group has one generation and is skipped.

    Works on local paths and on URI paths (hdfs://, file://) through
    the same shard-swap protocol via :class:`FsShim` — rename is
    atomic on POSIX and HDFS, which is what the crash-safety argument
    needs.  Object stores (s3a) rename by copy+delete, so there the
    compaction routes through the manifest-pointer commit instead
    (:func:`_compact_manifest` — adopting a rename-mode index in
    place on first use); an already-manifest-committed index uses it
    on any scheme.

    Concurrency contract: single WRITER (implied by the streaming
    checkpoint) *and* quiesced READERS — the swap is crash-safe but
    not reader-atomic: between the stash rename and the install
    rename a concurrent QueryEngine listing the index dir would
    silently miss that shard's postings.  Serve queries from a
    snapshot taken before compaction (or a versioned index dir +
    pointer file) and re-open engines after it returns.
    """
    from cs6913_web_search_engines_spark.operators import block_codec as bc
    from cs6913_web_search_engines_spark.sources import manifest_commit as mc

    if not FsShim.scheme_atomic(out):
        # the shard swap's crash-safety argument is built on atomic
        # rename (POSIX, HDFS); object stores rename by copy+delete,
        # where a crash mid-swap CAN silently lose a shard — route to
        # the manifest-pointer protocol, whose only atomicity need is
        # a single-key PUT (decided on the raw scheme BEFORE touching
        # the Hadoop client)
        return _compact_manifest(spark, out, cfg, max_generations, fault)
    fs = FsShim(spark, out)
    if mc.has_pointer(fs, out):
        # already manifest-committed (e.g. maintained by an
        # object-store writer, now mounted somewhere rename-atomic):
        # stay on the manifest protocol — mixing the two would let a
        # directory swap strand the manifest's file list
        return _compact_manifest(spark, out, cfg, max_generations,
                                 fault, fs=fs)
    join = fs.join
    index_dir = join(out, "index")
    old_dir = index_dir + ".compact_old"
    # Recovery from a crash inside a previous swap loop: any shard
    # stashed aside but never replaced is restored before we read.
    _restore_compact_stash(fs, join, index_dir)
    # Refuse to fold UNCOMMITTED generations into plain shard files: a
    # finalize that crashed between the gen installs and snapshot #1
    # leaves gen files whose id is not in the snapshot — the next
    # drain's cleanup deletes + re-encodes them, but compaction here
    # would erase the gen prefix the rollback keys on, so those runs'
    # postings would be installed a second time and become permanently
    # indistinguishable duplicates.  The repair lives in
    # run_incremental_build; run it (even on zero new input) first.
    fin = fs.read_json_or_none(join(out, "_finalized.json")) or {}
    committed = set(fin.get("gens", []))
    if fs.is_dir(index_dir):
        for shard_name in fs.list_names(index_dir):
            if not shard_name.startswith("shard="):
                continue
            for f in fs.list_names(join(index_dir, shard_name)):
                if (f.startswith("gen-") and f.endswith(".parquet")
                        and int(f.split("-", 3)[1]) not in committed):
                    raise RuntimeError(
                        f"uncommitted generation file {shard_name}/{f} "
                        "(crashed finalize) — run run_incremental_build "
                        "to repair before compact_index")
    blocks = spark.read.parquet(index_dir)
    frag = (
        blocks.groupBy("term", "seg")
        .agg(F.count(F.when(F.col("block_id") == 0, 1)).alias("n_gen"))
        .filter(F.col("n_gen") > max_generations)
        .select("term", "seg")
        # referenced by the shard collect, the count, and two joins —
        # materialize the tiny (term, seg) set once instead of
        # re-running the full metadata scan + groupBy per reference
        .localCheckpoint(eager=True)
    )
    # shard = f(term): every generation of a fragmented group lives in
    # one shard partition, so the rewrite set is a shard list (≤
    # n_term_shards values — a scalar collect, not data)
    affected = [
        r["shard"]
        for r in blocks.join(frag, ["term", "seg"], "left_semi")
        .select("shard").distinct().collect()
    ]
    if not affected:
        return {"compacted_groups": 0, "compacted_shards": 0}
    n_frag = frag.count()
    in_shards = blocks.filter(F.col("shard").isin(affected))
    frag_rows = in_shards.join(frag, ["term", "seg"], "left_semi")
    keep_rows = in_shards.join(frag, ["term", "seg"], "left_anti")
    # decode → re-encode is the batch-build merge over just these
    # groups; encode_index re-derives seg = doc_id // segment_docs,
    # identical to the stored seg under the same cfg
    redone = bc.encode_index(
        bc.decode_postings(frag_rows, cfg).select("doc_id", "term", "tf"), cfg
    )
    cols = bc._BLOCK_COLS + ["shard"]
    staged = keep_rows.select(*cols).unionByName(redone.select(*cols))
    tmp = index_dir + ".compact_tmp"
    fs.delete_tree(tmp)
    bc.write_index(staged, tmp)   # canonical shard layout
    # Crash-safe swap: stash the live shard aside (atomic rename to a
    # sibling dir, OUTSIDE index_dir so partition discovery never sees
    # it), install the rewrite (atomic rename), delete stashes last.
    # A kill between the two renames leaves the shard in old_dir, and
    # the recovery preamble above restores it on the next call — never
    # the silent permanent loss of rmtree-then-move.
    fs.mkdirs(old_dir)
    for k in affected:
        dst = join(index_dir, f"shard={k}")
        src = join(tmp, f"shard={k}")
        fs.rename(dst, join(old_dir, f"shard={k}"))
        fs.rename(src, dst)
    fs.delete_tree(tmp)
    fs.delete_tree(old_dir)
    return {"compacted_groups": int(n_frag), "compacted_shards": len(affected)}
