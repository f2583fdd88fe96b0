"""Similarity search over embedding columns: brute-force + IVF ANN.

Scale-path additions beyond the reference (SURVEY §2.10 inventories
the reference's faiss HNSW retrieval; graph ANN is out of Spark's
model, so the distributed formulation is):

* **brute-force top-k** — the exactness baseline: broadcast the query
  vectors against the embeddings scan, cosine as a JVM fold
  expression (zip_with + aggregate, whole-stage codegen — no Python),
  per-query ranking window.  One scan, no shuffle of the big side
  except the final per-query top-k (TakeOrdered-sized).
* **IVF-Flat** — the scale path: a fixed set of C centroid rows
  partitions the vector space into cells (assignment = argmax cosine,
  one broadcast join); a query probes only its ``nprobe`` nearest
  cells, turning the scan into a partition-pruned fraction ≈
  nprobe/C of the corpus.  With the assignment written
  ``partitionBy(centroid_id)``, the probe is literal partition
  pruning at 10^12 scale.  Recall is exact whenever the true
  neighbors live in probed cells (guaranteed here by using the same
  deterministic assignment in the oracle).
* **near-dup pairs** — embedding-cosine near-duplicate detection for
  dedup pipelines; the DEFAULT path blocks by IVF cell (equi-join on
  centroid_id, O(N²/C) work), with the exact all-pairs cross join as
  an opt-in baseline (:func:`neardup_pairs_exact`).

Cosine is computed as a *sequential left fold in double* on both
engines — verified bit-identical between Spark's ``aggregate`` and
DuckDB's ``list_sum`` over a comprehension — so rankings (and the
driver's value hashes, after round(6)) agree exactly.

Centroids are the first ``n_centroids`` vectors by vec_id: a
deterministic k-means++-free seeding that keeps the oracle
SQL-expressible; swapping in trained centroids changes recall, not
the operator shape.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql import types as T

from cs6913_web_search_engines_spark.session import trim_zip_importers

#: Above this many centroids the literal-expression path is replaced
#: by a broadcast numpy matrix inside an Arrow kernel: the literal
#: path string-interpolates every centroid component into the SQL
#: plan, so plan size is O(C * dim) — fine for a coarse quantizer of
#: a few hundred cells, catastrophic at the C ∝ sqrt(N) sizing the
#: near-dup path wants (tens of thousands of cells at 10^12 docs).
LITERAL_CENTROID_MAX = 256

# --- cosine as identical fold arithmetic on both engines -------------------


def cosine_expr(a: str, b: str) -> str:
    """Spark SQL expression: cosine(a, b) over array<float> columns,
    computed left-to-right in double."""
    dot = (f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * "
           f"CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)")
    na = (f"aggregate({a}, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * "
          f"CAST(x AS DOUBLE))")
    nb = (f"aggregate({b}, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * "
          f"CAST(x AS DOUBLE))")
    return f"({dot}) / sqrt(({na}) * ({nb}))"


def cosine_sql(a: str, b: str) -> str:
    """DuckDB equivalent of :func:`cosine_expr` (same fold order)."""
    dot = (f"list_sum([CAST(({a})[i] AS DOUBLE) * CAST(({b})[i] AS DOUBLE) "
           f"for i in range(1, len({a}) + 1)])")
    na = f"list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in {a}])"
    nb = f"list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in {b}])"
    return f"({dot}) / sqrt(({na}) * ({nb}))"


# --- brute-force -----------------------------------------------------------


def brute_force_topk(embeddings: DataFrame, n_queries: int, k: int) -> DataFrame:
    """(query_id, vec_id, sim, rank) — exact cosine top-k of every
    corpus vector for each of the first ``n_queries`` vectors (self
    excluded).  Query side is broadcast; corpus side never shuffles
    before the top-k."""
    q = F.broadcast(
        embeddings.filter(F.col("vec_id") < n_queries)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    )
    sim = F.expr(cosine_expr("qv", "embedding"))
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("vec_id").asc())
    return (
        embeddings.crossJoin(q)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", F.round(sim, 6).alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def brute_force_sql(n_queries: int, k: int, emb: str = "embeddings") -> str:
    cos = cosine_sql("q.embedding", "e.embedding")
    return f"""
WITH scored AS (
    SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
           ROUND({cos}, 6) AS sim
    FROM {emb} q JOIN {emb} e ON e.vec_id <> q.vec_id
    WHERE q.vec_id < {n_queries})
SELECT query_id, vec_id, sim, rank FROM (
    SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS INT) AS rank
    FROM scored)
WHERE rank <= {k}
"""


# --- IVF-Flat --------------------------------------------------------------


def train_centroids(
    embeddings: DataFrame,
    n_centroids: int,
    sample_size: int = 262_144,
    iters: int = 8,
) -> DataFrame:
    """Spherical k-means on a bounded deterministic sample →
    (vec_id 0..C-1, embedding array<float>) centroids, drop-in as the
    ``centroids`` argument of :func:`ivf_assign` / :func:`ivf_topk` /
    :func:`neardup_pairs`.

    Fixes the untrained first-N-vectors seeding's dense-cell hotspot
    (one embedding-space cluster overloading a cell): Lloyd's
    iterations move centroids toward the data's actual modes, so cell
    populations even out.  The training pass is the standard
    sampled-Lloyd's coarse-quantizer recipe (what faiss does for IVF
    training): one distributed TakeOrdered pulls ``sample_size``
    hash-ordered rows (deterministic, order-free), the few-hundred×dim
    float64 iterations run in numpy on the driver, and the result
    ships back as a tiny DataFrame — centroids are a model parameter,
    same regime as :func:`_centroid_literals`.  At 10^12 rows the
    sample is still one TakeOrdered scan; only ``sample_size`` ever
    reaches the driver.
    """
    rows = (
        embeddings.select("vec_id", "embedding")
        # hash order = deterministic pseudo-random sample, independent
        # of partitioning and of vec_id locality
        .orderBy(F.xxhash64("vec_id"), "vec_id")
        .limit(int(sample_size))
        .collect()
    )
    if not rows or int(n_centroids) < 1:
        # an empty sample (filtered-to-empty input) or C < 1 would
        # otherwise surface as a cryptic numpy AxisError two lines down
        raise ValueError(
            f"train_centroids needs a non-empty embeddings table and "
            f"n_centroids >= 1 (got {len(rows)} sample rows, "
            f"n_centroids={n_centroids})")
    x = np.asarray([list(r["embedding"]) for r in rows], dtype=np.float64)
    xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True),
                        np.finfo(np.float64).tiny)
    c = min(int(n_centroids), xn.shape[0])
    cent = xn[:c].copy()    # seeds: first C in hash order
    for _ in range(max(1, int(iters))):
        assign = np.argmax(xn @ cent.T, axis=1)
        for j in range(c):
            members = xn[assign == j]
            if members.size == 0:
                continue    # empty cell keeps its previous centroid
            m = members.mean(axis=0)
            n = np.linalg.norm(m)
            if n > 0:
                cent[j] = m / n
    spark = embeddings.sparkSession
    return spark.createDataFrame(
        [(int(i), [float(v) for v in cent[i]]) for i in range(c)],
        "vec_id long, embedding array<float>",
    )


def _centroid_literals(embeddings: DataFrame, n_centroids: int) -> list:
    """Collect the (tiny) centroid set to the driver — centroids are a
    model parameter (16–65k rows), like faiss IVF's coarse quantizer;
    shipping them as expression literals makes assignment a pure
    projection with NO join and NO shuffle (vs the crossJoin+window
    formulation, which shuffles N×C rows)."""
    rows = (
        embeddings.filter(F.col("vec_id") < n_centroids)
        .select("vec_id", "embedding").collect()
    )
    return sorted((r["vec_id"], [float(x) for x in r["embedding"]]) for r in rows)


def _cent_sim_structs(cents: list, vec_col: str) -> str:
    """SQL array<struct<s double, id int>> of cosine(centroid, vec)."""
    parts = []
    for cid, vec in cents:
        lit = "array(" + ", ".join(f"CAST('{x!r}' AS FLOAT)" for x in vec) + ")"
        parts.append(
            f"named_struct('s', {cosine_expr(lit, vec_col)}, 'id', {int(cid)})"
        )
    return "array(" + ",\n ".join(parts) + ")"


def assign_centroid_expr(cents: list, vec_col: str = "embedding") -> str:
    """Argmax-cosine centroid id (ties → smallest id): a strict-greater
    left fold over the ascending-id centroid array."""
    arr = _cent_sim_structs(cents, vec_col)
    return (
        f"aggregate({arr}, "
        "named_struct('s', CAST('-Infinity' AS DOUBLE), 'id', -1), "
        "(acc, x) -> IF(x.s > acc.s, x, acc)).id"
    )


def probe_centroids_expr(cents: list, nprobe: int, vec_col: str) -> str:
    """array<int> of the ``nprobe`` nearest centroid ids (cosine desc,
    id asc) — again a pure expression over literal centroids."""
    arr = _cent_sim_structs(cents, vec_col)
    cmp = ("(l, r) -> CASE WHEN l.s > r.s THEN -1 WHEN l.s < r.s THEN 1 "
           "WHEN l.id < r.id THEN -1 WHEN l.id > r.id THEN 1 ELSE 0 END")
    return (f"transform(slice(array_sort({arr}, {cmp}), 1, {nprobe}), "
            "x -> CAST(x.id AS BIGINT))")


# --- broadcast-matrix centroid kernel (the >LITERAL_CENTROID_MAX path) ----


def _centroid_matrix(embeddings: DataFrame, n_centroids: int):
    """(ids int64[C], unit-row matrix float64[C, dim]) collected to the
    driver, rows ascending by centroid id so argmax first-occurrence
    tie-break = smallest id, matching the literal fold's strict-greater
    tie rule."""
    rows = (
        embeddings.filter(F.col("vec_id") < n_centroids)
        .select("vec_id", "embedding").collect()
    )
    rows.sort(key=lambda r: r["vec_id"])
    ids = np.asarray([r["vec_id"] for r in rows], dtype=np.int64)
    mat = np.asarray([list(r["embedding"]) for r in rows], dtype=np.float64)
    # clamp like the member-side norms: an all-zero (untrained) centroid
    # row would otherwise become a NaN sims column — argmax then assigns
    # EVERY vector to it while argsort ranks it last in probe order
    norms = np.maximum(np.linalg.norm(mat, axis=1, keepdims=True),
                       np.finfo(np.float64).tiny)
    return ids, mat / norms


def _resolve_method(n_centroids: int, method: str | None) -> str:
    """Centroid-shipping policy, shared by ivf_assign / ivf_topk /
    neardup_pairs: SQL-oracle-exact literal fold expressions for a
    small coarse quantizer, broadcast numpy matrix + Arrow kernel
    above :data:`LITERAL_CENTROID_MAX` (plan size O(1) vs O(C·dim))."""
    if method is not None:
        return method
    return "literal" if n_centroids <= LITERAL_CENTROID_MAX else "broadcast"


def _with_cells_kernel(
    embeddings: DataFrame,
    n_centroids: int,
    vec_col: str = "embedding",
    nprobe: int | None = None,
    centroid_src: DataFrame | None = None,
    bc_centroids=None,
):
    """Append ``centroid_id`` (argmax cosine; or ``probe_ids``
    array<bigint> of the nprobe nearest when ``nprobe`` is set) via an
    Arrow-batched kernel over a *broadcast* numpy centroid matrix.

    This is the scale path for large C: the plan carries only a
    broadcast-variable reference (O(1) plan size; the C×dim float64
    matrix ships once per executor via the torrent broadcast), and
    each Arrow batch does one (batch × C) BLAS matmul instead of a
    C-term fold expression.  Cosine argmax is scale-invariant, so
    normalizing rows once and comparing dot products is the same
    ordering as the literal path's cosine fold (up to float summation
    order; assignments agree except on exact cosine ties between
    distinct centroids, which the fixture-scale cross-path test pins).
    """
    if bc_centroids is not None:
        # caller already collected + broadcast the matrix (ivf_topk
        # needs the same centroids for queries and members — one
        # collect job and one torrent broadcast, not two)
        bc = bc_centroids
    else:
        sc = embeddings.sparkSession.sparkContext
        bc = sc.broadcast(
            _centroid_matrix(
                embeddings if centroid_src is None else centroid_src,
                n_centroids,
            )
        )
    if nprobe is None:
        out_field = T.StructField("centroid_id", T.LongType(), False)
    else:
        out_field = T.StructField(
            "probe_ids", T.ArrayType(T.LongType(), False), False
        )
    schema = T.StructType(list(embeddings.schema.fields) + [out_field])
    k = nprobe

    def kernel(batches):
        trim_zip_importers()
        ids, matn = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                # np.asarray([]) is 1-D and the axis=1 norm would raise
                # (same guard as multimodal._feature_batches)
                continue
            emb = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            norms = np.linalg.norm(emb, axis=1, keepdims=True)
            # a zero vector has no direction: clamp so its sims are a
            # deterministic 0.0 row (argmax → smallest centroid id)
            # instead of NaN-driven nondeterministic assignment
            np.maximum(norms, np.finfo(np.float64).tiny, out=norms)
            sims = (emb / norms) @ matn.T  # (batch, C)
            if k is None:
                # first occurrence of max = smallest centroid id
                pdf = pdf.assign(centroid_id=ids[np.argmax(sims, axis=1)])
            else:
                order = np.argsort(-sims, axis=1, kind="stable")[:, :k]
                pdf = pdf.assign(probe_ids=[list(ids[row]) for row in order])
            yield pdf
        trim_zip_importers()

    return embeddings.mapInPandas(kernel, schema)


def ivf_assign(
    embeddings: DataFrame, n_centroids: int, method: str | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """(vec_id, centroid_id) — each vector assigned to its max-cosine
    centroid (ties → smallest centroid_id).  Map-only: one scan, zero
    shuffle; at 10^12 rows this writes straight out
    ``partitionBy(centroid_id)`` with no exchange before the sink.

    ``method``: ``"literal"`` embeds centroids as fold expressions
    (SQL-oracle-exact, plan size O(C·dim)); ``"broadcast"`` ships them
    as a numpy matrix into an Arrow kernel (plan size O(1)).  Default:
    literal up to :data:`LITERAL_CENTROID_MAX`, broadcast above.

    ``centroids``: optional trained centroid DataFrame (vec_id,
    embedding) — e.g. :func:`train_centroids`; default is the
    untrained first-``n_centroids`` corpus vectors."""
    method = _resolve_method(n_centroids, method)
    src = centroids if centroids is not None else embeddings
    if method == "broadcast":
        return _with_cells_kernel(
            embeddings, n_centroids, centroid_src=src
        ).select("vec_id", "centroid_id")
    expr = assign_centroid_expr(_centroid_literals(src, n_centroids))
    return embeddings.select(
        "vec_id", F.expr(expr).cast("long").alias("centroid_id")
    )


def ivf_topk(
    embeddings: DataFrame,
    n_queries: int,
    k: int,
    n_centroids: int = 16,
    nprobe: int = 4,
    method: str | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """(query_id, vec_id, sim, rank) — IVF-Flat ANN: each query scores
    only vectors assigned to its ``nprobe`` nearest centroids.
    ``centroids``: optional trained set (:func:`train_centroids`).

    Both cell assignment and probe selection are map-only projections
    (no shuffle); the only joins are broadcast(tiny probe list) ×
    corpus and the final per-query top-k window.  With the assignment
    written ``partitionBy(centroid_id)``, the probe join becomes
    literal partition pruning at 10^12 scale.  ``method`` as in
    :func:`ivf_assign` — literal fold expressions for a small coarse
    quantizer, broadcast numpy matrix + Arrow kernel above
    :data:`LITERAL_CENTROID_MAX`."""
    method = _resolve_method(n_centroids, method)
    cent_src = centroids if centroids is not None else embeddings
    if method == "broadcast":
        bc = embeddings.sparkSession.sparkContext.broadcast(
            _centroid_matrix(cent_src, n_centroids)
        )
        q = _with_cells_kernel(
            embeddings.filter(F.col("vec_id") < n_queries),
            n_centroids, nprobe=nprobe, bc_centroids=bc,
        ).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            F.explode("probe_ids").alias("centroid_id"),
        )
        probes = q
        members = _with_cells_kernel(embeddings, n_centroids, bc_centroids=bc)
    else:
        cents = _centroid_literals(cent_src, n_centroids)
        q = embeddings.filter(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        )
        probes = q.select(
            "query_id", "qv",
            F.explode(F.expr(probe_centroids_expr(cents, nprobe, "qv")))
            .alias("centroid_id"),
        )
        # map-only cell tag on the corpus; probe join prunes to probed cells
        members = embeddings.withColumn(
            "centroid_id",
            F.expr(assign_centroid_expr(cents)).cast("long"),
        )
    sim = F.expr(cosine_expr("qv", "embedding"))
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("vec_id").asc())
    return (
        F.broadcast(probes).join(members, "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", F.round(sim, 6).alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivf_topk_sql(
    n_queries: int,
    k: int,
    n_centroids: int = 16,
    nprobe: int = 4,
    emb: str = "embeddings",
) -> str:
    return f"""
WITH assign AS (
    SELECT vec_id, centroid_id FROM (
        SELECT e.vec_id, c.vec_id AS centroid_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                   {cosine_sql("c.embedding", "e.embedding")} DESC,
                   c.vec_id ASC) AS rn
        FROM {emb} e JOIN {emb} c ON c.vec_id < {n_centroids})
    WHERE rn = 1),
probes AS (
    SELECT query_id, centroid_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS centroid_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                   {cosine_sql("c.embedding", "q.embedding")} DESC,
                   c.vec_id ASC) AS rn
        FROM {emb} q JOIN {emb} c ON c.vec_id < {n_centroids}
        WHERE q.vec_id < {n_queries})
    WHERE rn <= {nprobe}),
scored AS (
    SELECT p.query_id, a.vec_id,
           ROUND({cosine_sql("q.embedding", "e.embedding")}, 6) AS sim
    FROM probes p
    JOIN assign a ON a.centroid_id = p.centroid_id
    JOIN {emb} e ON e.vec_id = a.vec_id
    JOIN {emb} q ON q.vec_id = p.query_id
    WHERE a.vec_id <> p.query_id)
SELECT query_id, vec_id, sim, rank FROM (
    SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS INT) AS rank
    FROM scored)
WHERE rank <= {k}
"""


# --- near-duplicate pairs --------------------------------------------------


def neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    n_centroids: int = 16,
    method: str | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """(vec_a, vec_b, sim) — same-IVF-cell pairs with cosine ≥
    threshold (vec_a < vec_b).
    ``centroids``: optional trained set (:func:`train_centroids`) —
    the fix for the dense-cell caveat below.

    This is the scale path: candidate pairs come from an **equi-join
    on centroid_id** (cells from :func:`ivf_assign`), never an
    all-pairs cross join — with C ∝ √N centroids the expected work is
    O(N²/C) ≈ O(N^1.5) and each cell is a bounded shuffle group.
    Recall bound: pairs whose members land in different cells are not
    scored (near-identical vectors almost always co-assign; the
    exact-recall baseline is :func:`neardup_pairs_exact`).  At the
    C ∝ √N sizing this implies, ``method`` defaults to the broadcast
    centroid kernel past :data:`LITERAL_CENTROID_MAX` cells (see
    :func:`ivf_assign`).

    Dense-cell caveat: centroids are untrained (first-N vectors), so
    one embedding-space hotspot can overload a cell; the resulting
    single-key join skew is split by AQE skew-join handling
    (sub-tasks + replicated matching side), but the O(cell²) pair
    work itself is irreducible under pair semantics — size C to the
    corpus (C ∝ √N) and dedup exact copies first, the same pipeline
    note as operators/dedup.py.
    """
    method = _resolve_method(n_centroids, method)
    cent_src = centroids if centroids is not None else embeddings
    if method == "broadcast":
        withcell = _with_cells_kernel(
            embeddings, n_centroids, centroid_src=cent_src
        ).select("vec_id", "embedding", "centroid_id")
    else:
        cents = _centroid_literals(cent_src, n_centroids)
        withcell = embeddings.select(
            "vec_id", "embedding",
            F.expr(assign_centroid_expr(cents)).cast("long").alias("centroid_id"),
        )
    a = withcell.select("centroid_id", F.col("vec_id").alias("vec_a"),
                        F.col("embedding").alias("ea"))
    b = withcell.select("centroid_id", F.col("vec_id").alias("vec_b"),
                        F.col("embedding").alias("eb"))
    sim = F.round(F.expr(cosine_expr("ea", "eb")), 6)
    return (
        a.join(b, "centroid_id")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def neardup_pairs_exact(embeddings: DataFrame, threshold: float = 0.9) -> DataFrame:
    """All-pairs exact baseline (O(N²) cross join) — correctness
    reference for :func:`neardup_pairs`, never the scale path."""
    a = embeddings.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    b = embeddings.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    sim = F.round(F.expr(cosine_expr("ea", "eb")), 6)
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def neardup_sql(
    threshold: float = 0.9,
    n_centroids: int = 16,
    emb: str = "embeddings",
) -> str:
    """Oracle for :func:`neardup_pairs` — mirrors the same IVF-cell
    assignment, so the blocked result set matches exactly."""
    cos = f"ROUND({cosine_sql('ea.embedding', 'eb.embedding')}, 6)"
    return f"""
WITH assign AS (
    SELECT vec_id, centroid_id FROM (
        SELECT e.vec_id, c.vec_id AS centroid_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                   {cosine_sql("c.embedding", "e.embedding")} DESC,
                   c.vec_id ASC) AS rn
        FROM {emb} e JOIN {emb} c ON c.vec_id < {n_centroids})
    WHERE rn = 1)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {cos} AS sim
FROM assign a
JOIN assign b ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
JOIN {emb} ea ON ea.vec_id = a.vec_id
JOIN {emb} eb ON eb.vec_id = b.vec_id
WHERE {cos} >= {threshold}
"""
