"""Vector similarity operators (SURVEY.md §2.13 L3): brute-force
cosine top-k baseline + hyperplane-LSH bucketed ANN for the scale path.

Numeric determinism: similarity ranking uses *integer-quantized*
arithmetic (floor(x·QUANT_SCALE + 0.5) per component). Integer dot
products and norms are exact in both Spark and the DuckDB oracle
regardless of summation order, so top-k results are bit-reproducible —
the float epsilon games that plague cross-engine cosine comparisons
disappear. Quantization error at scale 1000 is ~1e-3 relative,
irrelevant for near-duplicate detection and ANN retrieval.

That decision lives here once per spelling: ``quantize``/``int_norm``/
``cosine_from_norms`` (Spark Column), ``_vector_kernels`` (numpy, for
the Arrow batch paths) and ``SQL_QUANT`` (DuckDB, for the oracles).
Zero-norm rule: the cosine of a zero vector is NULL, as DuckDB's
division gives — it never passes a threshold and ranks last under
DESC, in every spelling.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..caching import tracked_persist

from .relational import topk_per_group

QUANT_SCALE = 1000

# quantize(), DuckDB spelling, over an `embedding` list column
SQL_QUANT = (
    "list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * "
    f"{QUANT_SCALE} + 0.5) AS BIGINT))"
)


def quantize(vec: Column, scale: int = QUANT_SCALE) -> Column:
    """float vector → exact integer vector (round-half-up via floor)."""
    return F.transform(
        vec, lambda x: F.floor(x.cast("double") * scale + F.lit(0.5)).cast("bigint")
    )


def int_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product (left-fold, overflow-safe for
    |component| <= ~1e6 at 64-4096 dims)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def int_norm(vec_q: Column) -> Column:
    """√dot(v, v) of a quantized vector, as double."""
    return F.sqrt(int_dot(vec_q, vec_q).cast("double"))


def cosine_from_norms(dot: Column, na: Column, nb: Column) -> Column:
    """dot → double / (na·nb): the only float ops are the cast and the
    divide, computed identically in any engine. try_divide makes a zero
    norm give NULL (DuckDB's answer) where ANSI `/` raises
    DIVIDE_BY_ZERO."""
    return F.try_divide(dot.cast("double"), na * nb)


def quantized_cosine(a_q: Column, b_q: Column) -> Column:
    """Cosine of two quantized vectors from exact integer dot/norms."""
    return cosine_from_norms(int_dot(a_q, b_q), int_norm(a_q), int_norm(b_q))


def _vector_kernels(n_planes: int = 0, dim: int = 0, n_tables: int = 0):
    """The quantized-cosine decision, numpy spelling, for the Arrow batch
    paths. Every kernel is a nested closure, so cloudpickle ships it BY
    VALUE: executor workers may run from a cwd where this package is not
    importable (see sources/io.py:_make_fake_fetch), so no kernel may
    reference a module-level name of it.

    - ``quant(vecs)`` → (int64 matrix, float64 norms): quantize()'s
      floor(x·QUANT_SCALE + 0.5) per component, norm = √dot(v, v);
    - ``cosine(dots, na, nb)`` → dot / (na·nb); a zero norm gives NaN,
      which Arrow ships to Spark as NULL (cosine_from_norms' rule);
    - ``cut(scores, valid, keep)`` → bool mask over a (rows, queries)
      score matrix: per query, every valid score tied with or above the
      keep-th best valid one, NaN ranked last. Per-batch pruning under
      which a later (cosine desc, id asc) top-keep stays exact across
      batches and partition layouts;
    - ``plane_keys(int_mat)`` → (rows, n_tables) hyperplane bucket keys,
      lsh_bucket_key's buckets for tables 0..n_tables-1.
    """
    import types

    import numpy as np

    scale = QUANT_SCALE
    total = n_planes * n_tables
    planes = np.array(
        [_plane_signs(p, dim) for p in range(total)], dtype="int64"
    ).reshape(total, dim).T  # (dim, total)
    weights = np.array(
        [1 << (n_planes - 1 - p) for p in range(n_planes)], dtype="int64"
    )

    def quant(vecs):
        q = np.floor(
            np.stack(vecs.to_numpy()).astype("float64") * scale + 0.5
        ).astype("int64")
        return q, np.sqrt((q * q).sum(axis=1).astype("float64"))

    def cosine(dots, na, nb):
        with np.errstate(invalid="ignore"):  # 0/0 → NaN is the rule
            return dots.astype("float64") / (na * nb)

    def cut(scores, valid, keep):
        n = len(scores)
        if n <= keep:
            return valid
        score = np.where(valid & ~np.isnan(scores), scores, -np.inf)
        thr = np.partition(score, n - keep, axis=0)[n - keep]  # per query
        return valid & (score >= thr)

    def plane_keys(q):
        bits = (q @ planes) > 0  # (rows, total), table-major plane order
        return bits.reshape(len(q), n_tables, n_planes) @ weights

    return types.SimpleNamespace(
        quant=quant, cosine=cosine, cut=cut, plane_keys=plane_keys
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the
    corpus — a broadcast nested-loop join, so the corpus streams through
    executors once with no shuffle; the per-query top-k is a single
    shuffle on query_id. This is the correctness baseline; use
    lsh_ann_topk when the query set is large."""
    q = queries.select(
        F.col(query_id).alias("q_id"), quantize(F.col(vec_col)).alias("q_vec")
    ).withColumn("q_nrm", int_norm(F.col("q_vec")))
    c = corpus.select(
        F.col(corpus_id).alias("c_id"), quantize(F.col(vec_col)).alias("c_vec")
    ).withColumn("c_nrm", int_norm(F.col("c_vec")))
    # norms computed once per row (not per pair); the per-pair work is a
    # single integer dot product
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            cosine_from_norms(
                int_dot(F.col("q_vec"), F.col("c_vec")), F.col("q_nrm"), F.col("c_nrm")
            ).alias("cosine"),
        )
    )
    return topk_per_group(
        scored, ["q_id"], [F.col("cosine").desc(), F.col("c_id").asc()], k, rank_col="rnk"
    )


def _plane_signs(plane: int, dim: int) -> list[int]:
    """Deterministic ±1 hyperplane, generated driver-side (splitmix-style
    bit mix per (plane, i)) and inlined as a literal array — the
    executor-side cost is ONE zip_with multiply-fold per plane instead
    of per-component hash calls. Reproducible everywhere, no stored
    model."""
    out = []
    for i in range(dim):
        z = (plane * 0x9E3779B97F4A7C15 + i * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 30)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        out.append(1 if (z ^ (z >> 31)) & 1 else -1)
    return out


def _hyperplane_sign(vec_q: Column, plane: int, dim: int) -> Column:
    """Side of one deterministic pseudo-random hyperplane: sign of the
    exact integer dot with a literal ±1 vector."""
    signs = F.array(*[F.lit(s) for s in _plane_signs(plane, dim)])
    return (int_dot(vec_q, signs) > 0).cast("int")


def lsh_bucket_key(vec_q: Column, n_planes: int, dim: int, table_id: int = 0) -> Column:
    """Random-hyperplane LSH bucket id: n_planes sign bits packed into
    one integer. Cosine-similar vectors collide with probability
    (1 - theta/pi)^n_planes. table_id offsets the plane seeds so
    multiple independent tables can OR-amplify recall."""
    key = F.lit(0).cast("bigint")
    for p in range(n_planes):
        key = key * 2 + _hyperplane_sign(vec_q, table_id * n_planes + p, dim).cast(
            "bigint"
        )
    return key


def lsh_bucket_keys(vec_q: Column, n_planes: int, dim: int, n_tables: int) -> Column:
    """Array of (table, bucket) structs — one entry per hash table."""
    return F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"),
                lsh_bucket_key(vec_q, n_planes, dim, t).alias("key"),
            )
            for t in range(n_tables)
        ]
    )


def lsh_bucket_keys_gemm(
    vec_col: str, n_planes: int, dim: int, n_tables: int
) -> Column:
    """All n_tables bucket keys in ONE Arrow-vectorized pass: stack the
    batch into a (rows × dim) int matrix, one GEMM against the
    (dim × n_planes·n_tables) ±1 plane matrix, sign+bit-pack per table.
    Returns array<bigint> of length n_tables (index = table id).

    Same buckets as lsh_bucket_key (identical planes, exact integer
    arithmetic), but plan size is O(1) instead of O(planes × dim)
    expression nodes, and per-row cost is a vectorized dot — this is
    the signature path that scales: at 100 TB the plane matrix is tiny
    and each Arrow batch costs one matmul."""
    from pyspark.sql.pandas.functions import pandas_udf

    kern = _vector_kernels(n_planes, dim, n_tables)

    @pandas_udf("array<long>")
    def keys(vecs):  # pd.Series of list<float>
        import pandas as pd

        if not len(vecs):  # zero-row Arrow batch: np.stack would raise
            return pd.Series([], dtype="object")
        return pd.Series(list(kern.plane_keys(kern.quant(vecs)[0])))

    return keys(F.col(vec_col))


def lsh_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    k: int,
    n_planes: int = 6,
    dim: int = 64,
    n_tables: int = 8,
) -> DataFrame:
    """Approximate top-k: bucket both sides by hyperplane signatures in
    n_tables independent hash tables (OR-amplification) and rank, per
    query, only the corpus rows sharing a (table, bucket) key with it.
    Recall ≈ 1-(1-p^n_planes)^n_tables, tunable per workload.

    The panel's keys ride the broadcast of _broadcast_panel_topk; each
    corpus Arrow batch is signed with the plane GEMM (the planes of
    lsh_bucket_keys_gemm) and matched against them in one vectorized
    compare. No corpus-side join, no corpus-vector shuffle; the only
    exchange after the scan is the per-query top-k. The DuckDB oracle
    replays postings and scoring in SQL bit-for-bit. Round 10's lesson
    (JVM expression signatures 2.6× slower than the Arrow GEMM, see
    tests/test_round10_session_ops.py::
    test_lsh_expression_keys_equal_gemm_keys) is why BOTH sides sign
    with the GEMM here."""
    return _broadcast_panel_topk(
        queries, corpus, query_id, corpus_id, vec_col, k,
        lsh=(n_planes, dim, n_tables),
    )


def _nearest_centroids_udf(centroids, n_out: int):
    """pandas_udf: vector -> its n_out nearest centroid ids (argmax of
    x·c - |c|²/2, i.e. nearest in L2). `centroids` is a plain
    (n_centroids × dim) list-of-lists closed over by value."""
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("array<int>")
    def nearest(vecs):
        import numpy as np
        import pandas as pd

        if not len(vecs):  # zero-row Arrow batch: np.stack would raise
            return pd.Series([], dtype="object")
        C = np.array(centroids, dtype="float64")  # (nc, dim)
        half = 0.5 * (C * C).sum(axis=1)
        m = np.stack(vecs.to_numpy()).astype("float64")
        score = m @ C.T - half  # (rows, nc)
        top = np.argsort(-score, axis=1, kind="stable")[:, :n_out].astype("int32")
        return pd.Series(list(top))

    return nearest


def build_ivf_centroids(cv: DataFrame, n_centroids: int) -> list[list[float]]:
    """Deterministic IVF index build over a quantized corpus frame
    ``cv(c_id, c_vec)`` — the shared step of the batch ``ivf_ann_topk``
    and its streaming twin (streaming/jobs.py:stream_ivf_ann_state),
    so both probe IDENTICAL centroids and their results compare
    bit-for-bit.

    1. seeds = the n_centroids corpus vectors with smallest
       xxhash64(id) — an order-free distributed sample (TakeOrdered,
       no full sort);
    2. one Lloyd refinement with EXACT integer sums: assign every
       vector to its nearest seed (Arrow GEMM), then per-cell mean via
       posexplode → groupBy(cell, component) — map-side partial sums
       reduce the shuffle to n_centroids × dim rows regardless of
       corpus size.

    Driver-side data stays metadata-bounded: n_centroids seed vectors
    plus n_centroids × dim refinement sums. Returns at most
    n_centroids centroids (fewer for tiny corpora, empty for an empty
    corpus); empty cells keep their seed so probing stays
    well-defined."""
    seeds = [
        r["c_vec"]
        for r in cv.select("c_vec")
        .orderBy(F.xxhash64(F.col("c_id")))
        .limit(n_centroids)
        .collect()
    ]
    if not seeds:
        return []
    n_centroids = min(n_centroids, len(seeds))
    assign1 = _nearest_centroids_udf([[float(x) for x in s] for s in seeds], 1)
    assigned = cv.withColumn("cell", assign1(F.col("c_vec")).getItem(0))
    comp = assigned.select("cell", F.posexplode("c_vec").alias("i", "x"))
    sums = (
        comp.groupBy("cell", "i")
        .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    dim = len(seeds[0])
    cents = [[0.0] * dim for _ in range(n_centroids)]
    for r in sums:
        cents[r["cell"]][r["i"]] = r["s"] / r["n"]
    filled = {r["cell"] for r in sums}
    for c in range(n_centroids):
        if c not in filled:
            cents[c] = [float(x) for x in seeds[c]]
    return cents


def ivf_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    k: int,
    n_centroids: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF-style ANN: partition the corpus into n_centroids Voronoi
    cells, search only the n_probe cells nearest each query.

    Index build: build_ivf_centroids (deterministic seed sample + one
    exact-integer Lloyd refinement, shared with the streaming twin so
    their results compare bit-for-bit).

    Search: corpus rows carry exactly ONE cell id, query probes explode
    to n_probe cells and broadcast — so each (query, candidate) pair
    arises at most once (no dedup shuffle, unlike OR-amplified LSH) and
    scoring happens inside the probe join. Recall/cost is tuned by
    (n_centroids, n_probe); cost ≈ n_probe/n_centroids of brute force.
    """
    cv = corpus.select(
        F.col(corpus_id).alias("c_id"), quantize(F.col(vec_col)).alias("c_vec")
    ).withColumn("c_nrm", int_norm(F.col("c_vec")))
    cents = build_ivf_centroids(cv, n_centroids)
    # an empty corpus has no index to build and trivially no neighbors
    if not cents:
        return queries.sparkSession.createDataFrame(
            [], "q_id long, c_id long, cosine double, rnk int"
        )
    n_centroids = len(cents)
    n_probe = min(n_probe, n_centroids)
    assign_final = _nearest_centroids_udf(cents, 1)
    probe = _nearest_centroids_udf(cents, n_probe)
    indexed = cv.withColumn("cell", assign_final(F.col("c_vec")).getItem(0))
    qv = (
        queries.select(
            F.col(query_id).alias("q_id"), quantize(F.col(vec_col)).alias("q_vec")
        )
        .withColumn("q_nrm", int_norm(F.col("q_vec")))
        .withColumn("cell", F.explode(probe(F.col("q_vec"))))
    )
    scored = (
        indexed.join(F.broadcast(qv), "cell")
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            cosine_from_norms(
                int_dot(F.col("q_vec"), F.col("c_vec")), F.col("q_nrm"), F.col("c_nrm")
            ).alias("cosine"),
        )
    )
    return topk_per_group(
        scored, ["q_id"], [F.col("cosine").desc(), F.col("c_id").asc()], k, rank_col="rnk"
    )


def _broadcast_panel_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    k: int,
    label_col: str | None = None,
    lsh: tuple[int, int, int] | None = None,
) -> DataFrame:
    """The one skeleton behind gemm_exact_topk, gemm_contrastive_topk
    and lsh_ann_topk. The query panel is bounded (O(1) in corpus size,
    the same metadata budget as IVF's seeds), so it is collected once,
    quantized once and broadcast; the corpus streams
    through ONE mapInPandas pass in which each Arrow batch is quantized
    and scored against the whole panel by ONE int64 matmul; a per-group
    top-k then ranks by (cosine desc, c_id asc), NULL (zero-norm)
    cosines last.

    Per batch, ``cut`` keeps every candidate tied with or above the
    k-th best of its group, so the global ranking is exact across ties,
    batches and partition layouts. A group is a query, or with
    ``label_col`` a (query, side): 'pos' = same label, 'neg' =
    different label. Every corpus row but the query itself is a
    candidate, or with ``lsh`` = (n_planes, dim, n_tables) only those
    sharing a (table, bucket) key with the query. Dots are exact int64
    and the cosine is dot→double / (norm·norm), the IEEE op sequence of
    quantized_cosine and the DuckDB twins."""
    import numpy as np
    import pandas as pd

    spark = queries.sparkSession
    if label_col is None:
        group, schema = ["q_id"], "q_id long, c_id long, cosine double"
        extra = []
    else:
        group = ["q_id", "side"]
        schema = "q_id long, side string, c_id long, cosine double"
        extra = [F.col(label_col).alias("l")]
    names = [c.split()[0] for c in schema.split(", ")]
    qpd = queries.select(
        F.col(query_id).alias("q_id"), F.col(vec_col).alias("v"), *extra
    ).toPandas()
    if not len(qpd):
        return spark.createDataFrame([], schema + ", rnk int")
    kern = _vector_kernels(*(lsh or ()))
    q_int, q_nrm = kern.quant(qpd["v"])
    bq = spark.sparkContext.broadcast(
        (
            qpd["q_id"].to_numpy(),
            q_int,
            q_nrm,
            qpd["l"].to_numpy() if label_col else None,
            kern.plane_keys(q_int) if lsh else None,
        )
    )

    def score_batches(batches):
        ids, Q, qn, labs, q_keys = bq.value
        for pdf in batches:
            if not len(pdf):  # zero-row Arrow batch: np.stack would raise
                continue
            c_ids = pdf["c_id"].to_numpy()
            C, cn = kern.quant(pdf["v"])
            sims = kern.cosine(C @ Q.T, cn[:, None], qn[None, :])
            cand = c_ids[:, None] != ids[None, :]
            if q_keys is not None:
                cand &= (kern.plane_keys(C)[:, None, :] == q_keys[None, :, :]).any(axis=2)
            sides = [(None, cand)]
            if labs is not None:
                same = pdf["l"].to_numpy()[:, None] == labs[None, :]
                sides = [("pos", cand & same), ("neg", cand & ~same)]
            for side, valid in sides:
                ci, qj = np.nonzero(kern.cut(sims, valid, k))
                yield pd.DataFrame(
                    {"q_id": ids[qj], "side": side, "c_id": c_ids[ci], "cosine": sims[ci, qj]},
                    columns=names,
                )

    scored = corpus.select(
        F.col(corpus_id).alias("c_id"), F.col(vec_col).alias("v"), *extra
    ).mapInPandas(score_batches, schema)
    return topk_per_group(
        scored, group, [F.col("cosine").desc(), F.col("c_id").asc()], k, rank_col="rnk"
    )


def gemm_exact_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """Exact quantized-cosine top-k via Arrow GEMM — brute_force_topk's
    result, the GEMM way (_broadcast_panel_topk): one integer matmul
    per corpus Arrow batch against the broadcast query panel, tie-safe
    per-batch pruning, one per-query top-k across batches."""
    return _broadcast_panel_topk(queries, corpus, query_id, corpus_id, vec_col, k)


def lsh_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    n_planes: int = 6,
    dim: int = 64,
    n_tables: int = 8,
    n_part: int | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs via hyperplane-LSH blocking — the
    100 TB path (replaces the all-pairs self-join, which is a cartesian
    product; see neardup_pairs_by_cosine for the small-n exact baseline).

    Plan shape: ids-only bucket postings (one GEMM Arrow pass per side),
    self-join within (table, bucket) — 2^n_planes buckets per table
    bound the per-key fanout — candidate-pair dedup on (id_a, id_b),
    then vectors rejoin ONCE for the exact quantized-cosine verify.
    No cross join anywhere; every shuffle is keyed.

    Recall is the standard OR-amplified LSH bound
    1-(1-p^n_planes)^n_tables with p = 1 - theta/pi: ~0.98 at cosine
    0.9 (real near-dup territory) with the defaults. The bucketing is
    fully deterministic (literal ±1 planes, exact integer dots), so an
    independent engine reproduces the exact pair set — the DuckDB
    oracle in plans/llm_vector.py mirrors it bit-for-bit.

    ``n_part`` repartitions the input by id ahead of the GEMM bucket
    pass and the quantize+norm pass. The bucket pass is an Arrow UDF
    and PySpark keeps one worker process per concurrently running
    Python task, so callers derive the width from the input's bytes
    (catalog.derived_width) instead of inheriting the scan's file
    count. None keeps the input's partitioning.
    """
    if n_part is not None:
        df = df.repartition(n_part, F.col(id_col))
    # both frames feed two consumers each (the posting self-join's two
    # sides; the verify join on id_a and id_b) — persist() runs the
    # GEMM bucket pass and the quantize+norm pass once instead of twice
    v = df.select(
        F.col(id_col).alias("__id"), quantize(F.col(vec_col)).alias("__vec")
    ).withColumn("__nrm", int_norm(F.col("__vec"))).transform(tracked_persist)
    posting = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(lsh_bucket_keys_gemm(vec_col, n_planes, dim, n_tables)).alias(
            "tbl", "key"
        ),
    ).transform(tracked_persist)
    pa = posting.select(F.col("__id").alias("id_a"), "tbl", "key")
    pb = posting.select(F.col("__id").alias("id_b"), "tbl", "key")
    # Explicit width on the candidate dedup (r14, guide §2.2): the pair
    # stream is byte-light (two longs) but compute-heavy downstream
    # (hash-dedup + exact int-dot verify per pair), so AQE's size-based
    # coalescing collapsed the whole dedup→verify chain to ONE task
    # (measured: a single 4.8 s stage at sf0.1 while 31 cores idled).
    # REPARTITION_BY_NUM is exempt from coalescing; (id_a, id_b) is
    # unique per row so the spread is skew-free, and the aggregate and
    # verify joins reuse the partitioning (no extra exchange). The
    # bucket self-join itself stays under AQE so its skew handling
    # keeps splitting hot buckets at scale (the r13 minhash finding).
    # This width stays cores-wide rather than n_part: the verify cost
    # is bound by the candidate count, not by input bytes (0.8 MB of
    # embeddings at sf0.1 derives ONE task, which would bring the
    # single-task verify stage back).
    width = df.sparkSession.sparkContext.defaultParallelism
    cand = (
        pa.join(pb, ["tbl", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .repartition(width, "id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    scored = (
        cand.join(
            v.select(
                F.col("__id").alias("id_a"),
                F.col("__vec").alias("__va"),
                F.col("__nrm").alias("__na"),
            ),
            "id_a",
        )
        .join(
            v.select(
                F.col("__id").alias("id_b"),
                F.col("__vec").alias("__vb"),
                F.col("__nrm").alias("__nb"),
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            cosine_from_norms(
                int_dot(F.col("__va"), F.col("__vb")), F.col("__na"), F.col("__nb")
            ).alias("cosine"),
        )
    )
    return scored.filter(F.col("cosine") >= threshold)


def neardup_pairs_by_cosine(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
) -> DataFrame:
    """L1-by-embedding: all pairs with quantized cosine >= threshold.
    Exact all-pairs form (the oracle-checkable baseline); swap in
    lsh_neardup_pairs for the bucketed scale path. Norms are computed
    once per ROW before pairing, so the O(n²) pair loop pays exactly
    one integer dot product per pair."""
    v = df.select(
        F.col(id_col).alias("__id"), quantize(F.col(vec_col)).alias("__vec")
    ).withColumn("__nrm", int_norm(F.col("__vec")))
    a, b = v.alias("a"), v.alias("b")
    cos = cosine_from_norms(
        int_dot(F.col("a.__vec"), F.col("b.__vec")), F.col("a.__nrm"), F.col("b.__nrm")
    )
    return (
        a.join(b, F.col("a.__id") < F.col("b.__id"))
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def rademacher_matrix(in_dim: int, out_dim: int, seed: int = 0x1A5) -> list[list[int]]:
    """Deterministic ±1 Rademacher projection matrix (Achlioptas'
    database-friendly Johnson-Lindenstrauss variant: ±1 entries
    preserve pairwise distances in expectation like Gaussian entries,
    but keep the projection in exact integer arithmetic). Generated
    once on the driver from a fixed seed and inlined as literals into
    BOTH the Spark plan and the DuckDB oracle SQL, so the projection
    is bit-identical across engines by construction."""
    import random as _random

    rnd = _random.Random(seed)
    return [
        [1 if rnd.random() < 0.5 else -1 for _ in range(out_dim)]
        for _ in range(in_dim)
    ]


def random_projection(vec_q: Column, matrix: list[list[int]]) -> Column:
    """JL projection of a QUANTIZED integer vector: out[j] =
    Σ_i v[i]·R[i][j] — exact integer sums (order-independent, so the
    result never depends on partition layout), one in-row expression
    per output dim, zero shuffles. Reduces, e.g., 64-d embeddings to
    16-d for cheaper ANN candidate generation; distances are preserved
    within the JL bound in expectation."""
    out_dim = len(matrix[0])
    return F.array(
        *[
            int_dot(
                vec_q, F.array(*[F.lit(row[j]) for row in matrix])
            )
            for j in range(out_dim)
        ]
    )


# ---------------------------------------------------------------------------
# Int8 max-abs quantization ([EXT] — the standard 4x memory compression
# for embedding corpora: per-vector scale = max|x|/127, components
# round-half-up to [-127, 127]). Every step is either exact integer
# math or a single correctly-rounded IEEE double op (cast, abs, max,
# one divide, floor), so quantized vectors are bit-reproducible in any
# engine — the oracle replays them exactly. At 100 TB the win is the
# 4x smaller shuffle/broadcast payload for candidate generation, with
# exact re-rank only on the survivors.
# ---------------------------------------------------------------------------


def int8_scale(vec: Column) -> Column:
    """Per-vector quantization step: max(|x|) / 127 as double."""
    return F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double")))) / F.lit(
        127.0
    )


def int8_quantize(vec: Column, scale: Column) -> Column:
    """Round-half-up int8 components (as bigint for exact dot math).

    |x| <= 127*scale by construction, so floor(x/scale + 0.5) already
    lands in [-127, 127] — no clamp needed. All-zero vectors (scale 0)
    quantize to all zeros instead of dividing by zero.
    """
    return F.when(
        scale == 0, F.transform(vec, lambda x: F.lit(0).cast("bigint"))
    ).otherwise(
        F.transform(
            vec,
            lambda x: F.floor(x.cast("double") / scale + F.lit(0.5)).cast("bigint"),
        )
    )


def random_projection_gemm(vec_q: Column, matrix: list[list[int]]) -> Column:
    """Arrow-GEMM twin of random_projection: the whole batch of
    quantized vectors projects in ONE int64 matmul against the ±1
    matrix — identical exact-integer outputs (property-tested against
    the fold spelling in tests/), but O(1) expression nodes and a
    vectorized per-batch cost instead of out_dim higher-order folds
    per row. Same pattern as lsh_bucket_keys_gemm."""
    from pyspark.sql.pandas.functions import pandas_udf

    rows = [list(r) for r in matrix]

    @pandas_udf("array<long>")
    def project(vecs):  # pd.Series of list<long>
        import numpy as np
        import pandas as pd

        if not len(vecs):
            return pd.Series([], dtype="object")
        R = np.array(rows, dtype="int64")  # (in_dim, out_dim)
        m = np.stack(vecs.to_numpy()).astype("int64")
        return pd.Series(list(m @ R))

    return project(vec_q)


def gemm_contrastive_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    label_col: str,
    k: int,
) -> DataFrame:
    """Contrastive-pair mining, the gemm_exact_topk way: for each query
    vector, the exact top-k SAME-label neighbours ('pos' — the
    positives a contrastive loss pulls together) and the top-k
    DIFFERENT-label neighbours ('neg' — the hard negatives it pushes
    apart, the rows a random negative sampler would never surface).
    It is gemm_exact_topk grouped by (query, side): the corpus streams
    through once at any scale factor."""
    return _broadcast_panel_topk(
        queries, corpus, query_id, corpus_id, vec_col, k, label_col=label_col
    )


def ivf_contrastive_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    label_col: str,
    k: int,
    n_centroids: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """Hard-negative mining, the IVF way: gemm_contrastive_topk's 'neg'
    side with the corpus stream replaced by a cell-probe join — each
    anchor scans only its n_probe nearest Voronoi cells instead of the
    whole corpus (cost ≈ n_probe/n_centroids of the exact miner; the
    trade ann_ivf_topk makes vs ann_cosine_topk, applied to mining).
    Index build is the shared deterministic build_ivf_centroids, and
    the different-label filter sits INSIDE the probe join, so no
    same-label pair is ever scored or shuffled. Recall vs the exact
    miner is invariant-gated (tests/test_oracle_parity.py)."""
    cv = corpus.select(
        F.col(corpus_id).alias("c_id"),
        quantize(F.col(vec_col)).alias("c_vec"),
        F.col(label_col).alias("c_lab"),
    ).withColumn("c_nrm", int_norm(F.col("c_vec")))
    cents = build_ivf_centroids(cv, n_centroids)
    if not cents:
        return queries.sparkSession.createDataFrame(
            [], "q_id long, c_id long, cosine double, rnk int"
        )
    n_probe = min(n_probe, len(cents))
    assign_final = _nearest_centroids_udf(cents, 1)
    probe = _nearest_centroids_udf(cents, n_probe)
    indexed = cv.withColumn("cell", assign_final(F.col("c_vec")).getItem(0))
    qv = (
        queries.select(
            F.col(query_id).alias("q_id"),
            quantize(F.col(vec_col)).alias("q_vec"),
            F.col(label_col).alias("q_lab"),
        )
        .withColumn("q_nrm", int_norm(F.col("q_vec")))
        .withColumn("cell", F.explode(probe(F.col("q_vec"))))
    )
    scored = (
        indexed.join(F.broadcast(qv), "cell")
        .filter(
            (F.col("q_id") != F.col("c_id"))
            & ~F.col("c_lab").eqNullSafe(F.col("q_lab"))
        )
        .select(
            "q_id",
            "c_id",
            cosine_from_norms(
                int_dot(F.col("q_vec"), F.col("c_vec")), F.col("q_nrm"), F.col("c_nrm")
            ).alias("cosine"),
        )
    )
    return topk_per_group(
        scored, ["q_id"], [F.col("cosine").desc(), F.col("c_id").asc()], k, rank_col="rnk"
    )
