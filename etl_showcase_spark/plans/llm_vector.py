"""Vector similarity surface over `embeddings` (SURVEY.md §2.13 L3 +
embedding near-dup): brute-force cosine top-k baseline, LSH-bucketed
ANN scale path, norm statistics.

All oracle-checked variants use integer quantization (operators/
similarity.py) so dot products and norms are exact in both engines and
rankings are bit-reproducible.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import tracked_persist

from ..catalog import FANOUT_CHUNKS, derived_width, table
from ..operators.similarity import (
    SQL_QUANT,
    _plane_signs,
    cosine_from_norms,
    int_dot,
    int_norm,
    lsh_ann_topk,
    lsh_neardup_pairs,
    neardup_pairs_by_cosine,
    quantize,
    quantized_cosine,
)
from ..registry import register

# ---------------------------------------------------------------------------
# L3: exact cosine top-k. The query set is stride-capped at ~100 queries
# regardless of corpus size (stride = max(50, n/100)), so the broadcast
# side stays O(1) as the corpus scales — the corpus streams through the
# broadcast-NLJ exactly once at any scale factor.
# ---------------------------------------------------------------------------

_ANN_ORACLE = f"""
WITH s AS (
  SELECT GREATEST(50, CAST(COUNT(*) // 100 AS BIGINT)) AS stride FROM embeddings
),
q AS (
  SELECT vec_id AS q_id, {SQL_QUANT} AS qv
  FROM embeddings, s WHERE vec_id % s.stride = 0
),
c AS (
  SELECT vec_id AS c_id, {SQL_QUANT} AS cv FROM embeddings
),
scored AS (
  SELECT q_id, c_id,
         CAST(list_dot_product(qv, cv) AS DOUBLE)
           / (SQRT(CAST(list_dot_product(qv, qv) AS DOUBLE))
              * SQRT(CAST(list_dot_product(cv, cv) AS DOUBLE))) AS cosine
  FROM c CROSS JOIN q
  WHERE q_id <> c_id
)
SELECT q_id, c_id, cosine, CAST(rnk AS INT) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id ASC) AS rnk
  FROM scored
)
WHERE rnk <= 10
"""


def _stride_frame(e: DataFrame) -> DataFrame:
    """The 1-row stride aggregate max(50, n/100) — THE definition of
    the bounded query panel, spelled once (its SQL twin lives in the
    oracles' `s` CTE). Broadcast and folded into plans lazily — no
    driver-side count() job at build time."""
    return e.agg(
        F.greatest(
            F.lit(50).cast("long"), (F.count(F.lit(1)) / 100).cast("long")
        ).alias("__stride")
    )


def _strided_queries(e: DataFrame) -> DataFrame:
    """Every stride-th vector: a query set bounded at ~100 rows however
    large the corpus grows."""
    return (
        e.crossJoin(F.broadcast(_stride_frame(e)))
        .filter(F.col("vec_id") % F.col("__stride") == 0)
        .drop("__stride")
    )


def _strided_queries_eager(e: DataFrame) -> DataFrame:
    """_strided_queries with the stride resolved to a LITERAL by one
    count-star job at build time (r13 optimization, guide §1) — same
    rows (the stride is a deterministic function of the static corpus),
    same oracle CTE. For operators that COLLECT the panel as their own
    build-time action anyway (the GEMM/LSH query side), the lazy
    crossJoin spelling re-plans and re-executes a BroadcastExchange
    inside that collection — measured 0.38 s vs 0.22 s for the whole
    panel collection at sf0.1 — while count-star over parquet stays a
    metadata-cheap scan at any scale. Plan-embedded consumers keep the
    lazy `_strided_queries` (no extra build-time job in their single
    action)."""
    stride = _stride_frame(e).first()[0]
    return e.filter(F.col("vec_id") % F.lit(stride) == 0)


@register("ann_cosine_topk", oracle=_ANN_ORACLE, tags=("L3", "J8"), bench=True)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # GEMM path: one integer matmul per Arrow batch instead of a JVM
    # per-pair aggregate fold — identical results (exact int64 dots,
    # same IEEE cosine op sequence), ~|corpus|×|queries| fewer
    # expression evaluations. brute_force_topk remains the all-JVM
    # spelling for callers that must stay collect-free.
    from ..operators.similarity import gemm_exact_topk

    e = table(spark, sf_dir, "embeddings")
    # query panel from an UN-fanned scan (r13 optimization): the panel
    # is collected by its own toPandas action, which would otherwise
    # pay the corpus fan-out exchange again just to gather ~100 rows —
    # shuffle reuse never crosses actions. Same rows either way.
    eq = table(spark, sf_dir, "embeddings", fanout=False)
    res = gemm_exact_topk(
        _strided_queries_eager(eq), e, "vec_id", "vec_id", "embedding", k=10
    )
    return res.select("q_id", "c_id", "cosine", F.col("rnk").cast("int").alias("rnk"))


# ---------------------------------------------------------------------------
# Embedding near-duplicate pairs — LSH-bucketed headline plan (no
# cartesian: ids-only bucket postings, within-bucket candidates, exact
# quantized-cosine verify). The bucketing is deterministic (literal ±1
# hyperplanes, exact integer dots), so the oracle below REPLAYS it
# bit-for-bit in SQL — generated from the same _plane_signs source —
# rather than pretending the approximate op equals the all-pairs scan.
# Recall vs all-pairs is the OR-amplified LSH bound (~0.98 at cosine
# 0.9); embedding_neardup_allpairs keeps the exact form oracle-checked.
# ---------------------------------------------------------------------------

_ND_PLANES, _ND_DIM, _ND_TABLES, _ND_THRESH = 6, 64, 8, 0.35


def _lsh_posting_sql(n_planes: int, dim: int, n_tables: int, src: str = "v") -> str:
    """UNION ALL of per-table bucket-key selects replaying
    operators.similarity.lsh_bucket_keys_gemm bit-for-bit: same ±1
    plane literals (_plane_signs), same exact integer dots, same
    bit-packing — so DuckDB derives the identical (tbl, key) postings."""
    tables = []
    for t in range(n_tables):
        bits = []
        for p in range(n_planes):
            signs = _plane_signs(t * n_planes + p, dim)
            arr = "[" + ",".join(str(s) for s in signs) + "]"
            w = 1 << (n_planes - 1 - p)
            bits.append(f"CAST(list_dot_product(qv, {arr}) > 0 AS BIGINT) * {w}")
        tables.append(
            f"SELECT vec_id, {t} AS tbl, " + " + ".join(bits) + f" AS key FROM {src}"
        )
    return "\n  UNION ALL\n  ".join(tables)


def _neardup_lsh_oracle() -> str:
    postings = _lsh_posting_sql(_ND_PLANES, _ND_DIM, _ND_TABLES)
    return f"""
WITH v AS (
  SELECT vec_id, {SQL_QUANT} AS qv FROM embeddings
),
n AS (
  SELECT vec_id, qv, SQRT(CAST(list_dot_product(qv, qv) AS DOUBLE)) AS nrm FROM v
),
posting AS (
  {postings}
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM posting a
  JOIN posting b ON a.tbl = b.tbl AND a.key = b.key AND a.vec_id < b.vec_id
)
SELECT c.id_a, c.id_b,
       CAST(list_dot_product(x.qv, y.qv) AS DOUBLE) / (x.nrm * y.nrm) AS cosine
FROM cand c
JOIN n x ON c.id_a = x.vec_id
JOIN n y ON c.id_b = y.vec_id
WHERE CAST(list_dot_product(x.qv, y.qv) AS DOUBLE) / (x.nrm * y.nrm) >= {_ND_THRESH}
"""


def _lsh_width(spark: SparkSession, sf_dir: str) -> int:
    """Width of lsh_neardup_pairs' bucket and norm passes: derived from
    the bytes of `embeddings` with the catalog's own embeddings chunk,
    so the Arrow GEMM stage runs as many Python workers as the input is
    worth, not one per scanned file."""
    return derived_width(spark, sf_dir, "embeddings", FANOUT_CHUNKS["embeddings"])


@register("embedding_neardup_pairs", oracle=_neardup_lsh_oracle(), tags=("L2", "L3"))
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fanout=False: lsh_neardup_pairs repartitions by id itself
    e = table(spark, sf_dir, "embeddings", fanout=False)
    return lsh_neardup_pairs(
        e,
        "vec_id",
        "embedding",
        threshold=_ND_THRESH,
        n_planes=_ND_PLANES,
        dim=_ND_DIM,
        n_tables=_ND_TABLES,
        n_part=_lsh_width(spark, sf_dir),
    )


# ---------------------------------------------------------------------------
# All-pairs exact near-dup baseline (per-row norms computed once, one
# exact integer dot per pair). O(n²) BY DESIGN — the oracle-checkable
# small-n twin of embedding_neardup_pairs; never run this at scale.
# ---------------------------------------------------------------------------

_NEARDUP_ALLPAIRS_ORACLE = f"""
WITH v AS (
  SELECT vec_id, {SQL_QUANT} AS qv,
         SQRT(CAST(list_dot_product({SQL_QUANT}, {SQL_QUANT}) AS DOUBLE)) AS nrm
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       CAST(list_dot_product(a.qv, b.qv) AS DOUBLE) / (a.nrm * b.nrm) AS cosine
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE CAST(list_dot_product(a.qv, b.qv) AS DOUBLE) / (a.nrm * b.nrm) >= 0.35
"""


@register(
    "embedding_neardup_allpairs", oracle=_NEARDUP_ALLPAIRS_ORACLE, tags=("L2", "L3")
)
def embedding_neardup_allpairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    return neardup_pairs_by_cosine(e, "vec_id", "embedding", threshold=0.35)


# ---------------------------------------------------------------------------
# Norm / distribution statistics per label (exact integer sums).
# ---------------------------------------------------------------------------

_NORMS_ORACLE = f"""
WITH v AS (
  SELECT label, list_dot_product({SQL_QUANT}, {SQL_QUANT}) AS sqnorm
  FROM embeddings
)
SELECT label,
       COUNT(*) AS n_vectors,
       CAST(SUM(CAST(sqnorm AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_sqnorm,
       CAST(MIN(CAST(sqnorm AS BIGINT)) AS BIGINT) AS min_sqnorm,
       CAST(MAX(CAST(sqnorm AS BIGINT)) AS BIGINT) AS max_sqnorm
FROM v
GROUP BY label
"""


@register("vector_norm_stats", oracle=_NORMS_ORACLE, tags=("L3", "G1"))
def vector_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    v = e.select(
        "label",
        int_dot(quantize(F.col("embedding")), quantize(F.col("embedding"))).alias(
            "sqnorm"
        ),
    )
    return v.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        (F.sum("sqnorm").cast("double") / F.count(F.lit(1))).alias("avg_sqnorm"),
        F.min("sqnorm").alias("min_sqnorm"),
        F.max("sqnorm").alias("max_sqnorm"),
    )


# ---------------------------------------------------------------------------
# L3 scale path: hyperplane-LSH bucketed ANN. The bucketing is the same
# deterministic integer math as the near-dup plan, so the oracle replays
# it exactly: postings → within-bucket candidates → exact quantized
# cosine → row_number top-10. Recall vs brute force is additionally
# property-tested in tests/.
# ---------------------------------------------------------------------------

_ANN_LSH_PLANES, _ANN_LSH_TABLES = 4, 8


def _ann_lsh_oracle() -> str:
    postings = _lsh_posting_sql(_ANN_LSH_PLANES, _ND_DIM, _ANN_LSH_TABLES)
    return f"""
WITH s AS (
  SELECT GREATEST(50, CAST(COUNT(*) // 100 AS BIGINT)) AS stride FROM embeddings
),
v AS (
  SELECT vec_id, {SQL_QUANT} AS qv FROM embeddings
),
n AS (
  SELECT vec_id, qv, SQRT(CAST(list_dot_product(qv, qv) AS DOUBLE)) AS nrm FROM v
),
posting AS (
  {postings}
),
qpost AS (
  SELECT p.vec_id, p.tbl, p.key FROM posting p, s WHERE p.vec_id % s.stride = 0
),
cand AS (
  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS c_id
  FROM qpost q
  JOIN posting c ON q.tbl = c.tbl AND q.key = c.key AND q.vec_id <> c.vec_id
),
scored AS (
  SELECT cand.q_id, cand.c_id,
         CAST(list_dot_product(x.qv, y.qv) AS DOUBLE) / (x.nrm * y.nrm) AS cosine
  FROM cand
  JOIN n x ON cand.q_id = x.vec_id
  JOIN n y ON cand.c_id = y.vec_id
)
SELECT q_id, c_id, cosine, CAST(rnk AS INT) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id ASC) AS rnk
  FROM scored
)
WHERE rnk <= 10
"""


@register("ann_lsh_topk", oracle=_ann_lsh_oracle(), tags=("L3",), bench=True)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    # query panel from an UN-fanned scan: collected driver-side by its
    # own action — see ann_cosine_topk for the rationale
    eq = table(spark, sf_dir, "embeddings", fanout=False)
    return lsh_ann_topk(
        _strided_queries_eager(eq),
        e,
        "vec_id",
        "vec_id",
        "embedding",
        k=10,
        n_planes=_ANN_LSH_PLANES,
        dim=_ND_DIM,
        n_tables=_ANN_LSH_TABLES,
    )


# ---------------------------------------------------------------------------
# L3 scale path #2: IVF cluster-probe ANN (deterministic index build →
# stable rows, but engine-specific clustering → rows-only; recall vs
# brute force is property-tested in tests/test_dedup.py).
# ---------------------------------------------------------------------------


@register("ann_ivf_topk", oracle=None, tags=("L3",))
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_ann_topk

    e = table(spark, sf_dir, "embeddings")
    # query panel from an UN-fanned scan: collected driver-side by its
    # own action — see ann_cosine_topk for the rationale
    eq = table(spark, sf_dir, "embeddings", fanout=False)
    return ivf_ann_topk(
        _strided_queries_eager(eq),
        e,
        "vec_id",
        "vec_id",
        "embedding",
        k=10,
        n_centroids=16,
        # the synthetic embeddings are near-uniform (no real cluster
        # structure), so recall needs a wide probe: 8/16 cells holds
        # recall@10 >= 0.7 (gated in tests/test_oracle_parity.py). On a
        # genuinely clustered corpus the usual 1/4 probe fraction
        # recovers the same recall at half the scan cost.
        n_probe=8,
    )


# ---------------------------------------------------------------------------
# L3 diversified re-rank: Maximal Marginal Relevance ([EXT] — round-13:
# the standard post-retrieval diversification step, Carbonell &
# Goldstein 1998 — a RAG stack runs it between ANN candidate
# generation and the context window so the k passages aren't five
# copies of the same paragraph). Inner-product MMR in EXACT integer
# arithmetic: relevance is the quantized int64 dot q·c, redundancy the
# max dot to the already-selected set, and the λ=0.7 tradeoff is the
# integer split score = 7·rel − 3·maxsim — every comparison is BIGINT,
# so the greedy argmax chain is bit-reproducible and the DuckDB twin
# replays all _MMR_K rounds as an unrolled CTE chain (house precedent:
# kmeans_lloyd_clusters' fixed-point rounds). Scale shape: the
# candidate pool is the exact top-_MMR_POOL_K per panel query (corpus
# streams once through a broadcast-NLJ; same envelope as
# ann_cosine_topk); the greedy iteration then touches only
# panel × pool rows — an Arrow-batched applyInPandas over O(1)-sized
# groups, never the corpus.
# ---------------------------------------------------------------------------

_MMR_POOL_K = 20  # relevance-ranked candidate pool entering the greedy loop
_MMR_K = 5  # selections emitted per query
_MMR_LAM_NUM, _MMR_LAM_DEN = 7, 3  # λ = 0.7 as the exact integer split


def _mmr_oracle() -> str:
    parts = [
        f"""
WITH s AS (
  SELECT GREATEST(50, CAST(COUNT(*) // 100 AS BIGINT)) AS stride FROM embeddings
),
v AS (SELECT vec_id, {SQL_QUANT} AS qv FROM embeddings),
q AS (SELECT vec_id AS q_id, qv FROM v, s WHERE vec_id % s.stride = 0),
rel AS (
  SELECT q.q_id, c.vec_id AS c_id,
         CAST(list_dot_product(q.qv, c.qv) AS BIGINT) AS rel_dot
  FROM v c JOIN q ON q.q_id <> c.vec_id
),
pool AS (
  SELECT q_id, c_id, rel_dot FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                 ORDER BY rel_dot DESC, c_id ASC) AS cand_rnk
    FROM rel
  ) WHERE cand_rnk <= {_MMR_POOL_K}
),
pdot AS (
  SELECT p1.q_id, p1.c_id AS a_id, p2.c_id AS b_id,
         CAST(list_dot_product(x.qv, y.qv) AS BIGINT) AS dd
  FROM pool p1
  JOIN pool p2 ON p1.q_id = p2.q_id AND p1.c_id <> p2.c_id
  JOIN v x ON p1.c_id = x.vec_id
  JOIN v y ON p2.c_id = y.vec_id
),
sel1 AS (
  SELECT q_id, c_id, rel_dot,
         CAST({_MMR_LAM_NUM} * rel_dot AS BIGINT) AS mmr_score, 1 AS sel_rank
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                 ORDER BY rel_dot DESC, c_id ASC) AS rn
    FROM pool
  ) WHERE rn = 1
),
sset1 AS (SELECT q_id, c_id FROM sel1)"""
    ]
    for r in range(2, _MMR_K + 1):
        prev = r - 1
        parts.append(
            f""",
cand{r} AS (
  SELECT p.q_id, p.c_id, p.rel_dot, MAX(d.dd) AS maxsim
  FROM pool p
  JOIN pdot d ON d.q_id = p.q_id AND d.a_id = p.c_id
  JOIN sset{prev} t ON t.q_id = d.q_id AND t.c_id = d.b_id
  LEFT JOIN sset{prev} x ON x.q_id = p.q_id AND x.c_id = p.c_id
  WHERE x.c_id IS NULL
  GROUP BY p.q_id, p.c_id, p.rel_dot
),
sel{r} AS (
  SELECT q_id, c_id, rel_dot,
         CAST({_MMR_LAM_NUM} * rel_dot - {_MMR_LAM_DEN} * maxsim AS BIGINT)
           AS mmr_score, {r} AS sel_rank
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
        ORDER BY {_MMR_LAM_NUM} * rel_dot - {_MMR_LAM_DEN} * maxsim DESC,
                 c_id ASC) AS rn
    FROM cand{r}
  ) WHERE rn = 1
),
sset{r} AS (
  SELECT q_id, c_id FROM sset{prev} UNION ALL SELECT q_id, c_id FROM sel{r}
)"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT q_id, c_id, sel_rank, rel_dot, mmr_score FROM sel{r}"
        for r in range(1, _MMR_K + 1)
    )
    parts.append(
        f"""
SELECT q_id, c_id, CAST(sel_rank AS INT) AS sel_rank,
       CAST(rel_dot AS BIGINT) AS rel_dot, CAST(mmr_score AS BIGINT) AS mmr_score
FROM ({union})"""
    )
    return "".join(parts)


@register("mmr_diverse_rerank", oracle=_mmr_oracle(), tags=("L3",))
def mmr_diverse_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import topk_per_group

    e = table(spark, sf_dir, "embeddings")
    # panel is PLAN-EMBEDDED (broadcast side of the crossJoin below,
    # never collected by its own action) — keep the lazy stride helper
    # (r14, ADVICE: the eager .first() added a build-time count job
    # that paid the corpus fan-out exchange for nothing) and build the
    # panel from an UN-fanned scan so the broadcast subtree never pays
    # the corpus fan-out exchange at any scale. Same rows either way.
    eq = table(spark, sf_dir, "embeddings", fanout=False)
    q = _strided_queries(eq).select(
        F.col("vec_id").alias("q_id"), quantize(F.col("embedding")).alias("q_vec")
    )
    c = e.select(
        F.col("vec_id").alias("c_id"), quantize(F.col("embedding")).alias("cv")
    )
    # candidate pool: exact integer-relevance top-K per query; the
    # corpus streams once through the broadcast-NLJ, and only
    # panel × _MMR_POOL_K rows (with their quantized vectors) survive
    # into the greedy stage
    pairs = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id", "c_id", "cv",
            int_dot(F.col("q_vec"), F.col("cv")).alias("rel_dot"),
        )
    )
    pool = topk_per_group(
        pairs,
        ["q_id"],
        [F.col("rel_dot").desc(), F.col("c_id").asc()],
        _MMR_POOL_K,
        rank_col="cand_rnk",
    ).select("q_id", "c_id", "cv", "rel_dot")

    # closure cells bind the module constants at build time, keeping
    # the pickled-by-value fold single-sourced with the oracle
    # (applyInPandas requires a (data) or (key, data) signature, so
    # the constants can't ride as default args)
    lam_n, lam_d, k = _MMR_LAM_NUM, _MMR_LAM_DEN, _MMR_K

    def mmr_fold(pdf):
        import numpy as np
        import pandas as pd
        ids = pdf["c_id"].to_numpy().astype("int64")
        rel = pdf["rel_dot"].to_numpy().astype("int64")
        V = np.stack(pdf["cv"].to_numpy()).astype("int64")
        G = V @ V.T  # exact pairwise int64 dots within the pool
        n = len(pdf)
        avail = np.ones(n, dtype=bool)
        sel_idx: list[int] = []
        out = []
        for r in range(1, min(k, n) + 1):
            if sel_idx:
                sc = lam_n * rel - lam_d * G[:, sel_idx].max(axis=1)
            else:
                sc = lam_n * rel
            m = sc[avail].max()
            tied = np.nonzero(avail & (sc == m))[0]
            best = tied[np.argmin(ids[tied])]
            out.append((int(pdf["q_id"].iloc[0]), int(ids[best]), r,
                        int(rel[best]), int(sc[best])))
            sel_idx.append(best)
            avail[best] = False
        return pd.DataFrame(
            out, columns=["q_id", "c_id", "sel_rank", "rel_dot", "mmr_score"]
        )

    return pool.groupBy("q_id").applyInPandas(
        mmr_fold,
        "q_id long, c_id long, sel_rank int, rel_dot long, mmr_score long",
    )


# ---------------------------------------------------------------------------
# L3 retrieval evaluation: ANN recall@k / MRR vs the exact ranking
# ([EXT] — round-13: the index-quality gate a production retrieval
# pipeline runs before swapping an ANN index into serving. Ground
# truth is the exact quantized-cosine top-10 (ann_cosine_topk's
# semantics); the system under test is the hyperplane-LSH ANN
# (ann_lsh_topk's semantics, same planes/tables literals). Per panel
# query: hit count, recall@10 in exact ppm (1e6·hits // 10), the LSH
# rank of the first true hit, and MRR in ppm (1e6 // first_hit) — all
# integers, so the evaluation is oracle-replayable end-to-end, unlike
# the property-test-only recall gates. A query whose LSH candidate set
# misses every true neighbor scores 0/0 (LEFT JOIN from the exact
# panel keeps it). Scale shape: both legs are existing bounded-panel
# plans; the comparison itself joins two ~panel×10-row lists.
# ---------------------------------------------------------------------------

_RECALL_EVAL_K = 10


def _ann_recall_oracle() -> str:
    postings = _lsh_posting_sql(_ANN_LSH_PLANES, _ND_DIM, _ANN_LSH_TABLES)
    return f"""
WITH s AS (
  SELECT GREATEST(50, CAST(COUNT(*) // 100 AS BIGINT)) AS stride FROM embeddings
),
v AS (SELECT vec_id, {SQL_QUANT} AS qv FROM embeddings),
n AS (
  SELECT vec_id, qv, SQRT(CAST(list_dot_product(qv, qv) AS DOUBLE)) AS nrm FROM v
),
qids AS (
  SELECT vec_id AS q_id FROM embeddings, s WHERE vec_id % s.stride = 0
),
exact AS (
  SELECT q_id, c_id, rnk FROM (
    SELECT q.vec_id AS q_id, c.vec_id AS c_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
             CAST(list_dot_product(q.qv, c.qv) AS DOUBLE) / (q.nrm * c.nrm) DESC,
             c.vec_id ASC) AS rnk
    FROM n c
    JOIN n q ON q.vec_id <> c.vec_id
    JOIN qids qq ON q.vec_id = qq.q_id
  ) WHERE rnk <= {_RECALL_EVAL_K}
),
posting AS (
  {postings}
),
qpost AS (
  SELECT p.vec_id, p.tbl, p.key FROM posting p, s WHERE p.vec_id % s.stride = 0
),
cand AS (
  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS c_id
  FROM qpost q
  JOIN posting c ON q.tbl = c.tbl AND q.key = c.key AND q.vec_id <> c.vec_id
),
lsh AS (
  SELECT q_id, c_id, rnk FROM (
    SELECT cand.q_id, cand.c_id,
           ROW_NUMBER() OVER (PARTITION BY cand.q_id ORDER BY
             CAST(list_dot_product(x.qv, y.qv) AS DOUBLE) / (x.nrm * y.nrm) DESC,
             cand.c_id ASC) AS rnk
    FROM cand
    JOIN n x ON cand.q_id = x.vec_id
    JOIN n y ON cand.c_id = y.vec_id
  ) WHERE rnk <= {_RECALL_EVAL_K}
),
hits AS (
  SELECT l.q_id, l.c_id, l.rnk
  FROM lsh l JOIN exact e ON l.q_id = e.q_id AND l.c_id = e.c_id
),
agg AS (
  SELECT p.q_id, COUNT(h.c_id) AS n_hits, MIN(h.rnk) AS first_hit
  FROM (SELECT DISTINCT q_id FROM exact) p
  LEFT JOIN hits h ON p.q_id = h.q_id
  GROUP BY p.q_id
)
SELECT q_id,
       CAST(n_hits AS BIGINT) AS n_hits,
       CAST(1000000 * n_hits // {_RECALL_EVAL_K} AS BIGINT) AS recall_ppm,
       CAST(COALESCE(first_hit, 0) AS INT) AS first_hit_rnk,
       CAST(CASE WHEN first_hit IS NULL THEN 0
                 ELSE 1000000 // first_hit END AS BIGINT) AS mrr_ppm
FROM agg
"""


@register("ann_recall_eval", oracle=_ann_recall_oracle(), tags=("L3", "G6"))
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import gemm_exact_topk

    e = table(spark, sf_dir, "embeddings")
    # query panel from an UN-fanned scan: both legs collect it with
    # their own toPandas action — see ann_cosine_topk for the rationale
    eq = table(spark, sf_dir, "embeddings", fanout=False)
    # ground truth leg, persisted: consumed by the hit join AND the
    # panel spine
    exact = tracked_persist(
        gemm_exact_topk(
            _strided_queries_eager(eq), e, "vec_id", "vec_id", "embedding",
            k=_RECALL_EVAL_K,
        ).select("q_id", "c_id")
    )
    lsh = lsh_ann_topk(
        _strided_queries_eager(eq), e, "vec_id", "vec_id", "embedding",
        k=_RECALL_EVAL_K,
        n_planes=_ANN_LSH_PLANES,
        dim=_ND_DIM,
        n_tables=_ANN_LSH_TABLES,
    ).select("q_id", "c_id", "rnk")
    hits = lsh.join(exact, ["q_id", "c_id"])
    panel = exact.select("q_id").distinct()
    per_q = (
        panel.join(hits, "q_id", "left_outer")
        .groupBy("q_id")
        .agg(
            F.count("c_id").cast("bigint").alias("n_hits"),
            F.min("rnk").alias("first_hit"),
        )
    )
    return per_q.select(
        "q_id",
        "n_hits",
        F.expr(f"1000000 * n_hits div {_RECALL_EVAL_K}").cast("bigint")
        .alias("recall_ppm"),
        F.coalesce("first_hit", F.lit(0)).cast("int").alias("first_hit_rnk"),
        F.when(F.col("first_hit").isNull(), F.lit(0))
        .otherwise(F.expr("1000000 div first_hit"))
        .cast("bigint")
        .alias("mrr_ppm"),
    )


# ---------------------------------------------------------------------------
# L3 analytics: per-label centroid components — the distributed mean
# vector, in long (label, dim, mean) form. posexplode → groupBy is one
# map-side-combined shuffle of (label × dim) rows regardless of corpus
# size; integer sums keep the mean exact (sum_int → double / count, the
# same IEEE division in both engines). Long form avoids cross-engine
# array reassembly ordering concerns entirely.
# ---------------------------------------------------------------------------

_CENTROID_ORACLE = f"""
SELECT label,
       CAST(u.i - 1 AS INT) AS dim,
       CAST(SUM(q[u.i]) AS DOUBLE) / COUNT(*) AS mean_component
FROM (SELECT label, {SQL_QUANT} AS q FROM embeddings),
     LATERAL (SELECT UNNEST(range(1, LEN(q) + 1)) AS i) u
GROUP BY 1, 2
ORDER BY label, dim
"""


@register("label_centroids", oracle=_CENTROID_ORACLE, tags=("L3", "G1", "A2"))
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    comp = e.select(
        "label", F.posexplode(quantize(F.col("embedding"))).alias("dim", "x")
    )
    return (
        comp.groupBy("label", F.col("dim").cast("int").alias("dim"))
        .agg((F.sum("x").cast("double") / F.count(F.lit(1))).alias("mean_component"))
        .orderBy("label", "dim")
    )


# ---------------------------------------------------------------------------
# L3/G8 per-dimension robust embedding screen ([EXT] — round-13: the
# embedding-side sibling of mad_outlier_events (plans/events.py), run
# before training/indexing to catch dead, clipped, or
# outlier-polluted dimensions: per dim the exact median, the median
# absolute deviation, and the count of components beyond 6·MAD —
# median/MAD because the screen must be immune to the very outliers
# it hunts. Components are the quantized integers, medians the same
# exact-percentile interpolation in both engines (quantiles_quantity
# precedent); two reduced passes with the 64-row dim tables joined
# back broadcast, so the corpus-sized long form never shuffles wide.
# ---------------------------------------------------------------------------

_DIM_STATS_ORACLE = f"""
WITH comp AS (
  SELECT CAST(u.i - 1 AS INT) AS dim, q[u.i] AS x
  FROM (SELECT {SQL_QUANT} AS q FROM embeddings),
       LATERAL (SELECT UNNEST(range(1, LEN(q) + 1)) AS i) u
),
med AS (SELECT dim, MEDIAN(x) AS med FROM comp GROUP BY dim),
mad AS (
  SELECT c.dim, MEDIAN(ABS(c.x - m.med)) AS mad
  FROM comp c JOIN med m USING (dim) GROUP BY c.dim
)
SELECT c.dim,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(m.med) AS med,
       MIN(d.mad) AS mad,
       CAST(SUM(CASE WHEN ABS(c.x - m.med) > 6 * d.mad THEN 1 ELSE 0 END)
         AS BIGINT) AS n_outliers,
       CAST(MIN(c.x) AS BIGINT) AS min_x,
       CAST(MAX(c.x) AS BIGINT) AS max_x
FROM comp c JOIN med m USING (dim) JOIN mad d USING (dim)
GROUP BY c.dim
"""


@register("embedding_dim_robust_stats", oracle=_DIM_STATS_ORACLE, tags=("L3", "G8", "A2"))
def embedding_dim_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    comp = e.select(
        F.posexplode(quantize(F.col("embedding"))).alias("dim", "x")
    ).select(F.col("dim").cast("int").alias("dim"), "x")
    med = comp.groupBy("dim").agg(F.expr("median(x)").alias("med"))
    dev = comp.join(F.broadcast(med), "dim")
    mad = dev.groupBy("dim").agg(F.expr("median(abs(x - med))").alias("mad"))
    return (
        dev.join(F.broadcast(mad), "dim")
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("med").alias("med"),
            F.min("mad").alias("mad"),
            F.sum(
                (F.abs(F.col("x") - F.col("med")) > 6 * F.col("mad")).cast("int")
            ).cast("bigint").alias("n_outliers"),
            F.min("x").cast("bigint").alias("min_x"),
            F.max("x").cast("bigint").alias("max_x"),
        )
    )


# ---------------------------------------------------------------------------
# L3 dimensionality reduction: Johnson-Lindenstrauss Rademacher
# projection 64d -> 16d ([EXT] — the cheap-ANN preprocessing step:
# candidate generation in the reduced space, exact re-rank in the
# original). The ±1 matrix is generated once from a fixed seed and
# inlined as literals into BOTH engines (operators/similarity.py:
# rademacher_matrix), and inputs are quantized ints, so every output
# component is an exact integer — bit-identical cross-engine, no float
# summation-order hazard. In-row expressions only: zero shuffles at
# any corpus size.
# ---------------------------------------------------------------------------

_JL_OUT_DIM = 16


def _jl_matrix() -> list[list[int]]:
    from ..operators.similarity import rademacher_matrix

    return rademacher_matrix(_ND_DIM, _JL_OUT_DIM)


def _jl_oracle() -> str:
    m = _jl_matrix()
    rows = ",\n  ".join(
        "({j}, [{col}])".format(
            j=j, col=", ".join(str(m[i][j]) for i in range(_ND_DIM))
        )
        for j in range(_JL_OUT_DIM)
    )
    return f"""
WITH q AS (SELECT vec_id, {SQL_QUANT} AS qv FROM embeddings),
proj(dim, r) AS (VALUES
  {rows}
)
SELECT q.vec_id, CAST(proj.dim AS INT) AS dim,
       CAST(list_dot_product(q.qv, proj.r) AS BIGINT) AS component
FROM q CROSS JOIN proj
"""


@register("random_projection_16d", oracle=_jl_oracle(), tags=("L3",))
def random_projection_16d(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import random_projection_gemm as random_projection

    e = table(spark, sf_dir, "embeddings")
    m = _jl_matrix()
    # materialize the projection array ONCE per row; element_at over the
    # named column can't re-expand the 16 dot products per output dim
    p = e.select(
        "vec_id", random_projection(quantize(F.col("embedding")), m).alias("__proj")
    )
    comps = F.array(
        *[
            F.struct(
                F.lit(j).cast("int").alias("dim"),
                F.element_at("__proj", j + 1).alias("component"),
            )
            for j in range(_JL_OUT_DIM)
        ]
    )
    return p.select("vec_id", F.explode(comps).alias("pc")).select(
        "vec_id", F.col("pc.dim").alias("dim"), F.col("pc.component").alias("component")
    )


# ---------------------------------------------------------------------------
# L3 two-stage ANN: JL-candidates → exact re-rank ([EXT] — the
# standard reduced-space retrieval pipeline: stage 1 scores 16-d
# projections (4× cheaper per pair than 64-d), keeps top-50 candidates
# per query; stage 2 re-ranks ONLY those 50 with the exact 64-d
# quantized cosine and keeps top-10. Candidate scoring is ids+score
# slim (vectors never ride the ranking shuffle; they rejoin for the
# 50-row re-rank). Every arithmetic step is exact-integer or an
# identical IEEE op sequence, so DuckDB replays the full two-stage
# pipeline — candidates, ranks, and final scores — bit-for-bit.
# ---------------------------------------------------------------------------

_JL_CAND_K, _JL_FINAL_K = 50, 10


def _jl_rerank_oracle() -> str:
    m = _jl_matrix()
    proj_cols = lambda v: ", ".join(  # noqa: E731
        "CAST(list_dot_product({v}, [{col}]) AS BIGINT)".format(
            v=v, col=", ".join(str(m[i][j]) for i in range(_ND_DIM))
        )
        for j in range(_JL_OUT_DIM)
    )
    return f"""
WITH s AS (
  SELECT GREATEST(50, CAST(COUNT(*) // 100 AS BIGINT)) AS stride FROM embeddings
),
q AS (
  SELECT vec_id AS q_id, {SQL_QUANT} AS qv FROM embeddings, s
  WHERE vec_id % s.stride = 0
),
qp AS (SELECT q_id, qv, [{proj_cols('qv')}] AS pq FROM q),
c AS (SELECT vec_id AS c_id, {SQL_QUANT} AS cv FROM embeddings),
cp AS (SELECT c_id, cv, [{proj_cols('cv')}] AS pc FROM c),
cand AS (
  SELECT q_id, c_id,
         ROW_NUMBER() OVER (
           PARTITION BY q_id
           ORDER BY CAST(list_dot_product(pq, pc) AS DOUBLE)
                    / (SQRT(CAST(list_dot_product(pq, pq) AS DOUBLE))
                       * SQRT(CAST(list_dot_product(pc, pc) AS DOUBLE))) DESC,
                    c_id ASC
         ) AS crnk
  FROM qp CROSS JOIN cp WHERE q_id <> c_id
),
kept AS (SELECT q_id, c_id FROM cand WHERE crnk <= {_JL_CAND_K}),
rer AS (
  SELECT k.q_id, k.c_id,
         CAST(list_dot_product(q.qv, c.cv) AS DOUBLE)
           / (SQRT(CAST(list_dot_product(q.qv, q.qv) AS DOUBLE))
              * SQRT(CAST(list_dot_product(c.cv, c.cv) AS DOUBLE))) AS cosine
  FROM kept k JOIN q ON k.q_id = q.q_id JOIN c ON k.c_id = c.c_id
)
SELECT q_id, c_id, cosine, CAST(rnk AS INT) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id ASC) AS rnk
  FROM rer
)
WHERE rnk <= {_JL_FINAL_K}
"""


@register("ann_jl_rerank_topk", oracle=_jl_rerank_oracle(), tags=("L3", "J8"))
def ann_jl_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..operators.similarity import random_projection_gemm as random_projection

    e = table(spark, sf_dir, "embeddings")
    m = _jl_matrix()
    # panel is plan-embedded (broadcast sides of the candidate and
    # re-rank joins) — lazy stride helper kept, un-fanned scan so the
    # broadcast subtrees skip the corpus fan-out exchange (r14)
    eq = table(spark, sf_dir, "embeddings", fanout=False)
    qq = _strided_queries(eq).select(
        F.col("vec_id").alias("q_id"), quantize(F.col("embedding")).alias("qv")
    )
    qp = qq.select(
        "q_id", "qv", random_projection(F.col("qv"), m).alias("pq")
    )
    # the quantized corpus feeds the projection side AND the exact
    # re-rank rejoin — persist() quantizes once (same rule as
    # operators/dedup.py's signature frames)
    cc = e.select(
        F.col("vec_id").alias("c_id"), quantize(F.col("embedding")).alias("cv")
    ).transform(tracked_persist)
    cp = cc.select("c_id", random_projection(F.col("cv"), m).alias("pc"))
    pcos = quantized_cosine(F.col("pq"), F.col("pc"))
    wc = Window.partitionBy("q_id").orderBy(F.desc("__pcos"), F.asc("c_id"))
    kept = (
        cp.crossJoin(F.broadcast(qp.select("q_id", "pq")))
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn("__pcos", pcos)
        .select("q_id", "c_id", "__pcos")  # ids+score only through the rank
        .withColumn("crnk", F.row_number().over(wc))
        .filter(F.col("crnk") <= _JL_CAND_K)
        .select("q_id", "c_id")
    )
    exact = quantized_cosine(F.col("qv"), F.col("cv"))
    wr = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return (
        kept.join(F.broadcast(qq), "q_id")
        .join(cc, "c_id")
        .withColumn("cosine", exact)
        .select("q_id", "c_id", "cosine")
        .withColumn("rnk", F.row_number().over(wr).cast("int"))
        .filter(F.col("rnk") <= _JL_FINAL_K)
    )


# ---------------------------------------------------------------------------
# L3 int8 compression surface ([EXT]): per-vector max-abs int8
# quantization (operators/similarity.py int8_quantize). The summary
# query proves the quantized representation bit-for-bit against the
# oracle (integer mins/maxes/sums/sqnorms + the scale in parts-per-
# billion); the two-stage ANN uses int8 cosine for candidate
# generation and the exact x1000 fixed-point cosine only on survivors
# — the production pattern for memory-bound corpora (4x smaller
# vectors through the candidate stage).
# ---------------------------------------------------------------------------

_SQL_I8_SCALE = (
    "list_max(list_transform(embedding, x -> ABS(CAST(x AS DOUBLE)))) / 127.0"
)


def _sql_i8_quant(scale_expr: str) -> str:
    return (
        f"CASE WHEN {scale_expr} = 0"
        " THEN list_transform(embedding, x -> CAST(0 AS BIGINT))"
        f" ELSE list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE)"
        f" / ({scale_expr}) + 0.5) AS BIGINT)) END"
    )


_I8_QUANT_ORACLE = f"""
WITH b AS (
  SELECT vec_id, label, {_SQL_I8_SCALE} AS scale,
         {_sql_i8_quant(_SQL_I8_SCALE)} AS q
  FROM embeddings
)
SELECT vec_id, label,
       CAST(list_min(q) AS INT) AS q_min,
       CAST(list_max(q) AS INT) AS q_max,
       CAST(list_sum(q) AS BIGINT) AS q_sum,
       CAST(list_dot_product(q, q) AS BIGINT) AS q_sqnorm,
       CAST(FLOOR(scale * 1000000000 + 0.5) AS BIGINT) AS scale_ppb
FROM b
"""


@register("embedding_int8_quant", oracle=_I8_QUANT_ORACLE, tags=("L3", "L5"))
def embedding_int8_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import int8_quantize, int8_scale

    e = table(spark, sf_dir, "embeddings")
    b = e.select(
        "vec_id",
        "label",
        int8_scale(F.col("embedding")).alias("__scale"),
        int8_quantize(F.col("embedding"), int8_scale(F.col("embedding"))).alias("__q"),
    )
    isum = F.aggregate(
        F.col("__q"), F.lit(0).cast("bigint"), lambda acc, v: acc + v
    )
    return b.select(
        "vec_id",
        "label",
        F.array_min("__q").cast("int").alias("q_min"),
        F.array_max("__q").cast("int").alias("q_max"),
        isum.alias("q_sum"),
        int_dot(F.col("__q"), F.col("__q")).alias("q_sqnorm"),
        F.floor(F.col("__scale") * 1000000000 + F.lit(0.5))
        .cast("bigint")
        .alias("scale_ppb"),
    )


_I8_CAND_K, _I8_FINAL_K = 50, 10


def _i8_rerank_oracle() -> str:
    return f"""
WITH s AS (
  SELECT GREATEST(50, CAST(COUNT(*) // 100 AS BIGINT)) AS stride FROM embeddings
),
base AS (
  SELECT vec_id, {SQL_QUANT} AS v, {_sql_i8_quant(_SQL_I8_SCALE)} AS v8
  FROM embeddings
),
q AS (
  SELECT vec_id AS q_id, v AS qv, v8 AS q8 FROM base, s
  WHERE vec_id % s.stride = 0
),
c AS (SELECT vec_id AS c_id, v AS cv, v8 AS c8 FROM base),
cand AS (
  SELECT q_id, c_id,
         ROW_NUMBER() OVER (
           PARTITION BY q_id
           ORDER BY CAST(list_dot_product(q8, c8) AS DOUBLE)
                    / (SQRT(CAST(list_dot_product(q8, q8) AS DOUBLE))
                       * SQRT(CAST(list_dot_product(c8, c8) AS DOUBLE))) DESC,
                    c_id ASC
         ) AS crnk
  FROM q CROSS JOIN c WHERE q_id <> c_id
),
kept AS (SELECT q_id, c_id FROM cand WHERE crnk <= {_I8_CAND_K}),
rer AS (
  SELECT k.q_id, k.c_id,
         CAST(list_dot_product(q.qv, c.cv) AS DOUBLE)
           / (SQRT(CAST(list_dot_product(q.qv, q.qv) AS DOUBLE))
              * SQRT(CAST(list_dot_product(c.cv, c.cv) AS DOUBLE))) AS cosine
  FROM kept k JOIN q ON k.q_id = q.q_id JOIN c ON k.c_id = c.c_id
)
SELECT q_id, c_id, cosine, CAST(rnk AS INT) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id ASC) AS rnk
  FROM rer
)
WHERE rnk <= {_I8_FINAL_K}
"""


@register("ann_int8_rerank_topk", oracle=_i8_rerank_oracle(), tags=("L3", "J8"))
def ann_int8_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..operators.similarity import int8_quantize, int8_scale

    e = table(spark, sf_dir, "embeddings")
    # quantized twice-consumed corpus frame (query-side join + both
    # candidate/rerank reads) — one pass via persist()
    base = e.select(
        "vec_id",
        quantize(F.col("embedding")).alias("v"),
        int8_quantize(F.col("embedding"), int8_scale(F.col("embedding"))).alias("v8"),
    ).transform(tracked_persist)
    qq = (
        # panel ids from an UN-fanned scan (r14): this subtree is a
        # broadcast side, and only vec_id survives the select — the
        # fanned scan would pay the corpus fan-out exchange for ids
        _strided_queries(table(spark, sf_dir, "embeddings", fanout=False))
        .select("vec_id")
        .join(base, "vec_id")
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("v").alias("qv"),
            F.col("v8").alias("q8"),
        )
    )
    cc = base.select(
        F.col("vec_id").alias("c_id"),
        F.col("v").alias("cv"),
        F.col("v8").alias("c8"),
    )
    i8cos = quantized_cosine(F.col("q8"), F.col("c8"))
    wc = Window.partitionBy("q_id").orderBy(F.desc("__i8cos"), F.asc("c_id"))
    kept = (
        cc.select("c_id", "c8")
        .crossJoin(F.broadcast(qq.select("q_id", "q8")))
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn("__i8cos", i8cos)
        .select("q_id", "c_id", "__i8cos")  # ids+score only through the rank
        .withColumn("crnk", F.row_number().over(wc))
        .filter(F.col("crnk") <= _I8_CAND_K)
        .select("q_id", "c_id")
    )
    exact = quantized_cosine(F.col("qv"), F.col("cv"))
    wr = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return (
        kept.join(F.broadcast(qq.select("q_id", "qv")), "q_id")
        .join(cc.select("c_id", "cv"), "c_id")
        .withColumn("cosine", exact)
        .select("q_id", "c_id", "cosine")
        .withColumn("rnk", F.row_number().over(wr).cast("int"))
        .filter(F.col("rnk") <= _I8_FINAL_K)
    )


# ---------------------------------------------------------------------------
# §2.11 grouped-AGGREGATE pandas UDF surface ([EXT] — the third Arrow
# UDF shape after grouped-map (user_value_trend) and cogrouped-map
# (cogroup_user_funnel)): a robust per-label statistic Spark has no
# builtin for — the 10%-trimmed mean — as a GROUPED_AGG pandas_udf.
# Inputs are the exact integer sqnorms (x1000 fixed-point), the trim
# boundaries are integer ranks, and the only float op is one final
# division — so the Arrow-side aggregate is bit-reproducible and the
# oracle replays it with a rank window. Scale: partial aggregation
# does NOT apply to grouped-agg UDFs (each group's values gather on
# one executor), which is exactly why the inputs are pre-reduced to
# one bigint per vector before the shuffle.
# ---------------------------------------------------------------------------

_TRIMMED_ORACLE = f"""
WITH s AS (
  SELECT label, CAST(list_dot_product({SQL_QUANT}, {SQL_QUANT}) AS BIGINT) AS sqnorm
  FROM embeddings
),
r AS (
  SELECT label, sqnorm,
         ROW_NUMBER() OVER (PARTITION BY label ORDER BY sqnorm) AS rn,
         COUNT(*) OVER (PARTITION BY label) AS n
  FROM s
)
SELECT label,
       CAST(MAX(n) AS BIGINT) AS n_vectors,
       CAST(SUM(CASE WHEN rn > n // 10 AND rn <= n - n // 10 THEN sqnorm END)
            AS DOUBLE)
         / COUNT(CASE WHEN rn > n // 10 AND rn <= n - n // 10 THEN 1 END)
         AS trimmed_mean_sqnorm
FROM r GROUP BY label
"""


@register("trimmed_mean_sqnorm", oracle=_TRIMMED_ORACLE, tags=("G2", "G8", "L3"))
def trimmed_mean_sqnorm(spark: SparkSession, sf_dir: str) -> DataFrame:
    @F.pandas_udf("double")
    def _trimmed_mean(v: pd.Series) -> float:
        import numpy as np

        a = np.sort(v.to_numpy(np.int64))
        k = len(a) // 10
        mid = a[k : len(a) - k] if len(a) - 2 * k > 0 else a
        return float(int(mid.sum())) / len(mid)

    # a grouped-agg pandas UDF cannot mix with JVM aggregates in one
    # agg() — the count rides the same Arrow batch instead
    @F.pandas_udf("bigint")
    def _n(v: pd.Series) -> int:
        return len(v)

    e = table(spark, sf_dir, "embeddings")
    s = e.select(
        "label",
        int_dot(quantize(F.col("embedding")), quantize(F.col("embedding"))).alias(
            "sqnorm"
        ),
    )
    return s.groupBy("label").agg(
        _n("sqnorm").alias("n_vectors"),
        _trimmed_mean("sqnorm").alias("trimmed_mean_sqnorm"),
    )


# ---------------------------------------------------------------------------
# L2/L3 cluster-level embedding near-dup ([EXT] — the vector sibling of
# neardup_clusters_scalable): connected components over the verified
# LSH pair set, emitting O(n) MEMBERSHIP rows instead of the pair set.
# Design note, honestly: the text variant's star-edge shortcut (verify
# only O(n·bands) edges) is exact when duplicate groups are CLIQUES
# (replica corpora — proven equal there); this embedding corpus is a
# SPARSE similarity graph (measured: star+chain edges recover only
# ~0.44 of verified pairs at threshold 0.35), where the verified edge
# set is O(edges) — NOT output-bound — so the exact pair operator IS
# the right edge generator, and the cluster win is purely the O(n)
# output. The oracle wraps the bit-exact LSH pair replay in the same
# recursive-CTE transitive closure as neardup_cluster_canonical, so
# the membership emission is hash-checked end to end.
#
# Round-6 scale fix: EXACT-DEDUP PRE-PASS. On a corpus with exact
# duplicate vectors (the replica-lake stress measured alpha 0.90 at
# 10× without it), every dup group of g copies is a g-clique in the
# pair graph — quadratic edges that carry zero information. Identical
# (nonzero) vectors have identical signatures, identical candidates
# and identical cosines, so mining pairs over one representative per
# distinct quantized vector and expanding members afterwards yields
# PROVABLY identical clusters: the rep is the min vec_id of its dup
# group, hence the component's min-rep label equals the min-member
# label. Zero-norm vectors are excluded from merging (their cosine is
# undefined, so the pair graph never connects them — the shortcut must
# not either). The oracle still replays the FULL pair graph, so the
# driver hash-check re-proves this equivalence every round.
# ---------------------------------------------------------------------------


def _embedding_clusters_oracle() -> str:
    return f"""
WITH RECURSIVE
pairs AS ({_neardup_lsh_oracle()}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach(id, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT reach.id, e.b FROM reach JOIN edges e ON e.a = reach.r
),
comp AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id)
SELECT e.vec_id,
       CAST(COALESCE(c.cluster_id, e.vec_id) AS BIGINT) AS cluster_id,
       COALESCE(c.cluster_id, e.vec_id) = e.vec_id AS is_canonical,
       CAST(COUNT(*) OVER (PARTITION BY COALESCE(c.cluster_id, e.vec_id))
            AS BIGINT) AS cluster_size
FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.id
"""


@register("embedding_neardup_clusters", oracle=_embedding_clusters_oracle(), tags=("L2", "L3", "L7"))
def embedding_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as _W

    from ..operators.graph import connected_components
    from ..operators.similarity import lsh_neardup_pairs

    e = table(spark, sf_dir, "embeddings")
    keyed = e.select(
        "vec_id",
        "embedding",
        F.md5(
            F.concat_ws(
                ",", F.transform(quantize(F.col("embedding")), lambda x: x.cast("string"))
            )
        ).alias("__vkey"),
        int_dot(quantize(F.col("embedding")), quantize(F.col("embedding"))).alias(
            "__sq"
        ),
    ).withColumn(
        # zero-norm vectors never verify any pair (cosine undefined):
        # give each a unique key so the dedup shortcut can't merge them
        "__vkey",
        F.when(F.col("__sq") > 0, F.col("__vkey")).otherwise(
            F.concat(F.lit("z"), F.col("vec_id").cast("string"))
        ),
    ).transform(tracked_persist)  # consumed by reps AND the expansion join
    reps = keyed.groupBy("__vkey").agg(F.min("vec_id").alias("rep_id"))
    rep_rows = e.join(
        reps.select(F.col("rep_id").alias("vec_id")), "vec_id", "left_semi"
    )
    pairs = lsh_neardup_pairs(
        rep_rows,
        "vec_id",
        "embedding",
        threshold=_ND_THRESH,
        n_planes=_ND_PLANES,
        dim=_ND_DIM,
        n_tables=_ND_TABLES,
        n_part=_lsh_width(spark, sf_dir),
    )
    cc = connected_components(pairs, "id_a", "id_b")
    rep_label = reps.join(cc, reps["rep_id"] == cc["id"], "left").select(
        "__vkey",
        F.coalesce("component", F.col("rep_id")).cast("bigint").alias("cluster_id"),
    )
    labeled = keyed.select("vec_id", "__vkey").join(rep_label, "__vkey").select(
        "vec_id", "cluster_id"
    )
    return labeled.select(
        "vec_id",
        "cluster_id",
        (F.col("cluster_id") == F.col("vec_id")).alias("is_canonical"),
        F.count(F.lit(1))
        .over(_W.partitionBy("cluster_id"))
        .cast("bigint")
        .alias("cluster_size"),
    )


# ---------------------------------------------------------------------------
# L3/S11 tombstone-delete index maintenance ([EXT] — a serving ANN
# index at 100 TB cannot rebuild on every deletion (GDPR erasure,
# licensing takedowns, opt-outs): the standard discipline is a
# tombstone set consulted at serve time, folded in at the next
# compaction. Here the LSH posting index lands as an S11 committed
# snapshot (sources/io.py write_snapshot), the deleted ids land as a
# second snapshot, and the SERVING query reads BOTH back from disk —
# the plan scans the v=1 posting parquet, it cannot secretly re-derive
# postings from live embeddings — anti-joins the tombstones onto the
# posting list, and answers top-k over the surviving candidates with
# the same exact quantized-cosine scoring as ann_lsh_topk.
#
# Scale shape: the tombstone set is a bigint column anti-joined once
# (broadcast when small, shuffle when not); candidates are bounded by
# band collisions exactly as in ann_lsh_topk; no stage touches deleted
# vectors after the anti-join. The oracle replays the posting math and
# the deletion predicate declaratively, so the hash proves deleted ids
# appear NOWHERE — not as queries, not as candidates.
# ---------------------------------------------------------------------------

_TOMB_MOD, _TOMB_RESIDUE = 7, 3


def _tombstone_lsh_oracle() -> str:
    postings = _lsh_posting_sql(_ANN_LSH_PLANES, _ND_DIM, _ANN_LSH_TABLES)
    return f"""
WITH s AS (
  SELECT GREATEST(50, CAST(COUNT(*) // 100 AS BIGINT)) AS stride FROM embeddings
),
v AS (
  SELECT vec_id, {SQL_QUANT} AS qv FROM embeddings
),
n AS (
  SELECT vec_id, qv, SQRT(CAST(list_dot_product(qv, qv) AS DOUBLE)) AS nrm FROM v
),
posting AS (
  {postings}
),
live AS (
  SELECT * FROM posting WHERE vec_id % {_TOMB_MOD} <> {_TOMB_RESIDUE}
),
qpost AS (
  SELECT p.vec_id, p.tbl, p.key FROM live p, s WHERE p.vec_id % s.stride = 0
),
cand AS (
  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS c_id
  FROM qpost q
  JOIN live c ON q.tbl = c.tbl AND q.key = c.key AND q.vec_id <> c.vec_id
),
scored AS (
  SELECT cand.q_id, cand.c_id,
         CAST(list_dot_product(x.qv, y.qv) AS DOUBLE) / (x.nrm * y.nrm) AS cosine
  FROM cand
  JOIN n x ON cand.q_id = x.vec_id
  JOIN n y ON cand.c_id = y.vec_id
)
SELECT q_id, c_id, cosine, CAST(rnk AS INT) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id ASC) AS rnk
  FROM scored
)
WHERE rnk <= 10
"""


def _write_posting_and_tombstone_snapshots(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, str]:
    """Land the LSH posting index and the deleted-id set as committed
    disk snapshots; return both READ BACK from their v=1 parquet plus
    the posting snapshot's base path — the shared index-build step of
    the tombstone-serve and compaction-equality queries. The tempdir is
    removed at interpreter exit (bench/stress loops would otherwise
    leak a posting index per repetition)."""
    import atexit
    import shutil
    import tempfile

    from ..operators.similarity import lsh_bucket_keys_gemm
    from ..sources.io import read_snapshot, write_snapshot

    e = table(spark, sf_dir, "embeddings")
    base = tempfile.mkdtemp(prefix="lsh_tomb_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    idx_base, tomb_base = base + "/postings", base + "/tombstones"
    v_idx = write_snapshot(
        e.select(
            "vec_id",
            F.posexplode(
                lsh_bucket_keys_gemm(
                    "embedding", _ANN_LSH_PLANES, _ND_DIM, _ANN_LSH_TABLES
                )
            ).alias("tbl", "key"),
        ),
        idx_base,
    )
    v_tomb = write_snapshot(
        e.filter(F.col("vec_id") % _TOMB_MOD == _TOMB_RESIDUE).select("vec_id"),
        tomb_base,
    )
    return (
        read_snapshot(spark, idx_base, version=v_idx),
        read_snapshot(spark, tomb_base, version=v_tomb),
        idx_base,
    )


def _serve_lsh_topk(
    spark: SparkSession, sf_dir: str, live: DataFrame, k: int = 10
) -> DataFrame:
    """Answer the strided query panel's top-k from an already-filtered
    ("live") posting frame: posting self-join within (tbl, key), exact
    quantized-cosine scoring against the embeddings table, per-query
    WindowGroupLimit. Candidates are bounded by band collisions; only
    ids cross the dedup shuffle."""
    from ..operators.relational import topk_per_group

    e = table(spark, sf_dir, "embeddings")
    live = tracked_persist(live)  # query side + candidate side
    q_post = (
        live.crossJoin(F.broadcast(_stride_frame(e)))
        .filter(F.col("vec_id") % F.col("__stride") == 0)
        .select(F.col("vec_id").alias("q_id"), "tbl", "key")
    )
    cand = (
        live.join(F.broadcast(q_post), ["tbl", "key"])
        .filter(F.col("q_id") != F.col("vec_id"))
        .select("q_id", F.col("vec_id").alias("c_id"))
        .dropDuplicates(["q_id", "c_id"])
    )
    n = e.select(
        "vec_id", quantize(F.col("embedding")).alias("v")
    ).withColumn("nrm", int_norm(F.col("v")))
    scored = (
        cand.join(n.select(F.col("vec_id").alias("c_id"), F.col("v").alias("cv"),
                           F.col("nrm").alias("c_nrm")), "c_id")
        .join(
            F.broadcast(
                n.select(F.col("vec_id").alias("q_id"), F.col("v").alias("qv"),
                         F.col("nrm").alias("q_nrm"))
                .join(q_post.select("q_id").distinct(), "q_id")
            ),
            "q_id",
        )
        .select(
            "q_id",
            "c_id",
            cosine_from_norms(
                int_dot(F.col("qv"), F.col("cv")), F.col("q_nrm"), F.col("c_nrm")
            ).alias("cosine"),
        )
    )
    return topk_per_group(
        scored, ["q_id"], [F.col("cosine").desc(), F.col("c_id").asc()], k,
        rank_col="rnk",
    )


@register(
    "lsh_index_tombstone_delete", oracle=_tombstone_lsh_oracle(), tags=("L3", "S11")
)
def lsh_index_tombstone_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    postings, tombs, _ = _write_posting_and_tombstone_snapshots(spark, sf_dir)
    # filter-at-serve: disk postings minus tombstones, per request
    return _serve_lsh_topk(
        spark, sf_dir, postings.join(F.broadcast(tombs), "vec_id", "left_anti")
    )


# ---------------------------------------------------------------------------
# L3/S11 compaction folds the tombstones in ([EXT] — the maintenance
# half of tombstone deletion: after enough deletes accrue, a compactor
# rewrites the posting index with the tombstoned rows REMOVED and
# lands it as the next committed version; serving then reads the
# compacted snapshot with no anti-join at all. This query executes
# that fold (anti-join materialized once, landed sorted by (tbl, key)
# so per-file min/max stats prune bucket probes) and serves top-k from
# the COMPACTED v=2 parquet. Its oracle is the same declarative replay
# as lsh_index_tombstone_delete — identical output is the point: the
# hash proves fold-at-compaction ≡ filter-at-serve, the invariant that
# lets a 100 TB index defer compaction freely.
# ---------------------------------------------------------------------------


@register(
    "lsh_index_compaction_equality",
    oracle=_tombstone_lsh_oracle(),
    tags=("L3", "S11"),
)
def lsh_index_compaction_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.io import read_snapshot, snapshot_versions, write_snapshot

    postings, tombs, idx_base = _write_posting_and_tombstone_snapshots(spark, sf_dir)
    folded = (
        postings.join(F.broadcast(tombs), "vec_id", "left_anti")
        .repartitionByRange(8, "tbl", "key")
        .sortWithinPartitions("tbl", "key")
    )
    v2 = write_snapshot(folded, idx_base)
    assert snapshot_versions(idx_base)[-1] == v2
    # serve from the compacted version: NO tombstone logic anywhere
    return _serve_lsh_topk(spark, sf_dir, read_snapshot(spark, idx_base, version=v2))


# ---------------------------------------------------------------------------
# L3 contrastive-pair mining ([EXT] — the training-data op behind
# embedding-model fine-tuning: every anchor needs its exact top-k
# same-label positives and top-k different-label HARD negatives; random
# negatives are easy and teach nothing). Same bounded-panel GEMM shape
# as ann_cosine_topk (operators/similarity.py:gemm_contrastive_topk):
# the stride-capped anchor panel broadcasts once, the corpus streams
# through one int64 matmul per Arrow batch, per-batch pruning keeps
# k+1 per (anchor, side) with boundary ties — exact at any scale. The
# oracle replays the full cross join with the label CASE in DuckDB.
# ---------------------------------------------------------------------------

_CONTRASTIVE_K = 5

_CONTRASTIVE_ORACLE = f"""
WITH s AS (
  SELECT GREATEST(50, CAST(COUNT(*) // 100 AS BIGINT)) AS stride FROM embeddings
),
q AS (
  SELECT vec_id AS q_id, {SQL_QUANT} AS qv, label AS ql
  FROM embeddings, s WHERE vec_id % s.stride = 0
),
c AS (
  SELECT vec_id AS c_id, {SQL_QUANT} AS cv, label AS cl FROM embeddings
),
scored AS (
  SELECT q_id,
         CASE WHEN cl = ql THEN 'pos' ELSE 'neg' END AS side,
         c_id,
         CAST(list_dot_product(qv, cv) AS DOUBLE)
           / (SQRT(CAST(list_dot_product(qv, qv) AS DOUBLE))
              * SQRT(CAST(list_dot_product(cv, cv) AS DOUBLE))) AS cosine
  FROM c CROSS JOIN q
  WHERE q_id <> c_id
)
SELECT q_id, side, c_id, cosine, CAST(rnk AS INT) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY q_id, side ORDER BY cosine DESC, c_id ASC) AS rnk
  FROM scored
)
WHERE rnk <= {_CONTRASTIVE_K}
"""


@register("contrastive_hard_negatives", oracle=_CONTRASTIVE_ORACLE, tags=("L3", "J8"))
def contrastive_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import gemm_contrastive_topk

    e = table(spark, sf_dir, "embeddings")
    # the operator COLLECTS the query panel via its own toPandas action
    # (gemm_exact_topk's shape), so the panel side gets the r13 eager
    # stride + un-fanned scan treatment (r14, propagating §ann): the
    # lazy crossJoin spelling re-planned and re-executed a
    # BroadcastExchange inside that collection, and the fanned scan
    # paid the corpus fan-out exchange to gather ~100 rows. Same rows.
    eq = table(spark, sf_dir, "embeddings", fanout=False)
    res = gemm_contrastive_topk(
        _strided_queries_eager(eq),
        e,
        "vec_id",
        "vec_id",
        "embedding",
        "label",
        k=_CONTRASTIVE_K,
    )
    return res.select(
        "q_id", "side", "c_id", "cosine", F.col("rnk").cast("int").alias("rnk")
    )


# ---------------------------------------------------------------------------
# L3 scale path for negative mining ([EXT] — SURVEY §7.5): the exact
# contrastive_hard_negatives streams the whole corpus per Arrow batch;
# when anchors are many, the IVF index routes each anchor to its
# n_probe nearest cells instead (same deterministic index as
# ann_ivf_topk, different-label filter inside the probe join).
# Engine-specific clustering → rows-only; recall@k vs the exact
# miner's 'neg' side is invariant-gated in tests/test_oracle_parity.py.
# ---------------------------------------------------------------------------


@register("contrastive_ivf_negatives", oracle=None, tags=("L3",))
def contrastive_ivf_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_contrastive_negatives

    e = table(spark, sf_dir, "embeddings")
    # panel is plan-embedded (broadcast side of the probe join) — lazy
    # stride helper kept, but built from an UN-fanned scan so the
    # broadcast subtree skips the corpus fan-out exchange (r14)
    eq = table(spark, sf_dir, "embeddings", fanout=False)
    return ivf_contrastive_negatives(
        _strided_queries(eq),
        e,
        "vec_id",
        "vec_id",
        "embedding",
        "label",
        k=_CONTRASTIVE_K,
        n_centroids=16,
        # same wide probe rationale as ann_ivf_topk: near-uniform
        # synthetic embeddings need 8/16 cells for recall >= 0.7
        n_probe=8,
    )


# ---------------------------------------------------------------------------
# L2/L6 embedding-grain decontamination ([EXT] — decontaminate_
# train_test catches n-gram overlap; paraphrased eval leakage shares
# no n-grams but sits close in embedding space). Split = the same md5
# draw as leakage_safe_split (first hex < '4' → eval); contamination =
# an eval vector within cosine >= 0.35 of ANY train vector, candidates
# from the deterministic LSH posting join the embedding_neardup_pairs
# oracle already replays bit-for-bit — so this cross-split composition
# stays fully hash-checked (no all-pairs stage; the oracle nests the
# whole posting pipeline). Output is change-sized: one row per
# CONTAMINATED eval vector with the count, max cosine, and the
# tie-safe worst offender — the rows an eval-set owner must quarantine.
# ---------------------------------------------------------------------------


def _decontam_oracle() -> str:
    return f"""
WITH p AS ({_neardup_lsh_oracle()}),
s AS (
  SELECT id_a, id_b, cosine,
         substr(md5(CAST(id_a AS VARCHAR)), 1, 1) < '4' AS a_eval,
         substr(md5(CAST(id_b AS VARCHAR)), 1, 1) < '4' AS b_eval
  FROM p
),
x AS (
  SELECT CASE WHEN a_eval THEN id_a ELSE id_b END AS eval_id,
         CASE WHEN a_eval THEN id_b ELSE id_a END AS train_id,
         cosine
  FROM s WHERE a_eval <> b_eval
),
r AS (
  SELECT eval_id, train_id, cosine,
         ROW_NUMBER() OVER (
           PARTITION BY eval_id ORDER BY cosine DESC, train_id ASC) AS rn
  FROM x
)
SELECT eval_id,
       CAST(COUNT(*) AS BIGINT) AS n_contaminating,
       MAX(cosine) AS max_cosine,
       MAX(CASE WHEN rn = 1 THEN train_id END) AS worst_train_id
FROM r GROUP BY eval_id
"""


@register("embedding_decontamination", oracle=_decontam_oracle(), tags=("L2", "L6"))
def embedding_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = table(spark, sf_dir, "embeddings", fanout=False)
    pairs = lsh_neardup_pairs(
        e,
        "vec_id",
        "embedding",
        threshold=_ND_THRESH,
        n_planes=_ND_PLANES,
        dim=_ND_DIM,
        n_tables=_ND_TABLES,
        n_part=_lsh_width(spark, sf_dir),
    )
    a_eval = F.substring(F.md5(F.col("id_a").cast("string")), 1, 1) < "4"
    b_eval = F.substring(F.md5(F.col("id_b").cast("string")), 1, 1) < "4"
    x = (
        pairs.withColumn("a_eval", a_eval)
        .withColumn("b_eval", b_eval)
        .filter(F.col("a_eval") != F.col("b_eval"))
        .select(
            F.when(F.col("a_eval"), F.col("id_a")).otherwise(F.col("id_b")).alias(
                "eval_id"
            ),
            F.when(F.col("a_eval"), F.col("id_b")).otherwise(F.col("id_a")).alias(
                "train_id"
            ),
            "cosine",
        )
    )
    w = Window.partitionBy("eval_id").orderBy(
        F.col("cosine").desc(), F.col("train_id").asc()
    )
    return (
        x.withColumn("rn", F.row_number().over(w))
        .groupBy("eval_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_contaminating"),
            F.max("cosine").alias("max_cosine"),
            F.max(F.when(F.col("rn") == 1, F.col("train_id"))).alias(
                "worst_train_id"
            ),
        )
    )


# ---------------------------------------------------------------------------
# L3/O1 triplet batch builder ([EXT] — SURVEY §7.5: the last mile
# between mining and the data loader). Rank-aligned (anchor, positive,
# hard-negative) triplets from the exact miner — rank-i positive pairs
# with rank-i negative, so early batches carry each anchor's HARDEST
# contrast — assigned to fixed 16-triplet training batches in the
# deterministic (q_id, rank) order via the distributed row-number
# primitive. The oracle nests the full miner replay and the
# partition-less ROW_NUMBER: one hash proves mining → pairing →
# batching end-to-end.
# ---------------------------------------------------------------------------

_TRIPLET_BATCH = 16

_TRIPLET_ORACLE = f"""
WITH mined AS ({_CONTRASTIVE_ORACLE}),
tri AS (
  SELECT p.q_id, p.c_id AS pos_id, n.c_id AS neg_id, p.rnk AS rank
  FROM mined p JOIN mined n ON p.q_id = n.q_id AND p.rnk = n.rnk
  WHERE p.side = 'pos' AND n.side = 'neg'
),
r AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY q_id, rank) AS rn FROM tri
)
SELECT q_id, pos_id, neg_id, CAST(rank AS INT) AS rank,
       CAST((rn - 1) // {_TRIPLET_BATCH} AS BIGINT) AS batch_id
FROM r
"""


@register("contrastive_triplet_batches", oracle=_TRIPLET_ORACLE, tags=("L3", "O1"))
def contrastive_triplet_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import with_global_row_number

    # persisted: both triplet sides read the mined frame — one GEMM
    # pass, InMemoryRelation reused on the second side
    mined = tracked_persist(contrastive_hard_negatives(spark, sf_dir))
    p = mined.filter(F.col("side") == "pos").select(
        "q_id", F.col("c_id").alias("pos_id"), F.col("rnk").alias("rank")
    )
    n = mined.filter(F.col("side") == "neg").select(
        "q_id", F.col("c_id").alias("neg_id"), F.col("rnk").alias("rank")
    )
    tri = p.join(n, ["q_id", "rank"])
    ranked = with_global_row_number(
        tri, [F.col("q_id").asc(), F.col("rank").asc()], "rn"
    )
    return ranked.select(
        "q_id",
        "pos_id",
        "neg_id",
        F.col("rank").cast("int").alias("rank"),
        # integral `div`, not floor(double division) — exact past 2^53
        F.expr(f"(rn - 1) div {_TRIPLET_BATCH}").cast("bigint").alias("batch_id"),
    )


# ---------------------------------------------------------------------------
# L2/L6/L7 per-cluster contamination report ([EXT] — round-11 idea
# bank: WHICH eval clusters are systematically contaminated, not just
# which vectors). Joins the change-sized embedding_decontamination
# relation to the embedding_neardup_clusters membership at the eval
# grain, then rolls up to the CLUSTER grain: member/contaminated
# counts, the rate (one double division of exact ints), total
# contaminating links, and the tie-safe worst (eval, train) pair per
# cluster. An eval-set owner quarantines whole clusters from this
# table instead of vector-by-vector.
#
# Scale: both inputs are posting/LSH-bucketed by construction (no
# all-pairs stage); the shared LSH pair stage is persisted once
# (tracked_persist dedupes the semantically-identical subtree), the
# join keys on vec_id, and the window + rollup share the cluster_id
# shuffle. Output is change-sized (clusters with >=1 contaminated
# member). The oracle nests BOTH full replays, so the report stays
# hash-checked end-to-end.
# ---------------------------------------------------------------------------

_CLUSTER_CONTAM_ORACLE = f"""
WITH m AS ({_embedding_clusters_oracle()}),
d AS ({_decontam_oracle()}),
em AS (
  SELECT vec_id, cluster_id, cluster_size
  FROM m
  WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) < '4'
),
j AS (
  SELECT em.cluster_id, em.cluster_size, em.vec_id,
         d.n_contaminating, d.max_cosine, d.worst_train_id
  FROM em LEFT JOIN d ON d.eval_id = em.vec_id
),
r AS (
  SELECT *,
         ROW_NUMBER() OVER (
           PARTITION BY cluster_id
           ORDER BY max_cosine DESC NULLS LAST, vec_id ASC) AS rn
  FROM j
)
SELECT cluster_id,
       CAST(MAX(cluster_size) AS BIGINT) AS cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_eval_members,
       CAST(COUNT(n_contaminating) AS BIGINT) AS n_contaminated,
       CAST(COUNT(n_contaminating) AS DOUBLE) / COUNT(*)
         AS contamination_rate,
       CAST(COALESCE(SUM(n_contaminating), 0) AS BIGINT) AS n_links,
       MAX(max_cosine) AS worst_cosine,
       MAX(CASE WHEN rn = 1 THEN vec_id END) AS worst_eval_id,
       MAX(CASE WHEN rn = 1 THEN worst_train_id END) AS worst_train_id
FROM r
GROUP BY cluster_id
HAVING COUNT(n_contaminating) > 0
"""


@register(
    "cluster_contamination_report",
    oracle=_CLUSTER_CONTAM_ORACLE,
    tags=("L2", "L6", "L7"),
)
def cluster_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    m = embedding_neardup_clusters(spark, sf_dir)
    d = embedding_decontamination(spark, sf_dir)
    em = m.filter(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1) < "4"
    ).select("vec_id", "cluster_id", "cluster_size")
    j = em.join(d, em["vec_id"] == d["eval_id"], "left").drop("eval_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("max_cosine").desc_nulls_last(), F.col("vec_id").asc()
    )
    r = j.withColumn("rn", F.row_number().over(w))
    return (
        r.groupBy("cluster_id")
        .agg(
            F.max("cluster_size").cast("bigint").alias("cluster_size"),
            F.count(F.lit(1)).cast("bigint").alias("n_eval_members"),
            F.count("n_contaminating").cast("bigint").alias("n_contaminated"),
            (
                F.count("n_contaminating").cast("double") / F.count(F.lit(1))
            ).alias("contamination_rate"),
            F.coalesce(F.sum("n_contaminating"), F.lit(0))
            .cast("bigint")
            .alias("n_links"),
            F.max("max_cosine").alias("worst_cosine"),
            F.max(F.when(F.col("rn") == 1, F.col("vec_id"))).alias(
                "worst_eval_id"
            ),
            F.max(F.when(F.col("rn") == 1, F.col("worst_train_id"))).alias(
                "worst_train_id"
            ),
        )
        .filter(F.col("n_contaminated") > 0)
    )
