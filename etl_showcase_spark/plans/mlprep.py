"""ML-data-prep operators over `embeddings` and `documents`
(SURVEY.md §2.13 extensions, round 7): fixed-point distributed k-means
(Lloyd), SemDeDup-style semantic dedup with sorted-neighborhood
verification, power-iteration principal-component analysis, a
hashed-feature quality classifier, exact-substring duplicate-span
coverage, source token-budget planning, and IQR length outliers.

No reference citations (the reference — dags/weather_etl_pipeline.py —
is a weather ETL DAG with no ML-prep surface); these extend the L3/L4/
L6 families with the embedding- and corpus-curation passes a training
run performs between crawl and tokenizer.

House oracle discipline throughout: every iterative/geometric algorithm
runs in *integer fixed point* (quantized vectors, floor-division
requantization via the pmod spelling, struct/list argmin for
deterministic ties) so the distributed result is bit-identical at any
parallelism AND the DuckDB oracle replays every round exactly as an
unrolled CTE chain. The only doubles are final ratio casts and the
cosine sqrt/divide, whose IEEE op sequence is identical in both
engines (precedent: plans/llm_vector.py, plans/curation.py pagerank).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import tracked_persist
from ..catalog import table
from ..operators import textops
from ..operators.similarity import int_dot, quantize, quantized_cosine
from ..registry import register
from .llm_text import _SQL_TOKS
from .llm_vector import _SQL_QUANT as _SQL_QUANT_EMB

# ---------------------------------------------------------------------------
# shared integer helpers
# ---------------------------------------------------------------------------


def _fdiv(a: Column, b: Column) -> Column:
    """Exact floor division for possibly-negative a (b > 0).

    (a - pmod(a, b)) is divisible by b; Spark's `div` is exact 64-bit
    integral division (IntegralDivide), so the quotient is exact
    whenever the adjusted numerator a - pmod(a, b) itself fits int64 —
    i.e. for a > INT64_MIN + b, which covers every caller (all pass
    values bounded far inside the range; within b of INT64_MIN the
    subtraction would wrap in Spark and error in DuckDB). No double
    round-trip anywhere. (The earlier
    ``((a - pmod(a,b)) / b).cast("long")`` spelling lost precision once
    the numerator crossed 2^53: a=5033222943549319568,
    b=39631676720860784 gave 126 instead of the true floor 127.)
    DuckDB twin:
        (a - ((a % b) + b) % b) // b
    (DuckDB `//` truncates toward zero, which equals floor once the
    numerator is exactly divisible — verified: -7//2 = -3, but the pmod
    spelling yields the true floor -4 in both engines.)
    """
    return F.call_function("div", a - F.pmod(a, b), b)


def _sql_fdiv(a: str, b: str) -> str:
    return f"(({a}) - ((({a}) % ({b})) + ({b})) % ({b})) // ({b})"


# quantized int vector at scale 1000 (the llm_vector.py house scale)
_SQL_QUANT = (
    "list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))"
)
# coarser scale-100 quantization for the power-iteration matvec chain,
# sized so every round's n·(x·v)·x sums stay far inside int64 even at
# 1e9 vectors (|x_q| <= ~100; see the bound audit below)
_SQL_QUANT100 = (
    "list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 100 + 0.5) AS BIGINT))"
)

_DIM = 64  # embeddings.embedding is a fixed 64-dim vector (TESTDATA.md)


def _sql_int_dot(a: str, b: str) -> str:
    """Exact: BIGINT-list dot products stay < 2^53 at our scales, so
    DuckDB's DOUBLE-returning list_dot_product is exact; the cast back
    to BIGINT restores integer arithmetic."""
    return f"CAST(list_dot_product({a}, {b}) AS BIGINT)"


def _sql_l2_dist(x: str, c: str) -> str:
    return (
        f"({_sql_int_dot(x, x)} - 2*{_sql_int_dot(x, c)} + {_sql_int_dot(c, c)})"
    )


# ---------------------------------------------------------------------------
# L3 distributed k-means (Lloyd) in exact fixed point ([EXT] — the
# clustering pass behind SemDeDup / IVF index builds / topic balance
# audits). Two rounds, fully deterministic:
#
#   seeds   = the k lowest-vec_id vectors (quantized, scale 1e3);
#   round 1 = assign each vector to the argmin exact-int L2 seed
#             (ties -> lowest cluster id, via min(struct));
#   update  = per-cluster per-dim exact integer sums; the new centroid
#             is REQUANTIZED to scale 1e6 by floor(1000*S / n) — floor
#             division in the pmod spelling, so both engines round
#             identically and later distances remain exact ints;
#   round 2 = re-assign against the updated centroids (vectors scaled
#             x1000 to match), emit per-cluster size, centroid L1 mass
#             and exact inertia.
#
# Scale shape: assignment is a broadcast of k centroids against the
# corpus (n·k distance rows, map-side only — no shuffle until the
# vec_id-keyed argmin agg, which is a partial-aggregatable min);
# the update is posexplode -> groupBy(cluster, dim), i.e. k·dim result
# rows regardless of corpus size (the same map-side-combine shape as
# operators/similarity.py ivf_ann_topk's refinement). Nothing driver-
# sized anywhere: seeds are read as a filter, not collected. At 100 TB
# with k beyond ~1e5 you'd shard the centroid broadcast coarse-to-fine;
# for constant k the plan is volume-linear.
#
# Overflow audit (|component| <= ~0.6 -> |x_q| <= 600, n <= 1e12):
#   round-1 dot <= 64·600² = 2.3e7;   1000·S <= 1000·600·n;
#   round-2 scale-1e6 dot <= 64·(6e5)² = 2.3e13 < 2^53 (exact in
#   DuckDB's double-returning list_dot_product);  per-vec d2 <= 9.2e13;
#   inertia summed in DECIMAL(38,0)/HUGEINT -> one final double cast.
# ---------------------------------------------------------------------------

_KMEANS_K = 8


def _kmeans_oracle(k: int) -> str:
    d1 = _sql_l2_dist("v.x", "s.c")
    d2 = _sql_l2_dist("v2.x", "cf.c")
    ci = _sql_fdiv("1000*s", "n")
    return f"""
WITH v AS (SELECT vec_id, {_SQL_QUANT} AS x FROM embeddings),
seeds AS (SELECT CAST(vec_id AS INT) AS cl, x AS c FROM v WHERE vec_id < {k}),
a1 AS (
  SELECT v.vec_id, MIN([{d1}, CAST(s.cl AS BIGINT)]) AS m
  FROM v CROSS JOIN seeds s GROUP BY v.vec_id
),
asg1 AS (SELECT vec_id, CAST(m[2] AS INT) AS cl FROM a1),
comp AS (
  SELECT a.cl, t.i, v.x[t.i] AS xi
  FROM v JOIN asg1 a USING (vec_id), UNNEST(range(1, {_DIM + 1})) t(i)
),
upd AS (SELECT cl, i, SUM(xi) AS s, COUNT(*) AS n FROM comp GROUP BY cl, i),
cent AS (
  SELECT cl, LIST(CAST({ci} AS BIGINT) ORDER BY i) AS c FROM upd GROUP BY cl
),
cent_full AS (
  SELECT sd.cl, COALESCE(ct.c, list_transform(sd.c, y -> y*1000)) AS c
  FROM seeds sd LEFT JOIN cent ct ON sd.cl = ct.cl
),
v2 AS (SELECT vec_id, list_transform(x, y -> y*1000) AS x FROM v),
a2 AS (
  SELECT v2.vec_id, MIN([{d2}, CAST(cf.cl AS BIGINT)]) AS m
  FROM v2 CROSS JOIN cent_full cf GROUP BY v2.vec_id
),
asg2 AS (
  SELECT vec_id, CAST(m[2] AS INT) AS cluster, m[1] AS d2 FROM a2
)
SELECT g.cluster,
       CAST(g.n_vecs AS BIGINT) AS n_vecs,
       CAST(cf.l1 AS BIGINT) AS centroid_l1,
       g.inertia
FROM (
  SELECT cluster, COUNT(*) AS n_vecs, CAST(SUM(d2) AS DOUBLE) AS inertia
  FROM asg2 GROUP BY cluster
) g
JOIN (
  SELECT cl, list_aggregate(list_transform(c, y -> abs(y)), 'sum') AS l1
  FROM cent_full
) cf ON cf.cl = g.cluster
"""


def _lloyd_two_rounds(
    spark: SparkSession, sf_dir: str, k: int
) -> tuple[DataFrame, DataFrame]:
    """Shared two-round fixed-point Lloyd.

    Returns (assign2, cent_full): assign2 has (vec_id, x2, cluster, d2)
    with x2 the scale-1e6 quantized vector; cent_full has (cl, c) the
    requantized scale-1e6 centroids. Exact mirror of _kmeans_oracle's
    CTE chain — every arithmetic step is spelled identically.
    """
    e = table(spark, sf_dir, "embeddings")
    # scanned three times (round-1 assign, centroid update, round-2
    # re-assign): persist the quantized view once, FIFO-bounded
    v = tracked_persist(
        e.select("vec_id", quantize(F.col("embedding")).alias("x"))
    )
    seeds = v.filter(F.col("vec_id") < k).select(
        F.col("vec_id").cast("int").alias("cl"), F.col("x").alias("c")
    )

    def dist(x: Column, c: Column) -> Column:
        return int_dot(x, x) - 2 * int_dot(x, c) + int_dot(c, c)

    a1 = (
        v.crossJoin(F.broadcast(seeds))
        .select(
            "vec_id",
            F.struct(
                dist(F.col("x"), F.col("c")).alias("d"),
                F.col("cl").cast("bigint").alias("cl"),
            ).alias("dc"),
        )
        .groupBy("vec_id")
        .agg(F.min("dc").alias("m"))
        .select("vec_id", F.col("m.cl").cast("int").alias("cl"))
    )
    comp = (
        v.join(a1, "vec_id")
        .select("cl", F.posexplode("x").alias("p", "xi"))
        # posexplode is 0-based; the oracle's range() is 1-based — only
        # the per-dim keying and the ORDER BY rebuild matter, both
        # internally consistent, but align anyway for readability
        .select("cl", (F.col("p") + 1).alias("i"), "xi")
    )
    upd = comp.groupBy("cl", "i").agg(
        F.sum("xi").alias("s"), F.count(F.lit(1)).alias("n")
    )
    cent = (
        upd.withColumn("ci", _fdiv(F.col("s") * 1000, F.col("n")))
        .groupBy("cl")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "ci"))), lambda t: t["ci"]
            ).alias("c")
        )
    )
    cent_full = (
        seeds.select("cl", F.transform("c", lambda y: y * 1000).alias("seed_c"))
        .join(cent, "cl", "left")
        .select("cl", F.coalesce("c", "seed_c").alias("c"))
    )
    v2 = v.select("vec_id", F.transform("x", lambda y: y * 1000).alias("x2"))
    assign2 = (
        v2.crossJoin(F.broadcast(cent_full))
        .select(
            "vec_id",
            "x2",
            F.struct(
                dist(F.col("x2"), F.col("c")).alias("d"),
                F.col("cl").cast("bigint").alias("cl"),
            ).alias("dc"),
        )
        .groupBy("vec_id")
        .agg(F.min("dc").alias("m"), F.first("x2").alias("x2"))
        .select(
            "vec_id",
            "x2",
            F.col("m.cl").cast("int").alias("cluster"),
            F.col("m.d").alias("d2"),
        )
    )
    return assign2, cent_full


@register("kmeans_lloyd_clusters", oracle=_kmeans_oracle(_KMEANS_K), tags=("L3", "G1"))
def kmeans_lloyd_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    assign2, cent_full = _lloyd_two_rounds(spark, sf_dir, _KMEANS_K)
    sizes = assign2.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum(F.col("d2").cast("decimal(38,0)")).cast("double").alias("inertia"),
    )
    l1 = cent_full.select(
        F.col("cl").alias("cluster"),
        F.aggregate(
            F.transform("c", lambda y: F.abs(y)),
            F.lit(0).cast("bigint"),
            lambda acc, y: acc + y,
        ).alias("centroid_l1"),
    )
    return sizes.join(F.broadcast(l1), "cluster").select(
        "cluster", "n_vecs", "centroid_l1", "inertia"
    )


# ---------------------------------------------------------------------------
# L3/L1 SemDeDup-style semantic dedup ([EXT] — Abbas et al. 2023: drop
# near-duplicate *meanings*, not just near-duplicate strings, by
# deduplicating within k-means cells). Candidate generation here is the
# 100 TB-honest spelling:
#
#   1. two-round fixed-point Lloyd (k = 64 cells, shared helper above);
#   2. inside each cell, rank members by exact (distance-to-centroid,
#      vec_id) — near-identical vectors have near-identical d2, so they
#      land adjacent in this 1-D order;
#   3. verify cosine ONLY within a ±16-rank sorted neighborhood (the
#      classic sorted-neighborhood blocking from entity resolution) —
#      O(n·16) candidate pairs, never the O(Σ cell²) all-pairs-per-cell
#      of the naive SemDeDup verify;
#   4. a member is dropped if some LOWER-ranked neighbor is within
#      cosine > 0.92 of it (keep the representative closest to the
#      centroid; deterministic because the rank order is total).
#
# The paper scales k ∝ n to keep cells constant-sized; with the rank
# banding the verify stage is linear in n even at fixed k, so the plan
# survives a 100× scale-up either way (the n·k assignment term is the
# only k-dependent cost). Recall caveat vs all-pairs verify is the
# usual blocking trade-off and is bounded by the band width.
# ---------------------------------------------------------------------------

_SEMDEDUP_K = 64
_SEMDEDUP_BAND = 16
_SEMDEDUP_TAU = 0.92


def _semdedup_oracle() -> str:
    base = _kmeans_oracle(_SEMDEDUP_K)
    # reuse the unrolled Lloyd chain up to asg2, then swap the SELECT
    chain = base[: base.index("SELECT g.cluster")].rstrip() + ","
    cos = (
        f"CAST(list_dot_product(a.x2, b.x2) AS DOUBLE)"
        f" / (SQRT(CAST(list_dot_product(a.x2, a.x2) AS DOUBLE))"
        f" * SQRT(CAST(list_dot_product(b.x2, b.x2) AS DOUBLE)))"
    )
    return f"""{chain}
ranked AS (
  SELECT v2.vec_id, v2.x AS x2, a.cluster,
         ROW_NUMBER() OVER (PARTITION BY a.cluster
                            ORDER BY a.d2, v2.vec_id) AS rnk
  FROM v2 JOIN asg2 a USING (vec_id)
),
dropped AS (
  SELECT DISTINCT b.cluster, b.vec_id
  FROM ranked a JOIN ranked b
    ON a.cluster = b.cluster
   AND b.rnk > a.rnk AND b.rnk <= a.rnk + {_SEMDEDUP_BAND}
  WHERE {cos} > {_SEMDEDUP_TAU}
)
SELECT r.cluster,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(COUNT(d.vec_id) AS BIGINT) AS n_dropped,
       CAST(COUNT(*) - COUNT(d.vec_id) AS BIGINT) AS n_kept
FROM ranked r
LEFT JOIN dropped d ON d.cluster = r.cluster AND d.vec_id = r.vec_id
GROUP BY r.cluster
"""


@register("semantic_dedup_prune", oracle=_semdedup_oracle(), tags=("L3", "L1"))
def semantic_dedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    assign2, _ = _lloyd_two_rounds(spark, sf_dir, _SEMDEDUP_K)
    ranked = assign2.withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("cluster").orderBy(F.col("d2").asc(), F.col("vec_id").asc())
        ),
    )
    # J6 band-join spelling: bucket the rank at the band width and make
    # the bucket part of the JOIN KEY (a-side exploded to {p, p+1}, the
    # only buckets a (rnk_a, rnk_a + BAND] partner can live in). Without
    # it the join keys on cluster alone and enumerates O(s²) rank pairs
    # per cell before the range filter — measured alpha 1.09 at 10×;
    # with it each key holds O(BAND) partners and the stage is linear.
    bkt = F.expr(f"div(rnk, {_SEMDEDUP_BAND})")
    a = ranked.select(
        F.col("cluster").alias("cl"),
        F.col("rnk").alias("rnk_a"),
        F.col("x2").alias("xa"),
        F.explode(F.array(bkt, bkt + 1)).alias("jk"),
    )
    b = ranked.select(
        "cluster",
        F.col("rnk").alias("rnk_b"),
        F.col("x2").alias("xb"),
        "vec_id",
        bkt.alias("jk"),
    )
    dropped = (
        a.join(
            b,
            (a["cl"] == b["cluster"])
            & (a["jk"] == b["jk"])
            & (b["rnk_b"] > a["rnk_a"])
            & (b["rnk_b"] <= a["rnk_a"] + _SEMDEDUP_BAND),
        )
        .filter(quantized_cosine(F.col("xa"), F.col("xb")) > _SEMDEDUP_TAU)
        .select("cluster", "vec_id")
        .distinct()
    )
    return (
        ranked.join(dropped.withColumn("is_dropped", F.lit(1)), ["cluster", "vec_id"], "left")
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.count("is_dropped").cast("bigint").alias("n_dropped"),
            (F.count(F.lit(1)) - F.count("is_dropped")).cast("bigint").alias("n_kept"),
        )
    )


# ---------------------------------------------------------------------------
# L3 power-iteration principal component ([EXT] — the "what single
# direction explains this embedding table" probe behind PCA whitening,
# anisotropy checks, and ABTT-style common-direction removal). Six
# rounds of v <- requantize(Xᵀ(X v)) WITHOUT ever forming the d×d
# covariance — each round is
#
#   s_r = <x_r, v>            (one map-side exact int dot per row)
#   w_i = Σ_r s_r · x_{r,i}   (posexplode -> groupBy(dim): 64 result
#                              rows regardless of corpus size — the
#                              same partial-agg shape as Lloyd's update)
#   v'  = floor(100·w / max|w|)  (requantized to scale 100, pmod floor
#                                 division; GREATEST(,1) guards the
#                                 zero vector)
#
# Nothing materializes on the driver: each round's v and the
# normalization max|w| ride the plan as broadcast 1-row aggregates,
# so the whole chain is ONE lazy plan — per round one scan of the
# persisted quantized view, one keyed 64-row agg, two 1-row
# broadcasts; no shuffle of anything data-sized. Overflow audit at quantization scale 100
# (|x_q| <= ~100): s <= 64·100·100 = 6.4e5; per-row s·x_i <= 6.4e7;
# w <= n·6.4e7, and the requantization numerator 100·w <= n·6.4e9 ->
# int64-safe to n ~ 1.4e9 vectors (the binding term is the ×100 requant
# numerator, not w itself; beyond ~1e9 vectors sum w in decimal(38,0)
# and divide there). The division itself is exact integer `div`
# (_fdiv), so there is no 2^53 double-precision cliff anywhere in the
# chain — Spark and the HUGEINT-summing DuckDB oracle agree bit-for-bit
# over the audited range.
# ---------------------------------------------------------------------------

_POWER_ROUNDS = 6  # flat synthetic spectrum (λ1/λ2 ≈ 1.07): six rounds
_POWER_SCALE = 100  # lift the Rayleigh quotient past 0.85·λmax at every SF


def _power_oracle() -> str:
    head = f"""
WITH v AS (SELECT vec_id, {_SQL_QUANT100} AS x FROM embeddings),
pv0 AS (SELECT i, CAST({_POWER_SCALE} AS BIGINT) AS vi
        FROM UNNEST(range(1, {_DIM + 1})) t(i))"""
    step = """,
vl{j} AS (SELECT LIST(vi ORDER BY i) AS vlist FROM pv{j}),
s{i} AS (
  SELECT v.vec_id, v.x, CAST(list_dot_product(v.x, vl.vlist) AS BIGINT) AS s
  FROM v CROSS JOIN vl{j} vl
),
w{i} AS (
  SELECT t.i, SUM(s{i}.s * s{i}.x[t.i]) AS w
  FROM s{i}, UNNEST(range(1, {dim1})) t(i) GROUP BY t.i
),
m{i} AS (SELECT GREATEST(MAX(ABS(w)), 1) AS vmax FROM w{i}),
pv{i} AS (
  SELECT w{i}.i, CAST({fdiv} AS BIGINT) AS vi FROM w{i}, m{i}
)"""
    body = "".join(
        step.format(
            i=i,
            j=i - 1,
            dim1=_DIM + 1,
            fdiv=_sql_fdiv(f"w * {_POWER_SCALE}", "vmax"),
        )
        for i in range(1, _POWER_ROUNDS + 1)
    )
    return (
        head
        + body
        + f"\nSELECT CAST(i AS INT) AS dim_i, vi AS loading FROM pv{_POWER_ROUNDS}"
    )


@register("power_iteration_principal_dim", oracle=_power_oracle(), tags=("L3",))
def power_iteration_principal_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    # one matvec scan per round: persist the quantized view once
    v = tracked_persist(
        e.select("vec_id", quantize(F.col("embedding"), _POWER_SCALE).alias("x"))
    )
    # fully LAZY round chain — nothing collects: each round\'s v rides
    # the plan as a broadcast 1-row array aggregate (plans stay lazy,
    # tests/test_pipeline_integrity.py), and the requantization\'s
    # max|w| is another broadcast 1-row agg folded into the same plan
    vdf = None  # (i, vi) 64-row frame after each round
    for _ in range(_POWER_ROUNDS):
        if vdf is None:
            vlist = F.array(*[F.lit(_POWER_SCALE).cast("bigint")] * _DIM)
            s = v.select("x", int_dot(F.col("x"), vlist).alias("s"))
        else:
            varr = vdf.groupBy().agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "vi"))),
                    lambda t: t["vi"],
                ).alias("vl")
            )
            s = v.crossJoin(F.broadcast(varr)).select(
                "x", int_dot(F.col("x"), F.col("vl")).alias("s")
            )
        w = (
            s.select("s", F.posexplode("x").alias("p", "xi"))
            .select((F.col("p") + 1).alias("i"), (F.col("s") * F.col("xi")).alias("sx"))
            .groupBy("i")
            .agg(F.sum("sx").alias("w"))
        )
        # normalization over the 64-row dim frame: a partition-less
        # window here is metadata-sized by construction (exactly dim
        # rows after the keyed agg), and keeps w single-use so the
        # 6-round lazy chain stays linear, never re-evaluated
        from pyspark.sql import Window

        vmax = F.greatest(
            F.max(F.abs(F.col("w"))).over(Window.partitionBy()), F.lit(1)
        ).cast("bigint")
        vdf = w.select("i", _fdiv(F.col("w") * _POWER_SCALE, vmax).alias("vi"))
    return vdf.select(
        F.col("i").cast("int").alias("dim_i"), F.col("vi").cast("bigint").alias("loading")
    )


# ---------------------------------------------------------------------------
# L4 hashed-feature quality classifier ([EXT] — the fastText-style
# linear scorer CCNet/LLaMA-era pipelines run over every crawl page;
# here with a deterministic weight table so both engines replay it:
# bucket = md5(token) mod 64, weight = (bucket·2654435761) mod 1001
# - 500 (a Knuth-hash spread over [-500, 500]). A real deployment
# swaps in trained weights via the identical broadcast-free column
# expression; the SHAPE — score every token without a vocabulary join,
# one doc-keyed agg, one source-keyed agg — is what matters at 100 TB:
# the weight LOOKUP is join-free and Python-free (it lives inside the
# expression), though the per-doc score still pays the one
# token-explode shuffle every per-token scorer pays.
# ---------------------------------------------------------------------------

_HQ_BUCKETS = 64
_HQ_MOD = 1001
_HQ_MULT = 2654435761

_HASHED_QUALITY_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, source, UNNEST({_SQL_TOKS}) AS tk FROM documents
),
scored AS (
  SELECT doc_id, source,
         ((CAST(('0x' || substr(md5(tk), 1, 8)) AS BIGINT) % {_HQ_BUCKETS})
           * {_HQ_MULT}) % {_HQ_MOD} - 500 AS wt
  FROM tok
),
per_doc AS (
  SELECT doc_id, source,
         CAST(SUM(wt) AS BIGINT) AS score,
         CAST(COUNT(*) AS BIGINT) AS n_toks
  FROM scored GROUP BY doc_id, source
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       CAST(SUM(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
         AS keep_rate,
       CAST(SUM(score) AS DOUBLE) / SUM(n_toks) AS avg_token_score
FROM per_doc GROUP BY source
"""


def _hq_doc_scores(d: DataFrame, *extra_keys: str) -> DataFrame:
    """Per-document hashed-classifier scores — THE weight table and
    token hash, spelled once (its SQL twin is the tw/per_doc CTE pair
    in _HASHED_QUALITY_ORACLE / _CURRICULUM_ORACLE). Returns
    (doc_id, *extra_keys, score, n_toks)."""
    tok = d.select(
        "doc_id", *extra_keys, F.explode(textops.tokens("text")).alias("tk")
    )
    bucket = F.conv(F.substring(F.md5("tk"), 1, 8), 16, 10).cast("bigint") % _HQ_BUCKETS
    return (
        tok.select(
            "doc_id", *extra_keys, ((bucket * _HQ_MULT) % _HQ_MOD - 500).alias("wt")
        )
        .groupBy("doc_id", *extra_keys)
        .agg(
            F.sum("wt").cast("bigint").alias("score"),
            F.count(F.lit(1)).cast("bigint").alias("n_toks"),
        )
    )


@register("hashed_quality_classifier", oracle=_HASHED_QUALITY_ORACLE, tags=("L4",))
def hashed_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_doc = _hq_doc_scores(table(spark, sf_dir, "documents"), "source")
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum((F.col("score") > 0).cast("bigint")).cast("bigint").alias("n_pos"),
        (
            F.sum((F.col("score") > 0).cast("bigint")).cast("double") / F.count(F.lit(1))
        ).alias("keep_rate"),
        (F.sum("score").cast("double") / F.sum("n_toks")).alias("avg_token_score"),
    )


# ---------------------------------------------------------------------------
# L4/L1 duplicate-span coverage ([EXT] — the ExactSubstr signal of Lee
# et al. 2022 "Deduplicating Training Data Makes Language Models
# Better", at the 8-gram grain: per document, the fraction of token
# POSITIONS covered by at least one 8-gram that also appears in some
# other document). Differs from repetition_2gram_ratio (within-doc) and
# ngram_novelty_rate (first-occurrence): this measures how much of each
# doc's TEXT MASS is cross-document boilerplate, the number an
# exact-substring dedup pass would remove.
#
# Shape: gram explode (linear) -> gram-keyed distinct-doc count (one
# shuffle, map-side combinable) -> covered positions by exploding each
# duplicated gram occurrence to its 8 positions (<= 8× the gram rows,
# still linear) -> distinct (doc, pos) -> two keyed aggs. No pairing
# stage anywhere, so the 10× stress exponent is gram-volume-bound.
# ---------------------------------------------------------------------------

_SPAN_N = 8


def _span_tok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenized documents, persisted: every ExactSubstr-family stage
    (positions, grams, lengths) re-reads this frame, so one persist of
    the docs-sized tokenization replaces 2-3 re-tokenizations."""
    d = table(spark, sf_dir, "documents")
    return tracked_persist(
        d.select("doc_id", "source", textops.tokens("text").alias("toks")).filter(
            F.size("toks") > 0
        )
    )


def _span_grams(tok: DataFrame, persist: bool = True) -> DataFrame:
    """(doc_id, pos, gh1, gh2): every 8-gram occurrence with its gram
    string INTERNED to a 2x64-bit xxhash64 pair before any shuffle.
    ``persist=False`` skips the cache for single-consumer callers
    (e.g. the incremental delta/base sides, each consumed once).

    The gram strings average ~50 bytes; everything downstream (the
    duplicated-gram agg and the coverage join) only needs gram
    IDENTITY, so hashing them to 16 bytes cuts the two gram-keyed
    shuffles' bytes ~3x and makes the sort/agg comparisons fixed-width.
    Two independent 64-bit hashes (second salted) give an effective
    128-bit key: at 1e13 grams (100 TB scale) the expected number of
    colliding pairs is ~(1e13)^2/2^129 ~ 1.5e-13 — identity-exact for
    every physically realizable corpus, unlike a single 64-bit key
    whose ~3e6 expected collisions at that scale would leak false
    coverage. Persisted: consumed by both the dup agg and the cov join.
    """
    g = (
        tok.filter(F.size("toks") >= _SPAN_N)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - (_SPAN_N - 1)),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.array_join(F.slice("toks", i, _SPAN_N), " ").alias("gram"),
                    ),
                )
            ).alias("pg"),
        )
        .select(
            "doc_id",
            F.col("pg.pos").alias("pos"),
            F.xxhash64(F.col("pg.gram")).alias("gh1"),
            F.xxhash64(F.lit("espan2"), F.col("pg.gram")).alias("gh2"),
        )
    )
    return tracked_persist(g) if persist else g


def _span_covered(g: DataFrame) -> DataFrame:
    """Distinct (doc_id, p) token positions covered by at least one
    cross-document 8-gram — the shared coverage core of the
    ExactSubstr family. Linear stages only: gram-keyed distinct-doc
    count (one 16-byte-keyed shuffle, map-side combinable), a
    semi-join-shaped filter back onto occurrences, an 8x position
    explode, one distinct."""
    dup = (
        g.groupBy("gh1", "gh2")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gh1", "gh2")
    )
    return (
        g.join(dup, ["gh1", "gh2"])
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + (_SPAN_N - 1))).alias("p"),
        )
        .distinct()
    )


_DUP_SPAN_ORACLE = f"""
WITH tok AS (SELECT doc_id, source, {_SQL_TOKS} AS toks FROM documents),
lens AS (SELECT doc_id, source, LEN(toks) AS n_toks FROM tok),
g AS (
  SELECT doc_id, t.i AS pos,
         array_to_string(toks[t.i:t.i+{_SPAN_N - 1}], ' ') AS gram
  FROM tok, UNNEST(range(1, LEN(toks) - {_SPAN_N - 2})) t(i)
  WHERE LEN(toks) >= {_SPAN_N}
),
dup AS (
  SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
),
cov AS (
  SELECT DISTINCT g.doc_id, g.pos + o.k AS p
  FROM g JOIN dup USING (gram), UNNEST(range(0, {_SPAN_N})) o(k)
),
per_doc AS (
  SELECT l.doc_id, l.source, l.n_toks,
         COALESCE(c.n_cov, 0) AS n_cov
  FROM lens l LEFT JOIN (
    SELECT doc_id, COUNT(*) AS n_cov FROM cov GROUP BY doc_id
  ) c USING (doc_id)
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
       CAST(SUM(n_cov) AS BIGINT) AS covered_tokens,
       CAST(SUM(n_cov) AS DOUBLE) / SUM(n_toks) AS dup_coverage,
       CAST(SUM(CASE WHEN 2*n_cov >= n_toks THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_half_dup
FROM per_doc WHERE n_toks > 0 GROUP BY source
"""


@register("duplicate_span_coverage", oracle=_DUP_SPAN_ORACLE, tags=("L4", "L1"))
def duplicate_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = _span_tok(spark, sf_dir)
    lens = tok.select("doc_id", "source", F.size("toks").cast("bigint").alias("n_toks"))
    cov = (
        _span_covered(_span_grams(tok))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_cov"))
    )
    per_doc = lens.join(cov, "doc_id", "left").select(
        "source", "n_toks", F.coalesce("n_cov", F.lit(0)).alias("n_cov")
    )
    return (
        per_doc.filter(F.col("n_toks") > 0)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("total_tokens"),
            F.sum("n_cov").cast("bigint").alias("covered_tokens"),
            (F.sum("n_cov").cast("double") / F.sum("n_toks")).alias("dup_coverage"),
            F.sum((2 * F.col("n_cov") >= F.col("n_toks")).cast("bigint"))
            .cast("bigint")
            .alias("n_docs_half_dup"),
        )
    )


# ---------------------------------------------------------------------------
# L6 source token-budget planning ([EXT] — the epoch table a data-mix
# design starts from: under an equal-share mix across sources, how many
# epochs (repeats) of each source are needed, and which sources are
# oversampled past 1 epoch — the Muennighoff et al. 2023 "repeat up to
# 4 epochs" budget question). Pure integer arithmetic: share in ppm by
# floor division, epochs by ceil division; both engines replay exactly.
# One scan, one source-keyed agg (map-side combinable), a 1-row total
# broadcast back — nothing data-sized moves twice.
# ---------------------------------------------------------------------------

_TOKEN_BUDGET_ORACLE = f"""
WITH per_source AS (
  SELECT source, CAST(SUM(LEN({_SQL_TOKS})) AS BIGINT) AS tokens
  FROM documents GROUP BY source
),
tot AS (
  SELECT SUM(tokens) AS total, COUNT(*) AS n_sources FROM per_source
)
SELECT p.source,
       p.tokens,
       CAST((p.tokens * 1000000) // t.total AS BIGINT) AS share_ppm,
       CAST(t.total // t.n_sources AS BIGINT) AS target_tokens,
       CAST((t.total // t.n_sources + p.tokens - 1) // p.tokens AS BIGINT)
         AS epochs_needed,
       CAST(t.total // t.n_sources > p.tokens AS BOOLEAN) AS oversampled
FROM per_source p, tot t
"""


@register("source_token_budget_epochs", oracle=_TOKEN_BUDGET_ORACLE, tags=("L6",))
def source_token_budget_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(
        F.sum(F.size(textops.tokens("text"))).cast("bigint").alias("tokens")
    )
    tot = per_source.agg(
        F.sum("tokens").alias("total"), F.count(F.lit(1)).alias("n_sources")
    )
    # all quantities non-negative: expr("div") integer division == floor
    return per_source.crossJoin(F.broadcast(tot)).select(
        "source",
        "tokens",
        F.expr("div(tokens * 1000000, total)").cast("bigint").alias("share_ppm"),
        F.expr("div(total, n_sources)").cast("bigint").alias("target_tokens"),
        F.expr("div(div(total, n_sources) + tokens - 1, tokens)")
        .cast("bigint")
        .alias("epochs_needed"),
        (F.expr("div(total, n_sources)") > F.col("tokens")).alias("oversampled"),
    )


# ---------------------------------------------------------------------------
# L4/L6 IQR length outliers ([EXT] — the truncation/garbage screen run
# before any length-sensitive sampling: per language, nearest-rank
# quartiles of n_chars and Tukey-fence outlier counts). Quartiles are
# NEAREST-RANK (ceil(q·n)) on a (n_chars, doc_id) total order — pure
# integer selection, no interpolation, so both engines pick the
# identical element; the 1.5·IQR fences are cross-multiplied into
# integer comparisons (2·x vs 2·q3 + 3·IQR) to keep everything exact.
# Shape: one window rank per language + a 4-row-per-lang broadcast back
# — the window is the only shuffle and partitions by lang.
# ---------------------------------------------------------------------------

_IQR_ORACLE = """
WITH ranked AS (
  SELECT lang, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rnk,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM documents
),
quart AS (
  SELECT lang,
         MAX(CASE WHEN rnk = (n + 3) // 4 THEN n_chars END) AS q1,
         MAX(CASE WHEN rnk = (3*n + 3) // 4 THEN n_chars END) AS q3
  FROM ranked GROUP BY lang
)
SELECT r.lang,
       CAST(MAX(r.n) AS BIGINT) AS n_docs,
       CAST(MAX(q.q1) AS BIGINT) AS q1_chars,
       CAST(MAX(q.q3) AS BIGINT) AS q3_chars,
       CAST(SUM(CASE WHEN 2*r.n_chars > 2*q.q3 + 3*(q.q3 - q.q1)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_high_outliers,
       CAST(SUM(CASE WHEN 2*r.n_chars < 2*q.q1 - 3*(q.q3 - q.q1)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_low_outliers
FROM ranked r JOIN quart q USING (lang)
GROUP BY r.lang
"""


@register("iqr_length_outliers", oracle=_IQR_ORACLE, tags=("L4", "L6"))
def iqr_length_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    wlang = Window.partitionBy("lang")
    ranked = d.select(
        "lang",
        "n_chars",
        F.row_number().over(wlang.orderBy("n_chars", "doc_id")).alias("rnk"),
        F.count(F.lit(1)).over(wlang).alias("n"),
    )
    quart = ranked.groupBy("lang").agg(
        F.max(
            F.when(F.col("rnk") == F.expr("div(n + 3, 4)"), F.col("n_chars"))
        ).alias("q1"),
        F.max(
            F.when(F.col("rnk") == F.expr("div(3*n + 3, 4)"), F.col("n_chars"))
        ).alias("q3"),
    )
    return (
        ranked.join(F.broadcast(quart), "lang")
        .groupBy("lang")
        .agg(
            F.max("n").cast("bigint").alias("n_docs"),
            F.max("q1").cast("bigint").alias("q1_chars"),
            F.max("q3").cast("bigint").alias("q3_chars"),
            F.sum(
                (
                    2 * F.col("n_chars") > 2 * F.col("q3") + 3 * (F.col("q3") - F.col("q1"))
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("n_high_outliers"),
            F.sum(
                (
                    2 * F.col("n_chars") < 2 * F.col("q1") - 3 * (F.col("q3") - F.col("q1"))
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("n_low_outliers"),
        )
    )


# ---------------------------------------------------------------------------
# L4 language-ID confusion matrix ([EXT] — the eval harness for the
# lang_id_heuristic classifier: labeled vs predicted counts and
# per-label hit rate). Reuses the per-doc classifier query as a
# subplan (one scan, the CASE argmax is a JVM expression), then one
# (labeled, predicted)-keyed agg and a labeled-keyed margin join —
# the matrix is bounded by |langs|² regardless of corpus size.
# ---------------------------------------------------------------------------


def _lang_confusion_oracle() -> str:
    from .llm_text import _LANGID_ORACLE

    return f"""
WITH per_doc AS ({_LANGID_ORACLE}),
m AS (
  SELECT labeled_lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM per_doc GROUP BY labeled_lang, predicted_lang
),
marg AS (
  SELECT labeled_lang, SUM(n_docs) AS n_labeled FROM m GROUP BY labeled_lang
)
SELECT m.labeled_lang, m.predicted_lang, m.n_docs,
       CAST(marg.n_labeled AS BIGINT) AS n_labeled,
       CAST(m.labeled_lang = m.predicted_lang AS BOOLEAN) AS is_hit,
       CAST(m.n_docs AS DOUBLE) / marg.n_labeled AS rate
FROM m JOIN marg ON m.labeled_lang = marg.labeled_lang
"""


@register("lang_confusion_matrix", oracle=_lang_confusion_oracle(), tags=("L4",))
def lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm_text import lang_id_heuristic

    per_doc = lang_id_heuristic(spark, sf_dir)
    m = per_doc.groupBy("labeled_lang", "predicted_lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    marg = m.groupBy("labeled_lang").agg(F.sum("n_docs").alias("n_labeled"))
    return m.join(F.broadcast(marg), "labeled_lang").select(
        "labeled_lang",
        "predicted_lang",
        "n_docs",
        F.col("n_labeled").cast("bigint").alias("n_labeled"),
        (F.col("labeled_lang") == F.col("predicted_lang")).alias("is_hit"),
        (F.col("n_docs").cast("double") / F.col("n_labeled")).alias("rate"),
    )


# ---------------------------------------------------------------------------
# L4 Zipf-law slope ([EXT] — the corpus-health scalar next to the
# Heaps-law vocab_growth_curve: how steeply does term frequency decay
# with rank? Fit count ≈ C·rank^(-s) by least squares on whole-bit
# logs: x = floor(log2 rank), y = floor(log2 count), both via the
# LENGTH(bin(·))-1 spelling three other queries share, so every sum in
# the closed-form slope  s = (nΣxy - ΣxΣy) / (nΣx² - (Σx)²)  is an
# exact integer; the single division at the end is the only double.
# Ranking the vocabulary is the one scale-sensitive step: it routes
# through with_global_row_number (operators/relational.py) — range-
# partitioned local ranks lifted by broadcast prefix offsets, never a
# single-reducer global window. Everything after is one 5-integer agg.
# ---------------------------------------------------------------------------

_ZIPF_ORACLE = f"""
WITH tok AS (SELECT UNNEST({_SQL_TOKS}) AS term FROM documents),
tc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY term),
ranked AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, term ASC) AS rnk FROM tc
),
bits AS (
  SELECT LENGTH(bin(rnk)) - 1 AS x, LENGTH(bin(c)) - 1 AS y FROM ranked
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x*y) AS BIGINT) AS sxy, CAST(SUM(x*x) AS BIGINT) AS sxx
  FROM bits
)
SELECT n AS n_terms, sx, sy, sxy, sxx,
       CAST(n*sxy - sx*sy AS BIGINT) AS slope_num,
       CAST(n*sxx - sx*sx AS BIGINT) AS slope_den,
       CAST(n*sxy - sx*sy AS DOUBLE) / (n*sxx - sx*sx) AS zipf_slope
FROM s
"""


@register("zipf_fit_slope", oracle=_ZIPF_ORACLE, tags=("L4", "G1"))
def zipf_fit_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import with_global_row_number

    d = table(spark, sf_dir, "documents")
    tok = d.select(F.explode(textops.tokens("text")).alias("term"))
    tc = tok.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    ranked = with_global_row_number(
        tc, [F.col("c").desc(), F.col("term").asc()], "rnk"
    )
    bits = ranked.select(
        (F.length(F.bin("rnk")) - 1).alias("x"),
        (F.length(F.bin("c")) - 1).alias("y"),
    )
    s = bits.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    return s.select(
        F.col("n").alias("n_terms"),
        "sx",
        "sy",
        "sxy",
        "sxx",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("bigint")
        .alias("slope_num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("bigint")
        .alias("slope_den"),
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        ).alias("zipf_slope"),
    )


# ---------------------------------------------------------------------------
# L2 MinHash estimator calibration ([EXT] — the sketch-quality audit a
# dedup rollout runs before trusting LSH candidates: for every banded
# candidate pair, the signature-estimated Jaccard (matching minima /
# num_hashes) next to the exact shingle Jaccard. Reuses the md5-
# permutation spelling of minhash_md5_neardup (plans/llm_text.py) so
# DuckDB replays signatures, band keys, candidates, and both
# estimates. No cross-row float arithmetic: every row carries integer
# (n_matches, n_inter, n_union) and two per-row double divisions — the
# frame stays hashable, and a monitoring layer can aggregate the
# integers however it likes. Candidate generation is the banded join
# (never all-pairs); the signature columns ride only the pair join,
# keyed by doc id.
# ---------------------------------------------------------------------------


def _minhash_calibration_oracle() -> str:
    from .llm_text import _md5_sig_band_sql

    sig_cols, band_selects = _md5_sig_band_sql()
    from .llm_text import _MH_HASHES

    match_sum = " + ".join(
        f"CASE WHEN x.m{i} = y.m{i} THEN 1 ELSE 0 END" for i in range(_MH_HASHES)
    )
    return f"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, LEN(toks) - 1),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS grams
  FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
  WHERE LEN(toks) >= 3
),
sig AS (
  SELECT doc_id, LEN(grams) AS n,
         {sig_cols}
  FROM sh
),
banded AS (
  {band_selects}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b,
       CAST({match_sum} AS INT) AS n_matches,
       CAST(LEN(list_intersect(gx.grams, gy.grams)) AS BIGINT) AS n_inter,
       CAST(LEN(gx.grams) + LEN(gy.grams)
            - LEN(list_intersect(gx.grams, gy.grams)) AS BIGINT) AS n_union,
       CAST({match_sum} AS DOUBLE) / {_MH_HASHES} AS est_jaccard,
       CAST(LEN(list_intersect(gx.grams, gy.grams)) AS DOUBLE)
         / (LEN(gx.grams) + LEN(gy.grams)
            - LEN(list_intersect(gx.grams, gy.grams))) AS exact_jaccard
FROM cand c
JOIN sig x ON c.id_a = x.doc_id JOIN sig y ON c.id_b = y.doc_id
JOIN sh gx ON c.id_a = gx.doc_id JOIN sh gy ON c.id_b = gy.doc_id
"""


@register(
    "minhash_estimate_calibration", oracle=_minhash_calibration_oracle(), tags=("L2", "G10")
)
def minhash_estimate_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import _band_candidates, _md5_banded, _md5_minhash, _shingle_base
    from .llm_text import _MH_BANDS, _MH_HASHES

    base = _shingle_base(table(spark, sf_dir, "documents"), "doc_id", "text", 3)
    sig = base.select(
        "__id",
        "__sh",
        *[m.alias(f"m{i}") for i, m in enumerate(_md5_minhash(F.col("__sh"), _MH_HASHES))],
    )
    cand = _band_candidates(_md5_banded(base, _MH_HASHES, _MH_BANDS)).select("id_a", "id_b")
    sx = sig.select(
        F.col("__id").alias("id_a"),
        F.col("__sh").alias("gx"),
        *[F.col(f"m{i}").alias(f"xa{i}") for i in range(_MH_HASHES)],
    )
    sy = sig.select(
        F.col("__id").alias("id_b"),
        F.col("__sh").alias("gy"),
        *[F.col(f"m{i}").alias(f"yb{i}") for i in range(_MH_HASHES)],
    )
    matches = sum(
        (F.col(f"xa{i}") == F.col(f"yb{i}")).cast("int") for i in range(_MH_HASHES)
    )
    n_inter = F.size(F.array_intersect("gx", "gy"))
    n_union = F.size("gx") + F.size("gy") - n_inter
    return (
        cand.join(sx, "id_a")
        .join(sy, "id_b")
        .select(
            "id_a",
            "id_b",
            matches.cast("int").alias("n_matches"),
            n_inter.cast("bigint").alias("n_inter"),
            n_union.cast("bigint").alias("n_union"),
            (matches.cast("double") / _MH_HASHES).alias("est_jaccard"),
            (n_inter.cast("double") / n_union).alias("exact_jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# L2/L3 sparse TF-IDF document similarity ([EXT] — the inverted-index
# counterpart of the dense embedding ANN family: "documents like this
# one" by weighted lexical overlap, the retrieval leg RAG stacks run
# beside vector search). The similarity unit is the word TRIGRAM, not
# the unigram: the testdata's vocabulary is deliberately tiny, so
# every single word is corpus-saturated (df ~ n_docs) and any useful
# df band over unigrams empties at sf >= 0.1 — shingles make the term
# space combinatorial, exactly like the near-dup family. Integer
# weights w = tf · floor(log2(N div df)) (the house bit-length idf),
# postings DF-BANDED at df <= 50 so
# the term-keyed self-join is bounded by Σ df² over rare-ish terms —
# the same candidate envelope as the inverted-index near-dup queries,
# never an all-pairs stage. Dots and square norms are exact BIGINTs;
# cosine is the one final double (identical IEEE sequence in both
# engines); top-5 per document under a (cosine DESC, doc_id ASC) total
# order via a doc-partitioned window (WindowGroupLimit pushes the
# rank filter into the shuffle).
# ---------------------------------------------------------------------------

_TFIDF_SIM_DF_MAX = 50
_TFIDF_SIM_K = 5

_TFIDF_SIM_ORACLE = f"""
WITH tok AS (
  SELECT doc_id,
         UNNEST(list_transform(range(1, LEN(toks) - 1),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS term
  FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
  WHERE LEN(toks) >= 3
),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok GROUP BY doc_id, term
),
df AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
),
n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM documents),
w AS (
  SELECT t.doc_id, t.term,
         t.tf * (LENGTH(bin(n.n_docs // d.df)) - 1) AS w
  FROM tf t JOIN df d ON t.term = d.term, n
  WHERE d.df <= {_TFIDF_SIM_DF_MAX}
),
nrm AS (SELECT doc_id, SUM(w*w) AS sq FROM w GROUP BY doc_id),
dots AS (
  SELECT a.doc_id AS doc_id, b.doc_id AS other_id, SUM(a.w * b.w) AS dot
  FROM w a JOIN w b ON a.term = b.term AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
scored AS (
  SELECT d.doc_id, d.other_id,
         CAST(d.dot AS BIGINT) AS dot,
         CAST(d.dot AS DOUBLE)
           / (SQRT(CAST(x.sq AS DOUBLE)) * SQRT(CAST(y.sq AS DOUBLE))) AS cosine
  FROM dots d JOIN nrm x ON d.doc_id = x.doc_id JOIN nrm y ON d.other_id = y.doc_id
)
SELECT doc_id, other_id, dot, cosine, CAST(rnk AS INT) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY cosine DESC, other_id ASC) AS rnk
  FROM scored
)
WHERE rnk <= {_TFIDF_SIM_K}
"""


def _tfidf_trigram_weights(d: DataFrame) -> DataFrame:
    """(doc_id, term, w): integer TF-IDF trigram weights over the given
    corpus — tf · bit-length idf, postings df-banded at
    df <= _TFIDF_SIM_DF_MAX. The corpus argument is the only thing that
    varies between callers (tfidf_doc_similarity_topk: all documents;
    hybrid_rrf_retrieval: the embedded slice), and df/n_docs are
    computed over exactly that corpus so the weights stay
    self-consistent."""
    toks = textops.tokens("text")
    tok = d.filter(F.size(toks) >= 3).select(
        "doc_id", F.explode(textops.shingles(toks, 3)).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    n = d.agg(F.countDistinct("doc_id").cast("bigint").alias("n_docs"))
    return (
        tf.join(df.filter(F.col("df") <= _TFIDF_SIM_DF_MAX), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            (
                F.col("tf") * (F.length(F.bin(F.expr("n_docs div df"))) - 1)
            ).alias("w"),
        )
    )


@register("tfidf_doc_similarity_topk", oracle=_TFIDF_SIM_ORACLE, tags=("L2", "L3"))
def tfidf_doc_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import topk_per_group

    d = table(spark, sf_dir, "documents")
    # persisted: consumed by norms AND the pair join
    w = _tfidf_trigram_weights(d).transform(tracked_persist)
    nrm = w.groupBy("doc_id").agg(F.sum(F.col("w") * F.col("w")).alias("sq"))
    a = w.select(F.col("doc_id").alias("doc_id"), "term", F.col("w").alias("wa"))
    b = w.select(F.col("doc_id").alias("other_id"), "term", F.col("w").alias("wb"))
    dots = (
        a.join(b, "term")
        .filter(F.col("doc_id") != F.col("other_id"))
        .groupBy("doc_id", "other_id")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    nx = nrm.select(F.col("doc_id"), F.col("sq").alias("sqx"))
    ny = nrm.select(F.col("doc_id").alias("other_id"), F.col("sq").alias("sqy"))
    scored = (
        dots.join(nx, "doc_id")
        .join(ny, "other_id")
        .select(
            "doc_id",
            "other_id",
            F.col("dot").cast("bigint").alias("dot"),
            (
                F.col("dot").cast("double")
                / (F.sqrt(F.col("sqx").cast("double")) * F.sqrt(F.col("sqy").cast("double")))
            ).alias("cosine"),
        )
    )
    return topk_per_group(
        scored,
        ["doc_id"],
        [F.col("cosine").desc(), F.col("other_id").asc()],
        _TFIDF_SIM_K,
        rank_col="rnk",
    ).select("doc_id", "other_id", "dot", "cosine", F.col("rnk").cast("int").alias("rnk"))


# ---------------------------------------------------------------------------
# L3/L4 hybrid retrieval with reciprocal-rank fusion ([EXT] — round-13:
# the standard RAG-stack retrieval shape. A lexical ranking (the sparse
# TF-IDF trigram cosine above — the inverted-index leg) and a semantic
# ranking (exact quantized-cosine over `embeddings`, the dense leg —
# plans/llm_vector.py's ann_cosine_topk machinery) are computed for the
# same bounded strided query panel over the same corpus (documents that
# HAVE an embedding: ids are shared across the two tables), then fused
# per query as the sum of integer reciprocal-rank contributions
# 1e6 // (60 + rank) over each system's top-20 list (Cormack/Clarke/
# Buettcher RRF, k0=60) — a candidate missing from one list simply
# contributes 0 from that side. Every fusion quantity is an exact
# BIGINT, so the fused (rrf_ppm DESC, c_id ASC) top-10 is
# bit-reproducible cross-engine; the only doubles are the two legs'
# rank-order cosines (identical IEEE sequence both sides, the house
# precedent). Scale shape: the lexical leg is df-banded postings keyed
# by term with the query side semi-joined down to the O(1) panel — the
# same bounded-candidate envelope as tfidf_doc_similarity_topk; the
# dense leg streams the corpus once through the GEMM scorer; the fusion
# itself is a full-outer join of two ~panel×20-row lists — metadata
# scale regardless of corpus size.
# ---------------------------------------------------------------------------

_RRF_K0 = 60  # the standard RRF dampener
_RRF_LIST_K = 20  # per-system list depth entering the fusion
_RRF_OUT_K = 10  # fused emission depth

_HYBRID_RRF_ORACLE = f"""
WITH emb_ids AS (
  SELECT DISTINCT vec_id FROM embeddings
),
emb_docs AS (
  SELECT d.doc_id, d.text FROM documents d JOIN emb_ids e ON d.doc_id = e.vec_id
),
s AS (
  SELECT GREATEST(50, CAST(COUNT(*) // 100 AS BIGINT)) AS stride FROM embeddings
),
qids AS (
  SELECT vec_id AS q_id FROM embeddings, s WHERE vec_id % s.stride = 0
),
tok AS (
  SELECT doc_id,
         UNNEST(list_transform(range(1, LEN(toks) - 1),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS term
  FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM emb_docs)
  WHERE LEN(toks) >= 3
),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY doc_id, term
),
df AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
),
n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM emb_docs),
w AS (
  SELECT t.doc_id, t.term,
         t.tf * (LENGTH(bin(n.n_docs // d.df)) - 1) AS w
  FROM tf t JOIN df d ON t.term = d.term, n
  WHERE d.df <= {_TFIDF_SIM_DF_MAX}
),
nrm AS (SELECT doc_id, SUM(w*w) AS sq FROM w GROUP BY doc_id),
ldots AS (
  SELECT a.doc_id AS q_id, b.doc_id AS c_id, SUM(a.w * b.w) AS dot
  FROM w a
  JOIN qids q ON a.doc_id = q.q_id
  JOIN w b ON a.term = b.term AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
lex AS (
  SELECT q_id, c_id, rnk FROM (
    SELECT d.q_id, d.c_id,
           ROW_NUMBER() OVER (PARTITION BY d.q_id ORDER BY
             CAST(d.dot AS DOUBLE)
               / (SQRT(CAST(x.sq AS DOUBLE)) * SQRT(CAST(y.sq AS DOUBLE))) DESC,
             d.c_id ASC) AS rnk
    FROM ldots d JOIN nrm x ON d.q_id = x.doc_id JOIN nrm y ON d.c_id = y.doc_id
  ) WHERE rnk <= {_RRF_LIST_K}
),
v AS (SELECT vec_id, {_SQL_QUANT_EMB} AS qv FROM embeddings),
nv AS (
  SELECT vec_id, qv, SQRT(CAST(list_dot_product(qv, qv) AS DOUBLE)) AS nrm FROM v
),
sem AS (
  SELECT q_id, c_id, rnk FROM (
    SELECT q.vec_id AS q_id, c.vec_id AS c_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
             CAST(list_dot_product(q.qv, c.qv) AS DOUBLE) / (q.nrm * c.nrm) DESC,
             c.vec_id ASC) AS rnk
    FROM nv c
    JOIN nv q ON q.vec_id <> c.vec_id
    JOIN qids qq ON q.vec_id = qq.q_id
  ) WHERE rnk <= {_RRF_LIST_K}
),
fused AS (
  SELECT COALESCE(l.q_id, m.q_id) AS q_id,
         COALESCE(l.c_id, m.c_id) AS c_id,
         COALESCE(l.rnk, 0) AS lex_rnk,
         COALESCE(m.rnk, 0) AS sem_rnk,
         (CASE WHEN l.rnk IS NULL THEN 0
               ELSE 1000000 // ({_RRF_K0} + l.rnk) END
        + CASE WHEN m.rnk IS NULL THEN 0
               ELSE 1000000 // ({_RRF_K0} + m.rnk) END) AS rrf_ppm
  FROM lex l FULL OUTER JOIN sem m ON l.q_id = m.q_id AND l.c_id = m.c_id
)
SELECT q_id, c_id, CAST(lex_rnk AS INT) AS lex_rnk, CAST(sem_rnk AS INT) AS sem_rnk,
       CAST(rrf_ppm AS BIGINT) AS rrf_ppm, CAST(rnk AS INT) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rrf_ppm DESC, c_id ASC)
    AS rnk
  FROM fused
) WHERE rnk <= {_RRF_OUT_K}
"""


@register("hybrid_rrf_retrieval", oracle=_HYBRID_RRF_ORACLE, tags=("L3", "L4"))
def hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import topk_per_group
    from ..operators.similarity import gemm_exact_topk
    from .llm_vector import _strided_queries

    d = table(spark, sf_dir, "documents")
    e = table(spark, sf_dir, "embeddings")
    # the hybrid corpus: documents that have an embedding (shuffle semi
    # join on id — both sides are corpus-sized at scale, no broadcast)
    emb_ids = e.select(F.col("vec_id").alias("doc_id")).distinct()
    dd = d.join(emb_ids, "doc_id", "left_semi")

    # lexical leg: integer TF-IDF trigram postings over the hybrid
    # corpus (persisted: consumed by norms AND the pair join)
    w = _tfidf_trigram_weights(dd).transform(tracked_persist)
    nrm = w.groupBy("doc_id").agg(F.sum(F.col("w") * F.col("w")).alias("sq"))
    panel = _strided_queries(e).select(F.col("vec_id").alias("doc_id"))
    qw = w.join(panel, "doc_id", "left_semi")
    a = qw.select(F.col("doc_id").alias("q_id"), "term", F.col("w").alias("wa"))
    b = w.select(F.col("doc_id").alias("c_id"), "term", F.col("w").alias("wb"))
    ldots = (
        a.join(b, "term")
        .filter(F.col("q_id") != F.col("c_id"))
        .groupBy("q_id", "c_id")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    nx = nrm.select(F.col("doc_id").alias("q_id"), F.col("sq").alias("sqx"))
    ny = nrm.select(F.col("doc_id").alias("c_id"), F.col("sq").alias("sqy"))
    lex_scored = (
        ldots.join(nx, "q_id")
        .join(ny, "c_id")
        .select(
            "q_id",
            "c_id",
            (
                F.col("dot").cast("double")
                / (F.sqrt(F.col("sqx").cast("double")) * F.sqrt(F.col("sqy").cast("double")))
            ).alias("cosine"),
        )
    )
    lex = topk_per_group(
        lex_scored,
        ["q_id"],
        [F.col("cosine").desc(), F.col("c_id").asc()],
        _RRF_LIST_K,
        rank_col="rnk",
    ).select("q_id", "c_id", F.col("rnk").alias("lex_rnk"))

    # semantic leg: exact quantized-cosine top-20 for the same panel
    # (GEMM scorer — corpus streams once, query side is O(1))
    sem = gemm_exact_topk(
        _strided_queries(e), e, "vec_id", "vec_id", "embedding", k=_RRF_LIST_K
    ).select("q_id", "c_id", F.col("rnk").alias("sem_rnk"))

    # integer RRF fusion over the union of the two lists
    fused = (
        lex.join(sem, ["q_id", "c_id"], "full_outer")
        .select(
            "q_id",
            "c_id",
            F.coalesce("lex_rnk", F.lit(0)).cast("int").alias("lex_rnk"),
            F.coalesce("sem_rnk", F.lit(0)).cast("int").alias("sem_rnk"),
        )
        .withColumn(
            "rrf_ppm",
            (
                F.when(
                    F.col("lex_rnk") > 0,
                    F.expr(f"1000000 div ({_RRF_K0} + lex_rnk)"),
                ).otherwise(F.lit(0))
                + F.when(
                    F.col("sem_rnk") > 0,
                    F.expr(f"1000000 div ({_RRF_K0} + sem_rnk)"),
                ).otherwise(F.lit(0))
            ).cast("bigint"),
        )
    )
    return topk_per_group(
        fused,
        ["q_id"],
        [F.col("rrf_ppm").desc(), F.col("c_id").asc()],
        _RRF_OUT_K,
        rank_col="rnk",
    ).select(
        "q_id", "c_id", "lex_rnk", "sem_rnk", "rrf_ppm",
        F.col("rnk").cast("int").alias("rnk"),
    )


# ---------------------------------------------------------------------------
# L3/L6 context-window packing under a token budget ([EXT] — round-13:
# the serving-side step between retrieval and the prompt — a RAG stack
# walks the fused ranking in order and keeps stuffing passages until
# the context budget is spent. Prefix-stop policy (include a candidate
# iff the running token total THROUGH it fits; the first overflow ends
# the context), which preserves rank contiguity — the property prompt
# builders rely on. Consumes hybrid_rrf_retrieval's fused top-10
# as-is (the oracle nests that query's SQL verbatim as a CTE, so the
# two stay in lockstep); token costs are the house whitespace counts.
# All integers: the cumulative window sum and the budget comparison
# replay exactly. Scale: the fused result is panel × 10 rows; the one
# corpus-sized stage is the token-count scan it joins.
# ---------------------------------------------------------------------------

_CTX_BUDGET_TOKENS = 120

_CTX_PACK_ORACLE = f"""
WITH fused_out AS (
{_HYBRID_RRF_ORACLE}
),
cost AS (
  SELECT doc_id, CAST(LEN({_SQL_TOKS}) AS BIGINT) AS n_toks FROM documents
),
ranked AS (
  SELECT f.q_id, f.c_id, f.rnk, c.n_toks,
         SUM(c.n_toks) OVER (PARTITION BY f.q_id ORDER BY f.rnk
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
  FROM fused_out f JOIN cost c ON f.c_id = c.doc_id
)
SELECT q_id, c_id, CAST(rnk AS INT) AS rnk,
       CAST(n_toks AS BIGINT) AS n_toks,
       CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM ranked WHERE cum_tokens <= {_CTX_BUDGET_TOKENS}
"""


@register(
    "retrieval_context_budget_pack", oracle=_CTX_PACK_ORACLE, tags=("L3", "L6", "W3")
)
def retrieval_context_budget_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    fused = hybrid_rrf_retrieval(spark, sf_dir).select("q_id", "c_id", "rnk")
    cost = d.select(
        F.col("doc_id").alias("c_id"),
        F.size(textops.tokens("text")).cast("bigint").alias("n_toks"),
    )
    w = (
        Window.partitionBy("q_id")
        .orderBy(F.col("rnk").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = fused.join(cost, "c_id").select(
        "q_id",
        "c_id",
        F.col("rnk").cast("int").alias("rnk"),
        "n_toks",
        F.sum("n_toks").over(w).cast("bigint").alias("cum_tokens"),
    )
    return ranked.filter(F.col("cum_tokens") <= _CTX_BUDGET_TOKENS)


# ---------------------------------------------------------------------------
# Q1/G-family Benford first-digit audit ([EXT] — the forensic
# data-quality screen for fabricated or truncated money columns: the
# first significant digit of natural amounts follows log10(1+1/d)).
# The expected shares are pinned as integer PPM LITERALS (floor of the
# irrational law at 1e-6) so both engines compare against the same
# rational constants; observed shares are floor-division ppm; the
# deviation column is an exact integer. First digit is extracted from
# the DECIMAL(12,2) cents string — no float log10 anywhere. One scan,
# one 9-row agg, a 1-row total broadcast back.
# ---------------------------------------------------------------------------

# floor(log10(1 + 1/d) * 1e6), d = 1..9 — shared literal table
_BENFORD_PPM = {
    1: 301029, 2: 176091, 3: 124938, 4: 96910,
    5: 79181, 6: 66946, 7: 57991, 8: 51152, 9: 45757,
}

_BENFORD_CASE = "CASE digit " + " ".join(
    f"WHEN {d} THEN {p}" for d, p in _BENFORD_PPM.items()
) + " END"

_BENFORD_ORACLE = f"""
WITH cents AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS c
  FROM orders
),
d AS (
  SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT) AS digit FROM cents
  WHERE c > 0
),
obs AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_orders FROM d GROUP BY digit),
tot AS (SELECT SUM(n_orders) AS n FROM obs)
SELECT digit,
       n_orders,
       CAST((n_orders * 1000000) // t.n AS BIGINT) AS obs_ppm,
       CAST({_BENFORD_CASE} AS BIGINT) AS exp_ppm,
       CAST(ABS((n_orders * 1000000) // t.n - ({_BENFORD_CASE})) AS BIGINT)
         AS abs_dev_ppm
FROM obs, tot t
"""


@register("benford_price_audit", oracle=_BENFORD_ORACLE, tags=("Q1", "G1"))
def benford_price_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    cents = o.select(
        (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint").alias("c")
    ).filter(F.col("c") > 0)
    d = cents.select(F.substring(F.col("c").cast("string"), 1, 1).cast("int").alias("digit"))
    obs = d.groupBy("digit").agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    tot = obs.agg(F.sum("n_orders").alias("n"))
    exp_ppm = F.create_map(
        *[F.lit(x) for kv in _BENFORD_PPM.items() for x in kv]
    )[F.col("digit")].cast("bigint")
    return obs.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n_orders",
        F.expr("div(n_orders * 1000000, n)").cast("bigint").alias("obs_ppm"),
        exp_ppm.alias("exp_ppm"),
        F.abs(F.expr("div(n_orders * 1000000, n)") - exp_ppm).cast("bigint").alias(
            "abs_dev_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# L4/L6 classifier calibration bins ([EXT] — the reliability table for
# hashed_quality_classifier: documents deciled by score under the
# (score, doc_id) total order; per decile the keep rate and mean
# length. Reads like a calibration curve without any float binning:
# bin = (rank-1)·10 div n, nearest-rank exact in both engines. The
# global decile split routes through a single ROW_NUMBER window — at
# web scale you'd swap in with_global_row_number exactly like
# vocab_dense_ids; the per-doc score stage is the same no-join scan as
# the classifier itself.
# ---------------------------------------------------------------------------

_CALIB_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, UNNEST({_SQL_TOKS}) AS tk FROM documents
),
scored AS (
  SELECT doc_id,
         CAST(SUM(((CAST(('0x' || substr(md5(tk), 1, 8)) AS BIGINT) % {_HQ_BUCKETS})
           * {_HQ_MULT}) % {_HQ_MOD} - 500) AS BIGINT) AS score,
         CAST(COUNT(*) AS BIGINT) AS n_toks
  FROM tok GROUP BY doc_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY score, doc_id) AS rnk,
         COUNT(*) OVER () AS n
  FROM scored
)
SELECT CAST(((rnk - 1) * 10) // n AS INT) AS score_decile,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(score) AS BIGINT) AS min_score,
       CAST(MAX(score) AS BIGINT) AS max_score,
       CAST(SUM(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       CAST(SUM(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
         AS keep_rate,
       CAST(SUM(n_toks) AS DOUBLE) / COUNT(*) AS avg_tokens
FROM ranked GROUP BY ((rnk - 1) * 10) // n
"""


@register("classifier_calibration_bins", oracle=_CALIB_ORACLE, tags=("L4", "L6"))
def classifier_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(textops.tokens("text")).alias("tk"))
    bucket = F.conv(F.substring(F.md5("tk"), 1, 8), 16, 10).cast("bigint") % _HQ_BUCKETS
    scored = (
        tok.select("doc_id", ((bucket * _HQ_MULT) % _HQ_MOD - 500).alias("wt"))
        .groupBy("doc_id")
        .agg(
            F.sum("wt").cast("bigint").alias("score"),
            F.count(F.lit(1)).cast("bigint").alias("n_toks"),
        )
    )
    ranked = scored.select(
        "*",
        F.row_number().over(Window.orderBy("score", "doc_id")).alias("rnk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    return (
        ranked.groupBy(F.expr("div((rnk - 1) * 10, n)").cast("int").alias("score_decile"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("score").cast("bigint").alias("min_score"),
            F.max("score").cast("bigint").alias("max_score"),
            F.sum((F.col("score") > 0).cast("bigint")).cast("bigint").alias("n_keep"),
            (
                F.sum((F.col("score") > 0).cast("bigint")).cast("double")
                / F.count(F.lit(1))
            ).alias("keep_rate"),
            (F.sum("n_toks").cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# L1/L2 online first-writer-wins banded dedup ([EXT] — the INGEST-time
# shape of near-dup dedup: as documents arrive, a doc is flagged
# duplicate the moment ANY of its MinHash band keys has already been
# written by an earlier (lower doc_id) document. This is the streaming
# admission-control semantics (drop-on-arrival), as opposed to the
# offline pair/cluster queries that see the whole corpus at once — and
# it is what a crawler front-end actually runs. Same md5-permutation
# signatures and band keys as minhash_md5_neardup, so the whole
# decision replays hash-exact in SQL; the streaming twin
# (stream_banded_dedup_state, streaming/jobs.py) folds the identical
# rule through per-band-key GroupState and is equality-tested.
# Shape: one band explode, one (band,key)-keyed MIN agg, one join back,
# one doc-keyed agg — all O(n·bands), no pair enumeration anywhere, so
# it scales where the pair queries are output-bound.
# ---------------------------------------------------------------------------


def _banded_first_writer_oracle() -> str:
    from .llm_text import _md5_sig_band_sql

    sig_cols, band_selects = _md5_sig_band_sql()
    return f"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, LEN(toks) - 1),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS grams
  FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
  WHERE LEN(toks) >= 3
),
sig AS (
  SELECT doc_id, LEN(grams) AS n,
         {sig_cols}
  FROM sh
),
banded AS (
  {band_selects}
),
first AS (
  SELECT band, key, MIN(doc_id) AS first_doc FROM banded GROUP BY band, key
)
SELECT b.doc_id,
       CAST(COUNT(*) AS INT) AS n_bands,
       CAST(SUM(CASE WHEN f.first_doc < b.doc_id THEN 1 ELSE 0 END) AS INT)
         AS n_dup_bands,
       CAST(SUM(CASE WHEN f.first_doc < b.doc_id THEN 1 ELSE 0 END) > 0
            AS BOOLEAN) AS is_dup
FROM banded b JOIN first f ON b.band = f.band AND b.key = f.key
GROUP BY b.doc_id
"""


@register(
    "banded_dedup_first_writer", oracle=_banded_first_writer_oracle(), tags=("L1", "L2")
)
def banded_dedup_first_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import _md5_banded, _shingle_base
    from .llm_text import _MH_BANDS, _MH_HASHES

    base = _shingle_base(table(spark, sf_dir, "documents"), "doc_id", "text", 3)
    banded = _md5_banded(base, _MH_HASHES, _MH_BANDS)
    first = banded.groupBy("band", "key").agg(F.min("__id").alias("first_doc"))
    return (
        banded.join(first, ["band", "key"])
        .groupBy(F.col("__id").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_bands"),
            F.sum((F.col("first_doc") < F.col("__id")).cast("int"))
            .cast("int")
            .alias("n_dup_bands"),
            (
                F.sum((F.col("first_doc") < F.col("__id")).cast("int")) > 0
            ).alias("is_dup"),
        )
    )


# ---------------------------------------------------------------------------
# L1/L4 duplicate-span REMOVAL transform ([EXT] — the transform the
# coverage query above only measures: excise every token position
# covered by a cross-document 8-gram and emit the surviving text. This
# is the ExactSubstr removal step of Lee et al. 2022 at the 8-gram
# grain — the documents that come OUT of a dedup pipeline, not just
# the report about them. The rebuilt text is verified by md5 in BOTH
# engines (kept_text_md5), so the oracle pins the exact surviving
# byte sequence of every document, not merely the counts.
# Shape: the coverage query's linear stages plus one anti join
# (kept = positions \\ covered) and a per-doc ordered rebuild — the
# collect_list is per-document-bounded (document token count), never
# corpus-sized.
# ---------------------------------------------------------------------------

_SPAN_REMOVAL_ORACLE = f"""
WITH tok AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
pos AS (
  SELECT doc_id, t.i AS p, toks[t.i] AS tk
  FROM tok, UNNEST(range(1, LEN(toks) + 1)) t(i)
  WHERE LEN(toks) > 0
),
g AS (
  SELECT doc_id, t.i AS pos,
         array_to_string(toks[t.i:t.i+{_SPAN_N - 1}], ' ') AS gram
  FROM tok, UNNEST(range(1, LEN(toks) - {_SPAN_N - 2})) t(i)
  WHERE LEN(toks) >= {_SPAN_N}
),
dup AS (
  SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
),
cov AS (
  SELECT DISTINCT g.doc_id, g.pos + o.k AS p
  FROM g JOIN dup USING (gram), UNNEST(range(0, {_SPAN_N})) o(k)
),
kept AS (
  SELECT pos.doc_id, pos.p, pos.tk
  FROM pos LEFT JOIN cov ON pos.doc_id = cov.doc_id AND pos.p = cov.p
  WHERE cov.p IS NULL
)
SELECT pos.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) - COUNT(k.p) AS BIGINT) AS n_removed,
       CAST(COUNT(k.p) AS BIGINT) AS n_kept,
       CAST(COUNT(k.p) AS DOUBLE) / COUNT(*) AS kept_fraction,
       md5(COALESCE(STRING_AGG(k.tk, ' ' ORDER BY k.p), '')) AS kept_text_md5
FROM pos LEFT JOIN kept k ON pos.doc_id = k.doc_id AND pos.p = k.p
GROUP BY pos.doc_id
"""


@register("duplicate_span_removal", oracle=_SPAN_REMOVAL_ORACLE, tags=("L1", "L4"))
def duplicate_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tok is persisted and consumed 3x (positions, grams, lengths) —
    # one tokenization pass instead of three; grams carry 16-byte
    # interned keys instead of ~50-byte strings (see _span_grams)
    tok = _span_tok(spark, sf_dir)
    pos = tok.select(
        "doc_id", F.posexplode("toks").alias("p0", "tk")
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "tk")
    cov = _span_covered(_span_grams(tok))
    kept = pos.join(cov, ["doc_id", "p"], "left_anti")
    # per-doc ordered rebuild: the collect_list is bounded by one
    # document's token count — never corpus-sized
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "tk"))),
                    lambda t: t["tk"],
                ),
                " ",
            )
        ).alias("kept_text_md5"),
    )
    # lengths come straight off the persisted token arrays — no second
    # pass over the exploded positions frame
    lens = tok.select("doc_id", F.size("toks").cast("bigint").alias("n_tokens"))
    return (
        lens.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
            .cast("bigint")
            .alias("n_removed"),
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            (
                F.coalesce("n_kept", F.lit(0)).cast("double") / F.col("n_tokens")
            ).alias("kept_fraction"),
            F.coalesce("kept_text_md5", F.md5(F.lit(""))).alias("kept_text_md5"),
        )
    )


# ---------------------------------------------------------------------------
# L1/L4 TRUE ExactSubstr removal at maximal-run grain ([EXT] — the full
# Lee et al. 2022 semantics: where duplicate_span_removal excises EVERY
# position covered by a cross-document 8-gram, ExactSubstr removes only
# MAXIMAL duplicated runs of >= 50 tokens, keeping short incidental
# overlaps (idioms, boilerplate fragments) that aren't memorization
# risks. The suffix-array step of the paper is replaced by the
# composition that Spark expresses natively:
#
#   covered positions (8-gram grain, _span_covered)
#     -> gaps-and-islands sessionization per doc: grp = p - row_number()
#        over (doc ORDER BY p) — adjacent covered positions share grp,
#        any gap starts a new island (the same machinery as
#        plans/events.py session windows)
#     -> maximal-run lengths per (doc, grp); only runs >= _EXSUB_MIN_RUN
#        are excised
#     -> anti-join against positions, per-doc ordered rebuild.
#
# Why this equals suffix-array ExactSubstr at the 8-gram probe grain: a
# duplicated substring of L >= 50 tokens shared by two documents makes
# all L-7 of its 8-grams cross-document duplicates, covering exactly
# its L positions as one contiguous island; conversely an island of
# length L is a union of overlapping duplicated 8-grams, i.e. every
# token in it sits inside some cross-document duplicate. (Two distinct
# shorter duplicates can abut and merge into one island — the standard
# over-approximation any fixed-grain prefilter makes; at 50x the probe
# grain the effect is the conservative direction, removing slightly
# more.)
#
# Scale shape: everything before the window is the shared linear
# coverage core (interned 16-byte gram keys, persisted single
# tokenization); the window is partitioned BY DOC — thousands of
# positions max per partition key, never a global sort. The rebuild
# collect_list stays per-doc-bounded. The oracle replays the islands
# arithmetic verbatim and pins the surviving text md5 per document.
# ---------------------------------------------------------------------------

_EXSUB_MIN_RUN = 50  # Lee et al. 2022 ExactSubstr removal threshold

# the full CTE chain (tokenize -> coverage -> islands -> removal) is
# shared by the per-doc oracle and the corpus-level stats oracle below
_EXSUB_CHAIN = f"""
WITH tok AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
lens AS (SELECT doc_id, LEN(toks) AS n_tokens FROM tok WHERE LEN(toks) > 0),
pos AS (
  SELECT doc_id, t.i AS p, toks[t.i] AS tk
  FROM tok, UNNEST(range(1, LEN(toks) + 1)) t(i)
  WHERE LEN(toks) > 0
),
g AS (
  SELECT doc_id, t.i AS pos,
         array_to_string(toks[t.i:t.i+{_SPAN_N - 1}], ' ') AS gram
  FROM tok, UNNEST(range(1, LEN(toks) - {_SPAN_N - 2})) t(i)
  WHERE LEN(toks) >= {_SPAN_N}
),
dup AS (
  SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
),
cov AS (
  SELECT DISTINCT g.doc_id, g.pos + o.k AS p
  FROM g JOIN dup USING (gram), UNNEST(range(0, {_SPAN_N})) o(k)
),
runs AS (
  SELECT doc_id, p,
         p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS grp
  FROM cov
),
rl AS (
  SELECT doc_id, grp, COUNT(*) AS run_len FROM runs GROUP BY doc_id, grp
),
doc_runs AS (
  SELECT doc_id,
         COUNT(*) AS n_runs,
         MAX(run_len) AS max_run_len,
         SUM(CASE WHEN run_len >= {_EXSUB_MIN_RUN} THEN 1 ELSE 0 END) AS n_removed_runs
  FROM rl GROUP BY doc_id
),
removed AS (
  SELECT r.doc_id, r.p
  FROM runs r JOIN rl USING (doc_id, grp)
  WHERE rl.run_len >= {_EXSUB_MIN_RUN}
),
kept AS (
  SELECT pos.doc_id, pos.p, pos.tk
  FROM pos LEFT JOIN removed x ON pos.doc_id = x.doc_id AND pos.p = x.p
  WHERE x.p IS NULL
),
rebuilt AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_kept,
         md5(STRING_AGG(tk, ' ' ORDER BY p)) AS kept_md5
  FROM kept GROUP BY doc_id
),
per_doc AS (
SELECT l.doc_id,
       CAST(l.n_tokens AS BIGINT) AS n_tokens,
       CAST(COALESCE(d.n_runs, 0) AS INT) AS n_runs,
       CAST(COALESCE(d.max_run_len, 0) AS INT) AS max_run_len,
       CAST(COALESCE(d.n_removed_runs, 0) AS INT) AS n_removed_runs,
       CAST(l.n_tokens - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
       CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(COALESCE(r.n_kept, 0) AS DOUBLE) / l.n_tokens AS kept_fraction,
       COALESCE(r.kept_md5, md5('')) AS kept_text_md5
FROM lens l
LEFT JOIN doc_runs d USING (doc_id)
LEFT JOIN rebuilt r USING (doc_id)
)"""

_EXSUB_ORACLE = _EXSUB_CHAIN + "\nSELECT * FROM per_doc"


@register("exact_substr_span_removal", oracle=_EXSUB_ORACLE, tags=("L1", "L4"))
def exact_substr_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    tok = _span_tok(spark, sf_dir)
    pos = tok.select("doc_id", F.posexplode("toks").alias("p0", "tk")).select(
        "doc_id", (F.col("p0") + 1).alias("p"), "tk"
    )
    cov = _span_covered(_span_grams(tok))
    # gaps-and-islands: covered positions of one doc, adjacent p share
    # (p - row_number) — a per-DOC window, partition-bounded by the
    # longest document, never a global sort
    w = Window.partitionBy("doc_id").orderBy("p")
    runs = cov.select("doc_id", "p", (F.col("p") - F.row_number().over(w)).alias("grp"))
    # runs is consumed twice (run-length agg + removed-position join):
    # persist so the coverage core doesn't replay per consumer
    runs = tracked_persist(runs)
    rl = runs.groupBy("doc_id", "grp").agg(
        F.count(F.lit(1)).alias("run_len"),
    )
    doc_runs = rl.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_runs"),
        F.max("run_len").cast("int").alias("max_run_len"),
        F.sum((F.col("run_len") >= _EXSUB_MIN_RUN).cast("int"))
        .cast("int")
        .alias("n_removed_runs"),
    )
    removed = runs.join(
        rl.filter(F.col("run_len") >= _EXSUB_MIN_RUN).select("doc_id", "grp"),
        ["doc_id", "grp"],
    ).select("doc_id", "p")
    kept = pos.join(removed, ["doc_id", "p"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "tk"))),
                    lambda t: t["tk"],
                ),
                " ",
            )
        ).alias("kept_md5"),
    )
    lens = tok.select("doc_id", F.size("toks").cast("bigint").alias("n_tokens"))
    return (
        lens.join(doc_runs, "doc_id", "left")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_runs", F.lit(0)).cast("int").alias("n_runs"),
            F.coalesce("max_run_len", F.lit(0)).cast("int").alias("max_run_len"),
            F.coalesce("n_removed_runs", F.lit(0)).cast("int").alias("n_removed_runs"),
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
            .cast("bigint")
            .alias("n_removed"),
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            (
                F.coalesce("n_kept", F.lit(0)).cast("double") / F.col("n_tokens")
            ).alias("kept_fraction"),
            F.coalesce("kept_md5", F.md5(F.lit(""))).alias("kept_text_md5"),
        )
    )


# ---------------------------------------------------------------------------
# L3 common-direction removal ([EXT] — the "all-but-the-top" (ABTT,
# Mu & Viswanath 2018) anisotropy correction: project out the
# principal direction the power iteration found and report, per label,
# how much squared mass the top component carried. COMPOSES the
# power-iteration chain — the oracle NESTS all six unrolled rounds and
# then replays the projection, so the correctness hash pins the whole
# two-stage pipeline end to end.
#
# Fixed-point design: the direction is requantized to scale 32
# (w32 = floor(32·v/100)) so every residual component
# r_i = x_i·|w|² − (x·w)·w_i stays small enough that the per-vector
# residual dot Σ r_i² <= ~3.7e15 < 2^53 — exact in DuckDB's
# double-returning list_dot_product AND in int64. Per-label sums ride
# DECIMAL(38,0)/HUGEINT; the removed-mass ratio is one final double
# expression spelled identically in both engines.
# Shape: the power chain's per-round costs plus ONE extra scan with a
# broadcast 65-element direction — volume-linear.
# ---------------------------------------------------------------------------


def _abtt_oracle() -> str:
    base = _power_oracle()
    chain = base[: base.index("\nSELECT CAST(i AS INT)")].rstrip() + ","
    w32 = _sql_fdiv("vi * 32", "100")
    return f"""{chain}
wl AS (
  SELECT LIST(CAST({w32} AS BIGINT) ORDER BY i) AS w FROM pv{_POWER_ROUNDS}
),
base AS (
  SELECT e.label, v.x, wl.w,
         CAST(list_dot_product(wl.w, wl.w) AS BIGINT) AS vv2
  FROM v JOIN embeddings e USING (vec_id), wl
),
per_vec AS (
  SELECT label, vv2,
         CAST(list_dot_product(x, x) AS BIGINT) AS sqb,
         CAST(list_dot_product(
           list_transform(range(1, {_DIM + 1}), i ->
             x[i] * vv2 - CAST(list_dot_product(x, w) AS BIGINT) * w[i]),
           list_transform(range(1, {_DIM + 1}), i ->
             x[i] * vv2 - CAST(list_dot_product(x, w) AS BIGINT) * w[i])
         ) AS BIGINT) AS sqa_scaled
  FROM base
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(MIN(vv2) AS BIGINT) AS vv2,
       CAST(SUM(sqb) AS BIGINT) AS sum_sq_before,
       CAST(SUM(sqa_scaled) AS DOUBLE) AS sum_sq_after_scaled,
       1.0 - CAST(SUM(sqa_scaled) AS DOUBLE)
             / (CAST(SUM(sqb) AS DOUBLE) * CAST(MIN(vv2) AS DOUBLE)
                * CAST(MIN(vv2) AS DOUBLE)) AS removed_mass_ratio
FROM per_vec GROUP BY label
"""


@register("embedding_common_direction_removal", oracle=_abtt_oracle(), tags=("L3",))
def embedding_common_direction_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    v = e.select("vec_id", "label", quantize(F.col("embedding"), _POWER_SCALE).alias("x"))
    wdf = power_iteration_principal_dim(spark, sf_dir)
    wl = wdf.groupBy().agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct("dim_i", _fdiv(F.col("loading") * 32, F.lit(100)).alias("w32"))
                )
            ),
            lambda t: t["w32"],
        ).alias("w")
    )
    base = v.crossJoin(F.broadcast(wl)).withColumn(
        "vv2", int_dot(F.col("w"), F.col("w"))
    )
    pn = int_dot(F.col("x"), F.col("w"))
    r = F.zip_with(
        F.col("x"), F.col("w"), lambda xi, wi: xi * F.col("vv2") - pn * wi
    )
    per_vec = base.select(
        "label",
        "vv2",
        int_dot(F.col("x"), F.col("x")).alias("sqb"),
        int_dot(r, r).alias("sqa_scaled"),
    )
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.min("vv2").cast("bigint").alias("vv2"),
        F.sum("sqb").cast("bigint").alias("sum_sq_before"),
        F.sum(F.col("sqa_scaled").cast("decimal(38,0)"))
        .cast("double")
        .alias("sum_sq_after_scaled"),
        (
            F.lit(1.0)
            - F.sum(F.col("sqa_scaled").cast("decimal(38,0)")).cast("double")
            / (
                F.sum("sqb").cast("double")
                * F.min("vv2").cast("double")
                * F.min("vv2").cast("double")
            )
        ).alias("removed_mass_ratio"),
    )


# ---------------------------------------------------------------------------
# L6 temperature-scaled source mixing ([EXT] — the p_i^alpha sampling
# law multilingual/multi-source training mixes use (mT5, XLM-R style):
# alpha=1 reproduces the corpus proportions, alpha=0 the equal-share
# table (source_token_budget_epochs' target column is exactly the
# alpha=0 row set), alpha=1/2 the square-root compromise that
# up-weights small sources without drowning large ones. One row per
# (source, alpha_halves in {0,1,2}), with the alpha=1/2 weight
# computed as an INTEGER sqrt so the whole table replays bit-exact:
#
#   s0 = max(1, floor(sqrt_double(tokens)))   -- IEEE seed, both
#                                                engines correctly
#                                                rounded
#   s1 = (s0 + tokens div s0) div 2           -- one Newton step: for
#                                                any s0 > 0 this lands
#                                                >= floor(sqrt), and
#                                                within +1 of it when
#                                                s0 is within +-2
#   isq = s1 - [s1*s1 > tokens]               -- floor correction
#
# Floor contract: IEEE-correct sqrt keeps the seed within +-1 of the
# true floor for tokens < 2^52 (exact double representation + <= 0.5
# ulp), the Newton step maps any such seed into {floor, floor+1}, and
# the correction lands exactly floor — verified by a 200k-sample
# hypothesis sweep in tests/test_mlprep.py. Products total*weight and
# weight*1e6 cross int64 near 100 TB token counts, so both ride
# decimal(38,0)/HUGEINT with the quotient (always <= total) back in
# int64 — Spark's div on decimals is exact whenever the quotient fits.
# Scale shape: one scan, one source-keyed agg, a 3-row and a 1-row
# broadcast back. The oracle replays seed, Newton step, correction,
# and every floor division verbatim.
# ---------------------------------------------------------------------------

_TEMP_MIX_ORACLE = f"""
WITH per_source AS (
  SELECT source, CAST(SUM(LEN({_SQL_TOKS})) AS BIGINT) AS tokens
  FROM documents GROUP BY source
  HAVING SUM(LEN({_SQL_TOKS})) > 0
),
tot AS (SELECT SUM(tokens) AS total FROM per_source),
seeded AS (
  SELECT source, tokens,
         GREATEST(1, CAST(FLOOR(SQRT(CAST(tokens AS DOUBLE))) AS BIGINT)) AS s0
  FROM per_source
),
newt AS (SELECT source, tokens, (s0 + tokens // s0) // 2 AS s1 FROM seeded),
isq AS (
  SELECT source, tokens,
         s1 - CASE WHEN s1 * s1 > tokens THEN 1 ELSE 0 END AS r
  FROM newt
),
w AS (
  SELECT source, tokens, a.alpha_halves,
         CASE a.alpha_halves WHEN 0 THEN 1 WHEN 1 THEN r ELSE tokens END
           AS mix_weight
  FROM isq, (SELECT UNNEST([0, 1, 2]) AS alpha_halves) a
),
sw AS (SELECT alpha_halves, SUM(mix_weight) AS sum_w FROM w GROUP BY 1)
SELECT w.source,
       CAST(w.alpha_halves AS INT) AS alpha_halves,
       w.tokens,
       CAST(w.mix_weight AS BIGINT) AS mix_weight,
       CAST(CAST(w.mix_weight AS HUGEINT) * 1000000 // sw.sum_w AS BIGINT)
         AS share_ppm,
       CAST(CAST(t.total AS HUGEINT) * w.mix_weight // sw.sum_w AS BIGINT)
         AS target_tokens,
       CAST((CAST(t.total AS HUGEINT) * w.mix_weight // sw.sum_w
             + w.tokens - 1) // w.tokens AS BIGINT) AS epochs_needed,
       CAST(t.total AS HUGEINT) * w.mix_weight // sw.sum_w > w.tokens
         AS oversampled
FROM w JOIN sw USING (alpha_halves), tot t
"""


def _isqrt(n: Column) -> Column:
    """floor(sqrt(n)) for 1 <= n < 2^52, exact (see block comment)."""
    s0 = F.greatest(
        F.lit(1).cast("bigint"), F.floor(F.sqrt(n.cast("double"))).cast("bigint")
    )
    s1 = F.call_function(
        "div", s0 + F.call_function("div", n, s0), F.lit(2).cast("bigint")
    )
    return s1 - (s1 * s1 > n).cast("bigint")


@register("temperature_scaled_mix", oracle=_TEMP_MIX_ORACLE, tags=("L6",))
def temperature_scaled_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    per_source = (
        d.groupBy("source")
        .agg(F.sum(F.size(textops.tokens("text"))).cast("bigint").alias("tokens"))
        # a source whose documents tokenize to nothing has no epochs_needed
        # (division by tokens) — engines diverge on x/0, so exclude it here
        # and in the oracle's HAVING alike
        .filter(F.col("tokens") > 0)
    )
    w = (
        per_source.withColumn("isq", _isqrt(F.col("tokens")))
        .select(
            "source",
            "tokens",
            "isq",
            F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("alpha_halves"),
        )
        .withColumn(
            "mix_weight",
            F.when(F.col("alpha_halves") == 0, F.lit(1).cast("bigint"))
            .when(F.col("alpha_halves") == 1, F.col("isq"))
            .otherwise(F.col("tokens")),
        )
    )
    sw = w.groupBy("alpha_halves").agg(F.sum("mix_weight").alias("sum_w"))
    tot = per_source.agg(F.sum("tokens").alias("total"))

    def dec(c: Column) -> Column:
        return c.cast("decimal(38,0)")

    target = F.call_function(
        "div", dec(F.col("total")) * dec(F.col("mix_weight")), dec(F.col("sum_w"))
    )
    share = F.call_function(
        "div",
        dec(F.col("mix_weight")) * F.lit(1_000_000).cast("decimal(38,0)"),
        dec(F.col("sum_w")),
    )
    return (
        w.join(F.broadcast(sw), "alpha_halves")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("alpha_halves").cast("int").alias("alpha_halves"),
            "tokens",
            F.col("mix_weight").cast("bigint").alias("mix_weight"),
            share.cast("bigint").alias("share_ppm"),
            target.cast("bigint").alias("target_tokens"),
            F.call_function("div", target + F.col("tokens") - 1, F.col("tokens"))
            .cast("bigint")
            .alias("epochs_needed"),
            (target > F.col("tokens")).alias("oversampled"),
        )
    )


# ---------------------------------------------------------------------------
# L3/L1 two-level (coarse-to-fine) SemDeDup ([EXT] — the SemDeDup
# paper scales k ~ n to keep cells constant-sized, but FLAT Lloyd
# assignment costs O(n·k) distance rows, which caps k. The standard
# escalation is hierarchical assignment: k1 coarse cells, then k2 fine
# cells WITHIN each coarse cell — k = k1·k2 effective clusters at
# O(n·(k1+k2)) = O(n·√k) assignment cost (k1=k2=√k). Here k1=k2=8:
# the same 64 cells as the flat semantic_dedup_prune at 1/4 the
# assignment rows, and the recipe extends to k ~ 1e6 (1000×1000) where
# flat assignment is hopeless.
#
# Construction (all fixed-point, every step oracle-replayed):
#   coarse = the shared two-round Lloyd recipe at k1 (seeds = lowest
#     vec_ids, one exact-integer update, scale-1e6 requant, re-assign);
#   fine   = within each coarse cell: seeds = the k2 lowest vec_ids OF
#     THAT CELL, one floor-mean update at scale 1e6 (exact _fdiv), one
#     re-assign against the cell's own <= k2 centroids — a c1-keyed
#     broadcast join, never a cross join against all 64;
#   prune  = the identical SemDeDup verify as semantic_dedup_prune
#     (rank by (d2, vec_id) inside each fine cell, ±16-rank sorted-
#     neighborhood cosine > 0.92, drop the higher-ranked member), at
#     the (c1, c2) grain.
#
# Scale shape: two broadcast assignment stages of O(n·8) rows each,
# two keyed centroid updates of (cells × dim) result rows, then the
# linear banded verify — no stage is O(n·k). Empty fine cells keep
# their seed vector (an exact-duplicate seed can lose its own members
# to a lower-numbered twin), mirroring the coarse COALESCE.
# ---------------------------------------------------------------------------

_SEM2_K1 = 8
_SEM2_K2 = 8


def _semdedup_2level_oracle() -> str:
    d1 = _sql_l2_dist("v.x", "s.c")
    dc = _sql_l2_dist("v2.x", "cf.c")
    df1 = _sql_l2_dist("m.x", "f.fc")
    df2 = _sql_l2_dist("m.x", "cf.fc")
    ci = _sql_fdiv("1000*s", "n")
    fci = _sql_fdiv("s", "n")
    cos = (
        "CAST(list_dot_product(a.x, b.x) AS DOUBLE)"
        " / (SQRT(CAST(list_dot_product(a.x, a.x) AS DOUBLE))"
        " * SQRT(CAST(list_dot_product(b.x, b.x) AS DOUBLE)))"
    )
    return f"""
WITH v AS (SELECT vec_id, {_SQL_QUANT} AS x FROM embeddings),
seeds AS (SELECT CAST(vec_id AS INT) AS c1, x AS c FROM v WHERE vec_id < {_SEM2_K1}),
a1 AS (
  SELECT v.vec_id, MIN([{d1}, CAST(s.c1 AS BIGINT)]) AS m
  FROM v CROSS JOIN seeds s GROUP BY v.vec_id
),
asg1 AS (SELECT vec_id, CAST(m[2] AS INT) AS c1 FROM a1),
comp AS (
  SELECT a.c1, t.i, v.x[t.i] AS xi
  FROM v JOIN asg1 a USING (vec_id), UNNEST(range(1, {_DIM + 1})) t(i)
),
upd AS (SELECT c1, i, SUM(xi) AS s, COUNT(*) AS n FROM comp GROUP BY c1, i),
cent AS (
  SELECT c1, LIST(CAST({ci} AS BIGINT) ORDER BY i) AS c FROM upd GROUP BY c1
),
cent_full AS (
  SELECT sd.c1, COALESCE(ct.c, list_transform(sd.c, y -> y*1000)) AS c
  FROM seeds sd LEFT JOIN cent ct ON sd.c1 = ct.c1
),
v2 AS (SELECT vec_id, list_transform(x, y -> y*1000) AS x FROM v),
ac AS (
  SELECT v2.vec_id, MIN([{dc}, CAST(cf.c1 AS BIGINT)]) AS m
  FROM v2 CROSS JOIN cent_full cf GROUP BY v2.vec_id
),
m AS (
  SELECT v2.vec_id, CAST(ac.m[2] AS INT) AS c1, v2.x
  FROM v2 JOIN ac USING (vec_id)
),
fseeds AS (
  SELECT c1,
         CAST(ROW_NUMBER() OVER (PARTITION BY c1 ORDER BY vec_id) - 1 AS INT)
           AS c2,
         x AS fc
  FROM m
  QUALIFY ROW_NUMBER() OVER (PARTITION BY c1 ORDER BY vec_id) <= {_SEM2_K2}
),
fa1 AS (
  SELECT m.vec_id, m.c1, MIN([{df1}, CAST(f.c2 AS BIGINT)]) AS fm
  FROM m JOIN fseeds f USING (c1) GROUP BY m.vec_id, m.c1
),
fasg1 AS (SELECT vec_id, c1, CAST(fm[2] AS INT) AS c2 FROM fa1),
fcomp AS (
  SELECT a.c1, a.c2, t.i, m.x[t.i] AS xi
  FROM m JOIN fasg1 a USING (vec_id, c1), UNNEST(range(1, {_DIM + 1})) t(i)
),
fupd AS (SELECT c1, c2, i, SUM(xi) AS s, COUNT(*) AS n FROM fcomp GROUP BY c1, c2, i),
fcent AS (
  SELECT c1, c2, LIST(CAST({fci} AS BIGINT) ORDER BY i) AS fc
  FROM fupd GROUP BY c1, c2
),
fcent_full AS (
  SELECT fs.c1, fs.c2, COALESCE(fc.fc, fs.fc) AS fc
  FROM fseeds fs LEFT JOIN fcent fc ON fs.c1 = fc.c1 AND fs.c2 = fc.c2
),
fa2 AS (
  SELECT m.vec_id, m.c1, MIN([{df2}, CAST(cf.c2 AS BIGINT)]) AS fm
  FROM m JOIN fcent_full cf USING (c1) GROUP BY m.vec_id, m.c1
),
ranked AS (
  SELECT m.vec_id, m.x, m.c1, CAST(fa2.fm[2] AS INT) AS c2, fa2.fm[1] AS d2,
         ROW_NUMBER() OVER (PARTITION BY m.c1, CAST(fa2.fm[2] AS INT)
                            ORDER BY fa2.fm[1], m.vec_id) AS rnk
  FROM m JOIN fa2 USING (vec_id, c1)
),
dropped AS (
  SELECT DISTINCT b.c1, b.c2, b.vec_id
  FROM ranked a JOIN ranked b
    ON a.c1 = b.c1 AND a.c2 = b.c2
   AND b.rnk > a.rnk AND b.rnk <= a.rnk + {_SEMDEDUP_BAND}
  WHERE {cos} > {_SEMDEDUP_TAU}
)
SELECT r.c1 AS cluster_coarse, r.c2 AS cluster_fine,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(COUNT(d.vec_id) AS BIGINT) AS n_dropped,
       CAST(COUNT(*) - COUNT(d.vec_id) AS BIGINT) AS n_kept
FROM ranked r
LEFT JOIN dropped d ON d.c1 = r.c1 AND d.c2 = r.c2 AND d.vec_id = r.vec_id
GROUP BY r.c1, r.c2
"""


def _two_level_index(
    spark: SparkSession, sf_dir: str, k1: int, k2: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(cent_full, fcent_full, m): the hierarchical index — coarse
    centroids (c1, c), per-cell fine centroids (c1, c2, fc), and the
    coarse-assigned member frame (vec_id, x2, c1). The two centroid
    tables are metadata-sized (k1 and <= k1·k2 rows) — the streaming
    twin collects them as its frozen routing index; the member frame
    is data-sized and stays distributed. Exact mirror of
    _semdedup_2level_oracle's CTE chain."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "embeddings")
    v = tracked_persist(e.select("vec_id", quantize(F.col("embedding")).alias("x")))
    seeds = v.filter(F.col("vec_id") < k1).select(
        F.col("vec_id").cast("int").alias("c1"), F.col("x").alias("c")
    )

    def dist(x: Column, c: Column) -> Column:
        return int_dot(x, x) - 2 * int_dot(x, c) + int_dot(c, c)

    a1 = (
        v.crossJoin(F.broadcast(seeds))
        .select(
            "vec_id",
            F.struct(
                dist(F.col("x"), F.col("c")).alias("d"),
                F.col("c1").cast("bigint").alias("c1"),
            ).alias("dc"),
        )
        .groupBy("vec_id")
        .agg(F.min("dc").alias("m"))
        .select("vec_id", F.col("m.c1").cast("int").alias("c1"))
    )
    comp = (
        v.join(a1, "vec_id")
        .select("c1", F.posexplode("x").alias("p", "xi"))
        .select("c1", (F.col("p") + 1).alias("i"), "xi")
    )
    upd = comp.groupBy("c1", "i").agg(
        F.sum("xi").alias("s"), F.count(F.lit(1)).alias("n")
    )
    cent = (
        upd.withColumn("ci", _fdiv(F.col("s") * 1000, F.col("n")))
        .groupBy("c1")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "ci"))), lambda t: t["ci"]
            ).alias("c")
        )
    )
    cent_full = (
        seeds.select("c1", F.transform("c", lambda y: y * 1000).alias("seed_c"))
        .join(cent, "c1", "left")
        .select("c1", F.coalesce("c", "seed_c").alias("c"))
    )
    v2 = v.select("vec_id", F.transform("x", lambda y: y * 1000).alias("x2"))
    # coarse assignment, then the member frame every fine stage reuses
    m = tracked_persist(
        v2.crossJoin(F.broadcast(cent_full))
        .select(
            "vec_id",
            "x2",
            F.struct(
                dist(F.col("x2"), F.col("c")).alias("d"),
                F.col("c1").cast("bigint").alias("c1"),
            ).alias("dc"),
        )
        .groupBy("vec_id")
        .agg(F.min("dc").alias("m"), F.first("x2").alias("x2"))
        .select("vec_id", "x2", F.col("m.c1").cast("int").alias("c1"))
    )
    w = Window.partitionBy("c1").orderBy("vec_id")
    fseeds = (
        m.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k2)
        .select("c1", (F.col("rn") - 1).cast("int").alias("c2"), F.col("x2").alias("fc"))
    )
    fa1 = (
        m.join(F.broadcast(fseeds), "c1")
        .select(
            "vec_id",
            "c1",
            F.struct(
                dist(F.col("x2"), F.col("fc")).alias("d"),
                F.col("c2").cast("bigint").alias("c2"),
            ).alias("dc"),
        )
        .groupBy("vec_id", "c1")
        .agg(F.min("dc").alias("fm"))
        .select("vec_id", "c1", F.col("fm.c2").cast("int").alias("c2"))
    )
    fcomp = (
        m.join(fa1, ["vec_id", "c1"])
        .select("c1", "c2", F.posexplode("x2").alias("p", "xi"))
        .select("c1", "c2", (F.col("p") + 1).alias("i"), "xi")
    )
    fupd = fcomp.groupBy("c1", "c2", "i").agg(
        F.sum("xi").alias("s"), F.count(F.lit(1)).alias("n")
    )
    fcent = (
        fupd.withColumn("fci", _fdiv(F.col("s"), F.col("n")))
        .groupBy("c1", "c2")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "fci"))), lambda t: t["fci"]
            ).alias("fc")
        )
    )
    fcent_full = (
        fseeds.withColumnRenamed("fc", "seed_fc")
        .join(fcent, ["c1", "c2"], "left")
        .select("c1", "c2", F.coalesce("fc", "seed_fc").alias("fc"))
    )
    return cent_full, fcent_full, m


def _two_level_assign(spark: SparkSession, sf_dir: str, k1: int, k2: int) -> DataFrame:
    """(vec_id, x2, c1, c2, d2): hierarchical fixed-point assignment —
    coarse two-round Lloyd at k1, then per-cell one-round Lloyd at k2
    (index + final fine re-assign; see _two_level_index)."""
    _, fcent_full, m = _two_level_index(spark, sf_dir, k1, k2)

    def dist(x: Column, c: Column) -> Column:
        return int_dot(x, x) - 2 * int_dot(x, c) + int_dot(c, c)

    return (
        m.join(F.broadcast(fcent_full), "c1")
        .select(
            "vec_id",
            "c1",
            F.struct(
                dist(F.col("x2"), F.col("fc")).alias("d"),
                F.col("c2").cast("bigint").alias("c2"),
            ).alias("dc"),
        )
        .groupBy("vec_id", "c1")
        .agg(F.min("dc").alias("fm"))
        .join(m.select("vec_id", "x2"), "vec_id")
        .select(
            "vec_id",
            "x2",
            "c1",
            F.col("fm.c2").cast("int").alias("c2"),
            F.col("fm.d").alias("d2"),
        )
    )


def _frozen_index_assign(
    vectors: DataFrame, cent_full: DataFrame, fcent_full: DataFrame
) -> DataFrame:
    """Batch mirror of ``streaming.jobs.frozen_two_level_route``: route
    ``vectors`` (vec_id, x2 — already ×1000-scaled int arrays) against
    a FROZEN two-level index. The fine table is made TOTAL before the
    join: a coarse cell with no fine seeds gets its own centroid as the
    single fine centroid (c2=0) — the same coarse-as-fine COALESCE
    fallback the stream applies — so the two paths agree even when the
    arriving data differs from the index-building data. When the data
    IS the index data, ``fseeds ⊆ members`` makes the fallback
    unreachable and this reduces to ``_two_level_assign``'s inner join
    (tests/test_streaming.py::test_empty_fine_cell_fallback_agrees
    exercises the route both ways)."""

    def dist(x: Column, c: Column) -> Column:
        return int_dot(x, x) - 2 * int_dot(x, c) + int_dot(c, c)

    coarse_assigned = (
        vectors.crossJoin(F.broadcast(cent_full))
        .select(
            "vec_id",
            "x2",
            F.struct(
                dist(F.col("x2"), F.col("c")).alias("d"),
                F.col("c1").cast("bigint").alias("c1"),
            ).alias("dc"),
        )
        .groupBy("vec_id")
        .agg(F.min("dc").alias("m"), F.first("x2").alias("x2"))
        .select("vec_id", "x2", F.col("m.c1").cast("int").alias("c1"))
    )
    fallback = (
        cent_full.join(fcent_full.select("c1").distinct(), "c1", "left_anti")
        .select("c1", F.lit(0).cast("int").alias("c2"), F.col("c").alias("fc"))
    )
    fine_total = fcent_full.unionByName(fallback)
    return (
        coarse_assigned.join(F.broadcast(fine_total), "c1")
        .select(
            "vec_id",
            "c1",
            F.struct(
                dist(F.col("x2"), F.col("fc")).alias("d"),
                F.col("c2").cast("bigint").alias("c2"),
            ).alias("dc"),
        )
        .groupBy("vec_id", "c1")
        .agg(F.min("dc").alias("fm"))
        .select(
            "vec_id",
            "c1",
            F.col("fm.c2").cast("int").alias("c2"),
            F.col("fm.d").alias("d2"),
        )
    )


@register(
    "semantic_dedup_prune_2level", oracle=_semdedup_2level_oracle(), tags=("L3", "L1")
)
def semantic_dedup_prune_2level(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    assign = _two_level_assign(spark, sf_dir, _SEM2_K1, _SEM2_K2)
    ranked = assign.withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("c1", "c2").orderBy(
                F.col("d2").asc(), F.col("vec_id").asc()
            )
        ),
    )
    # the same J6 band-join spelling as semantic_dedup_prune: bucket
    # the rank so each join key holds O(BAND) partners
    bkt = F.expr(f"div(rnk, {_SEMDEDUP_BAND})")
    a = ranked.select(
        F.col("c1").alias("a1"),
        F.col("c2").alias("a2"),
        F.col("rnk").alias("rnk_a"),
        F.col("x2").alias("xa"),
        F.explode(F.array(bkt, bkt + 1)).alias("jk"),
    )
    b = ranked.select(
        "c1",
        "c2",
        F.col("rnk").alias("rnk_b"),
        F.col("x2").alias("xb"),
        "vec_id",
        bkt.alias("jk"),
    )
    dropped = (
        a.join(
            b,
            (a["a1"] == b["c1"])
            & (a["a2"] == b["c2"])
            & (a["jk"] == b["jk"])
            & (b["rnk_b"] > a["rnk_a"])
            & (b["rnk_b"] <= a["rnk_a"] + _SEMDEDUP_BAND),
        )
        .filter(quantized_cosine(F.col("xa"), F.col("xb")) > _SEMDEDUP_TAU)
        .select("c1", "c2", "vec_id")
        .distinct()
    )
    return (
        ranked.join(
            dropped.withColumn("is_dropped", F.lit(1)), ["c1", "c2", "vec_id"], "left"
        )
        .groupBy("c1", "c2")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.count("is_dropped").cast("bigint").alias("n_dropped"),
            (F.count(F.lit(1)) - F.count("is_dropped")).cast("bigint").alias("n_kept"),
        )
        .select(
            F.col("c1").alias("cluster_coarse"),
            F.col("c2").alias("cluster_fine"),
            "n_vecs",
            "n_dropped",
            "n_kept",
        )
    )


# ---------------------------------------------------------------------------
# L1/L4 longest-duplicate-span audit ([EXT] — the artifact a reviewer
# asks for after a dedup pass: WHICH spans are the worst offenders?
# Emits the 20 longest maximal cross-document duplicated runs with
# their exact location and an md5 pin of the span text, riding the
# shared ExactSubstr coverage core + gaps-and-islands run merge.
# Deterministic ranking: (run_len DESC, doc_id, run_start). The span
# rebuild joins positions against a BROADCAST 20-row top list — the
# audit output is O(k) however large the corpus; the global top-k is
# the orderBy().limit(k) spelling (TakeOrdered partial top-k per
# partition, never a full sort).
# ---------------------------------------------------------------------------

_LONGEST_SPAN_K = 20

_LONGEST_SPAN_ORACLE = f"""
WITH tok AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
pos AS (
  SELECT doc_id, t.i AS p, toks[t.i] AS tk
  FROM tok, UNNEST(range(1, LEN(toks) + 1)) t(i)
  WHERE LEN(toks) > 0
),
g AS (
  SELECT doc_id, t.i AS pos,
         array_to_string(toks[t.i:t.i+{_SPAN_N - 1}], ' ') AS gram
  FROM tok, UNNEST(range(1, LEN(toks) - {_SPAN_N - 2})) t(i)
  WHERE LEN(toks) >= {_SPAN_N}
),
dup AS (
  SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
),
cov AS (
  SELECT DISTINCT g.doc_id, g.pos + o.k AS p
  FROM g JOIN dup USING (gram), UNNEST(range(0, {_SPAN_N})) o(k)
),
runs AS (
  SELECT doc_id, p,
         p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS grp
  FROM cov
),
rl AS (
  SELECT doc_id, grp, COUNT(*) AS run_len,
         MIN(p) AS run_start, MAX(p) AS run_end
  FROM runs GROUP BY doc_id, grp
),
top AS (
  SELECT doc_id, run_start, run_end, run_len
  FROM rl ORDER BY run_len DESC, doc_id, run_start LIMIT {_LONGEST_SPAN_K}
)
SELECT t.doc_id,
       CAST(t.run_start AS BIGINT) AS run_start,
       CAST(t.run_len AS BIGINT) AS run_len,
       md5(STRING_AGG(pos.tk, ' ' ORDER BY pos.p)) AS span_md5
FROM top t
JOIN pos ON pos.doc_id = t.doc_id
        AND pos.p BETWEEN t.run_start AND t.run_end
GROUP BY t.doc_id, t.run_start, t.run_len
"""


@register("longest_duplicate_spans", oracle=_LONGEST_SPAN_ORACLE, tags=("L1", "L4"))
def longest_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    tok = _span_tok(spark, sf_dir)
    pos = tok.select("doc_id", F.posexplode("toks").alias("p0", "tk")).select(
        "doc_id", (F.col("p0") + 1).alias("p"), "tk"
    )
    cov = _span_covered(_span_grams(tok))
    w = Window.partitionBy("doc_id").orderBy("p")
    runs = cov.select("doc_id", "p", (F.col("p") - F.row_number().over(w)).alias("grp"))
    rl = runs.groupBy("doc_id", "grp").agg(
        F.count(F.lit(1)).alias("run_len"),
        F.min("p").alias("run_start"),
        F.max("p").alias("run_end"),
    )
    top = (
        rl.orderBy(F.col("run_len").desc(), F.col("doc_id").asc(), F.col("run_start").asc())
        .limit(_LONGEST_SPAN_K)
        .select("doc_id", "run_start", "run_end", "run_len")
    )
    return (
        pos.join(F.broadcast(top), "doc_id")
        .filter(F.col("p").between(F.col("run_start"), F.col("run_end")))
        .groupBy("doc_id", "run_start", "run_len")
        .agg(
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("p", "tk"))),
                        lambda t: t["tk"],
                    ),
                    " ",
                )
            ).alias("span_md5")
        )
        .select(
            "doc_id",
            F.col("run_start").cast("bigint").alias("run_start"),
            F.col("run_len").cast("bigint").alias("run_len"),
            "span_md5",
        )
    )


# ---------------------------------------------------------------------------
# L1/L4 worst-offender span TEXT per source ([EXT] — the follow-through
# on longest_duplicate_spans: reviewers don't read md5 pins, they read
# the offending text. Emits, for each SOURCE, the single longest
# maximal cross-document duplicated run (argmax by (run_len DESC,
# doc_id, run_start) inside the source) with its REBUILT TEXT — the
# "show me what the dedup pass would cut" audit artifact. Same shared
# coverage core + gaps-and-islands; the per-source argmax is one
# window rank over the tiny runs frame; the text rebuild joins token
# positions against a BROADCAST k-row winner list (k = #sources), so
# the emitted text volume is O(#sources · max_run), independent of
# corpus size.
# ---------------------------------------------------------------------------

_SPAN_TEXT_ORACLE = f"""
WITH tok AS (SELECT doc_id, source, {_SQL_TOKS} AS toks FROM documents),
pos AS (
  SELECT doc_id, t.i AS p, toks[t.i] AS tk
  FROM tok, UNNEST(range(1, LEN(toks) + 1)) t(i)
  WHERE LEN(toks) > 0
),
g AS (
  SELECT doc_id, t.i AS pos,
         array_to_string(toks[t.i:t.i+{_SPAN_N - 1}], ' ') AS gram
  FROM tok, UNNEST(range(1, LEN(toks) - {_SPAN_N - 2})) t(i)
  WHERE LEN(toks) >= {_SPAN_N}
),
dup AS (
  SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
),
cov AS (
  SELECT DISTINCT g.doc_id, g.pos + o.k AS p
  FROM g JOIN dup USING (gram), UNNEST(range(0, {_SPAN_N})) o(k)
),
runs AS (
  SELECT doc_id, p,
         p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS grp
  FROM cov
),
rl AS (
  SELECT doc_id, grp, COUNT(*) AS run_len,
         MIN(p) AS run_start, MAX(p) AS run_end
  FROM runs GROUP BY doc_id, grp
),
winners AS (
  SELECT s.source, rl.doc_id, rl.run_start, rl.run_end, rl.run_len
  FROM rl JOIN (SELECT doc_id, source FROM documents) s USING (doc_id)
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY s.source
    ORDER BY rl.run_len DESC, rl.doc_id, rl.run_start) = 1
)
SELECT w.source,
       w.doc_id,
       CAST(w.run_start AS BIGINT) AS run_start,
       CAST(w.run_len AS BIGINT) AS run_len,
       STRING_AGG(pos.tk, ' ' ORDER BY pos.p) AS span_text
FROM winners w
JOIN pos ON pos.doc_id = w.doc_id
        AND pos.p BETWEEN w.run_start AND w.run_end
GROUP BY w.source, w.doc_id, w.run_start, w.run_len
ORDER BY w.source
"""


@register("longest_span_text_per_source", oracle=_SPAN_TEXT_ORACLE, tags=("L1", "L4"))
def longest_span_text_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    tok = _span_tok(spark, sf_dir)
    pos = tok.select("doc_id", F.posexplode("toks").alias("p0", "tk")).select(
        "doc_id", (F.col("p0") + 1).alias("p"), "tk"
    )
    cov = _span_covered(_span_grams(tok))
    w = Window.partitionBy("doc_id").orderBy("p")
    runs = cov.select("doc_id", "p", (F.col("p") - F.row_number().over(w)).alias("grp"))
    rl = runs.groupBy("doc_id", "grp").agg(
        F.count(F.lit(1)).alias("run_len"),
        F.min("p").alias("run_start"),
        F.max("p").alias("run_end"),
    )
    src = tok.select("doc_id", "source")
    ws = Window.partitionBy("source").orderBy(
        F.col("run_len").desc(), F.col("doc_id").asc(), F.col("run_start").asc()
    )
    winners = (
        rl.join(src, "doc_id")
        .withColumn("rk", F.row_number().over(ws))
        .filter(F.col("rk") == 1)
        .select("source", "doc_id", "run_start", "run_end", "run_len")
    )
    return (
        pos.join(F.broadcast(winners), "doc_id")
        .filter(F.col("p").between(F.col("run_start"), F.col("run_end")))
        .groupBy("source", "doc_id", "run_start", "run_len")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "tk"))),
                    lambda t: t["tk"],
                ),
                " ",
            ).alias("span_text")
        )
        .select(
            "source",
            "doc_id",
            F.col("run_start").cast("bigint").alias("run_start"),
            F.col("run_len").cast("bigint").alias("run_len"),
            "span_text",
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# L6 budgeted deterministic sampling at the alpha-mix targets ([EXT] —
# the step AFTER temperature_scaled_mix: actually select the documents
# that realize the alpha=1/2 token budget per source. Reproducibility
# is the production constraint (the same corpus must sample the same
# way on any cluster, any partitioning, any day), so the sampler is a
# pure function of the data: docs are ranked inside each source by
# md5(doc_id) (a deterministic shuffle), and the prefix whose
# CUMULATIVE token count fits the source's target is taken — never
# exceeding budget, landing within one document of it. The emitted
# sample_md5 pins the EXACT sampled doc_id set per source, so the
# oracle proves both engines selected identical documents, not merely
# equal counts.
#
# Scale shape: one tokenize scan, one source-keyed agg, the 1-row /
# k-row broadcast target table, then ONE per-source window (running
# sum over the md5 order) — sources are the partition keys, so the
# window never sees more than one source's docs in a partition; a
# pathologically dominant source would get the with_global_row_number
# range-partition treatment, exactly like doc_length_equidepth_bins.
# ---------------------------------------------------------------------------

_MIX_SAMPLE_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, source, LEN({_SQL_TOKS}) AS n_toks,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
),
per_source AS (
  SELECT source, CAST(SUM(n_toks) AS BIGINT) AS tokens FROM tok GROUP BY source
),
tot AS (SELECT SUM(tokens) AS total FROM per_source),
seeded AS (
  SELECT source, tokens,
         GREATEST(1, CAST(FLOOR(SQRT(CAST(tokens AS DOUBLE))) AS BIGINT)) AS s0
  FROM per_source
),
newt AS (SELECT source, tokens, (s0 + tokens // s0) // 2 AS s1 FROM seeded),
isq AS (
  SELECT source, tokens,
         s1 - CASE WHEN s1 * s1 > tokens THEN 1 ELSE 0 END AS r
  FROM newt
),
sw AS (SELECT SUM(r) AS sum_w FROM isq),
tgt AS (
  SELECT i.source, i.tokens,
         CAST(CAST(t.total AS HUGEINT) * i.r // s.sum_w AS BIGINT)
           AS target_tokens
  FROM isq i, tot t, sw s
),
ranked AS (
  SELECT doc_id, source, n_toks,
         SUM(n_toks) OVER (PARTITION BY source ORDER BY h, doc_id) AS cum
  FROM tok
),
samp AS (
  SELECT r.source, r.doc_id, r.n_toks
  FROM ranked r JOIN tgt USING (source)
  WHERE r.cum <= tgt.target_tokens
),
agg AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs_sampled,
         CAST(SUM(n_toks) AS BIGINT) AS sampled_tokens,
         md5(STRING_AGG(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
           AS sample_md5
  FROM samp GROUP BY source
)
SELECT t.source, t.tokens AS source_tokens, t.target_tokens,
       COALESCE(a.n_docs_sampled, 0) AS n_docs_sampled,
       COALESCE(a.sampled_tokens, 0) AS sampled_tokens,
       CASE WHEN t.target_tokens > 0
            THEN CAST(COALESCE(a.sampled_tokens, 0) AS DOUBLE) / t.target_tokens
            ELSE 0.0 END AS fill_ratio,
       COALESCE(a.sample_md5, md5('')) AS sample_md5
FROM tgt t LEFT JOIN agg a USING (source)
"""


@register("temperature_mix_budget_sample", oracle=_MIX_SAMPLE_ORACLE, tags=("L6",))
def temperature_mix_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    # persisted: tok feeds both the per-source budget branch and the
    # ranked-prefix window branch — one tokenize scan, as advertised
    tok = tracked_persist(
        d.select(
            "doc_id",
            "source",
            F.size(textops.tokens("text")).cast("bigint").alias("n_toks"),
            F.md5(F.col("doc_id").cast("string")).alias("h"),
        )
    )
    per_source = tok.groupBy("source").agg(F.sum("n_toks").alias("tokens"))
    w_src = per_source.withColumn("r", _isqrt(F.col("tokens")))
    sums = w_src.agg(
        F.sum("tokens").alias("total"), F.sum("r").alias("sum_w")
    )
    tgt = (
        w_src.crossJoin(F.broadcast(sums))
        .select(
            "source",
            "tokens",
            F.call_function(
                "div",
                F.col("total").cast("decimal(38,0)") * F.col("r").cast("decimal(38,0)"),
                F.col("sum_w").cast("decimal(38,0)"),
            )
            .cast("bigint")
            .alias("target_tokens"),
        )
    )
    cum = F.sum("n_toks").over(
        Window.partitionBy("source")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = tok.select("doc_id", "source", "n_toks", cum.alias("cum"))
    samp = ranked.join(F.broadcast(tgt.select("source", "target_tokens")), "source").filter(
        F.col("cum") <= F.col("target_tokens")
    )
    agg = samp.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs_sampled"),
        F.sum("n_toks").cast("bigint").alias("sampled_tokens"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            )
        ).alias("sample_md5"),
    )
    return tgt.join(agg, "source", "left").select(
        "source",
        F.col("tokens").alias("source_tokens"),
        "target_tokens",
        F.coalesce("n_docs_sampled", F.lit(0)).cast("bigint").alias("n_docs_sampled"),
        F.coalesce("sampled_tokens", F.lit(0)).cast("bigint").alias("sampled_tokens"),
        F.when(
            F.col("target_tokens") > 0,
            F.coalesce("sampled_tokens", F.lit(0)).cast("double")
            / F.col("target_tokens"),
        )
        .otherwise(F.lit(0.0))
        .alias("fill_ratio"),
        F.coalesce("sample_md5", F.md5(F.lit(""))).alias("sample_md5"),
    )


# ---------------------------------------------------------------------------
# L1/L4 incremental (cross-snapshot) ExactSubstr coverage ([EXT] — the
# ingest-time form of duplicate_span_coverage: a frozen BASE corpus
# already trained on, and a DELTA of arriving documents to score —
# "how much of this incoming document's text already exists in the
# corpus?" is the admission question a crawler answers per batch, and
# the gram-grain sibling of minhash_incremental_neardup's delta×corpus
# discipline. The md5(doc_id) split stands in for the snapshot
# boundary (same device as the train/test split in
# token_distribution_drift).
#
# Scale shape: the BASE side is a distinct-gram INDEX (built once per
# snapshot, bucketed on the gram key in production) — the delta never
# pairs with base documents, only joins the gram index; the join is
# delta-gram-keyed with the same 2x64-bit xxhash64 interning as
# _span_grams, so incremental cost is O(delta grams), independent of
# how many base documents contain each gram. No pair enumeration, no
# base×base work, nothing quadratic anywhere.
# ---------------------------------------------------------------------------

_INCR_SPAN_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, {_SQL_TOKS} AS toks,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '2' AS is_new
  FROM documents
),
base_g AS (
  SELECT DISTINCT array_to_string(toks[t.i:t.i+{_SPAN_N - 1}], ' ') AS gram
  FROM tok, UNNEST(range(1, LEN(toks) - {_SPAN_N - 2})) t(i)
  WHERE NOT is_new AND LEN(toks) >= {_SPAN_N}
),
new_g AS (
  SELECT doc_id, t.i AS pos,
         array_to_string(toks[t.i:t.i+{_SPAN_N - 1}], ' ') AS gram
  FROM tok, UNNEST(range(1, LEN(toks) - {_SPAN_N - 2})) t(i)
  WHERE is_new AND LEN(toks) >= {_SPAN_N}
),
cov AS (
  SELECT DISTINCT g.doc_id, g.pos + o.k AS p
  FROM new_g g JOIN base_g USING (gram), UNNEST(range(0, {_SPAN_N})) o(k)
),
lens AS (
  SELECT doc_id, LEN(toks) AS n_tokens FROM tok WHERE is_new AND LEN(toks) > 0
)
SELECT l.doc_id,
       CAST(l.n_tokens AS BIGINT) AS n_tokens,
       CAST(COALESCE(c.n_cov, 0) AS BIGINT) AS known_tokens,
       CAST(COALESCE(c.n_cov, 0) AS DOUBLE) / l.n_tokens AS known_fraction,
       COALESCE(c.n_cov, 0) = l.n_tokens AS fully_known
FROM lens l
LEFT JOIN (SELECT doc_id, COUNT(*) AS n_cov FROM cov GROUP BY doc_id) c
  USING (doc_id)
"""


@register("incremental_span_coverage", oracle=_INCR_SPAN_ORACLE, tags=("L1", "L4"))
def incremental_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    # persisted: tok feeds the base index, the delta grams, and the
    # delta lengths — one tokenization pass, not three
    tok = tracked_persist(
        d.select(
            "doc_id",
            textops.tokens("text").alias("toks"),
            (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "2").alias(
                "is_new"
            ),
        )
    )
    # the SHARED gram-interning stage (_span_grams) keeps the salt and
    # the gram window in exactly one place; each side is consumed once,
    # so no per-side persist
    base_g = (
        _span_grams(tok.filter(~F.col("is_new")), persist=False)
        .select("gh1", "gh2")
        .distinct()
    )
    new_g = _span_grams(tok.filter(F.col("is_new")), persist=False)
    cov = (
        new_g.join(base_g, ["gh1", "gh2"])
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + (_SPAN_N - 1))).alias("p"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_cov"))
    )
    lens = tok.filter(F.col("is_new") & (F.size("toks") > 0)).select(
        "doc_id", F.size("toks").cast("bigint").alias("n_tokens")
    )
    return lens.join(cov, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("n_cov", F.lit(0)).cast("bigint").alias("known_tokens"),
        (F.coalesce("n_cov", F.lit(0)).cast("double") / F.col("n_tokens")).alias(
            "known_fraction"
        ),
        (F.coalesce("n_cov", F.lit(0)) == F.col("n_tokens")).alias("fully_known"),
    )


# ---------------------------------------------------------------------------
# L1/S11 cross-snapshot ExactSubstr v2: the PERSISTED frozen gram
# index ([EXT] — incremental_span_coverage proves the delta×index
# join shape, but recomputes the base index inside the same plan; a
# standing crawler pipeline freezes the index ON DISK and probes it
# for every arriving batch. This marries the S11 snapshot protocol
# (sources/io.py write_snapshot committed-marker versions, reference
# analog: the daily partition landing in dags/weather_etl_pipeline.py)
# to the gram grain:
#   v1 = the base corpus's distinct (gh1, gh2) 8-gram index, written
#        once as an immutable committed snapshot;
#   probe = arriving delta documents join the index READ BACK FROM
#        DISK (the plan cannot secretly re-derive it from base text —
#        the scan is the v=1 parquet), per-batch cost O(delta grams);
#   v2 = v1 ∪ the delta's distinct grams, landed as the next committed
#        version — day N+1 probes day N's output, the index evolution
#        step that makes this a standing pipeline rather than a query.
# Output: per-delta-doc coverage (identical semantics to
# incremental_span_coverage) plus the corpus-level index sizes before
# and after evolution, so the oracle hash pins BOTH the probe results
# and the evolution arithmetic. The 16-byte gram interning argument is
# _span_grams'; the index snapshot is ~16 bytes/distinct gram — at
# 1e13 corpus grams that's a bucketable ~100 TB-in/0.2 PB-index-out
# artifact probed by gram-keyed join, never rebuilt.
# ---------------------------------------------------------------------------

_GRAM_SNAP_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, {_SQL_TOKS} AS toks,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '2' AS is_new
  FROM documents
),
base_g AS (
  SELECT DISTINCT array_to_string(toks[t.i:t.i+{_SPAN_N - 1}], ' ') AS gram
  FROM tok, UNNEST(range(1, LEN(toks) - {_SPAN_N - 2})) t(i)
  WHERE NOT is_new AND LEN(toks) >= {_SPAN_N}
),
new_occ AS (
  SELECT doc_id, t.i AS pos,
         array_to_string(toks[t.i:t.i+{_SPAN_N - 1}], ' ') AS gram
  FROM tok, UNNEST(range(1, LEN(toks) - {_SPAN_N - 2})) t(i)
  WHERE is_new AND LEN(toks) >= {_SPAN_N}
),
cov AS (
  SELECT DISTINCT o.doc_id, o.pos + k.k AS p
  FROM new_occ o JOIN base_g USING (gram), UNNEST(range(0, {_SPAN_N})) k(k)
),
lens AS (
  SELECT doc_id, LEN(toks) AS n_tokens FROM tok WHERE is_new AND LEN(toks) > 0
),
cnt AS (
  SELECT (SELECT COUNT(*) FROM base_g) AS n_base_grams,
         (SELECT COUNT(*) FROM (
            SELECT gram FROM base_g
            UNION
            SELECT DISTINCT gram FROM new_occ)) AS n_index_grams_after
)
SELECT l.doc_id,
       CAST(l.n_tokens AS BIGINT) AS n_tokens,
       CAST(COALESCE(c.n_cov, 0) AS BIGINT) AS known_tokens,
       CAST(COALESCE(c.n_cov, 0) AS DOUBLE) / l.n_tokens AS known_fraction,
       CAST(x.n_base_grams AS BIGINT) AS n_base_grams,
       CAST(x.n_index_grams_after AS BIGINT) AS n_index_grams_after
FROM lens l
LEFT JOIN (SELECT doc_id, COUNT(*) AS n_cov FROM cov GROUP BY doc_id) c
  USING (doc_id)
CROSS JOIN cnt x
"""


def _probe_coverage_report(
    probe_grams: DataFrame, lens: DataFrame, idx: DataFrame, sizes: DataFrame
) -> DataFrame:
    """Delta-probe coverage report, shared by the gram-index snapshot
    and compaction queries: probe grams that hit the index cover their
    8 positions; the per-doc distinct covered count left-joins onto the
    doc lengths, and the corpus-level size columns (whatever ``sizes``
    carries) broadcast onto every row."""
    cov = (
        probe_grams.join(idx, ["gh1", "gh2"])
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + (_SPAN_N - 1))).alias("p"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_cov"))
    )
    return (
        lens.join(cov, "doc_id", "left")
        .crossJoin(F.broadcast(sizes))
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_cov", F.lit(0)).cast("bigint").alias("known_tokens"),
            (F.coalesce("n_cov", F.lit(0)).cast("double") / F.col("n_tokens")).alias(
                "known_fraction"
            ),
            *sizes.columns,
        )
    )


def _snapshot_tmpbase(prefix: str) -> str:
    """A fresh snapshot base under a tempdir that is removed at
    interpreter exit — repeated builds in one process (bench reps,
    stress loops) would otherwise leak full gram-index parquet trees
    into /tmp with no vacuum."""
    import atexit
    import shutil
    import tempfile

    root = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root + "/grams"


@register("incremental_gram_index_snapshot", oracle=_GRAM_SNAP_ORACLE, tags=("L1", "S11"))
def incremental_gram_index_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.io import read_snapshot, write_snapshot

    d = table(spark, sf_dir, "documents")
    tok = tracked_persist(
        d.select(
            "doc_id",
            textops.tokens("text").alias("toks"),
            (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "2").alias(
                "is_new"
            ),
        )
    )
    base = _snapshot_tmpbase("gram_index_snap_")
    v1 = write_snapshot(
        _span_grams(tok.filter(~F.col("is_new")), persist=False)
        .select("gh1", "gh2")
        .distinct(),
        base,
    )
    frozen = read_snapshot(spark, base, version=v1)
    # delta grams feed BOTH the probe and the v2 evolution — persist once
    new_g = _span_grams(tok.filter(F.col("is_new")))
    v2 = write_snapshot(
        frozen.unionByName(new_g.select("gh1", "gh2")).distinct(), base
    )
    after = read_snapshot(spark, base, version=v2)
    lens = tok.filter(F.col("is_new") & (F.size("toks") > 0)).select(
        "doc_id", F.size("toks").cast("bigint").alias("n_tokens")
    )
    sizes = frozen.agg(F.count(F.lit(1)).cast("bigint").alias("n_base_grams")).crossJoin(
        after.agg(F.count(F.lit(1)).cast("bigint").alias("n_index_grams_after"))
    )
    return _probe_coverage_report(new_g, lens, frozen, sizes)


# ---------------------------------------------------------------------------
# L1/S11 gram-index COMPACTION with probe-equality ([EXT] — the
# maintenance step incremental_gram_index_snapshot defers: after delta
# appends, compact_snapshot bin-packs the merged index into ~target-
# size files SORTED by the 16-byte gram key (per-file min/max stats
# then prune probe joins) and lands it as the next committed version.
# The serving question is probe-equality: coverage answered from the
# COMPACTED v=3 parquet must equal the declarative base∪delta replay.
# Three-way md5 split so the probe is never vacuous: delta1 (md5 '0')
# is MERGED into the index, delta2 (md5 '1') only PROBES it — a doc
# that contributed its own grams would trivially be fully known.
# The oracle replays base∪delta1 membership and the index cardinality;
# pytest asserts the compaction actually reduced the file count.
# ---------------------------------------------------------------------------

_GRAM_COMPACT_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, {_SQL_TOKS} AS toks,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS h
  FROM documents
),
base_g AS (
  SELECT DISTINCT array_to_string(toks[t.i:t.i+{_SPAN_N - 1}], ' ') AS gram
  FROM tok, UNNEST(range(1, LEN(toks) - {_SPAN_N - 2})) t(i)
  WHERE h >= '2' AND LEN(toks) >= {_SPAN_N}
),
d1_g AS (
  SELECT DISTINCT array_to_string(toks[t.i:t.i+{_SPAN_N - 1}], ' ') AS gram
  FROM tok, UNNEST(range(1, LEN(toks) - {_SPAN_N - 2})) t(i)
  WHERE h = '0' AND LEN(toks) >= {_SPAN_N}
),
idx AS (SELECT gram FROM base_g UNION SELECT gram FROM d1_g),
probe_occ AS (
  SELECT doc_id, t.i AS pos,
         array_to_string(toks[t.i:t.i+{_SPAN_N - 1}], ' ') AS gram
  FROM tok, UNNEST(range(1, LEN(toks) - {_SPAN_N - 2})) t(i)
  WHERE h = '1' AND LEN(toks) >= {_SPAN_N}
),
cov AS (
  SELECT DISTINCT o.doc_id, o.pos + k.k AS p
  FROM probe_occ o JOIN idx USING (gram), UNNEST(range(0, {_SPAN_N})) k(k)
),
lens AS (
  SELECT doc_id, LEN(toks) AS n_tokens FROM tok WHERE h = '1' AND LEN(toks) > 0
),
cnt AS (SELECT COUNT(*) AS n_index_grams FROM idx)
SELECT l.doc_id,
       CAST(l.n_tokens AS BIGINT) AS n_tokens,
       CAST(COALESCE(c.n_cov, 0) AS BIGINT) AS known_tokens,
       CAST(COALESCE(c.n_cov, 0) AS DOUBLE) / l.n_tokens AS known_fraction,
       CAST(x.n_index_grams AS BIGINT) AS n_index_grams
FROM lens l
LEFT JOIN (SELECT doc_id, COUNT(*) AS n_cov FROM cov GROUP BY doc_id) c
  USING (doc_id)
CROSS JOIN cnt x
"""


@register("gram_index_compaction_probe", oracle=_GRAM_COMPACT_ORACLE, tags=("L1", "S11"))
def gram_index_compaction_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.io import compact_snapshot, read_snapshot, write_snapshot

    d = table(spark, sf_dir, "documents")
    tok = tracked_persist(
        d.select(
            "doc_id",
            textops.tokens("text").alias("toks"),
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).alias("h"),
        )
    )
    base = _snapshot_tmpbase("gram_compact_")
    # exposed for tests: pin assertions to THIS build's snapshot base,
    # not a /tmp-wide glob that could match a stale or foreign run
    gram_index_compaction_probe.last_base = base
    write_snapshot(
        _span_grams(tok.filter(F.col("h") >= "2"), persist=False)
        .select("gh1", "gh2")
        .distinct(),
        base,
    )
    write_snapshot(
        read_snapshot(spark, base, version=1)
        .unionByName(
            _span_grams(tok.filter(F.col("h") == "0"), persist=False).select(
                "gh1", "gh2"
            )
        )
        .distinct()
        # the merged landing is deliberately fragmented so the
        # compaction has real small-file debt to pay down
        .repartition(24),
        base,
    )
    v3 = compact_snapshot(
        spark, base, target_file_bytes=64 * 1024 * 1024, sort_cols=["gh1", "gh2"]
    )
    idx = read_snapshot(spark, base, version=v3)
    probe = _span_grams(tok.filter(F.col("h") == "1"), persist=False)
    lens = tok.filter((F.col("h") == "1") & (F.size("toks") > 0)).select(
        "doc_id", F.size("toks").cast("bigint").alias("n_tokens")
    )
    sizes = idx.agg(F.count(F.lit(1)).cast("bigint").alias("n_index_grams"))
    return _probe_coverage_report(probe, lens, idx, sizes)


# ---------------------------------------------------------------------------
# L1/T6 progressive (ingest-order) span coverage ([EXT] — the fully
# online form of the ExactSubstr family: no frozen base/delta split;
# every document is scored against the corpus AS OF ITS OWN ARRIVAL.
# A token position counts as known iff some 8-gram covering it was
# INTRODUCED by a strictly earlier doc_id — exactly the "keep the
# first occurrence" accounting an ingest-time ExactSubstr dedup would
# charge each arriving document. incremental_span_coverage is the
# two-set special case of this; the streaming twin
# (streaming/jobs.py stream_progressive_coverage_state) folds the same
# semantics with per-gram first-writer GroupState and must match this
# frame bit-for-bit.
#
# Scale shape: one gram-keyed MIN agg (map-side combinable — the
# "intro" index), one gram-keyed join back onto occurrences, the 8x
# position explode, one distinct — the duplicate_span_coverage plan
# with the nd>=2 filter swapped for a first-writer comparison; nothing
# pairwise, nothing quadratic.
# ---------------------------------------------------------------------------

_PROGRESSIVE_SPAN_ORACLE = f"""
WITH tok AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
g AS (
  SELECT doc_id, t.i AS pos,
         array_to_string(toks[t.i:t.i+{_SPAN_N - 1}], ' ') AS gram
  FROM tok, UNNEST(range(1, LEN(toks) - {_SPAN_N - 2})) t(i)
  WHERE LEN(toks) >= {_SPAN_N}
),
intro AS (SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY gram),
cov AS (
  SELECT DISTINCT g.doc_id, g.pos + o.k AS p
  FROM g JOIN intro USING (gram), UNNEST(range(0, {_SPAN_N})) o(k)
  WHERE g.doc_id > intro.first_doc
),
lens AS (SELECT doc_id, LEN(toks) AS n_tokens FROM tok WHERE LEN(toks) > 0)
SELECT l.doc_id,
       CAST(l.n_tokens AS BIGINT) AS n_tokens,
       CAST(COALESCE(c.n_cov, 0) AS BIGINT) AS known_tokens,
       CAST(COALESCE(c.n_cov, 0) AS DOUBLE) / l.n_tokens AS known_fraction,
       COALESCE(c.n_cov, 0) = l.n_tokens AS fully_known
FROM lens l
LEFT JOIN (SELECT doc_id, COUNT(*) AS n_cov FROM cov GROUP BY doc_id) c
  USING (doc_id)
"""


@register("progressive_span_coverage", oracle=_PROGRESSIVE_SPAN_ORACLE, tags=("L1", "T6"))
def progressive_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = _span_tok(spark, sf_dir)
    g = _span_grams(tok)  # persisted: feeds the intro index AND the cov join
    intro = g.groupBy("gh1", "gh2").agg(F.min("doc_id").alias("first_doc"))
    cov = (
        g.join(intro, ["gh1", "gh2"])
        .filter(F.col("doc_id") > F.col("first_doc"))
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + (_SPAN_N - 1))).alias("p"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_cov"))
    )
    lens = tok.select("doc_id", F.size("toks").cast("bigint").alias("n_tokens"))
    return lens.join(cov, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("n_cov", F.lit(0)).cast("bigint").alias("known_tokens"),
        (F.coalesce("n_cov", F.lit(0)).cast("double") / F.col("n_tokens")).alias(
            "known_fraction"
        ),
        (F.coalesce("n_cov", F.lit(0)) == F.col("n_tokens")).alias("fully_known"),
    )


# ---------------------------------------------------------------------------
# L4 within-document self-repetition score ([EXT] — the progressive
# coverage machinery restricted to SAME-doc earlier positions:
# boilerplate / template detection inside a single document, the
# "repetitive document" quality signal LLM curation pipelines gate on
# (navigation chrome, scraped templates, degenerate generations). A
# token position counts as self-repeated iff some trigram covering it
# occurred EARLIER in the same document. n=3 (not the cross-doc
# family's 8): within-doc repetition is short-range — 8-grams almost
# never self-repeat in natural text, trigram chrome does.
#
# Scale shape: everything is keyed by (doc_id, gram) — the repetition
# "index" never crosses documents, so the op is embarrassingly
# document-parallel: one per-doc-gram MIN agg, one keyed join back,
# the 3x explode, one distinct. Zero corpus-level state; runs on an
# arriving document in isolation, which is why it belongs in an
# ingest-time quality gate.
# ---------------------------------------------------------------------------

_SELFREP_N = 3

_SELFREP_ORACLE = f"""
WITH tok AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
g AS (
  SELECT doc_id, t.i AS pos,
         array_to_string(toks[t.i:t.i+{_SELFREP_N - 1}], ' ') AS gram
  FROM tok, UNNEST(range(1, LEN(toks) - {_SELFREP_N - 2})) t(i)
  WHERE LEN(toks) >= {_SELFREP_N}
),
intro AS (
  SELECT doc_id, gram, MIN(pos) AS first_pos FROM g GROUP BY doc_id, gram
),
cov AS (
  SELECT DISTINCT g.doc_id, g.pos + o.k AS p
  FROM g JOIN intro USING (doc_id, gram), UNNEST(range(0, {_SELFREP_N})) o(k)
  WHERE g.pos > intro.first_pos
),
lens AS (SELECT doc_id, LEN(toks) AS n_tokens FROM tok WHERE LEN(toks) > 0)
SELECT l.doc_id,
       CAST(l.n_tokens AS BIGINT) AS n_tokens,
       CAST(COALESCE(c.n_rep, 0) AS BIGINT) AS self_rep_tokens,
       CAST(COALESCE(c.n_rep, 0) AS DOUBLE) / l.n_tokens AS self_rep_fraction,
       COALESCE(c.n_rep, 0) > 0 AS has_repetition
FROM lens l
LEFT JOIN (SELECT doc_id, COUNT(*) AS n_rep FROM cov GROUP BY doc_id) c
  USING (doc_id)
"""


@register("doc_self_repetition", oracle=_SELFREP_ORACLE, tags=("L4",))
def doc_self_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _SELFREP_N
    tok = _span_tok(spark, sf_dir)
    g = (
        tok.filter(F.size("toks") >= n)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - (n - 1)),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.array_join(F.slice("toks", i, n), " ").alias("gram"),
                    ),
                )
            ).alias("pg"),
        )
        .select(
            "doc_id",
            F.col("pg.pos").alias("pos"),
            F.xxhash64(F.col("pg.gram")).alias("gh1"),
            F.xxhash64(F.lit("selfrep"), F.col("pg.gram")).alias("gh2"),
        )
    )
    g = tracked_persist(g)  # feeds the intro agg AND the coverage join
    intro = g.groupBy("doc_id", "gh1", "gh2").agg(F.min("pos").alias("first_pos"))
    cov = (
        g.join(intro, ["doc_id", "gh1", "gh2"])
        .filter(F.col("pos") > F.col("first_pos"))
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + (n - 1))).alias("p"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rep"))
    )
    lens = tok.select("doc_id", F.size("toks").cast("bigint").alias("n_tokens"))
    return lens.join(cov, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("n_rep", F.lit(0)).cast("bigint").alias("self_rep_tokens"),
        (F.coalesce("n_rep", F.lit(0)).cast("double") / F.col("n_tokens")).alias(
            "self_rep_fraction"
        ),
        (F.coalesce("n_rep", F.lit(0)) > 0).alias("has_repetition"),
    )


# ---------------------------------------------------------------------------
# L6 sequence packing ([EXT] — the LAST step of a training-data
# pipeline: the curated corpus, as a doc_id-ordered contiguous token
# stream, chunked into fixed-length training rows ("packs") with
# documents spanning pack boundaries — GPT-style packing. The emitted
# manifest (per pack: contributing docs, token counts, carryover
# flags) is exactly what a dataloader needs to materialize examples.
#
# Scale shape: the only global coordination is ONE distributed running
# sum over the total doc order (operators/relational.py
# with_global_running_sum — range-partition + broadcast prefix
# offsets, never a single-reducer window); each doc then computes its
# own pack span locally (pure integer arithmetic), explodes to at most
# ceil(n/L)+1 pieces, and one pack-keyed agg builds the manifest. At
# 100 TB the stream position is exact because token counts are
# integers — no float accumulation anywhere.
# ---------------------------------------------------------------------------

_PACK_LEN = 512

_PACKING_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, CAST(LEN({_SQL_TOKS}) AS BIGINT) AS n
  FROM documents WHERE LEN({_SQL_TOKS}) > 0
),
cum AS (
  SELECT doc_id, n,
         CAST(SUM(n) OVER (ORDER BY doc_id) - n AS BIGINT) AS prev
  FROM tok
),
pieces AS (
  SELECT doc_id, n, prev, t.k AS pack_id,
         LEAST((t.k + 1) * {_PACK_LEN}, prev + n)
           - GREATEST(t.k * {_PACK_LEN}, prev) AS toks
  FROM cum,
       UNNEST(range(prev // {_PACK_LEN}, (prev + n - 1) // {_PACK_LEN} + 1)) t(k)
)
SELECT CAST(pack_id AS BIGINT) AS pack_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(toks) AS BIGINT) AS n_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc,
       CAST(SUM(CASE WHEN prev < pack_id * {_PACK_LEN} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_carryover_docs
FROM pieces GROUP BY pack_id ORDER BY pack_id
"""


_PACKING_PIECES_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, CAST(LEN({_SQL_TOKS}) AS BIGINT) AS n
  FROM documents WHERE LEN({_SQL_TOKS}) > 0
),
cum AS (
  SELECT doc_id, n,
         CAST(SUM(n) OVER (ORDER BY doc_id) - n AS BIGINT) AS prev
  FROM tok
)
SELECT CAST(t.k AS BIGINT) AS pack_id,
       doc_id,
       CAST(GREATEST(t.k * {_PACK_LEN}, prev) - t.k * {_PACK_LEN} AS BIGINT)
         AS start_offset,
       CAST(GREATEST(t.k * {_PACK_LEN}, prev) - prev AS BIGINT) AS doc_offset,
       CAST(LEAST((t.k + 1) * {_PACK_LEN}, prev + n)
            - GREATEST(t.k * {_PACK_LEN}, prev) AS BIGINT) AS length
FROM cum,
     UNNEST(range(prev // {_PACK_LEN}, (prev + n - 1) // {_PACK_LEN} + 1)) t(k)
ORDER BY pack_id, start_offset
"""


@register("sequence_packing_pieces", oracle=_PACKING_PIECES_ORACLE, tags=("L6",))
def sequence_packing_pieces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The row-level dataloader contract behind sequence_packing: one
    row per (pack, document) piece with the piece's offset INSIDE the
    pack (where the tokens land in the training row), its offset
    inside the source document (where they come from), and its length
    — exactly the manifest a loader needs to materialize packed
    examples and reset attention masks at piece boundaries. Same
    single distributed running sum + local integer arithmetic as the
    rollup; the output is ~(total_tokens / {_PACK_LEN} + n_docs) rows.
    """
    from ..operators.relational import with_global_running_sum

    L = F.lit(_PACK_LEN).cast("bigint")
    tok = _span_tok(spark, sf_dir)
    lens = tok.select("doc_id", F.size("toks").cast("bigint").alias("n"))
    cum = with_global_running_sum(lens, [F.col("doc_id").asc()], "n", "cum")
    prev = cum.withColumn("prev", F.col("cum") - F.col("n"))
    pk = F.col("pack_id") * L
    return (
        prev.select(
            "doc_id",
            "n",
            "prev",
            F.explode(
                F.sequence(
                    F.call_function("div", F.col("prev"), L),
                    F.call_function("div", F.col("prev") + F.col("n") - 1, L),
                )
            ).alias("pack_id"),
        )
        .select(
            F.col("pack_id").cast("bigint").alias("pack_id"),
            "doc_id",
            (F.greatest(pk, F.col("prev")) - pk).cast("bigint").alias("start_offset"),
            (F.greatest(pk, F.col("prev")) - F.col("prev"))
            .cast("bigint")
            .alias("doc_offset"),
            (
                F.least((F.col("pack_id") + 1) * L, F.col("prev") + F.col("n"))
                - F.greatest(pk, F.col("prev"))
            )
            .cast("bigint")
            .alias("length"),
        )
        .orderBy("pack_id", "start_offset")
    )


def _pack_manifest(lens: DataFrame) -> DataFrame:
    """The fixed-L pack manifest over a (doc_id, n) token-length frame
    — shared by sequence_packing (raw corpus) and packed_clean_corpus
    (post-ExactSubstr corpus). One distributed running sum, local
    integer pack-span arithmetic, one pack-keyed agg."""
    from ..operators.relational import with_global_running_sum

    L = F.lit(_PACK_LEN).cast("bigint")
    cum = with_global_running_sum(lens, [F.col("doc_id").asc()], "n", "cum")
    prev = cum.withColumn("prev", F.col("cum") - F.col("n"))
    pieces = (
        prev.select(
            "doc_id",
            "n",
            "prev",
            F.explode(
                F.sequence(
                    F.call_function("div", F.col("prev"), L),
                    F.call_function("div", F.col("prev") + F.col("n") - 1, L),
                )
            ).alias("pack_id"),
        )
        .withColumn(
            "toks",
            F.least((F.col("pack_id") + 1) * L, F.col("prev") + F.col("n"))
            - F.greatest(F.col("pack_id") * L, F.col("prev")),
        )
    )
    return (
        pieces.groupBy("pack_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("toks").cast("bigint").alias("n_tokens"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
            F.max("doc_id").cast("bigint").alias("last_doc"),
            F.sum((F.col("prev") < F.col("pack_id") * L).cast("bigint")).alias(
                "n_carryover_docs"
            ),
        )
        .select(
            F.col("pack_id").cast("bigint").alias("pack_id"),
            "n_docs",
            "n_tokens",
            "first_doc",
            "last_doc",
            "n_carryover_docs",
        )
        .orderBy("pack_id")
    )


@register("sequence_packing", oracle=_PACKING_ORACLE, tags=("L6",))
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = _span_tok(spark, sf_dir)
    return _pack_manifest(
        tok.select("doc_id", F.size("toks").cast("bigint").alias("n"))
    )


# ---------------------------------------------------------------------------
# L6/L4 curriculum pack ordering ([EXT] — quality-ascending training
# schedules need the PACKS ranked, not the documents: a pack's quality
# is the token-weighted mean of its pieces' document scores. Composes
# the hashed-feature classifier (plans/mlprep.py
# hashed_quality_classifier — join-free md5-bucket weights) with the
# packing pieces table. All-integer: each piece contributes
# floor(1000·doc_score·piece_len / doc_n_toks) (the matched
# _fdiv/_sql_fdiv floor pair, since scores go negative), so per-pack
# sums are order-independent exact BIGINTs and the global curriculum
# rank rides the distributed row-number primitive — no single-reducer
# sort over what is a manifest-sized but still growing frame.
# ---------------------------------------------------------------------------

_CURRICULUM_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, CAST(LEN({_SQL_TOKS}) AS BIGINT) AS n
  FROM documents WHERE LEN({_SQL_TOKS}) > 0
),
cum AS (
  SELECT doc_id, n,
         CAST(SUM(n) OVER (ORDER BY doc_id) - n AS BIGINT) AS prev
  FROM tok
),
pieces AS (
  SELECT doc_id, t.k AS pack_id,
         LEAST((t.k + 1) * {_PACK_LEN}, prev + n)
           - GREATEST(t.k * {_PACK_LEN}, prev) AS length
  FROM cum,
       UNNEST(range(prev // {_PACK_LEN}, (prev + n - 1) // {_PACK_LEN} + 1)) t(k)
),
tw AS (
  SELECT doc_id,
         ((CAST(('0x' || substr(md5(tk), 1, 8)) AS BIGINT) % {_HQ_BUCKETS})
           * {_HQ_MULT}) % {_HQ_MOD} - 500 AS wt
  FROM (SELECT doc_id, UNNEST({_SQL_TOKS}) AS tk FROM documents)
),
per_doc AS (
  SELECT doc_id, CAST(SUM(wt) AS BIGINT) AS score,
         CAST(COUNT(*) AS BIGINT) AS n_toks
  FROM tw GROUP BY doc_id
),
pq AS (
  SELECT p.pack_id, p.length,
         {_sql_fdiv("1000 * d.score * p.length", "d.n_toks")} AS pq_milli
  FROM pieces p JOIN per_doc d USING (doc_id)
),
packs AS (
  SELECT pack_id,
         CAST(COUNT(*) AS INT) AS n_pieces,
         CAST(SUM(length) AS BIGINT) AS pack_tokens,
         CAST(SUM(pq_milli) AS BIGINT) AS score_milli
  FROM pq GROUP BY pack_id
)
SELECT CAST(pack_id AS BIGINT) AS pack_id, n_pieces, pack_tokens, score_milli,
       CAST(ROW_NUMBER() OVER (ORDER BY score_milli, pack_id) AS BIGINT)
         AS curriculum_rank
FROM packs ORDER BY curriculum_rank
"""


@register("curriculum_pack_order", oracle=_CURRICULUM_ORACLE, tags=("L6", "L4"))
def curriculum_pack_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import with_global_row_number

    pieces = sequence_packing_pieces(spark, sf_dir)
    per_doc = _hq_doc_scores(table(spark, sf_dir, "documents"))
    pq = pieces.join(per_doc, "doc_id").withColumn(
        "pq_milli",
        _fdiv(F.lit(1000) * F.col("score") * F.col("length"), F.col("n_toks")),
    )
    packs = pq.groupBy("pack_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_pieces"),
        F.sum("length").cast("bigint").alias("pack_tokens"),
        F.sum("pq_milli").cast("bigint").alias("score_milli"),
    )
    return (
        with_global_row_number(
            packs,
            [F.col("score_milli").asc(), F.col("pack_id").asc()],
            "curriculum_rank",
        )
        .select(
            F.col("pack_id").cast("bigint").alias("pack_id"),
            "n_pieces",
            "pack_tokens",
            "score_milli",
            F.col("curriculum_rank").cast("bigint").alias("curriculum_rank"),
        )
        .orderBy("curriculum_rank")
    )


# ---------------------------------------------------------------------------
# L1/L6 the pipeline END TO END: pack the CLEANED corpus ([EXT] — what
# a training run actually consumes is neither the raw corpus nor the
# removal report but the packed stream of SURVIVING tokens. This
# composes ExactSubstr maximal-run removal with sequence packing in
# one oracle-checked query: per-doc kept-token counts from the full
# tokenize → coverage → islands → removal chain feed the same fixed-L
# manifest as sequence_packing, so the oracle hash pins the ENTIRE
# dedup→pack pipeline (the dedup_impact_report discipline applied to
# the final deliverable). Docs whose every token was excised drop out
# of the stream — pack boundaries shift accordingly, which is exactly
# why the composed check matters: a off-by-one anywhere upstream
# reshuffles every downstream pack.
# ---------------------------------------------------------------------------

_PACKED_CLEAN_ORACLE = _EXSUB_CHAIN + f""",
clean AS (
  SELECT doc_id, CAST(n_kept AS BIGINT) AS n FROM per_doc WHERE n_kept > 0
),
ccum AS (
  SELECT doc_id, n,
         CAST(SUM(n) OVER (ORDER BY doc_id) - n AS BIGINT) AS prev
  FROM clean
),
cpieces AS (
  SELECT doc_id, n, prev, t.k AS pack_id,
         LEAST((t.k + 1) * {_PACK_LEN}, prev + n)
           - GREATEST(t.k * {_PACK_LEN}, prev) AS toks
  FROM ccum,
       UNNEST(range(prev // {_PACK_LEN}, (prev + n - 1) // {_PACK_LEN} + 1)) t(k)
)
SELECT CAST(pack_id AS BIGINT) AS pack_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(toks) AS BIGINT) AS n_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc,
       CAST(SUM(CASE WHEN prev < pack_id * {_PACK_LEN} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_carryover_docs
FROM cpieces GROUP BY pack_id ORDER BY pack_id
"""


@register("packed_clean_corpus", oracle=_PACKED_CLEAN_ORACLE, tags=("L1", "L6"))
def packed_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_doc = exact_substr_span_removal(spark, sf_dir)
    return _pack_manifest(
        per_doc.filter(F.col("n_kept") > 0).select(
            "doc_id", F.col("n_kept").alias("n")
        )
    )


# ---------------------------------------------------------------------------
# L1/L6 post-dedup corpus report ([EXT] — the acceptance artifact a
# data owner signs off after an ExactSubstr pass: per source, how many
# documents survive, how much token mass was excised, and a
# corpus-level md5 PIN of every surviving document's rebuilt text
# (md5 over the doc-ordered concatenation of per-doc kept-text md5s).
# COMPOSES the maximal-run removal end to end — the oracle nests the
# full tokenize → coverage → islands → removal chain (the
# dedup_impact_report discipline: the hash check replays the whole
# two-stage pipeline, not just the summary arithmetic). Scale shape:
# the per-doc frame is the removal query's output (linear stages, see
# exact_substr_span_removal); this adds one broadcast source join and
# one source-keyed agg whose collect_list is bounded by a source's
# document count (the same per-group-bounded rebuild argument as the
# span queries; a pathological mega-source would chunk the pin).
# ---------------------------------------------------------------------------

_POST_DEDUP_ORACLE = _EXSUB_CHAIN + """,
src AS (SELECT doc_id, source FROM documents)
SELECT s.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN p.n_kept > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_surviving,
       CAST(SUM(p.n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(p.n_kept) AS BIGINT) AS kept_tokens,
       CAST(SUM(p.n_removed) AS BIGINT) AS removed_tokens,
       CAST(SUM(p.n_kept) AS DOUBLE) / SUM(p.n_tokens) AS kept_fraction,
       md5(STRING_AGG(p.kept_text_md5, ',' ORDER BY p.doc_id)) AS corpus_md5
FROM per_doc p JOIN src s USING (doc_id)
GROUP BY s.source
"""


@register("post_dedup_corpus_report", oracle=_POST_DEDUP_ORACLE, tags=("L1", "L6"))
def post_dedup_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_doc = exact_substr_span_removal(spark, sf_dir)
    src = table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        per_doc.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum((F.col("n_kept") > 0).cast("bigint"))
            .cast("bigint")
            .alias("n_surviving"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.sum("n_kept").cast("bigint").alias("kept_tokens"),
            F.sum("n_removed").cast("bigint").alias("removed_tokens"),
            (F.sum("n_kept").cast("double") / F.sum("n_tokens")).alias(
                "kept_fraction"
            ),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("doc_id", "kept_text_md5"))
                        ),
                        lambda t: t["kept_text_md5"],
                    ),
                    ",",
                )
            ).alias("corpus_md5"),
        )
    )


# ---------------------------------------------------------------------------
# L4/L6 per-source quality-drift dashboard ([EXT] — SURVEY §7.5 idea
# bank): the monitoring relation a standing ingest pipeline watches —
# per source and ingest month, the hashed-classifier SCORE distribution
# vs the trailing month. The month key is the deterministic synthetic
# cohort md5(doc_id) mod 4 — the testdata carries no timestamp column,
# and the md5 split (incremental_gram_index_snapshot's convention) is
# independent of the data layout, unlike doc_id % k (source assignment
# is doc_id-periodic, which would pin every source to one month).
# The drift metric reuses token_distribution_drift's log-free integer
# discipline AT THE SCORE GRAIN: PSI's per-bucket logarithm would hinge
# on libm parity between engines, so the dashboard reports exact
# TOTAL VARIATION DISTANCE over score BANDS —
#   tvd_numerator = SUM_bands |a_i*B - b_i*A|   (exact BIGINT)
#   score_tvd     = numerator / (2*A*B)          (one exactly-rounded
#                                                 double division)
# plus the two drill-down columns a dashboard needs: the largest
# single-band probability shift in ppm (exact integer division) and
# WHICH band moved most (row_number over shift desc, band asc — both
# engines spell it identically). Bands are fixed-width 500-point score
# buckets, computed on a +1e10-shifted score so truncating div (Spark)
# and floor div (DuckDB) agree on the all-non-negative operands.
# A month with an empty trailing baseline is excluded (drift against
# nothing is undefined — the temperature-mix guard discipline).
# At 100 TB: the one token-explode shuffle every per-token scorer pays,
# a doc-keyed agg, then everything lives at the (source, month, band)
# grain — a few thousand rows; totals broadcast. The a*B cross-products
# would need DECIMAL widening past ~3e9 docs/month/source, a one-line
# cast.
# ---------------------------------------------------------------------------

_QDRIFT_BAND = 500
_QDRIFT_SHIFT = 10_000_000_000
_QDRIFT_MONTHS = 4

_QDRIFT_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, source, UNNEST({_SQL_TOKS}) AS tk FROM documents
),
scored AS (
  SELECT doc_id, source,
         ((CAST(('0x' || substr(md5(tk), 1, 8)) AS BIGINT) % {_HQ_BUCKETS})
           * {_HQ_MULT}) % {_HQ_MOD} - 500 AS wt
  FROM tok
),
per_doc AS (
  SELECT doc_id, source, CAST(SUM(wt) AS BIGINT) AS score
  FROM scored GROUP BY 1, 2
),
banded AS (
  SELECT source,
         CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
              AS BIGINT) % {_QDRIFT_MONTHS} AS INT) AS month_id,
         CAST((score + {_QDRIFT_SHIFT}) // {_QDRIFT_BAND} AS BIGINT) AS band,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM per_doc GROUP BY 1, 2, 3
),
pairs AS (
  SELECT COALESCE(c.source, p.source) AS source,
         COALESCE(c.month_id, p.month_id + 1) AS month_id,
         COALESCE(c.band, p.band) AS band,
         COALESCE(c.n, 0) AS a, COALESCE(p.n, 0) AS b
  FROM (SELECT * FROM banded WHERE month_id >= 1) c
  FULL OUTER JOIN
       (SELECT * FROM banded WHERE month_id <= {_QDRIFT_MONTHS - 2}) p
    ON c.source = p.source AND c.band = p.band
       AND c.month_id = p.month_id + 1
),
tot AS (
  SELECT source, month_id,
         CAST(SUM(a) AS BIGINT) AS ta, CAST(SUM(b) AS BIGINT) AS tb
  FROM pairs GROUP BY 1, 2
),
sh AS (
  SELECT pr.source, pr.month_id, pr.band, t.ta, t.tb,
         ABS(pr.a * t.tb - pr.b * t.ta) AS shift
  FROM pairs pr JOIN tot t USING (source, month_id)
  WHERE t.ta > 0 AND t.tb > 0
),
rk AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY source, month_id ORDER BY shift DESC, band ASC) AS rn
  FROM sh
)
SELECT source, CAST(month_id AS INT) AS month_id,
       CAST(MIN(ta) AS BIGINT) AS n_docs,
       CAST(MIN(tb) AS BIGINT) AS n_docs_prev,
       CAST(COUNT(*) AS BIGINT) AS n_bands,
       CAST(SUM(shift) AS BIGINT) AS tvd_numerator,
       CAST(SUM(shift) AS DOUBLE) / (2.0 * MIN(ta) * MIN(tb)) AS score_tvd,
       CAST(CAST(MAX(shift) AS HUGEINT) * 1000000 // (MIN(ta) * MIN(tb))
            AS BIGINT) AS max_band_shift_ppm,
       CAST(MIN(CASE WHEN rn = 1 THEN band END) AS BIGINT)
         AS top_shifted_band
FROM rk GROUP BY 1, 2
"""


@register("quality_drift_dashboard", oracle=_QDRIFT_ORACLE, tags=("L4", "L6"))
def quality_drift_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    per_doc = _hq_doc_scores(table(spark, sf_dir, "documents"), "source")
    banded = (
        per_doc.select(
            "source",
            (
                F.conv(
                    F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
                ).cast("bigint")
                % _QDRIFT_MONTHS
            )
            .cast("int")
            .alias("month_id"),
            F.call_function(
                "div",
                F.col("score") + F.lit(_QDRIFT_SHIFT).cast("bigint"),
                F.lit(_QDRIFT_BAND).cast("bigint"),
            ).alias("band"),
        )
        .groupBy("source", "month_id", "band")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    cur = banded.filter(F.col("month_id") >= 1).select(
        "source", "month_id", "band", F.col("n").alias("a")
    )
    prv = banded.filter(F.col("month_id") <= _QDRIFT_MONTHS - 2).select(
        "source",
        (F.col("month_id") + 1).cast("int").alias("month_id"),
        "band",
        F.col("n").alias("b"),
    )
    pairs = (
        cur.join(prv, ["source", "month_id", "band"], "full_outer")
        .select(
            "source",
            "month_id",
            "band",
            F.coalesce("a", F.lit(0)).cast("bigint").alias("a"),
            F.coalesce("b", F.lit(0)).cast("bigint").alias("b"),
        )
    )
    tot = pairs.groupBy("source", "month_id").agg(
        F.sum("a").cast("bigint").alias("ta"), F.sum("b").cast("bigint").alias("tb")
    )
    sh = (
        pairs.join(F.broadcast(tot), ["source", "month_id"])
        .filter((F.col("ta") > 0) & (F.col("tb") > 0))
        .select(
            "source",
            "month_id",
            "band",
            "ta",
            "tb",
            F.abs(F.col("a") * F.col("tb") - F.col("b") * F.col("ta")).alias("shift"),
        )
    )
    w = Window.partitionBy("source", "month_id").orderBy(
        F.col("shift").desc(), F.col("band").asc()
    )
    rk = sh.withColumn("rn", F.row_number().over(w))
    return rk.groupBy("source", "month_id").agg(
        F.min("ta").cast("bigint").alias("n_docs"),
        F.min("tb").cast("bigint").alias("n_docs_prev"),
        F.count(F.lit(1)).cast("bigint").alias("n_bands"),
        F.sum("shift").cast("bigint").alias("tvd_numerator"),
        (
            F.sum("shift").cast("double")
            / (F.lit(2.0) * F.min("ta").cast("double") * F.min("tb").cast("double"))
        ).alias("score_tvd"),
        F.call_function(
            "div", F.max("shift") * F.lit(1_000_000).cast("bigint"),
            F.min("ta") * F.min("tb"),
        ).cast("bigint").alias("max_band_shift_ppm"),
        F.min(F.when(F.col("rn") == 1, F.col("band"))).cast("bigint").alias(
            "top_shifted_band"
        ),
    )


# ---------------------------------------------------------------------------
# L4/Q2 drift ALERTING ([EXT] — SURVEY §7.5 round-11 candidate, landed
# round 10): the quality-gate discipline applied to the drift relation.
# Each source carries a declared TVD budget (deterministic here:
# 500k/700k/900k ppm keyed by LENGTH(source) mod 3 — a real deployment
# reads the budget table from config); a (source, month) breaches when
# exact-integer tvd exceeds it:
#   tvd_numerator * 1e6  >  budget_ppm * 2 * ta * tb
# — all integers, no float threshold (the comparison is done in
# DECIMAL(38,0)/HUGEINT so the cross-product can't overflow at any
# corpus size). Only breach rows are emitted: the alert relation is
# incident-sized, not dashboard-sized.
# ---------------------------------------------------------------------------

_QDRIFT_ALERT_ORACLE = f"""
WITH dash AS ({_QDRIFT_ORACLE}
)
SELECT source, month_id, n_docs, n_docs_prev,
       CAST(CAST(tvd_numerator AS HUGEINT) * 1000000
            // (2 * n_docs * n_docs_prev) AS BIGINT) AS tvd_ppm,
       CAST(500000 + (LENGTH(source) % 3) * 200000 AS BIGINT) AS budget_ppm
FROM dash
WHERE CAST(tvd_numerator AS HUGEINT) * 1000000
      > (500000 + (LENGTH(source) % 3) * 200000)
        * CAST(2 * n_docs * n_docs_prev AS HUGEINT)
"""


@register("quality_drift_alerts", oracle=_QDRIFT_ALERT_ORACLE, tags=("L4", "Q2"))
def quality_drift_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    dash = quality_drift_dashboard(spark, sf_dir)
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731 — overflow headroom
    budget = (
        F.lit(500000).cast("bigint")
        + (F.length("source") % 3).cast("bigint") * 200000
    )
    denom = 2 * F.col("n_docs") * F.col("n_docs_prev")
    return (
        dash.withColumn("budget_ppm", budget)
        .filter(
            dec(F.col("tvd_numerator")) * 1000000 > dec(F.col("budget_ppm") * denom)
        )
        .select(
            "source",
            "month_id",
            "n_docs",
            "n_docs_prev",
            F.call_function(
                "div", dec(F.col("tvd_numerator")) * 1000000, dec(denom)
            )
            .cast("bigint")
            .alias("tvd_ppm"),
            "budget_ppm",
        )
    )


# ---------------------------------------------------------------------------
# L6/O1 seeded epoch shuffle ([EXT] — training-order reproducibility):
# a multi-epoch trainer needs a DIFFERENT, deterministic, globally
# agreed document order per epoch, computed without a single-node RNG
# or a single-reducer sort. Order key = md5(epoch ':' doc_id) — a
# seeded, engine-portable permutation; the global position comes from
# with_global_row_number (range-partition + broadcast prefix counts,
# operators/relational.py), so the shuffle scales as an ordinary sort
# at 100 TB. Emitted at the BATCH-manifest grain (fixed 64-doc
# batches): per (epoch, batch) the doc count, char volume, and the
# head/tail docs — what a data-loader shard map actually consumes.
# Hash equality with the oracle's partition-less ROW_NUMBER proves the
# distributed order IS the sequential order, epoch by epoch.
# ---------------------------------------------------------------------------

_EPOCH_SHUFFLE_BATCH = 64

_EPOCH_SHUFFLE_ORACLE = f"""
WITH e(epoch) AS (SELECT 1 UNION ALL SELECT 2),
r AS (
  SELECT e.epoch, d.doc_id, d.n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY e.epoch
           ORDER BY md5(CAST(e.epoch AS VARCHAR) || ':' ||
                        CAST(d.doc_id AS VARCHAR)), d.doc_id
         ) AS pos
  FROM documents d CROSS JOIN e
)
SELECT CAST(epoch AS INT) AS epoch,
       CAST((pos - 1) // {_EPOCH_SHUFFLE_BATCH} AS BIGINT) AS batch_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       arg_min(doc_id, pos) AS head_doc,
       arg_max(doc_id, pos) AS tail_doc
FROM r GROUP BY epoch, (pos - 1) // {_EPOCH_SHUFFLE_BATCH}
"""


@register("seeded_epoch_shuffle", oracle=_EPOCH_SHUFFLE_ORACLE, tags=("L6", "O1"))
def seeded_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import with_global_row_number

    d = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    epochs = []
    for e in (1, 2):
        key = F.md5(
            F.concat(F.lit(str(e)), F.lit(":"), F.col("doc_id").cast("string"))
        )
        epochs.append(
            with_global_row_number(
                d.withColumn("__k", key),
                [F.col("__k").asc(), F.col("doc_id").asc()],
                "pos",
            ).select(F.lit(e).cast("int").alias("epoch"), "doc_id", "n_chars", "pos")
        )
    u = epochs[0].unionByName(epochs[1])
    return (
        u.withColumn(
            "batch_id",
            # true integral division (ADVICE r10): floor((pos-1)/N) routes
            # the bigint row number through double division — exact only
            # below 2^53; `div` is exact at any magnitude, like the
            # oracle's (pos - 1) // N
            F.expr(f"(pos - 1) div {_EPOCH_SHUFFLE_BATCH}").cast("bigint"),
        )
        .groupBy("epoch", "batch_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.min_by("doc_id", "pos").alias("head_doc"),
            F.max_by("doc_id", "pos").alias("tail_doc"),
        )
    )


# ---------------------------------------------------------------------------
# L2/L4/L6/O1 composed deliverable: the curated training manifest —
# the full curation chain in ONE hash-checked relation (the llm-side
# sibling of packed_clean_corpus): soft-dedup sample
# (cluster_weighted_sampling's 1/cluster_size integer draw over the
# star-edge clusters) ∩ Gopher quality gate (keep=1), then the
# epoch-1 md5 shuffle order and the 64-doc batch-manifest grain of
# seeded_epoch_shuffle. The oracle NESTS every stage — cluster
# replay, draw, quality flags, partition-less ROW_NUMBER, batch agg —
# so one hash equality proves the composition end-to-end, not just
# each stage in isolation. Scale shape: each stage is its own proven
# sub-linear plan; the composition adds two keyed semi-joins.
# ---------------------------------------------------------------------------


def _curated_manifest_oracle() -> str:
    from .llm_text import _scalable_clusters_oracle
    from ..operators import textops as _t

    return f"""
WITH m AS ({_scalable_clusters_oracle()}),
cw AS (
  SELECT doc_id FROM m
  WHERE CAST('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR) || '|cw'), 1, 8) AS BIGINT)
          * cluster_size
        < 4294967296
),
t AS (SELECT doc_id, text, n_chars, {_SQL_TOKS} AS toks FROM documents),
q AS (
  SELECT doc_id,
         CAST(LEN(toks) AS INT) AS n_tokens,
         CASE WHEN LEN(toks) > 0
              THEN CAST(list_sum(list_transform(toks, x -> LENGTH(x))) AS DOUBLE)
                   / LEN(toks)
              END AS mean_word_len,
         CASE WHEN LENGTH(text) > 0
              THEN CAST(LEN(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
                   / LENGTH(text)
              END AS symbol_ratio
  FROM t
),
g AS (
  SELECT doc_id FROM q
  WHERE n_tokens >= {_t.GOPHER_MIN_WORDS} AND n_tokens <= {_t.GOPHER_MAX_WORDS}
    AND mean_word_len IS NOT NULL
    AND mean_word_len >= {_t.GOPHER_MIN_MEAN_LEN}
    AND mean_word_len <= {_t.GOPHER_MAX_MEAN_LEN}
    AND symbol_ratio IS NOT NULL
    AND symbol_ratio < {_t.GOPHER_MAX_SYMBOL_RATIO}
),
kept AS (
  SELECT t.doc_id, t.n_chars FROM t
  JOIN cw ON t.doc_id = cw.doc_id
  JOIN g ON t.doc_id = g.doc_id
),
r AS (
  SELECT doc_id, n_chars,
         ROW_NUMBER() OVER (
           ORDER BY md5('1:' || CAST(doc_id AS VARCHAR)), doc_id) AS pos
  FROM kept
)
SELECT CAST((pos - 1) // {_EPOCH_SHUFFLE_BATCH} AS BIGINT) AS batch_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       arg_min(doc_id, pos) AS head_doc,
       arg_max(doc_id, pos) AS tail_doc
FROM r GROUP BY (pos - 1) // {_EPOCH_SHUFFLE_BATCH}
"""


@register(
    "curated_training_manifest",
    oracle=_curated_manifest_oracle(),
    tags=("L2", "L4", "L6", "O1"),
)
def curated_training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import with_global_row_number
    from .llm_text import cluster_weighted_sampling

    d = table(spark, sf_dir, "documents")
    cw = cluster_weighted_sampling(spark, sf_dir).select("doc_id")
    flags = textops.gopher_quality_flags(F.col("text"))
    g = d.select("doc_id", flags["keep"].alias("keep")).filter(
        F.col("keep") == 1
    ).select("doc_id")
    kept = (
        d.select("doc_id", "n_chars")
        .join(cw, "doc_id")
        .join(g, "doc_id")
    )
    key = F.md5(F.concat(F.lit("1:"), F.col("doc_id").cast("string")))
    ranked = with_global_row_number(
        kept.withColumn("__k", key), [F.col("__k").asc(), F.col("doc_id").asc()], "pos"
    )
    return (
        ranked.withColumn(
            "batch_id",
            # true integral division (ADVICE r10): floor((pos-1)/N) routes
            # the bigint row number through double division — exact only
            # below 2^53; `div` is exact at any magnitude, like the
            # oracle's (pos - 1) // N
            F.expr(f"(pos - 1) div {_EPOCH_SHUFFLE_BATCH}").cast("bigint"),
        )
        .groupBy("batch_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.min_by("doc_id", "pos").alias("head_doc"),
            F.max_by("doc_id", "pos").alias("tail_doc"),
        )
    )


# ---------------------------------------------------------------------------
# L7 × S11 incremental pack REPACKING ([EXT] — round-11 idea bank: the
# last mile after an ExactSubstr pass at 100 TB is not re-packing the
# whole corpus; it is re-packing ONLY the shards the removal deltas
# touched). Packing here is SHARDED (shard = doc_id div 32): global
# greedy packing makes every delta invalidate every later pack, while
# per-shard packing bounds the blast radius to the shard — the same
# reasoning that shards every production packing job.
#
# Flow (mirrors incremental_bucket_recompute's S11 discipline,
# plans/ingest.py): the v1 manifest (raw token lengths) lands
# partitioned by shard; the removal deltas reduce to a MATERIALIZED
# (shard, n_changed) work list on disk (no driver collect, no
# self-reference — the two DPP gotchas probed in round 10); unchanged
# shards' manifest rows are CARRIED from the v1 scan via a broadcast
# anti join, changed shards are re-packed from the post-removal kept
# lengths via a broadcast semi join. The oracle re-derives the entire
# v2 manifest from scratch (nesting the full tokenize → coverage →
# islands → removal chain) plus the recomputed flag — one hash proves
# the carried rows, the re-packed rows, AND the flag.
#
# Scale: the per-shard running sum is a shard-partitioned window (no
# global sort); recompute cost is O(changed shards); carried rows are
# manifest metadata, not data. The carried scan IS dynamically pruned
# (pytest-asserted): DPP never fires for an anti join, so the NOT-IN
# shape is materialized as its COMPLEMENT list (unchanged shards,
# derived from the shard universe — not from the scan it prunes) and
# consumed as a broadcast semi join behind a comparison filter.
# ---------------------------------------------------------------------------

_REPACK_SHARD = 32

_REPACK_ORACLE = _EXSUB_CHAIN + f""",
v2 AS (
  SELECT doc_id, CAST(n_kept AS BIGINT) AS n,
         CAST(doc_id // {_REPACK_SHARD} AS BIGINT) AS shard
  FROM per_doc WHERE n_kept > 0
),
chg AS (
  SELECT DISTINCT CAST(doc_id // {_REPACK_SHARD} AS BIGINT) AS shard
  FROM per_doc WHERE n_removed > 0
),
cum AS (
  SELECT shard, doc_id, n,
         CAST(SUM(n) OVER (PARTITION BY shard ORDER BY doc_id) - n AS BIGINT)
           AS prev
  FROM v2
),
pieces AS (
  SELECT shard, doc_id, n, prev, t.k AS pack_id,
         LEAST((t.k + 1) * {_PACK_LEN}, prev + n)
           - GREATEST(t.k * {_PACK_LEN}, prev) AS toks
  FROM cum,
       UNNEST(range(prev // {_PACK_LEN}, (prev + n - 1) // {_PACK_LEN} + 1)) t(k)
),
packs AS (
  SELECT shard,
         CAST(pack_id AS BIGINT) AS pack_id,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(toks) AS BIGINT) AS n_tokens,
         MIN(doc_id) AS first_doc,
         MAX(doc_id) AS last_doc,
         CAST(SUM(CASE WHEN prev < pack_id * {_PACK_LEN} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_carryover_docs
  FROM pieces GROUP BY shard, pack_id
)
SELECT p.shard, p.pack_id, p.n_docs, p.n_tokens, p.first_doc, p.last_doc,
       p.n_carryover_docs, (c.shard IS NOT NULL) AS recomputed
FROM packs p LEFT JOIN chg c USING (shard)
"""


def _sharded_pack_manifest(lens: DataFrame) -> DataFrame:
    """Per-shard fixed-L pack manifest over a (shard, doc_id, n) frame:
    a shard-partitioned running sum (bounded window, never a global
    sort), local integer pack-span arithmetic, one (shard, pack)
    agg — the _pack_manifest shape with the shard key threaded
    through."""
    from pyspark.sql.window import Window

    L = F.lit(_PACK_LEN).cast("bigint")
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = lens.withColumn("prev", (F.sum("n").over(w) - F.col("n")).cast("bigint"))
    pieces = cum.select(
        "shard",
        "doc_id",
        "n",
        "prev",
        F.explode(
            F.sequence(
                F.expr(f"prev div {_PACK_LEN}"),
                F.expr(f"(prev + n - 1) div {_PACK_LEN}"),
            )
        ).alias("pack_id"),
    ).withColumn(
        "toks",
        F.least((F.col("pack_id") + 1) * L, F.col("prev") + F.col("n"))
        - F.greatest(F.col("pack_id") * L, F.col("prev")),
    )
    return pieces.groupBy("shard", "pack_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("toks").cast("bigint").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
        F.sum((F.col("prev") < F.col("pack_id") * L).cast("int"))
        .cast("bigint")
        .alias("n_carryover_docs"),
    )


_REPACK_DIRS = 256  # bounded physical partition fan-out at ANY corpus size


@register(
    "incremental_pack_repacking",
    oracle=_REPACK_ORACLE,
    tags=("L7", "S11", "L1"),
)
def incremental_pack_repacking(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import shutil
    import tempfile

    per_doc = tracked_persist(exact_substr_span_removal(spark, sf_dir))
    root = tempfile.mkdtemp(prefix="pack_repack_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    # Directory fan-out derived from input size up to the _REPACK_DIRS
    # cap (r13 optimization, guide §2.2/§6): the cap alone pinned 256
    # writer tasks + 256 parquet files for a 2 KB manifest at sf0.01 —
    # 1.0 s of task/file overhead per build, measured. 32 KiB of source
    # text per directory keeps ≥2 dirs (so DPP pruning stays exercised,
    # tests/test_round11_session_ops.py) and reaches the cap by ~sf1.
    # Result-neutral: dirkey is physical layout only, never an output.
    # Size via catalog.dataset_bytes (r14, ADVICE): it sums a
    # directory-shaped dataset's part files — a raw getsize stats the
    # directory inode (~4 KB) and would collapse n_dirs to 2 at exactly
    # the multi-file scale where the fan-out matters — and returns None
    # instead of raising when the path is missing.
    from ..catalog import dataset_bytes

    size = dataset_bytes(os.path.join(sf_dir, "documents.parquet"))
    n_dirs = (
        _REPACK_DIRS
        if size is None
        else min(_REPACK_DIRS, max(2, -(-size // (32 << 10))))
    )
    return _repack_v2_from_per_doc(spark, per_doc, root, n_dirs=n_dirs)


def _repack_v2_from_per_doc(
    spark: SparkSession, per_doc: DataFrame, root: str, n_dirs: int = _REPACK_DIRS
) -> DataFrame:
    """The repack core over an arbitrary (doc_id, n_tokens, n_kept,
    n_removed) frame — factored out so the delta-sized scale stress
    (scripts/repack_delta_stress.py) can drive it with a FIXED change
    set over a growing base, the op's actual production shape (the x10
    replica lake multiplies the ExactSubstr chain's duplicates BY
    CONSTRUCTION, which is what dominated the round-11 α=0.74)."""
    _repack_land_v1(per_doc, root, n_dirs)
    return _repack_apply_v2(spark, per_doc, root, n_dirs)


def _repack_land_v1(per_doc: DataFrame, root: str, n_dirs: int = _REPACK_DIRS) -> None:
    """v1: the pre-removal manifest, landed partitioned by a BOUNDED
    directory key (dirkey = shard % _REPACK_DIRS) with shard kept as a
    data column, plus a committed file manifest (_FILELIST.json).

    Round-13 finding, measured: the round-12 α=0.75 maintenance slope
    was NOT the listing syscalls — it was Spark's per-path planning
    cost on an UNBOUNDED partition fan-out. Partitioning by the raw
    shard key (32-doc shards) grows the directory count linearly with
    the corpus; at x10 the 20,480-dir layout cost ~25 s of file-index
    machinery (a min(paths,10000)-task parallel listing job + per-path
    partition inference) to read 243 MB of data, identical whether the
    paths came from a directory walk or an explicit file manifest. A
    fixed-fan-out dir key caps the metadata at any lake size
    (_REPACK_DIRS dirs, one file each via repartition on the key), DPP
    still prunes changed dirs, and the changed-shard row filter moves
    to a broadcast anti join on the shard DATA column — the production
    pattern for partial-partition invalidation. In production this
    manifest already sits on disk — the stress times it separately
    from the maintenance phase below."""
    from ..sources.io import land_filelist

    shard = F.expr(f"doc_id div {_REPACK_SHARD}").cast("bigint")
    m1 = _sharded_pack_manifest(
        per_doc.select(shard.alias("shard"), "doc_id", F.col("n_tokens").alias("n"))
    ).withColumn("dirkey", (F.col("shard") % n_dirs).cast("int"))
    m1.repartition(n_dirs, "dirkey").write.partitionBy("dirkey").parquet(
        root + "/manifest_v1"
    )
    land_filelist(root + "/manifest_v1")


def _repack_apply_v2(
    spark: SparkSession, per_doc: DataFrame, root: str, n_dirs: int = _REPACK_DIRS
) -> DataFrame:
    """The v2 MAINTENANCE phase: removal deltas → materialized work
    list, unchanged shards carried via the DPP complement semi join,
    changed shards re-packed. Assumes root/manifest_v1 exists."""
    shard = F.expr(f"doc_id div {_REPACK_SHARD}").cast("bigint")

    # the removal deltas reduce to a materialized work list (the
    # lineage stage's output shape; comparison filter, disk roundtrip)
    per_shard = (
        per_doc.filter(F.col("n_removed") > 0)
        .groupBy(shard.alias("shard"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_changed"))
    )
    per_shard.write.mode("overwrite").parquet(root + "/worklist")
    worklist = (
        spark.read.parquet(root + "/worklist")
        .filter(F.col("n_changed") > 0)
        .select(F.col("shard").cast("bigint").alias("shard"))
    )

    # The carried side prunes at the DIRECTORY grain and filters at the
    # row grain. Unchanged dirs: the COMPLEMENT list as a broadcast SEMI
    # join so Catalyst injects a dynamicpruning filter into the
    # partitioned manifest scan — DPP never fires for an anti join, so
    # the NOT-IN shape is materialized as its complement instead (the
    # §7.5 anti-join pruning probe, answered). The complement derives
    # from per_doc's shard universe, NOT from the manifest scan it
    # prunes (the round-10 self-reference gotcha), lands on disk like
    # the work list, and carries a count column so the consuming filter
    # is a comparison (gotcha (b)). Changed (boundary) dirs: DPP-pruned
    # to ≤|worklist| dirs, then the changed SHARDS drop out via a
    # broadcast anti join on the shard data column.
    dirkey = (F.col("shard") % n_dirs).cast("int")
    all_dirs = (
        per_doc.groupBy((F.expr(f"doc_id div {_REPACK_SHARD}") % n_dirs)
                .cast("int")
                .alias("dirkey"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    changed_dirs = worklist.select(dirkey.alias("dirkey")).distinct()
    all_dirs.join(F.broadcast(changed_dirs), "dirkey", "left_anti").write.mode(
        "overwrite"
    ).parquet(root + "/carrylist")
    # partition-directory values read back as int — match the scan's
    # inferred type on the broadcast side so no cast lands on the scan
    # column (a cast there defeats DPP)
    carry_dirs = (
        spark.read.parquet(root + "/carrylist")
        .filter(F.col("n_docs") > 0)
        .select(F.col("dirkey").cast("int").alias("dirkey"))
    )
    # manifest-driven read: explicit leaf files + basePath from v1's
    # committed _FILELIST.json — partition columns recover from the
    # given paths, no recursive directory discovery, DPP still prunes
    from ..sources.io import read_filelist_parquet

    v1 = read_filelist_parquet(spark, root + "/manifest_v1")
    out_cols = [
        F.col("shard").cast("bigint").alias("shard"),
        "pack_id",
        "n_docs",
        "n_tokens",
        "first_doc",
        "last_doc",
        "n_carryover_docs",
    ]
    carried_whole_dirs = v1.join(F.broadcast(carry_dirs), "dirkey", "left_semi")
    carried_boundary = v1.join(
        F.broadcast(changed_dirs), "dirkey", "left_semi"
    ).join(F.broadcast(worklist), "shard", "left_anti")
    carried = (
        carried_whole_dirs.select(*out_cols)
        .unionByName(carried_boundary.select(*out_cols))
        .withColumn("recomputed", F.lit(False))
    )
    recomputed = _sharded_pack_manifest(
        per_doc.filter(F.col("n_kept") > 0)
        .select(shard.alias("shard"), "doc_id", F.col("n_kept").alias("n"))
        .join(F.broadcast(worklist), "shard", "left_semi")
    ).withColumn("recomputed", F.lit(True))
    return carried.unionByName(recomputed)


# ---------------------------------------------------------------------------
# L2/L4/L6/O1 DECONTAMINATED training manifest ([EXT] — round-11 idea
# bank: the manifest a data owner actually ships). Extends
# curated_training_manifest with the two gates a benchmark-safe
# training set needs: (1) only TRAIN-side documents (the held-out ~25%
# md5 split is excluded wholesale — eval docs never train), and
# (2) the decontaminate_train_test exclusion (any train doc sharing a
# word 8-gram with ANY eval doc is dropped). Composition: soft-dedup
# sample ∩ Gopher gate ∩ train split ∖ contaminated, then the same
# md5 epoch shuffle + fixed-size batch manifest. The oracle nests
# EVERY stage (cluster replay → draw → quality flags → split → n-gram
# contamination join → partition-less ROW_NUMBER → batch agg), so one
# hash proves the full composition.
#
# Scale: every stage is the already-proven shape (banded clusters,
# posting-join decontamination, doc-keyed gates, distributed
# row-number); the new joins are all doc_id-keyed (the anti join
# shares the key), so no new shuffle class appears.
# ---------------------------------------------------------------------------


def _decon_manifest_oracle() -> str:
    from ..operators import textops as _t
    from .llm_text import _DECON_N, _SQL_TOKS, _scalable_clusters_oracle

    return f"""
WITH m AS ({_scalable_clusters_oracle()}),
cw AS (
  SELECT doc_id FROM m
  WHERE CAST('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR) || '|cw'), 1, 8) AS BIGINT)
          * cluster_size
        < 4294967296
),
t AS (SELECT doc_id, text, n_chars, {_SQL_TOKS} AS toks FROM documents),
q AS (
  SELECT doc_id,
         CAST(LEN(toks) AS INT) AS n_tokens,
         CASE WHEN LEN(toks) > 0
              THEN CAST(list_sum(list_transform(toks, x -> LENGTH(x))) AS DOUBLE)
                   / LEN(toks)
              END AS mean_word_len,
         CASE WHEN LENGTH(text) > 0
              THEN CAST(LEN(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
                   / LENGTH(text)
              END AS symbol_ratio
  FROM t
),
g AS (
  SELECT doc_id FROM q
  WHERE n_tokens >= {_t.GOPHER_MIN_WORDS} AND n_tokens <= {_t.GOPHER_MAX_WORDS}
    AND mean_word_len IS NOT NULL
    AND mean_word_len >= {_t.GOPHER_MIN_MEAN_LEN}
    AND mean_word_len <= {_t.GOPHER_MAX_MEAN_LEN}
    AND symbol_ratio IS NOT NULL
    AND symbol_ratio < {_t.GOPHER_MAX_SYMBOL_RATIO}
),
grams AS (
  SELECT doc_id,
         UNNEST(list_distinct(list_transform(
             range(1, LEN(toks) - {_DECON_N - 2}),
             i -> array_to_string(toks[i:i+{_DECON_N - 1}], ' ')))) AS gram
  FROM t WHERE LEN(toks) >= {_DECON_N}
),
split AS (
  SELECT doc_id, gram,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '4' AS is_test
  FROM grams
),
test_g AS (SELECT DISTINCT gram FROM split WHERE is_test),
contam AS (
  SELECT DISTINCT s.doc_id
  FROM split s JOIN test_g x ON s.gram = x.gram
  WHERE NOT s.is_test
),
kept AS (
  SELECT t.doc_id, t.n_chars FROM t
  JOIN cw ON t.doc_id = cw.doc_id
  JOIN g ON t.doc_id = g.doc_id
  WHERE substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 1) >= '4'
    AND t.doc_id NOT IN (SELECT doc_id FROM contam)
),
r AS (
  SELECT doc_id, n_chars,
         ROW_NUMBER() OVER (
           ORDER BY md5('1:' || CAST(doc_id AS VARCHAR)), doc_id) AS pos
  FROM kept
)
SELECT CAST((pos - 1) // {_EPOCH_SHUFFLE_BATCH} AS BIGINT) AS batch_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       arg_min(doc_id, pos) AS head_doc,
       arg_max(doc_id, pos) AS tail_doc
FROM r GROUP BY (pos - 1) // {_EPOCH_SHUFFLE_BATCH}
"""


@register(
    "decontaminated_training_manifest",
    oracle=_decon_manifest_oracle(),
    tags=("L2", "L4", "L6", "O1"),
)
def decontaminated_training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import with_global_row_number
    from .llm_text import cluster_weighted_sampling, decontaminate_train_test

    d = table(spark, sf_dir, "documents")
    cw = cluster_weighted_sampling(spark, sf_dir).select("doc_id")
    flags = textops.gopher_quality_flags(F.col("text"))
    g = d.select("doc_id", flags["keep"].alias("keep")).filter(
        F.col("keep") == 1
    ).select("doc_id")
    contaminated = decontaminate_train_test(spark, sf_dir).select("doc_id")
    is_train = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) >= "4"
    kept = (
        d.select("doc_id", "n_chars")
        .filter(is_train)
        .join(cw, "doc_id")
        .join(g, "doc_id")
        .join(contaminated, "doc_id", "left_anti")
    )
    key = F.md5(F.concat(F.lit("1:"), F.col("doc_id").cast("string")))
    ranked = with_global_row_number(
        kept.withColumn("__k", key), [F.col("__k").asc(), F.col("doc_id").asc()], "pos"
    )
    return (
        ranked.withColumn(
            "batch_id", F.expr(f"(pos - 1) div {_EPOCH_SHUFFLE_BATCH}").cast("bigint")
        )
        .groupBy("batch_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.min_by("doc_id", "pos").alias("head_doc"),
            F.max_by("doc_id", "pos").alias("tail_doc"),
        )
    )


# ---------------------------------------------------------------------------
# S11+L2/L4/L6 INCREMENTAL decontaminated-manifest maintenance ([EXT] —
# round-12 idea bank: delta-apply `decontaminated_training_manifest`
# over new train arrivals through the real snapshot protocol). The
# production shape: the shipped manifest v1 sits on disk; a batch of
# new TRAIN documents lands; v2 must ship WITHOUT recomputing v1's
# global shuffle — shipped batches are immutable (a trainer may already
# have consumed them), so maintenance is APPEND-ONLY: new arrivals pass
# the same gates (cluster-weighted sampling keep, Gopher quality,
# 8-gram decontamination — all frozen index-build artifacts, exactly as
# `stream_cluster_contamination_state` freezes cluster membership),
# get their own md5 epoch shuffle, and pack into fresh batches numbered
# after v1's tail. The arrival split is deterministic
# (md5(doc_id || '|arr') first hex digit >= 'd' ≈ 19% delta), so the
# oracle replays the ENTIRE composition — both the v1 build and the
# delta append — and one hash proves delta-apply ≡ recompute under the
# append contract.
#
# Scale: v1 is carried VERBATIM from the committed snapshot (a disk
# scan of O(batches) rows — no shuffle, no recompute); delta work is
# the gate probes (doc-keyed joins against the frozen artifacts) plus
# one global row_number over DELTA-kept docs only. The gates are
# computed once and split by arrival flag — in production the base
# half already ran at v1 build time, and here the v1 build IS that
# step, so no stage runs twice. Reference parity: composes the
# reference's versioned-snapshot discipline (S11) with the curation
# gates; cites transform_weather.py's overwrite-partition idiom as the
# v1/v2 lineage model.
# ---------------------------------------------------------------------------


def _incr_manifest_oracle() -> str:
    from ..operators import textops as _t
    from .llm_text import _DECON_N, _SQL_TOKS, _scalable_clusters_oracle

    return f"""
WITH m AS ({_scalable_clusters_oracle()}),
cw AS (
  SELECT doc_id FROM m
  WHERE CAST('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR) || '|cw'), 1, 8) AS BIGINT)
          * cluster_size
        < 4294967296
),
t AS (SELECT doc_id, text, n_chars, {_SQL_TOKS} AS toks FROM documents),
q AS (
  SELECT doc_id,
         CAST(LEN(toks) AS INT) AS n_tokens,
         CASE WHEN LEN(toks) > 0
              THEN CAST(list_sum(list_transform(toks, x -> LENGTH(x))) AS DOUBLE)
                   / LEN(toks)
              END AS mean_word_len,
         CASE WHEN LENGTH(text) > 0
              THEN CAST(LEN(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
                   / LENGTH(text)
              END AS symbol_ratio
  FROM t
),
g AS (
  SELECT doc_id FROM q
  WHERE n_tokens >= {_t.GOPHER_MIN_WORDS} AND n_tokens <= {_t.GOPHER_MAX_WORDS}
    AND mean_word_len IS NOT NULL
    AND mean_word_len >= {_t.GOPHER_MIN_MEAN_LEN}
    AND mean_word_len <= {_t.GOPHER_MAX_MEAN_LEN}
    AND symbol_ratio IS NOT NULL
    AND symbol_ratio < {_t.GOPHER_MAX_SYMBOL_RATIO}
),
grams AS (
  SELECT doc_id,
         UNNEST(list_distinct(list_transform(
             range(1, LEN(toks) - {_DECON_N - 2}),
             i -> array_to_string(toks[i:i+{_DECON_N - 1}], ' ')))) AS gram
  FROM t WHERE LEN(toks) >= {_DECON_N}
),
split AS (
  SELECT doc_id, gram,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '4' AS is_test
  FROM grams
),
test_g AS (SELECT DISTINCT gram FROM split WHERE is_test),
contam AS (
  SELECT DISTINCT s.doc_id
  FROM split s JOIN test_g x ON s.gram = x.gram
  WHERE NOT s.is_test
),
kept AS (
  SELECT t.doc_id, t.n_chars,
         substr(md5(CAST(t.doc_id AS VARCHAR) || '|arr'), 1, 1) >= 'd' AS is_new
  FROM t
  JOIN cw ON t.doc_id = cw.doc_id
  JOIN g ON t.doc_id = g.doc_id
  WHERE substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 1) >= '4'
    AND t.doc_id NOT IN (SELECT doc_id FROM contam)
),
r1 AS (
  SELECT doc_id, n_chars,
         ROW_NUMBER() OVER (
           ORDER BY md5('1:' || CAST(doc_id AS VARCHAR)), doc_id) AS pos
  FROM kept WHERE NOT is_new
),
b1 AS (
  SELECT CAST((pos - 1) // {_EPOCH_SHUFFLE_BATCH} AS BIGINT) AS batch_id,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         arg_min(doc_id, pos) AS head_doc,
         arg_max(doc_id, pos) AS tail_doc
  FROM r1 GROUP BY (pos - 1) // {_EPOCH_SHUFFLE_BATCH}
),
n1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM b1),
r2 AS (
  SELECT doc_id, n_chars,
         ROW_NUMBER() OVER (
           ORDER BY md5('1:' || CAST(doc_id AS VARCHAR)), doc_id) AS pos
  FROM kept WHERE is_new
),
b2 AS (
  SELECT CAST(n1.n + (pos - 1) // {_EPOCH_SHUFFLE_BATCH} AS BIGINT) AS batch_id,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         arg_min(doc_id, pos) AS head_doc,
         arg_max(doc_id, pos) AS tail_doc
  FROM r2 CROSS JOIN n1 GROUP BY n1.n + (pos - 1) // {_EPOCH_SHUFFLE_BATCH}
)
SELECT batch_id, n_docs, sum_chars, head_doc, tail_doc, FALSE AS from_delta FROM b1
UNION ALL
SELECT batch_id, n_docs, sum_chars, head_doc, tail_doc, TRUE AS from_delta FROM b2
"""


def _decon_kept_with_arrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decontaminated-manifest gate chain (train split ∩ cluster-
    weighted keep ∩ Gopher ∖ 8-gram-contaminated) with the deterministic
    arrival flag. Shared by the batch op and its streaming twin; the
    gates run ONCE — the flag splits base (v1 build; in production,
    already on disk) from delta (the only new work)."""
    from .llm_text import cluster_weighted_sampling, decontaminate_train_test

    d = table(spark, sf_dir, "documents")
    cw = cluster_weighted_sampling(spark, sf_dir).select("doc_id")
    flags = textops.gopher_quality_flags(F.col("text"))
    g = (
        d.select("doc_id", flags["keep"].alias("keep"))
        .filter(F.col("keep") == 1)
        .select("doc_id")
    )
    contaminated = decontaminate_train_test(spark, sf_dir).select("doc_id")
    is_train = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) >= "4"
    is_new = (
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|arr"))), 1, 1
        )
        >= "d"
    )
    return tracked_persist(
        d.select("doc_id", "n_chars", is_new.alias("is_new"))
        .filter(is_train)
        .join(cw, "doc_id")
        .join(g, "doc_id")
        .join(contaminated, "doc_id", "left_anti")
    )


def _manifest_shuffle_key() -> Column:
    # built lazily: F.lit needs an active SparkContext, and plan
    # modules must import cleanly before any session exists (the
    # registry is walked by session-less tools like boundary_sweep)
    return F.md5(F.concat(F.lit("1:"), F.col("doc_id").cast("string")))


def _manifest_batches(docs: DataFrame) -> DataFrame:
    """md5 epoch shuffle + fixed-size batch rollup at the RELATIVE batch
    grain (rel_batch from 0); callers add the version offset."""
    from ..operators.relational import with_global_row_number

    ranked = with_global_row_number(
        docs.withColumn("__k", _manifest_shuffle_key()),
        [F.col("__k").asc(), F.col("doc_id").asc()],
        "pos",
    )
    return (
        ranked.withColumn(
            "rel_batch",
            F.expr(f"(pos - 1) div {_EPOCH_SHUFFLE_BATCH}").cast("bigint"),
        )
        .groupBy("rel_batch")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.min_by("doc_id", "pos").alias("head_doc"),
            F.max_by("doc_id", "pos").alias("tail_doc"),
        )
    )


def _manifest_batches_by_arrival(kept: DataFrame) -> DataFrame:
    """BOTH arrival cohorts' batch rollups from ONE global ranking
    (r14, guide §2.4): _manifest_batches called per cohort paid the
    range exchange + sampling pass + per-partition-counts chain twice
    over the same kept frame. Ranking once over the total order
    (is_new ASC, __k ASC, doc_id ASC) puts every base row before every
    delta row, so base positions equal the base-only ranking verbatim
    and delta positions minus n_base equal the delta-only ranking —
    the per-cohort rel_batch/head/tail aggregates are bit-identical to
    two separate _manifest_batches calls (the streaming twin still
    takes the per-cohort spelling; its equality test pins the match).
    Returns (is_new, rel_batch, n_docs, sum_chars, head_doc, tail_doc).
    """
    from ..operators.relational import with_global_row_number

    ranked = with_global_row_number(
        kept.withColumn("__k", _manifest_shuffle_key()),
        [F.col("is_new").asc(), F.col("__k").asc(), F.col("doc_id").asc()],
        "pos",
    )
    n_base = ranked.filter(~F.col("is_new")).agg(
        F.count(F.lit(1)).cast("bigint").alias("__nb")
    )
    rel = ranked.crossJoin(F.broadcast(n_base)).withColumn(
        "rel_pos",
        F.when(~F.col("is_new"), F.col("pos")).otherwise(F.col("pos") - F.col("__nb")),
    )
    return (
        rel.withColumn(
            "rel_batch",
            F.expr(f"(rel_pos - 1) div {_EPOCH_SHUFFLE_BATCH}").cast("bigint"),
        )
        .groupBy("is_new", "rel_batch")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.min_by("doc_id", "rel_pos").alias("head_doc"),
            F.max_by("doc_id", "rel_pos").alias("tail_doc"),
        )
    )


@register(
    "incremental_manifest_maintenance",
    oracle=_incr_manifest_oracle(),
    tags=("S11", "L2", "L4", "L6", "O1"),
)
def incremental_manifest_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import shutil
    import tempfile

    from ..sources.io import read_snapshot, write_snapshot

    kept = _decon_kept_with_arrival(spark, sf_dir)
    # ONE global ranking covers both arrival cohorts (r14, see
    # _manifest_batches_by_arrival) — persisted because the v1 write
    # and the delta append are separate actions of the commit protocol
    allb = tracked_persist(_manifest_batches_by_arrival(kept))

    root = tempfile.mkdtemp(prefix="manifest_maint_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    base = root + "/train_manifest"

    # v1: the shipped manifest, committed through the snapshot protocol
    write_snapshot(
        allb.filter(~F.col("is_new")).select(
            F.col("rel_batch").alias("batch_id"),
            "n_docs",
            "sum_chars",
            "head_doc",
            "tail_doc",
        ),
        base,
    )
    v1 = read_snapshot(spark, base, version=1)

    # append offset = v1's batch COUNT, carried as a broadcast 1-row
    # aggregate (never a driver collect) — batches are contiguous from
    # 0, so count == max+1 == next free id; coalesce covers an empty v1
    offset = v1.agg(
        F.coalesce(F.count(F.lit(1)), F.lit(0)).cast("bigint").alias("__n1")
    )
    delta_b = (
        allb.filter(F.col("is_new"))
        .crossJoin(F.broadcast(offset))
        .select(
            (F.col("__n1") + F.col("rel_batch")).cast("bigint").alias("batch_id"),
            "n_docs",
            "sum_chars",
            "head_doc",
            "tail_doc",
        )
    )

    # v2 = carried v1 (verbatim from disk) ++ appended delta batches,
    # committed and SERVED from the snapshot — the maintenance product
    v2 = write_snapshot(
        v1.withColumn("from_delta", F.lit(False)).unionByName(
            delta_b.withColumn("from_delta", F.lit(True))
        ),
        base,
    )
    return read_snapshot(spark, base, version=v2).select(
        "batch_id", "n_docs", "sum_chars", "head_doc", "tail_doc", "from_delta"
    )




# ---------------------------------------------------------------------------
# L4/L6/Q2 contamination BLAST-RADIUS over a shipped manifest ([EXT] —
# round-12 idea bank, built same round): the operational emergency no
# decontamination gate can prevent — the manifest shipped BEFORE the
# benchmark existed. The shipped artifact here is the quality-gated
# training manifest (train split ∩ Gopher gate, md5 epoch shuffle into
# fixed batches — the realistic pre-benchmark pipeline: exact-dedup +
# quality, no benchmark filter); the eval panel then arrives, and the
# trainer needs the minimal invalidation work list: which (batch_id,
# doc_id) pairs share a word 8-gram with ANY eval doc. Output is
# change-sized (one row per contaminated doc with its batch and shared-
# gram count); batches absent from the output are certified clean.
#
# Design note: a first cut layered this on the SOFT-DEDUPED
# (cluster-weighted) manifest, but the 1/cluster_size draw removes
# almost exactly the docs that share grams (they cluster) — at the
# graded scales the blast set was empty, a vacuous MATCH. The
# quality-gated manifest is the honest host: contamination survives
# shipping, which is the incident this op exists for.
#
# Scale: the eval gram set probes via the SAME posting-join shape as
# decontaminate_train_test (gram-keyed join, no all-pairs); the
# manifest assignment is the proven distributed row-number; everything
# else is doc-keyed. The oracle nests the FULL composition — gate,
# ranking, batch assignment, gram probe — so one hash proves the list.
# ---------------------------------------------------------------------------


def _blast_radius_oracle() -> str:
    from ..operators import textops as _t
    from .llm_text import _DECON_N, _SQL_TOKS

    return f"""
WITH t AS (SELECT doc_id, text, n_chars, {_SQL_TOKS} AS toks FROM documents),
q AS (
  SELECT doc_id,
         CAST(LEN(toks) AS INT) AS n_tokens,
         CASE WHEN LEN(toks) > 0
              THEN CAST(list_sum(list_transform(toks, x -> LENGTH(x))) AS DOUBLE)
                   / LEN(toks)
              END AS mean_word_len,
         CASE WHEN LENGTH(text) > 0
              THEN CAST(LEN(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
                   / LENGTH(text)
              END AS symbol_ratio
  FROM t
),
g AS (
  SELECT doc_id FROM q
  WHERE n_tokens >= {_t.GOPHER_MIN_WORDS} AND n_tokens <= {_t.GOPHER_MAX_WORDS}
    AND mean_word_len IS NOT NULL
    AND mean_word_len >= {_t.GOPHER_MIN_MEAN_LEN}
    AND mean_word_len <= {_t.GOPHER_MAX_MEAN_LEN}
    AND symbol_ratio IS NOT NULL
    AND symbol_ratio < {_t.GOPHER_MAX_SYMBOL_RATIO}
),
grams AS (
  SELECT doc_id,
         UNNEST(list_distinct(list_transform(
             range(1, LEN(toks) - {_DECON_N - 2}),
             i -> array_to_string(toks[i:i+{_DECON_N - 1}], ' ')))) AS gram
  FROM t WHERE LEN(toks) >= {_DECON_N}
),
split AS (
  SELECT doc_id, gram,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '4' AS is_test
  FROM grams
),
eval_g AS (SELECT DISTINCT gram FROM split WHERE is_test),
kept AS (
  SELECT t.doc_id FROM t
  JOIN g ON t.doc_id = g.doc_id
  WHERE substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 1) >= '4'
),
assign AS (
  SELECT doc_id,
         CAST((ROW_NUMBER() OVER (
             ORDER BY md5('1:' || CAST(doc_id AS VARCHAR)), doc_id) - 1)
           // {_EPOCH_SHUFFLE_BATCH} AS BIGINT) AS batch_id
  FROM kept
),
blast AS (
  SELECT s.doc_id, CAST(COUNT(DISTINCT s.gram) AS BIGINT) AS n_eval_grams
  FROM split s JOIN eval_g x ON s.gram = x.gram
  WHERE NOT s.is_test
  GROUP BY s.doc_id
)
SELECT a.batch_id, a.doc_id, b.n_eval_grams
FROM assign a JOIN blast b ON a.doc_id = b.doc_id
"""


@register(
    "manifest_contamination_blast_radius",
    oracle=_blast_radius_oracle(),
    tags=("L4", "L6", "Q2", "O1"),
)
def manifest_contamination_blast_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import with_global_row_number
    from .llm_text import _DECON_N

    d = table(spark, sf_dir, "documents")
    flags = textops.gopher_quality_flags(F.col("text"))
    g = (
        d.select("doc_id", flags["keep"].alias("keep"))
        .filter(F.col("keep") == 1)
        .select("doc_id")
    )
    grams = tracked_persist(
        d.select(
            "doc_id",
            F.explode(
                F.array_distinct(textops.shingles(textops.tokens("text"), _DECON_N))
            ).alias("gram"),
            (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "4").alias(
                "is_test"
            ),
        )
    )
    eval_g = grams.filter(F.col("is_test")).select("gram").distinct()
    is_train = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) >= "4"
    kept = d.select("doc_id").filter(is_train).join(g, "doc_id")
    ranked = with_global_row_number(
        kept.withColumn("__k", _manifest_shuffle_key()),
        [F.col("__k").asc(), F.col("doc_id").asc()],
        "pos",
    )
    assign = ranked.select(
        "doc_id",
        F.expr(f"(pos - 1) div {_EPOCH_SHUFFLE_BATCH}").cast("bigint").alias(
            "batch_id"
        ),
    )
    blast = (
        grams.filter(~F.col("is_test"))
        .join(eval_g, "gram")
        .groupBy("doc_id")
        .agg(F.countDistinct("gram").cast("bigint").alias("n_eval_grams"))
    )
    return assign.join(blast, "doc_id").select("batch_id", "doc_id", "n_eval_grams")


# ---------------------------------------------------------------------------
# Q1/Q2/L6 gate-version BACKFILL PLANNER ([EXT] — round-12 idea bank,
# built same round): when a quality gate's thresholds change (Gopher
# v2 below: min-words tightened 50→80, symbol-ratio tightened
# 0.1→0.08, min mean-word-len LOOSENED 3.0→2.5 — so verdicts flip in
# BOTH directions), recomputing every shard is the §4.4 anti-pattern.
# The planner emits the minimal re-gate work list at the shard grain:
# only shards containing at least one doc whose keep verdict FLIPS
# need re-gating; everything else is carried (the DPP complement
# recipe incremental_pack_repacking already demonstrates on disk).
# Output is change-sized: one row per affected shard with flip
# direction counts — n_flip_drop (kept under v1, dropped by v2: the
# trainer must EXCISE) and n_flip_keep (newly eligible: the trainer
# may BACKFILL).
#
# Scale: per-doc flags (JVM expressions), one shard-keyed agg, no
# joins. Cross-engine determinism: both keep verdicts compare the
# SAME exact-integer-derived doubles the long-green gopher gate
# already hash-verifies.
# ---------------------------------------------------------------------------

_GATE_V2_MIN_WORDS = 80
_GATE_V2_MAX_SYMBOL = 0.08
_GATE_V2_MIN_MEAN_LEN = 2.5


def _backfill_plan_oracle() -> str:
    from ..operators import textops as _t
    from .llm_text import _SQL_TOKS

    return f"""
WITH t AS (SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents),
q AS (
  SELECT doc_id,
         CAST(LEN(toks) AS INT) AS n_tokens,
         CASE WHEN LEN(toks) > 0
              THEN CAST(list_sum(list_transform(toks, x -> LENGTH(x))) AS DOUBLE)
                   / LEN(toks)
              END AS mean_word_len,
         CASE WHEN LENGTH(text) > 0
              THEN CAST(LEN(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
                   / LENGTH(text)
              END AS symbol_ratio
  FROM t
),
v AS (
  SELECT doc_id,
         CASE WHEN n_tokens >= {_t.GOPHER_MIN_WORDS} AND n_tokens <= {_t.GOPHER_MAX_WORDS}
               AND mean_word_len IS NOT NULL
               AND mean_word_len >= {_t.GOPHER_MIN_MEAN_LEN}
               AND mean_word_len <= {_t.GOPHER_MAX_MEAN_LEN}
               AND symbol_ratio IS NOT NULL
               AND symbol_ratio < {_t.GOPHER_MAX_SYMBOL_RATIO}
              THEN 1 ELSE 0 END AS keep_v1,
         CASE WHEN n_tokens >= {_GATE_V2_MIN_WORDS} AND n_tokens <= {_t.GOPHER_MAX_WORDS}
               AND mean_word_len IS NOT NULL
               AND mean_word_len >= {_GATE_V2_MIN_MEAN_LEN}
               AND mean_word_len <= {_t.GOPHER_MAX_MEAN_LEN}
               AND symbol_ratio IS NOT NULL
               AND symbol_ratio < {_GATE_V2_MAX_SYMBOL}
              THEN 1 ELSE 0 END AS keep_v2
  FROM q
)
SELECT CAST(doc_id // 32 AS BIGINT) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN keep_v1 = 1 AND keep_v2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flip_drop,
       CAST(SUM(CASE WHEN keep_v1 = 0 AND keep_v2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flip_keep
FROM v
GROUP BY doc_id // 32
HAVING SUM(CASE WHEN keep_v1 <> keep_v2 THEN 1 ELSE 0 END) > 0
"""


def _gate_v2_keep(flags: dict) -> Column:
    """The Gopher-v2 keep verdict over gopher_quality_flags output —
    shared by the batch planner and its streaming twin."""
    n_tok = flags["n_tokens"]
    mean_len = flags["mean_word_len"]
    sym = flags["symbol_ratio"]
    return (
        (n_tok >= _GATE_V2_MIN_WORDS)
        & (n_tok <= textops.GOPHER_MAX_WORDS)
        & mean_len.isNotNull()
        & (mean_len >= _GATE_V2_MIN_MEAN_LEN)
        & (mean_len <= textops.GOPHER_MAX_MEAN_LEN)
        & sym.isNotNull()
        & (sym < _GATE_V2_MAX_SYMBOL)
    ).cast("int")


@register(
    "gate_version_backfill_plan",
    oracle=_backfill_plan_oracle(),
    tags=("Q1", "Q2", "L6"),
)
def gate_version_backfill_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    flags = textops.gopher_quality_flags(F.col("text"))
    v = d.select(
        "doc_id",
        flags["keep"].alias("keep_v1"),
        _gate_v2_keep(flags).alias("keep_v2"),
    )
    return (
        v.groupBy(F.expr("doc_id div 32").cast("bigint").alias("shard"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(((F.col("keep_v1") == 1) & (F.col("keep_v2") == 0)).cast("int"))
            .cast("bigint")
            .alias("n_flip_drop"),
            F.sum(((F.col("keep_v1") == 0) & (F.col("keep_v2") == 1)).cast("int"))
            .cast("bigint")
            .alias("n_flip_keep"),
            F.sum((F.col("keep_v1") != F.col("keep_v2")).cast("int")).alias("__flips"),
        )
        .filter(F.col("__flips") > 0)
        .drop("__flips")
    )


# ---------------------------------------------------------------------------
# L6/O1/G8 length-sorted inference batching ([EXT] — round-12 session
# addition: the SERVING-side counterpart of sequence packing). Batched
# inference pads every sequence in a batch to the batch max; random
# batching wastes compute proportional to length variance. The
# standard fix is length-sorted batching: order docs by (n_chars,
# doc_id), cut fixed batches of 32, and account the padding waste
# exactly — per batch: max_len, sum_len, pad_waste = 32·max − sum (the
# compute a serving fleet burns on pad tokens), all exact integers.
# The global order comes from the proven distributed row-number
# primitive (range partition + broadcast prefix counts — no
# single-reducer sort); the rollup is one batch-keyed agg. DuckDB
# replays the identical partition-less spelling.
# ---------------------------------------------------------------------------

_INFER_BATCH = 32

_PAD_BATCH_ORACLE = f"""
WITH r AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
         ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS pos
  FROM documents
)
SELECT CAST((pos - 1) // {_INFER_BATCH} AS BIGINT) AS batch_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MAX(n_chars) AS BIGINT) AS max_len,
       CAST(SUM(n_chars) AS BIGINT) AS sum_len,
       CAST(COUNT(*) * MAX(n_chars) - SUM(n_chars) AS BIGINT) AS pad_waste,
       arg_min(doc_id, pos) AS head_doc,
       arg_max(doc_id, pos) AS tail_doc
FROM r GROUP BY (pos - 1) // {_INFER_BATCH}
"""


@register(
    "length_sorted_infer_batches",
    oracle=_PAD_BATCH_ORACLE,
    tags=("L6", "O1", "G8"),
)
def length_sorted_infer_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import with_global_row_number

    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("bigint").alias("n_chars")
    )
    ranked = with_global_row_number(
        d, [F.col("n_chars").asc(), F.col("doc_id").asc()], "pos"
    )
    return (
        ranked.withColumn(
            "batch_id", F.expr(f"(pos - 1) div {_INFER_BATCH}").cast("bigint")
        )
        .groupBy("batch_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.max("n_chars").cast("bigint").alias("max_len"),
            F.sum("n_chars").cast("bigint").alias("sum_len"),
            (F.count(F.lit(1)) * F.max("n_chars") - F.sum("n_chars"))
            .cast("bigint")
            .alias("pad_waste"),
            F.min_by("doc_id", "pos").alias("head_doc"),
            F.max_by("doc_id", "pos").alias("tail_doc"),
        )
    )


# ---------------------------------------------------------------------------
# S11/L4/Q3 manifest EXCISION repair ([EXT] — round-12 session
# addition: the EXECUTOR for manifest_contamination_blast_radius's
# plan). The v1 manifest ships as a doc-grain ASSIGNMENT snapshot
# (doc_id, n_chars, batch_id); the blast list arrives; v2 excises the
# contaminated docs IN PLACE — batch ids are stable (the trainer's
# resume cursor must keep meaning), untouched batches carry their v1
# stats verbatim, affected batches are re-aggregated from their
# surviving members and flagged repaired. A fully-excised batch
# vanishes from v2 (its id is retired, not renumbered). v2 is
# committed and served through the snapshot protocol.
#
# Scale: the affected-batch list is change-sized (broadcast); the
# carried side is one anti join at the batch-stat grain (manifest
# metadata, ~corpus/64 rows); re-aggregation touches only affected
# batches' members. The oracle replays gate → rank → assign → blast →
# excise → re-aggregate, so one hash proves the repair.
# ---------------------------------------------------------------------------


def _excision_repair_oracle() -> str:
    from ..operators import textops as _t
    from .llm_text import _DECON_N, _SQL_TOKS

    return f"""
WITH t AS (SELECT doc_id, text, n_chars, {_SQL_TOKS} AS toks FROM documents),
q AS (
  SELECT doc_id,
         CAST(LEN(toks) AS INT) AS n_tokens,
         CASE WHEN LEN(toks) > 0
              THEN CAST(list_sum(list_transform(toks, x -> LENGTH(x))) AS DOUBLE)
                   / LEN(toks)
              END AS mean_word_len,
         CASE WHEN LENGTH(text) > 0
              THEN CAST(LEN(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
                   / LENGTH(text)
              END AS symbol_ratio
  FROM t
),
g AS (
  SELECT doc_id FROM q
  WHERE n_tokens >= {_t.GOPHER_MIN_WORDS} AND n_tokens <= {_t.GOPHER_MAX_WORDS}
    AND mean_word_len IS NOT NULL
    AND mean_word_len >= {_t.GOPHER_MIN_MEAN_LEN}
    AND mean_word_len <= {_t.GOPHER_MAX_MEAN_LEN}
    AND symbol_ratio IS NOT NULL
    AND symbol_ratio < {_t.GOPHER_MAX_SYMBOL_RATIO}
),
grams AS (
  SELECT doc_id,
         UNNEST(list_distinct(list_transform(
             range(1, LEN(toks) - {_DECON_N - 2}),
             i -> array_to_string(toks[i:i+{_DECON_N - 1}], ' ')))) AS gram
  FROM t WHERE LEN(toks) >= {_DECON_N}
),
split AS (
  SELECT doc_id, gram,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '4' AS is_test
  FROM grams
),
eval_g AS (SELECT DISTINCT gram FROM split WHERE is_test),
blast AS (
  SELECT DISTINCT s.doc_id
  FROM split s JOIN eval_g x ON s.gram = x.gram
  WHERE NOT s.is_test
),
assign AS (
  SELECT t.doc_id, t.n_chars,
         CAST((ROW_NUMBER() OVER (
             ORDER BY md5('1:' || CAST(t.doc_id AS VARCHAR)), t.doc_id) - 1)
           // {_EPOCH_SHUFFLE_BATCH} AS BIGINT) AS batch_id
  FROM t
  JOIN g ON t.doc_id = g.doc_id
  WHERE substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 1) >= '4'
),
affected AS (
  SELECT DISTINCT batch_id FROM assign WHERE doc_id IN (SELECT doc_id FROM blast)
),
v1 AS (
  SELECT batch_id,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         MIN(doc_id) AS head_doc,
         MAX(doc_id) AS tail_doc
  FROM assign GROUP BY batch_id
),
repaired AS (
  SELECT batch_id,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         MIN(doc_id) AS head_doc,
         MAX(doc_id) AS tail_doc
  FROM assign
  WHERE batch_id IN (SELECT batch_id FROM affected)
    AND doc_id NOT IN (SELECT doc_id FROM blast)
  GROUP BY batch_id
)
SELECT batch_id, n_docs, sum_chars, head_doc, tail_doc, FALSE AS repaired
FROM v1 WHERE batch_id NOT IN (SELECT batch_id FROM affected)
UNION ALL
SELECT batch_id, n_docs, sum_chars, head_doc, tail_doc, TRUE AS repaired
FROM repaired
"""


def _excision_assign_and_blast(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(assign, blast): the doc-grain batch assignment (train split ∩
    Gopher gate → md5 epoch shuffle → fixed batches) and the
    blast-radius doc set (train docs sharing a word 8-gram with any
    eval doc). Shared by the batch op and its streaming twin
    (streaming/jobs.py:stream_excision_repair_state) so both repair the
    SAME shipped assignment."""
    from ..operators.relational import with_global_row_number
    from .llm_text import _DECON_N

    d = table(spark, sf_dir, "documents")
    flags = textops.gopher_quality_flags(F.col("text"))
    g = (
        d.select("doc_id", flags["keep"].alias("keep"))
        .filter(F.col("keep") == 1)
        .select("doc_id")
    )
    grams = tracked_persist(
        d.select(
            "doc_id",
            F.explode(
                F.array_distinct(textops.shingles(textops.tokens("text"), _DECON_N))
            ).alias("gram"),
            (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "4").alias(
                "is_test"
            ),
        )
    )
    eval_g = grams.filter(F.col("is_test")).select("gram").distinct()
    blast = (
        grams.filter(~F.col("is_test")).join(eval_g, "gram").select("doc_id").distinct()
    )

    is_train = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) >= "4"
    kept = d.select("doc_id", "n_chars").filter(is_train).join(g, "doc_id")
    ranked = with_global_row_number(
        kept.withColumn("__k", _manifest_shuffle_key()),
        [F.col("__k").asc(), F.col("doc_id").asc()],
        "pos",
    )
    assign = ranked.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.expr(f"(pos - 1) div {_EPOCH_SHUFFLE_BATCH}").cast("bigint").alias(
            "batch_id"
        ),
    )
    return assign, blast


def _excision_batch_stats(df: DataFrame) -> DataFrame:
    """Per-batch roster stats at the manifest grain — the repair
    output's shape, shared with the streaming twin's carried side."""
    return df.groupBy("batch_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
        F.min("doc_id").alias("head_doc"),
        F.max("doc_id").alias("tail_doc"),
    )


@register(
    "manifest_excision_repair",
    oracle=_excision_repair_oracle(),
    tags=("S11", "L4", "Q3"),
)
def manifest_excision_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import shutil
    import tempfile

    from ..sources.io import read_snapshot, write_snapshot

    assign, blast = _excision_assign_and_blast(spark, sf_dir)

    # v1 ships as the doc-grain assignment snapshot (the trainer's
    # source of truth for what each batch contains)
    root = tempfile.mkdtemp(prefix="manifest_excise_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    base = root + "/assignment"
    write_snapshot(assign, base)
    a1 = read_snapshot(spark, base, version=1)

    stats = _excision_batch_stats

    affected = (
        a1.join(blast, "doc_id", "left_semi").select("batch_id").distinct()
    )
    carried = (
        stats(a1)
        .join(F.broadcast(affected), "batch_id", "left_anti")
        .withColumn("repaired", F.lit(False))
    )
    repaired = (
        stats(
            a1.join(F.broadcast(affected), "batch_id", "left_semi").join(
                blast, "doc_id", "left_anti"
            )
        ).withColumn("repaired", F.lit(True))
    )
    v2 = write_snapshot(carried.unionByName(repaired), base)
    return read_snapshot(spark, base, version=v2).select(
        "batch_id", "n_docs", "sum_chars", "head_doc", "tail_doc", "repaired"
    )


# ---------------------------------------------------------------------------
# L6 FIM (fill-in-the-middle) span-corruption plan ([EXT] — round-13:
# the deterministic augmentation planner for infilling-trained models,
# "Efficient Training of Language Models to Fill in the Middle",
# Bavarian et al. 2022, public). Each document draws two md5-derived
# cut points (no RNG — the seeded-epoch-shuffle discipline, so any
# executor re-derives the same plan) splitting it into
# prefix/middle/suffix; a third salted draw picks PSM vs SPM document
# ordering 50/50. Documents too short to split (< 8 chars) are kept
# whole and counted. The plan is emitted at the (source, mode) grain —
# exact integer char budgets per segment plus the exact-ppm middle
# fraction — which is what a training-mix controller consumes; the
# doc-grain plan is the same expressions ungrouped. All arithmetic is
# integer (conv/md5, div, least/greatest), so DuckDB replays the whole
# plan bit-for-bit.
# Scale: one scan, one hash-agg on a low-cardinality key; no joins.
# ---------------------------------------------------------------------------

_FIM_MIN_CHARS = 8

_FIM_ORACLE = f"""
WITH cuts AS (
  SELECT source, doc_id,
         CAST(n_chars AS BIGINT) AS L,
         n_chars >= {_FIM_MIN_CHARS} AS eligible,
         1 + CAST(('0x' || substr(md5('fim1:' || CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % (n_chars - 1) AS c1,
         1 + CAST(('0x' || substr(md5('fim2:' || CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % (n_chars - 1) AS c2,
         CASE WHEN substr(md5('fimm:' || CAST(doc_id AS VARCHAR)), 1, 1) < '8'
              THEN 'psm' ELSE 'spm' END AS mode
  FROM documents WHERE n_chars >= 2
),
plan AS (
  SELECT source, mode, L, eligible,
         CASE WHEN eligible THEN LEAST(c1, c2) ELSE L END AS prefix_len,
         CASE WHEN eligible THEN GREATEST(c1, c2) - LEAST(c1, c2) ELSE 0 END
           AS middle_len,
         CASE WHEN eligible THEN L - GREATEST(c1, c2) ELSE 0 END AS suffix_len
  FROM cuts
)
SELECT source, mode,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN eligible THEN 0 ELSE 1 END) AS BIGINT) AS n_whole,
       CAST(SUM(prefix_len) AS BIGINT) AS sum_prefix,
       CAST(SUM(middle_len) AS BIGINT) AS sum_middle,
       CAST(SUM(suffix_len) AS BIGINT) AS sum_suffix,
       CAST(MAX(middle_len * 1000000 // L) AS BIGINT) AS max_middle_ppm,
       CAST(SUM(middle_len * 1000000 // L) AS DOUBLE) / COUNT(*) AS avg_middle_ppm
FROM plan
GROUP BY source, mode
"""


def fim_doc_plan(d: DataFrame) -> DataFrame:
    """Doc-grain FIM plan facts over any frame with (doc_id, source,
    n_chars): the two md5 cut draws, PSM/SPM mode, and the exact
    segment lengths — shared by the batch (source, mode) aggregate
    below and the GroupState fold in streaming/jobs.py
    (stream_fim_plan_state). Rows with n_chars < 2 are out of plan."""
    d = d.filter(F.col("n_chars") >= 2)
    L = F.col("n_chars").cast("bigint")

    def draw(salt: str) -> Column:
        h = F.conv(
            F.substring(F.md5(F.concat(F.lit(salt), F.col("doc_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("bigint")
        return F.lit(1) + h % (L - 1)

    eligible = F.col("n_chars") >= _FIM_MIN_CHARS
    c1, c2 = draw("fim1:"), draw("fim2:")
    mode = F.when(
        F.substring(
            F.md5(F.concat(F.lit("fimm:"), F.col("doc_id").cast("string"))), 1, 1
        )
        < "8",
        "psm",
    ).otherwise("spm")
    return d.select(
        "doc_id",
        "source",
        mode.alias("mode"),
        L.alias("L"),
        eligible.alias("eligible"),
        F.when(eligible, F.least(c1, c2)).otherwise(L).alias("prefix_len"),
        F.when(eligible, F.greatest(c1, c2) - F.least(c1, c2))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("middle_len"),
        F.when(eligible, L - F.greatest(c1, c2))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("suffix_len"),
    )


@register("fim_span_corruption_plan", oracle=_FIM_ORACLE, tags=("L6", "F1", "G8"))
def fim_span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    plan = fim_doc_plan(table(spark, sf_dir, "documents"))
    ppm = F.expr("middle_len * 1000000 div L")
    return plan.groupBy("source", "mode").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum((~F.col("eligible")).cast("int")).cast("bigint").alias("n_whole"),
        F.sum("prefix_len").cast("bigint").alias("sum_prefix"),
        F.sum("middle_len").cast("bigint").alias("sum_middle"),
        F.sum("suffix_len").cast("bigint").alias("sum_suffix"),
        F.max(ppm).cast("bigint").alias("max_middle_ppm"),
        (F.sum(ppm).cast("double") / F.count(F.lit(1))).alias("avg_middle_ppm"),
    )


# ---------------------------------------------------------------------------
# L6 water-filling token-budget allocation ([EXT] — round-13: the
# data-mixing primitive for fitting a corpus to a global token budget.
# Given per-source available tokens and a budget B (60% of the corpus
# here), find the water line L such that allocating min(avail, L) per
# source spends exactly B: sources below the line keep everything,
# sources above are capped at L, and the integer remainder goes +1 to
# the first r capped sources in source order. This is the exact
# integer closed form (sort by avail, prefix sums, the first row where
# (B − prefix) // remaining < avail pins L) — no iteration, and the
# proof in-line: every row before the pivot sits at or below L, no
# capped row ties with L, so 0 ≤ r < n_capped and base+1 ≤ avail
# always — the allocation is feasible and sums to exactly min(B,
# total). All integers, so DuckDB replays it bit-for-bit. Scale shape:
# the doc-grain token count is the only corpus-sized stage (one scan +
# one source-keyed agg); everything after runs on the ~180-row source
# domain — the single-partition window is over that bounded domain,
# never the corpus.
# ---------------------------------------------------------------------------

_WF_BUDGET_NUM, _WF_BUDGET_DEN = 6, 10  # budget = 60% of corpus tokens

_WATER_FILL_ORACLE = f"""
WITH tok AS (
  SELECT source, CAST(LEN({{toks}}) AS BIGINT) AS n_toks FROM documents
),
src AS (
  SELECT source, CAST(SUM(n_toks) AS BIGINT) AS avail FROM tok GROUP BY source
),
b AS (
  SELECT CAST(SUM(avail) AS BIGINT) AS total,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(avail) * {_WF_BUDGET_NUM} // {_WF_BUDGET_DEN} AS budget
  FROM src
),
ranked AS (
  SELECT source, avail,
         ROW_NUMBER() OVER (ORDER BY avail ASC, source ASC) AS i,
         COALESCE(SUM(avail) OVER (ORDER BY avail ASC, source ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
  FROM src
),
cand AS (
  SELECT r.source, r.avail, r.i, r.pre,
         (b.budget - r.pre) // (b.n - r.i + 1) AS lvl,
         b.budget, b.n
  FROM ranked r, b
),
piv AS (
  SELECT MIN(i) AS pi FROM cand WHERE lvl < avail
),
lev AS (
  SELECT c.lvl AS level,
         c.budget - c.pre - c.lvl * (c.n - c.i + 1) AS rmd
  FROM cand c JOIN piv p ON c.i = p.pi
),
alloc AS (
  SELECT c.source, c.avail,
         CASE WHEN l.level IS NULL OR c.avail <= l.level
              THEN c.avail ELSE l.level END AS base,
         (l.level IS NOT NULL AND c.avail > l.level) AS capped,
         COALESCE(l.level, -1) AS level,
         COALESCE(l.rmd, 0) AS rmd,
         c.budget
  FROM cand c LEFT JOIN lev l ON TRUE
),
final AS (
  SELECT source, avail, capped, level, budget,
         base + CASE WHEN capped AND
             ROW_NUMBER() OVER (PARTITION BY capped ORDER BY source ASC) <= rmd
           THEN 1 ELSE 0 END AS alloc
  FROM alloc
)
SELECT source,
       CAST(avail AS BIGINT) AS avail_tokens,
       CAST(alloc AS BIGINT) AS alloc_tokens,
       capped,
       CAST(level AS BIGINT) AS water_level,
       CAST(alloc * 1000000 // budget AS BIGINT) AS share_ppm
FROM final
"""


@register(
    "source_budget_water_fill",
    oracle=_WATER_FILL_ORACLE.format(toks=_SQL_TOKS),
    tags=("L6", "G8", "W3"),
)
def source_budget_water_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    src = (
        d.select("source", F.size(textops.tokens("text")).cast("bigint").alias("n_toks"))
        .groupBy("source")
        .agg(F.sum("n_toks").cast("bigint").alias("avail"))
    )
    b = F.broadcast(
        src.agg(
            F.sum("avail").cast("bigint").alias("total"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.expr(
                f"sum(avail) * {_WF_BUDGET_NUM} div {_WF_BUDGET_DEN}"
            ).cast("bigint").alias("budget"),
        )
    )
    w = Window.orderBy(F.col("avail").asc(), F.col("source").asc())
    ranked = src.select(
        "source",
        "avail",
        F.row_number().over(w).alias("i"),
        F.coalesce(
            F.sum("avail").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).cast("bigint").alias("pre"),
    )
    cand = ranked.crossJoin(b).select(
        "source", "avail", "i", "pre", "budget", "n",
        F.expr("(budget - pre) div (n - i + 1)").cast("bigint").alias("lvl"),
    )
    pivot = F.broadcast(
        cand.filter(F.col("lvl") < F.col("avail")).agg(F.min("i").alias("pi"))
    )
    # the one-row agg keeps this frame single-row even when no pivot
    # exists (budget >= total): level/rmd come back NULL, mirroring the
    # oracle's LEFT JOIN — min() over the single pivot row is identity
    lev = F.broadcast(
        cand.join(pivot, cand.i == pivot.pi)
        .select(
            F.col("lvl"),
            F.expr("budget - pre - lvl * (n - i + 1)").cast("bigint").alias("r"),
        )
        .agg(
            F.min("lvl").cast("bigint").alias("level"),
            F.min("r").cast("bigint").alias("rmd"),
        )
    )
    alloc = cand.crossJoin(lev).select(
        "source",
        "avail",
        "budget",
        F.when(
            F.col("level").isNull() | (F.col("avail") <= F.col("level")),
            F.col("avail"),
        )
        .otherwise(F.col("level"))
        .alias("base"),
        (F.col("level").isNotNull() & (F.col("avail") > F.col("level"))).alias(
            "capped"
        ),
        F.coalesce("level", F.lit(-1)).cast("bigint").alias("level"),
        F.coalesce("rmd", F.lit(0)).cast("bigint").alias("rmd"),
    )
    wc = Window.partitionBy("capped").orderBy(F.col("source").asc())
    final = alloc.select(
        "source", "avail", "capped", "level", "budget",
        (
            F.col("base")
            + F.when(
                F.col("capped") & (F.row_number().over(wc) <= F.col("rmd")), F.lit(1)
            ).otherwise(F.lit(0))
        ).alias("alloc"),
    )
    return final.select(
        "source",
        F.col("avail").cast("bigint").alias("avail_tokens"),
        F.col("alloc").cast("bigint").alias("alloc_tokens"),
        "capped",
        F.col("level").cast("bigint").alias("water_level"),
        F.expr("alloc * 1000000 div budget").cast("bigint").alias("share_ppm"),
    )
