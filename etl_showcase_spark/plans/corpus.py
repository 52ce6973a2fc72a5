"""Corpus-statistics operators over `documents` and the co-purchase
graph (SURVEY.md §2.13 extensions, round 7): tokenizer economics,
first-occurrence n-gram novelty, Heaps-law vocabulary growth,
cross-source n-gram overlap, sentence-level boilerplate, CCNet-style
perplexity banding, link prediction, and MinHash-banded containment
dedup.

No reference citations (the reference — dags/weather_etl_pipeline.py —
has no corpus surface); these extend the L4/L6/L7 families with the
signals a training-data pipeline reads before fixing its data mix.
Oracle discipline is the house style: integer/fixed-point arithmetic
everywhere (whole-bit surprisal, cross-multiplied thresholds), one
final double division per ratio column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import tracked_persist
from ..catalog import table
from ..operators import textops
from ..registry import register
from .llm_text import _SQL_TOKS

# ---------------------------------------------------------------------------
# L4/L6 tokenizer economics per language ([EXT] — the bytes-per-token /
# chars-per-token table every tokenizer-budget discussion starts from;
# a language whose bytes-per-token is 2x another's pays 2x the context
# window for the same text). Exact integer sums (bytes via
# octet_length, chars via length, whitespace tokens via the shared
# tokenizer), two double divisions at the end. One scan, one keyed agg
# — nothing to tune at 100 TB.
# ---------------------------------------------------------------------------

_COMPRESSION_ORACLE = f"""
WITH t AS (
  SELECT lang,
         CAST(strlen(text) AS BIGINT) AS nb,
         CAST(LENGTH(text) AS BIGINT) AS nc,
         CAST(LEN({_SQL_TOKS}) AS BIGINT) AS nt
  FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(nb) AS BIGINT) AS total_bytes,
       CAST(SUM(nc) AS BIGINT) AS total_chars,
       CAST(SUM(nt) AS BIGINT) AS total_tokens,
       CAST(SUM(nb) AS DOUBLE) / SUM(nt) AS bytes_per_token,
       CAST(SUM(nc) AS DOUBLE) / SUM(nt) AS chars_per_token
FROM t GROUP BY lang HAVING SUM(nt) > 0
"""


@register("tokenizer_compression_ratio", oracle=_COMPRESSION_ORACLE, tags=("L4", "L6"))
def tokenizer_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    t = d.select(
        "lang",
        F.octet_length("text").cast("long").alias("nb"),
        F.length("text").cast("long").alias("nc"),
        F.size(textops.tokens("text")).cast("long").alias("nt"),
    )
    agg = t.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("nb").cast("long").alias("total_bytes"),
        F.sum("nc").cast("long").alias("total_chars"),
        F.sum("nt").cast("long").alias("total_tokens"),
    )
    return agg.filter(F.col("total_tokens") > 0).select(
        "lang",
        "n_docs",
        "total_bytes",
        "total_chars",
        "total_tokens",
        (F.col("total_bytes").cast("double") / F.col("total_tokens")).alias(
            "bytes_per_token"
        ),
        (F.col("total_chars").cast("double") / F.col("total_tokens")).alias(
            "chars_per_token"
        ),
    )


# ---------------------------------------------------------------------------
# L4 first-occurrence n-gram novelty ([EXT] — the "is this crawl
# snapshot adding anything new?" signal: per document, the fraction of
# its distinct word 8-grams whose FIRST corpus occurrence (minimum
# doc_id over the ingestion order) is this document. A re-crawl of
# boilerplate scores ~0; genuinely new text scores ~1. Shape: one
# distinct-(doc, gram) explode, one gram-keyed MIN agg, one gram-keyed
# join back, one doc-keyed agg — all O(total grams), no pairing stage,
# so the plan is volume-linear at 100 TB.
# ---------------------------------------------------------------------------

_NOVELTY_N = 8

_NOVELTY_ORACLE = f"""
WITH tok AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
g AS (
  SELECT doc_id,
         UNNEST(list_distinct(list_transform(
             range(1, LEN(toks) - {_NOVELTY_N - 2}),
             i -> array_to_string(toks[i:i+{_NOVELTY_N - 1}], ' ')))) AS gram
  FROM tok WHERE LEN(toks) >= {_NOVELTY_N}
),
first AS (SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY gram)
SELECT g.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS novelty_rate
FROM g JOIN first f ON g.gram = f.gram
GROUP BY g.doc_id
"""


@register("ngram_novelty_rate", oracle=_NOVELTY_ORACLE, tags=("L4", "L2"))
def ngram_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    g = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(textops.shingles(textops.tokens("text"), _NOVELTY_N))
        ).alias("gram"),
    ).transform(tracked_persist)  # feeds the MIN agg and the join back
    first = g.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    novel = (F.col("first_doc") == F.col("doc_id")).cast("long")
    return (
        g.join(first, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(novel).cast("long").alias("n_novel"),
            (F.sum(novel).cast("double") / F.count(F.lit(1))).alias("novelty_rate"),
        )
    )


# ---------------------------------------------------------------------------
# L4/L6 Heaps-law vocabulary growth curve ([EXT] — distinct vocabulary
# after each decile of the corpus in ingestion (doc_id) order; the
# flattening of this curve is the classic "more of the same" crawl
# diagnostic). The only global total order is over DOCUMENTS (not
# tokens): each doc's position comes from the distributed
# with_global_running_sum primitive (range partition + local cumsum +
# broadcast prefix offsets — no single-reducer window), each term
# contributes at its FIRST doc's decile, and the 10-row decile frame
# carries the tiny cumulative window. All exact integers.
# ---------------------------------------------------------------------------

_VOCAB_DECILES = 10

_VOCAB_GROWTH_ORACLE = f"""
WITH rn AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) AS rn,
         (SELECT COUNT(*) FROM documents) AS n
  FROM documents
),
dd AS (
  SELECT doc_id, CAST((rn - 1) * {_VOCAB_DECILES} // n + 1 AS INT) AS decile
  FROM rn
),
tok AS (SELECT doc_id, UNNEST({_SQL_TOKS}) AS term FROM documents),
first AS (SELECT term, MIN(doc_id) AS first_doc FROM tok GROUP BY term),
newt AS (
  SELECT d.decile, CAST(COUNT(*) AS BIGINT) AS new_terms
  FROM first f JOIN dd d ON f.first_doc = d.doc_id GROUP BY d.decile
),
docs AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS docs_in_decile FROM dd GROUP BY decile)
SELECT d.decile,
       CAST(SUM(d.docs_in_decile) OVER (ORDER BY d.decile) AS BIGINT) AS docs_seen,
       COALESCE(n.new_terms, 0) AS new_terms,
       CAST(SUM(COALESCE(n.new_terms, 0)) OVER (ORDER BY d.decile) AS BIGINT)
         AS vocab_size
FROM docs d LEFT JOIN newt n ON d.decile = n.decile
"""


@register("vocab_growth_curve", oracle=_VOCAB_GROWTH_ORACLE, tags=("L4", "L6"))
def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..operators.relational import with_global_running_sum

    d = table(spark, sf_dir, "documents")
    n = d.agg(F.count(F.lit(1)).alias("n"))  # rides the plan, broadcast
    rn = with_global_running_sum(
        d.select("doc_id").withColumn("__one", F.lit(1)),
        order=[F.col("doc_id").asc()],
        value_col="__one",
        out_col="rn",
    )
    dd = rn.crossJoin(F.broadcast(n)).select(
        "doc_id",
        (F.expr(f"(rn - 1) * {_VOCAB_DECILES} div n") + 1).alias("decile"),
    )
    tok = d.select("doc_id", F.explode(textops.tokens("text")).alias("term"))
    first = tok.groupBy("term").agg(F.min("doc_id").alias("first_doc"))
    newt = (
        first.join(dd.withColumnRenamed("doc_id", "first_doc"), "first_doc")
        .groupBy("decile")
        .agg(F.count(F.lit(1)).cast("long").alias("new_terms"))
    )
    docs = dd.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("docs_in_decile")
    )
    w = Window.orderBy("decile")  # 10-row frame: bounded by the decile count
    return (
        docs.join(newt, "decile", "left")
        .select("decile", "docs_in_decile", F.coalesce("new_terms", F.lit(0)).alias("new_terms"))
        .select(
            F.col("decile").cast("int").alias("decile"),
            F.sum("docs_in_decile").over(w).cast("long").alias("docs_seen"),
            F.col("new_terms").cast("long").alias("new_terms"),
            F.sum("new_terms").over(w).cast("long").alias("vocab_size"),
        )
    )


# ---------------------------------------------------------------------------
# L4/L2 cross-source n-gram overlap matrix ([EXT] — how much 8-gram
# text is shared between sources; high overlap between a "curated" and
# a "crawl" source is the standard double-counting / contamination
# warning before mixing weights are set). Candidate generation is
# keyed by gram and bounded per gram by the SOURCE count (each gram's
# posting list is its distinct sources, <= |sources| — never a
# doc-pair expansion), so at 100 TB the pair stage is O(total grams ·
# |sources|), with |sources| a small constant.
# ---------------------------------------------------------------------------

_OVERLAP_N = 8

_SOURCE_OVERLAP_ORACLE = f"""
WITH tok AS (SELECT source, {_SQL_TOKS} AS toks FROM documents),
sg AS (
  SELECT DISTINCT source,
         UNNEST(list_distinct(list_transform(
             range(1, LEN(toks) - {_OVERLAP_N - 2}),
             i -> array_to_string(toks[i:i+{_OVERLAP_N - 1}], ' ')))) AS gram
  FROM tok WHERE LEN(toks) >= {_OVERLAP_N}
),
tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams FROM sg GROUP BY source),
shared AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS shared_grams
  FROM sg a JOIN sg b ON a.gram = b.gram AND a.source < b.source
  GROUP BY 1, 2
)
SELECT s.source_a, s.source_b, s.shared_grams,
       ta.n_grams AS n_a, tb.n_grams AS n_b,
       CAST(s.shared_grams AS DOUBLE)
         / (ta.n_grams + tb.n_grams - s.shared_grams) AS jaccard
FROM shared s
JOIN tot ta ON s.source_a = ta.source
JOIN tot tb ON s.source_b = tb.source
"""


@register("source_ngram_overlap", oracle=_SOURCE_OVERLAP_ORACLE, tags=("L4", "L2"))
def source_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    sg = (
        d.select(
            "source",
            F.explode(
                F.array_distinct(textops.shingles(textops.tokens("text"), _OVERLAP_N))
            ).alias("gram"),
        )
        .dropDuplicates(["source", "gram"])
        .transform(tracked_persist)  # totals + both sides of the pair join
    )
    tot = sg.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_grams"))
    a, b = sg.alias("a"), sg.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("shared_grams"))
    )
    ta = tot.select(F.col("source").alias("source_a"), F.col("n_grams").alias("n_a"))
    tb = tot.select(F.col("source").alias("source_b"), F.col("n_grams").alias("n_b"))
    j = shared.join(F.broadcast(ta), "source_a").join(F.broadcast(tb), "source_b")
    union = F.col("n_a") + F.col("n_b") - F.col("shared_grams")
    return j.select(
        "source_a",
        "source_b",
        "shared_grams",
        "n_a",
        "n_b",
        (F.col("shared_grams").cast("double") / union).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# L4 sentence-level boilerplate catalog ([EXT] — the literal repeated
# SENTENCES across the corpus (cookie banners, footers, legal
# disclaimers); the char-16-gram detector flags their presence, this
# query names them). Literal '. '-split on both engines, short
# fragments dropped, global top-20 by occurrence count as TakeOrdered
# (orderBy+limit — only k rows ever reach one place), count ties
# broken by sentence text for determinism.
# ---------------------------------------------------------------------------

_SENT_MIN_CHARS = 30
_SENT_TOP = 20

_BOILERPLATE_SENTENCES_ORACLE = f"""
WITH s AS (
  SELECT doc_id, UNNEST(string_split(text, '. ')) AS sentence FROM documents
),
f AS (SELECT doc_id, sentence FROM s WHERE LENGTH(sentence) >= {_SENT_MIN_CHARS}),
c AS (
  SELECT sentence,
         CAST(COUNT(*) AS BIGINT) AS n_occurrences,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM f GROUP BY sentence
)
SELECT sentence, n_occurrences, n_docs,
       CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, sentence) AS INT) AS rnk
FROM c
ORDER BY n_occurrences DESC, sentence LIMIT {_SENT_TOP}
"""


@register("common_sentence_boilerplate", oracle=_BOILERPLATE_SENTENCES_ORACLE, tags=("L4",))
def common_sentence_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = table(spark, sf_dir, "documents")
    s = d.select(
        "doc_id", F.explode(F.split("text", "\\. ")).alias("sentence")
    ).filter(F.length("sentence") >= _SENT_MIN_CHARS)
    c = s.groupBy("sentence").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
    )
    topk = c.orderBy(F.desc("n_occurrences"), F.asc("sentence")).limit(_SENT_TOP)
    wr = Window.orderBy(F.desc("n_occurrences"), F.asc("sentence"))
    return topk.withColumn("rnk", F.row_number().over(wr).cast("int"))


# ---------------------------------------------------------------------------
# L4/L6 CCNet-style perplexity banding ([EXT] — Wenzek et al. 2020
# splits a crawl into head/middle/tail by LM-perplexity tertiles and
# samples the mix from the bands; this is that banding over the
# corpus-internal unigram LM, libm-free). Per-doc surprisal reuses the
# exact whole-bit spelling of unigram_lm_surprisal (bits = bit-length
# of N div c), quantized to integer bits-per-kilotoken. Tertile
# CUTOFFS are computed at the bpk VALUE GRAIN — counts per distinct
# bpk value, distributed running sum (with_global_running_sum — no
# single-reducer window), cutoff = smallest value whose cumulative
# count reaches ceil(n/3) / ceil(2n/3) — so ties share a band and the
# result is independent of row order AND of partitioning. Docs then
# band by comparing bpk to the two broadcast cutoffs.
# ---------------------------------------------------------------------------

_PPL_BANDS_ORACLE = f"""
WITH tok AS (SELECT doc_id, lang, UNNEST({_SQL_TOKS}) AS term FROM documents),
tc AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY term),
n AS (SELECT SUM(c) AS total FROM tc),
s AS (SELECT term, LENGTH(bin(total // c)) - 1 AS bits FROM tc, n),
doc AS (
  SELECT t.doc_id, MIN(t.lang) AS lang,
         CAST(SUM(s.bits) * 1000 // COUNT(*) AS BIGINT) AS bpk
  FROM tok t JOIN s ON t.term = s.term GROUP BY t.doc_id
),
vg AS (SELECT bpk, CAST(COUNT(*) AS BIGINT) AS cnt FROM doc GROUP BY bpk),
cum AS (SELECT bpk, SUM(cnt) OVER (ORDER BY bpk) AS cum FROM vg),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM doc),
cuts AS (
  SELECT (SELECT MIN(bpk) FROM cum, nn WHERE cum >= (n + 2) // 3) AS cut1,
         (SELECT MIN(bpk) FROM cum, nn WHERE cum >= (2 * n + 2) // 3) AS cut2
),
banded AS (
  SELECT d.lang,
         CASE WHEN d.bpk <= c.cut1 THEN 'head'
              WHEN d.bpk <= c.cut2 THEN 'middle'
              ELSE 'tail' END AS band
  FROM doc d, cuts c
),
lt AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS lang_docs FROM banded GROUP BY lang)
SELECT b.lang, b.band, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS DOUBLE) / MIN(lt.lang_docs) AS lang_share
FROM banded b JOIN lt ON b.lang = lt.lang
GROUP BY b.lang, b.band
"""


@register("perplexity_band_mix", oracle=_PPL_BANDS_ORACLE, tags=("L4", "L6"))
def perplexity_band_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import with_global_running_sum

    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "lang", F.explode(textops.tokens("text")).alias("term")
    ).transform(tracked_persist)  # term counts + the per-doc scoring join
    tc = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    n = tc.agg(F.sum("c").alias("total"))
    s = tc.crossJoin(F.broadcast(n)).select(
        "term", (F.length(F.bin(F.expr("total div c"))) - 1).alias("bits")
    )
    doc = (
        tok.join(s, "term")
        .groupBy("doc_id")
        .agg(
            F.min("lang").alias("lang"),
            F.expr("CAST(sum(bits) * 1000 div count(1) AS BIGINT)").alias("bpk"),
        )
        .transform(tracked_persist)  # value-grain counts + final banding
    )
    vg = doc.groupBy("bpk").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    cum = with_global_running_sum(
        vg, order=[F.col("bpk").asc()], value_col="cnt", out_col="cum"
    )
    nn = doc.agg(F.count(F.lit(1)).cast("long").alias("n"))
    cuts = (
        cum.crossJoin(F.broadcast(nn))
        .agg(
            F.min(F.when(F.col("cum") >= (F.col("n") + 2) / 3, F.col("bpk"))).alias(
                "cut1"
            ),
            F.min(
                F.when(F.col("cum") >= (2 * F.col("n") + 2) / 3, F.col("bpk"))
            ).alias("cut2"),
        )
    )
    banded = doc.crossJoin(F.broadcast(cuts)).select(
        "lang",
        F.when(F.col("bpk") <= F.col("cut1"), "head")
        .when(F.col("bpk") <= F.col("cut2"), "middle")
        .otherwise("tail")
        .alias("band"),
    )
    lt = banded.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("lang_docs"))
    return (
        banded.groupBy("lang", "band")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .join(F.broadcast(lt), "lang")
        .select(
            "lang",
            "band",
            "n_docs",
            (F.col("n_docs").cast("double") / F.col("lang_docs")).alias("lang_share"),
        )
    )

# ---------------------------------------------------------------------------
# L7 link prediction on the co-purchase graph ([EXT] — the classic
# "customers who bought X also bought Y" candidate scorer: for
# NON-adjacent part pairs, common-neighbor count, preferential
# attachment, and neighborhood Jaccard). Candidates come from wedge
# enumeration (adjacency self-joined on the shared neighbor), which is
# Sum(deg^2) on the support-thresholded graph — the same bounded
# candidate space as the triangle kernels; existing edges leave via
# one anti join, scores are exact integers (one double division for
# Jaccard), and the global top-k is TakeOrdered. No all-pairs stage.
# ---------------------------------------------------------------------------

_LINK_TOP = 50


def _link_prediction_oracle() -> str:
    from .curation import _LPA_MIN_SUPPORT, _support_graph_sql

    return f"""
WITH {_support_graph_sql(_LPA_MIN_SUPPORT)},
deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY node),
wedge AS (
  SELECT a.node AS u, b.node AS v, CAST(COUNT(*) AS BIGINT) AS cn
  FROM adj a JOIN adj b ON a.nbr = b.nbr AND a.node < b.node
  GROUP BY 1, 2
),
cand AS (
  SELECT w.* FROM wedge w
  WHERE NOT EXISTS (SELECT 1 FROM e0 WHERE e0.u = w.u AND e0.v = w.v)
),
scored AS (
  SELECT c.u, c.v, c.cn,
         du.d AS deg_u, dv.d AS deg_v,
         CAST(du.d * dv.d AS BIGINT) AS pref_attach,
         CAST(c.cn AS DOUBLE) / (du.d + dv.d - c.cn) AS nbr_jaccard
  FROM cand c JOIN deg du ON c.u = du.node JOIN deg dv ON c.v = dv.node
)
SELECT CAST(u AS BIGINT) AS part_u, CAST(v AS BIGINT) AS part_v,
       cn AS common_neighbors, deg_u, deg_v, pref_attach, nbr_jaccard
FROM scored ORDER BY cn DESC, u, v LIMIT {_LINK_TOP}
"""


@register("link_prediction_scores", oracle=_link_prediction_oracle(), tags=("L7", "J2", "O1"))
def link_prediction_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .curation import _LPA_MIN_SUPPORT, _copurchase_support_edges

    e = _copurchase_support_edges(spark, sf_dir, _LPA_MIN_SUPPORT).transform(
        tracked_persist  # adjacency expansion + the existing-edge anti join
    )
    adj = e.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionAll(
        e.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("d"))
    a, b = adj.alias("a"), adj.alias("b")
    wedge = (
        a.join(
            b,
            (F.col("a.nbr") == F.col("b.nbr")) & (F.col("a.node") < F.col("b.node")),
        )
        .groupBy(F.col("a.node").alias("u"), F.col("b.node").alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("cn"))
    )
    cand = wedge.join(e, ["u", "v"], "left_anti")
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("deg_v"))
    scored = cand.join(du, "u").join(dv, "v")
    return (
        scored.select(
            F.col("u").cast("long").alias("part_u"),
            F.col("v").cast("long").alias("part_v"),
            F.col("cn").alias("common_neighbors"),
            "deg_u",
            "deg_v",
            (F.col("deg_u") * F.col("deg_v")).cast("long").alias("pref_attach"),
            (
                F.col("cn").cast("double")
                / (F.col("deg_u") + F.col("deg_v") - F.col("cn"))
            ).alias("nbr_jaccard"),
        )
        .orderBy(F.desc("common_neighbors"), F.asc("part_u"), F.asc("part_v"))
        .limit(_LINK_TOP)
    )


# ---------------------------------------------------------------------------
# L2 MinHash-banded CONTAINMENT dedup ([EXT] — the sub-document
# duplicate detector: containment C(A,B) = |A∩B| / min(|A|,|B|)
# catches a short document wholly embedded in a long one, which
# symmetric Jaccard dilutes below threshold (|A∩B|/|A∪B| is small
# when |B| >> |A|). Candidates reuse the proven md5 MinHash band
# stage (O(n·bands) emission, bucket self-join — never all-pairs);
# the verify is the exact distinct-3-gram intersection over
# candidate-keyed posting joins, thresholded by integer
# cross-multiplication. The whole pipeline — signatures, band keys,
# candidates, intersections — replays hash-exact in DuckDB. Note the
# deliberate asymmetry vs the Jaccard twins: same candidate recall,
# different accept semantics.
# ---------------------------------------------------------------------------

_CONTAIN_THR_PCT = 60


def _containment_oracle() -> str:
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
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         MIN(a.n) AS n_a, MIN(b.n) AS n_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
post AS (SELECT doc_id, UNNEST(grams) AS g FROM sh),
inter AS (
  SELECT c.id_a, c.id_b, MIN(c.n_a) AS n_a, MIN(c.n_b) AS n_b,
         CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM cand c
  JOIN post pa ON pa.doc_id = c.id_a
  JOIN post pb ON pb.doc_id = c.id_b AND pb.g = pa.g
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_inter,
       CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       CAST(n_inter AS DOUBLE) / LEAST(n_a, n_b) AS containment
FROM inter
WHERE 100 * n_inter >= {_CONTAIN_THR_PCT} * LEAST(n_a, n_b)
"""


@register("minhash_containment_neardup", oracle=_containment_oracle(), tags=("L2",))
def minhash_containment_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import _band_candidates, _md5_banded, _shingle_base
    from .llm_text import _MH_BANDS, _MH_HASHES

    d = table(spark, sf_dir, "documents")
    base = _shingle_base(d, "doc_id", "text", 3, n_part=spark.sparkContext.defaultParallelism)
    cand = _band_candidates(_md5_banded(base, _MH_HASHES, _MH_BANDS))
    post = base.select(F.col("__id"), F.explode("__sh").alias("g"))
    inter = (
        cand.join(post.select(F.col("__id").alias("id_a"), "g"), "id_a")
        .join(post.select(F.col("__id").alias("id_b"), "g"), ["id_b", "g"])
        .groupBy("id_a", "id_b")
        .agg(
            F.min("n_a").alias("n_a"),
            F.min("n_b").alias("n_b"),
            F.count(F.lit(1)).cast("long").alias("n_inter"),
        )
    )
    least = F.least("n_a", "n_b")
    return inter.filter(100 * F.col("n_inter") >= _CONTAIN_THR_PCT * least).select(
        "id_a",
        "id_b",
        "n_inter",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        (F.col("n_inter").cast("double") / least).alias("containment"),
    )


# ---------------------------------------------------------------------------
# L3/L4 BM25 document ranking ([EXT] — the lexical-retrieval baseline
# every RAG/eval pipeline runs next to the dense ANN family). Fixed
# query-term set; per-term score = (idf_bits + 1) * sat_fp, where the
# Okapi saturation tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl)) with k1=6/5,
# b=3/4 is cleared to ONE exact integer floor-division
#     sat_fp = (2^20 * 22 * tf * A) div (10*A*tf + 3*A + 9*dl)
# (A = integer avgdl = total_tokens div n_docs, a broadcast 1-row agg)
# and idf is the whole-bit log2 (bit-length of N div df) the repo's
# other LM queries use — coarse on toy vocab, meaningful at web scale.
# The numerator bound 2^24·tf·A involves only PER-DOC quantities, so
# the BIGINT math is corpus-size-independent and never overflows at
# 100 TB. Per-doc tf comes from a higher-order filter over the token
# array (narrow map, NO explode shuffle for the tf stage); the per-doc
# score is an exact integer SUM; the global top-k is TakeOrdered.
# ---------------------------------------------------------------------------

_BM25_TERMS = ("vector", "spark", "hash", "customer")
_BM25_TOP = 50


def _bm25_oracle() -> str:
    per_term = "\nUNION ALL\n".join(
        f"""  SELECT doc_id, '{t}' AS term,
         CAST(LEN(list_filter(toks, x -> x = '{t}')) AS BIGINT) AS tf,
         CAST(LEN(toks) AS BIGINT) AS dl
  FROM tok"""
        for t in _BM25_TERMS
    )
    return f"""
WITH tok AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(LEN(toks)) // COUNT(*) AS BIGINT) AS a
  FROM tok
),
q AS (
{per_term}
),
hit AS (SELECT * FROM q WHERE tf > 0),
df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM hit GROUP BY term),
scored AS (
  SELECT h.doc_id,
         (LENGTH(bin(s.n // d.df)) - 1 + 1)
           * ((1048576 * 22 * h.tf * s.a) // (10 * s.a * h.tf + 3 * s.a + 9 * h.dl))
           AS c
  FROM hit h JOIN df d ON h.term = d.term CROSS JOIN stats s
),
ranked AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS score_fp,
         CAST(COUNT(*) AS BIGINT) AS n_terms_hit
  FROM scored GROUP BY doc_id
)
SELECT doc_id, score_fp, n_terms_hit,
       CAST(ROW_NUMBER() OVER (ORDER BY score_fp DESC, doc_id) AS INT) AS rnk
FROM ranked
ORDER BY score_fp DESC, doc_id LIMIT {_BM25_TOP}
"""


@register("bm25_doc_ranking", oracle=_bm25_oracle(), tags=("L3", "L4", "O1"))
def bm25_doc_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", textops.tokens("text").alias("toks"))
    stats = tok.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr("CAST(sum(size(toks)) div count(1) AS BIGINT)").alias("a"),
    )
    # per-doc tf via a higher-order filter: narrow map, no explode
    per_term = [
        tok.select(
            "doc_id",
            F.lit(t).alias("term"),
            F.expr(f"CAST(size(filter(toks, x -> x = '{t}')) AS BIGINT)").alias("tf"),
            F.size("toks").cast("long").alias("dl"),
        )
        for t in _BM25_TERMS
    ]
    q = per_term[0]
    for frame in per_term[1:]:
        q = q.unionAll(frame)
    hit = q.filter(F.col("tf") > 0).transform(tracked_persist)  # df agg + scoring
    df = hit.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    scored = (
        hit.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                (F.length(F.bin(F.expr("n div df"))) - 1 + 1)
                * F.expr(
                    "(1048576 * 22 * tf * a) div (10 * a * tf + 3 * a + 9 * dl)"
                )
            ).alias("c"),
        )
    )
    ranked = scored.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("score_fp"),
        F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
    )
    topk = ranked.orderBy(F.desc("score_fp"), F.asc("doc_id")).limit(_BM25_TOP)
    wr = Window.orderBy(F.desc("score_fp"), F.asc("doc_id"))
    return topk.withColumn("rnk", F.row_number().over(wr).cast("int"))


# ---------------------------------------------------------------------------
# L4 bigram-LM next-token prediction accuracy ([EXT] — the cheapest
# "is this corpus learnable?" probe: train a bigram argmax model on
# the corpus itself and measure in-sample next-token accuracy per
# language; a corpus of templated boilerplate scores near 1, a
# diverse one much lower). Bigrams reuse the 2-gram shingle spelling
# (explode keeps positional multiplicity — every adjacent pair is one
# evaluation point); the model is the per-w1 argmax with a (count
# DESC, w2) deterministic tie-break; the eval join is on w1, a
# vocab-sized key that AQE broadcasts, so the hot 'the'-style keys
# never shuffle the position table. One division per output row.
# ---------------------------------------------------------------------------

_BIGRAM_ORACLE = f"""
WITH tok AS (SELECT lang, {_SQL_TOKS} AS toks FROM documents),
big AS (
  SELECT lang,
         UNNEST(list_transform(range(1, LEN(toks)),
             i -> toks[i] || ' ' || toks[i+1])) AS gram
  FROM tok WHERE LEN(toks) >= 2
),
sp AS (
  SELECT lang, string_split(gram, ' ')[1] AS w1, string_split(gram, ' ')[2] AS w2
  FROM big
),
c AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM sp GROUP BY w1, w2),
pred AS (
  SELECT w1, w2 AS predicted
  FROM (SELECT w1, w2,
               ROW_NUMBER() OVER (PARTITION BY w1 ORDER BY c DESC, w2) AS rn
        FROM c)
  WHERE rn = 1
)
SELECT s.lang,
       CAST(COUNT(*) AS BIGINT) AS n_positions,
       CAST(SUM(CASE WHEN s.w2 = p.predicted THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       CAST(SUM(CASE WHEN s.w2 = p.predicted THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS accuracy
FROM sp s JOIN pred p ON s.w1 = p.w1
GROUP BY s.lang
"""


@register("bigram_lm_next_token", oracle=_BIGRAM_ORACLE, tags=("L4", "L6"))
def bigram_lm_next_token(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = table(spark, sf_dir, "documents")
    sp = (
        d.select(
            "lang",
            F.explode(textops.shingles(textops.tokens("text"), 2)).alias("gram"),
        )
        .select(
            "lang",
            F.split("gram", " ").getItem(0).alias("w1"),
            F.split("gram", " ").getItem(1).alias("w2"),
        )
        .transform(tracked_persist)  # model counts + the eval join
    )
    c = sp.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wp = Window.partitionBy("w1").orderBy(F.desc("c"), F.asc("w2"))
    pred = (
        c.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") == 1)
        .select("w1", F.col("w2").alias("predicted"))
    )
    correct = (F.col("w2") == F.col("predicted")).cast("long")
    return (
        sp.join(pred, "w1")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_positions"),
            F.sum(correct).cast("long").alias("n_correct"),
            (F.sum(correct).cast("double") / F.count(F.lit(1))).alias("accuracy"),
        )
    )


# ---------------------------------------------------------------------------
# W3/Q5 event-type transition matrix ([EXT] — the Markov-chain view of
# the event stream: P(next event type | current), the base table for
# funnel diagnosis and anomaly detection on user journeys). Per-user
# LAG under the (ts, event_id) total order — the same deterministic
# ordering contract as the session/funnel family — then one keyed agg;
# the from-type margin is a tiny broadcast join; one division per row.
# ---------------------------------------------------------------------------

_TRANSITION_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
),
t AS (
  SELECT prev_type AS from_type, event_type AS to_type,
         CAST(COUNT(*) AS BIGINT) AS n_transitions
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
),
m AS (SELECT from_type, CAST(SUM(n_transitions) AS BIGINT) AS n_from FROM t GROUP BY 1)
SELECT t.from_type, t.to_type, t.n_transitions, m.n_from,
       CAST(t.n_transitions AS DOUBLE) / m.n_from AS p_transition
FROM t JOIN m ON t.from_type = m.from_type
"""


@register("event_transition_matrix", oracle=_TRANSITION_ORACLE, tags=("W3", "Q5"))
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = (
        ev.select("user_id", "event_type", F.lag("event_type").over(w).alias("prev_type"))
        .filter(F.col("prev_type").isNotNull())
        .groupBy(F.col("prev_type").alias("from_type"), F.col("event_type").alias("to_type"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_transitions"))
        .transform(tracked_persist)  # margin agg + the probability join
    )
    m = t.groupBy("from_type").agg(F.sum("n_transitions").cast("long").alias("n_from"))
    return t.join(F.broadcast(m), "from_type").select(
        "from_type",
        "to_type",
        "n_transitions",
        "n_from",
        (F.col("n_transitions").cast("double") / F.col("n_from")).alias("p_transition"),
    )


# ---------------------------------------------------------------------------
# L6/L2 soundex blocking ([EXT] — phonetic blocking for entity
# resolution: tokens that SOUND alike share a block, the classic
# recall booster over first-letter blocking). DuckDB has no soundex()
# and RE2 has no pattern backreferences, so the code is generated as a
# single DIALECT-PORTABLE SQL expression — upper + translate (the
# classic letter→digit map) + a fixed ladder of replace() calls that
# collapses digit runs (each application halves a run; four handle
# tokens to 16+ chars) + zero-strip + rpad — and BOTH engines evaluate
# the SAME string, so parity is by construction, not reimplementation.
# Shape: exact-dedup to the DISTINCT token table first (the repo ER
# rule — everything downstream scales with token variety, not corpus
# volume), code every token, emit the per-code block CATALOG: size,
# the candidate-pair count the blocker would hand the verifier
# (size·(size−1)/2 — the ER cost model column), the alphabetized
# member list (scalarized — the driver's canonicalizer rejects array
# cells), and for real multi-token blocks the closest intra-block
# levenshtein (bounded pairing: block sizes are capped by phonetic
# variety). Full-catalog output keeps the result non-vacuous on a
# synthetic vocabulary where true phonetic collisions are rare.
# ---------------------------------------------------------------------------


def _soundex_sql(col: str) -> str:
    u = f"upper({col})"
    s = (
        f"translate(substring({u}, 2), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',"
        f" '01230120022455012623010202')"
    )
    for d in "123456":
        for _ in range(4):
            s = f"replace({s}, '{d}{d}', '{d}')"
    return f"rpad(concat(left({u}, 1), left(replace({s}, '0', ''), 3)), 4, '0')"


_SOUNDEX_ORACLE = f"""
WITH names AS (
  SELECT UNNEST(string_split(p_name, ' ')) AS raw FROM part
  UNION ALL SELECT n_name FROM nation
  UNION ALL SELECT r_name FROM region
  UNION ALL SELECT event_type FROM events
  UNION ALL SELECT UNNEST(string_split(text, ' ')) FROM documents
),
dict AS (
  SELECT DISTINCT regexp_replace(lower(raw), '[^a-z]', '', 'g') AS token
  FROM names
),
dictf AS (SELECT token FROM dict WHERE LENGTH(token) > 0),
coded AS (SELECT token, {_soundex_sql("token")} AS code FROM dictf),
blocks AS (
  SELECT code,
         CAST(COUNT(*) AS BIGINT) AS block_size,
         array_to_string(list(token ORDER BY token), ',') AS members
  FROM coded GROUP BY code
),
closest AS (
  SELECT a.code, CAST(MIN(levenshtein(a.token, b.token)) AS BIGINT) AS min_lev
  FROM coded a JOIN coded b ON a.code = b.code AND a.token < b.token
  GROUP BY a.code
)
SELECT b.code, b.block_size,
       CAST(b.block_size * (b.block_size - 1) / 2 AS BIGINT) AS candidate_pairs,
       b.members, c.min_lev
FROM blocks b LEFT JOIN closest c ON b.code = c.code
"""


@register("soundex_token_blocking", oracle=_SOUNDEX_ORACLE, tags=("L6", "L2"))
def soundex_token_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    ev = table(spark, sf_dir, "events")
    d = table(spark, sf_dir, "documents")
    names = (
        p.select(F.explode(F.split("p_name", " ")).alias("raw"))
        .unionAll(n.select(F.col("n_name").alias("raw")))
        .unionAll(r.select(F.col("r_name").alias("raw")))
        .unionAll(ev.select(F.col("event_type").alias("raw")))
        .unionAll(d.select(F.explode(F.split("text", " ")).alias("raw")))
    )
    # non-letters are stripped BEFORE coding: the synthetic NATION_12
    # style names would otherwise leak literal digits into the phonetic
    # code space (soundex digits are codes, not characters)
    dict_ = (
        names.select(
            F.regexp_replace(F.lower("raw"), "[^a-z]", "").alias("token")
        )
        .filter(F.length("token") > 0)
        .distinct()
        .transform(tracked_persist)  # block agg + both sides of closest
    )
    coded = dict_.select("token", F.expr(_soundex_sql("token")).alias("code"))
    blocks = coded.groupBy("code").agg(
        F.count(F.lit(1)).cast("long").alias("block_size"),
        F.array_join(F.sort_array(F.collect_list("token")), ",").alias("members"),
    )
    a, b = coded.alias("a"), coded.alias("b")
    closest = (
        a.join(
            b,
            (F.col("a.code") == F.col("b.code"))
            & (F.col("a.token") < F.col("b.token")),
        )
        .groupBy(F.col("a.code").alias("code"))
        .agg(
            F.min(F.levenshtein(F.col("a.token"), F.col("b.token")))
            .cast("long")
            .alias("min_lev")
        )
    )
    return blocks.join(closest, "code", "left").select(
        "code",
        "block_size",
        (F.col("block_size") * (F.col("block_size") - 1) / 2)
        .cast("long")
        .alias("candidate_pairs"),
        "members",
        "min_lev",
    )


# ---------------------------------------------------------------------------
# L6 × L1/L2 dedup impact report ([EXT] — the before/after table every
# dedup decision is argued from: corpus volume in docs AND tokens at
# each pipeline stage — raw → exact text dedup → near-dup canonical —
# with each stage's share of raw. Exact stage keeps one doc per
# distinct text (token counts depend only on text, so the kept-row
# choice can't change the sums); near-dup stage keeps the star-edge
# cluster canonicals, nesting the full proven clusters replay in the
# oracle. Each stage is one hash agg; the raw totals broadcast into
# the share divisions.
# ---------------------------------------------------------------------------


def _dedup_impact_oracle() -> str:
    from .llm_text import _scalable_clusters_oracle

    return f"""
WITH m AS ({_scalable_clusters_oracle()}),
tok AS (SELECT doc_id, text, CAST(LEN({_SQL_TOKS}) AS BIGINT) AS nt FROM documents),
raw AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens
  FROM tok
),
exact AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens
  FROM (SELECT MIN(nt) AS nt FROM tok GROUP BY text)
),
near AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(t.nt) AS BIGINT) AS n_tokens
  FROM m JOIN tok t ON m.doc_id = t.doc_id WHERE m.is_canonical
),
stages AS (
  SELECT 1 AS stage_id, 'raw' AS stage, n_docs, n_tokens FROM raw
  UNION ALL
  SELECT 2, 'exact_dedup', n_docs, n_tokens FROM exact
  UNION ALL
  SELECT 3, 'neardup_canonical', n_docs, n_tokens FROM near
)
SELECT s.stage_id, s.stage, s.n_docs, s.n_tokens,
       CAST(s.n_docs AS DOUBLE) / r.n_docs AS doc_share,
       CAST(s.n_tokens AS DOUBLE) / r.n_tokens AS token_share
FROM stages s CROSS JOIN raw r
"""


@register("dedup_impact_report", oracle=_dedup_impact_oracle(), tags=("L6", "L1", "L2"))
def dedup_impact_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm_text import _star_edge_cluster_membership

    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "text", F.size(textops.tokens("text")).cast("long").alias("nt")
    ).transform(tracked_persist)  # raw + exact + near stages all read it
    raw = tok.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("nt").cast("long").alias("n_tokens"),
    )
    exact = (
        tok.groupBy("text")
        .agg(F.min("nt").alias("nt"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("nt").cast("long").alias("n_tokens"),
        )
    )
    m = _star_edge_cluster_membership(spark, sf_dir)
    near = (
        m.filter("is_canonical")
        .join(tok, "doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("nt").cast("long").alias("n_tokens"),
        )
    )
    stages = (
        raw.select(F.lit(1).alias("stage_id"), F.lit("raw").alias("stage"), "n_docs", "n_tokens")
        .unionAll(
            exact.select(
                F.lit(2).alias("stage_id"),
                F.lit("exact_dedup").alias("stage"),
                "n_docs",
                "n_tokens",
            )
        )
        .unionAll(
            near.select(
                F.lit(3).alias("stage_id"),
                F.lit("neardup_canonical").alias("stage"),
                "n_docs",
                "n_tokens",
            )
        )
    )
    r = raw.select(
        F.col("n_docs").alias("raw_docs"), F.col("n_tokens").alias("raw_tokens")
    )
    return stages.crossJoin(F.broadcast(r)).select(
        "stage_id",
        "stage",
        "n_docs",
        "n_tokens",
        (F.col("n_docs").cast("double") / F.col("raw_docs")).alias("doc_share"),
        (F.col("n_tokens").cast("double") / F.col("raw_tokens")).alias("token_share"),
    )


# ---------------------------------------------------------------------------
# L6/G8/W3 per-source length deciles ([EXT] — round-11 exactness theme
# made a first-class operator: the length cut points a curation pass
# filters against, per source). Uses exact_deciles_du
# (operators/relational.py): type-7 deciles at q = k/10 computed as
# exact DECI-UNIT integers — bigint rank selection + integer
# interpolation, so the thresholds are hash-exact at any magnitude
# (the winsorized_event_stats construction generalized; the
# interpolated QUANTILE_CONT spelling is engine-identical only by
# luck — proven by the round-11 boundary lake). Scale: one
# value-ordered window per source (partition-bounded), one group agg,
# output = 9 rows per source.
# ---------------------------------------------------------------------------

_LEN_DECILES_ORACLE = """
WITH ranked AS (
  -- CAST to BIGINT up front: the deci-unit arithmetic below multiplies
  -- v by 10, which would overflow (error, in DuckDB) in 32-bit for
  -- documents past ~2.1e8 chars; the Spark side (exact_deciles_du)
  -- already works in bigint, so both engines must (round-11 ADVICE)
  SELECT source, CAST(n_chars AS BIGINT) AS v,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM documents
),
th AS (
  SELECT source, MAX(n) AS n,
         MAX(CASE WHEN rn = (1*(n-1))//10 + 1 THEN v END) AS lo1,
         MAX(CASE WHEN rn = LEAST((1*(n-1))//10 + 2, n) THEN v END) AS hi1,
         MAX(CASE WHEN rn = (2*(n-1))//10 + 1 THEN v END) AS lo2,
         MAX(CASE WHEN rn = LEAST((2*(n-1))//10 + 2, n) THEN v END) AS hi2,
         MAX(CASE WHEN rn = (3*(n-1))//10 + 1 THEN v END) AS lo3,
         MAX(CASE WHEN rn = LEAST((3*(n-1))//10 + 2, n) THEN v END) AS hi3,
         MAX(CASE WHEN rn = (4*(n-1))//10 + 1 THEN v END) AS lo4,
         MAX(CASE WHEN rn = LEAST((4*(n-1))//10 + 2, n) THEN v END) AS hi4,
         MAX(CASE WHEN rn = (5*(n-1))//10 + 1 THEN v END) AS lo5,
         MAX(CASE WHEN rn = LEAST((5*(n-1))//10 + 2, n) THEN v END) AS hi5,
         MAX(CASE WHEN rn = (6*(n-1))//10 + 1 THEN v END) AS lo6,
         MAX(CASE WHEN rn = LEAST((6*(n-1))//10 + 2, n) THEN v END) AS hi6,
         MAX(CASE WHEN rn = (7*(n-1))//10 + 1 THEN v END) AS lo7,
         MAX(CASE WHEN rn = LEAST((7*(n-1))//10 + 2, n) THEN v END) AS hi7,
         MAX(CASE WHEN rn = (8*(n-1))//10 + 1 THEN v END) AS lo8,
         MAX(CASE WHEN rn = LEAST((8*(n-1))//10 + 2, n) THEN v END) AS hi8,
         MAX(CASE WHEN rn = (9*(n-1))//10 + 1 THEN v END) AS lo9,
         MAX(CASE WHEN rn = LEAST((9*(n-1))//10 + 2, n) THEN v END) AS hi9
  FROM ranked GROUP BY source
)
SELECT source,
       CAST(t.k AS INT) AS decile,
       CAST(t.du AS BIGINT) AS threshold_du,
       CAST(t.du AS DOUBLE) / 10.0 AS threshold,
       CAST(n AS BIGINT) AS n_docs
FROM th, LATERAL (VALUES
    (1, lo1*10 + (hi1-lo1) * ((1*(n-1)) % 10)),
    (2, lo2*10 + (hi2-lo2) * ((2*(n-1)) % 10)),
    (3, lo3*10 + (hi3-lo3) * ((3*(n-1)) % 10)),
    (4, lo4*10 + (hi4-lo4) * ((4*(n-1)) % 10)),
    (5, lo5*10 + (hi5-lo5) * ((5*(n-1)) % 10)),
    (6, lo6*10 + (hi6-lo6) * ((6*(n-1)) % 10)),
    (7, lo7*10 + (hi7-lo7) * ((7*(n-1)) % 10)),
    (8, lo8*10 + (hi8-lo8) * ((8*(n-1)) % 10)),
    (9, lo9*10 + (hi9-lo9) * ((9*(n-1)) % 10))
) t(k, du)
"""


@register("source_length_deciles", oracle=_LEN_DECILES_ORACLE, tags=("L6", "G8", "W3"))
def source_length_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import exact_deciles_du

    d = table(spark, sf_dir, "documents")
    th = exact_deciles_du(d, "source", "n_chars")
    arr = F.array(*[F.col(f"thr{k}_du") for k in range(1, 10)])
    return th.select(
        "source", F.col("n").alias("__n"), F.posexplode(arr).alias("__k0", "__du")
    ).select(
        "source",
        (F.col("__k0") + 1).cast("int").alias("decile"),
        F.col("__du").cast("bigint").alias("threshold_du"),
        (F.col("__du").cast("double") / 10.0).alias("threshold"),
        F.col("__n").cast("bigint").alias("n_docs"),
    )
