"""LLM-data-pipeline text operators over `documents` (SURVEY.md §2.13):
exact dedup, n-gram Jaccard, MinHash-LSH, SimHash, quality scoring,
language ID, token counting, fingerprinting.

Oracle notes: token arithmetic (counts, Jaccard from exact integer
intersections, polynomial fingerprints mod 2^31-1 / 1e9+7) is integer-
exact in both engines. The xxhash64-based MinHash/SimHash scale paths
are engine-specific (rows-only checks + property tests in
tests/test_dedup.py); each has an md5-permutation twin
(minhash_md5_neardup, simhash_md5_neardup) whose full pipeline —
signatures, banding/blocking, verify — replays in DuckDB SQL and
carries the hash-checked CORRECTNESS row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import tracked_persist

from ..catalog import derived_width, table
from ..operators import textops
from ..operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_neardup_pairs,
)
from ..registry import register

# DuckDB token expression mirroring textops.tokens (regex whitespace
# split, empty strings filtered — split of an empty string yields ['']
# in both engines, which would count empty docs as one-token docs).
_SQL_TOKS = (
    "list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')"
)

# ---------------------------------------------------------------------------
# L1: exact dedup — representative (lowest doc_id) per distinct text.
# ---------------------------------------------------------------------------

_EXACT_ORACLE = """
SELECT MIN(doc_id) AS rep_doc_id, COUNT(*) AS n_copies, text
FROM documents
GROUP BY text
"""


@register("dedup_exact_text", oracle=_EXACT_ORACLE, tags=("L1",))
def dedup_exact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    groups = d.groupBy("text").agg(
        F.min("doc_id").alias("rep_doc_id"), F.count(F.lit(1)).alias("n_copies")
    )
    return groups.select("rep_doc_id", "n_copies", "text")


# operator-form twin keeping full rows: one representative (lowest
# doc_id) per exact text — all document columns are scalar, so the
# DISTINCT-ON spelling oracle-checks the exact surviving row set
_DEDUP_ROWS_ORACLE = """
SELECT doc_id, text, lang, source, n_chars
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
  FROM documents
)
WHERE rn = 1
"""


@register("dedup_exact_rows", oracle=_DEDUP_ROWS_ORACLE, tags=("L1",))
def dedup_exact_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(table(spark, sf_dir, "documents"), "text", "doc_id")


# ---------------------------------------------------------------------------
# L4: quality scoring / text statistics.
# ---------------------------------------------------------------------------

_STATS_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, lang, n_chars, text, {_SQL_TOKS} AS toks FROM documents
)
SELECT
  doc_id,
  LENGTH(text) AS n_chars_measured,
  CAST(LEN(toks) AS INT) AS n_tokens,
  CAST(LEN(list_distinct(toks)) AS INT) AS n_distinct_tokens,
  CAST(list_sum(list_transform(toks, t -> LENGTH(t))) AS DOUBLE)
    / LEN(toks) AS avg_token_len,
  CAST(LEN(list_distinct(toks)) AS DOUBLE) / LEN(toks) AS distinct_ratio,
  CAST(LEN(list_intersect(list_distinct(toks),
       ['the','a','of','and','to','in'])) AS INT) AS stopword_hits,
  CAST(LEN(regexp_extract_all(text, '[^\\w\\s]')) AS INT) AS punct_marks
FROM tok
"""


@register("text_quality_stats", oracle=_STATS_ORACLE, tags=("L4",), bench=True)
def text_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    feats = textops.quality_features(F.col("text"))
    return d.select(
        "doc_id",
        feats["n_chars"].alias("n_chars_measured"),
        feats["n_tokens"].cast("int").alias("n_tokens"),
        feats["n_distinct_tokens"].cast("int").alias("n_distinct_tokens"),
        feats["avg_token_len"].alias("avg_token_len"),
        feats["distinct_ratio"].alias("distinct_ratio"),
        feats["stopword_hits"].cast("int").alias("stopword_hits"),
        feats["punct_marks"].cast("int").alias("punct_marks"),
    )


# ---------------------------------------------------------------------------
# L4: token counting — whitespace + BPE-ish regex subword proxy.
# ---------------------------------------------------------------------------

_TOKCOUNT_ORACLE = f"""
SELECT
  doc_id,
  CAST(LEN({_SQL_TOKS}) AS INT) AS ws_tokens,
  CAST(LEN(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS INT)
    AS bpe_ish_tokens
FROM documents
"""


@register("token_counts", oracle=_TOKCOUNT_ORACLE, tags=("L4",))
def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        textops.token_count(F.col("text")).cast("int").alias("ws_tokens"),
        textops.bpe_ish_token_count(F.col("text")).cast("int").alias("bpe_ish_tokens"),
    )


# ---------------------------------------------------------------------------
# L4: language ID — marker-profile heuristic with deterministic argmax.
# ---------------------------------------------------------------------------


def _sql_lang_score(words: tuple[str, ...]) -> str:
    arr = ",".join(f"'{w}'" for w in words)
    return f"LEN(list_intersect(list_distinct({_SQL_TOKS}), [{arr}]))"


_LANGID_ORACLE = (
    "SELECT doc_id, lang AS labeled_lang, "
    + ", ".join(
        f"CAST({_sql_lang_score(w)} AS INT) AS score_{lang}"
        for lang, w in sorted(textops.LANG_MARKERS.items())
    )
    + ", CASE "
    + " ".join(
        f"WHEN {_sql_lang_score(w)} > 0 AND {_sql_lang_score(w)} >= "
        + " GREATEST("
        + ",".join(_sql_lang_score(w2) for _, w2 in sorted(textops.LANG_MARKERS.items()))
        + f") THEN '{lang}'"
        for lang, w in sorted(textops.LANG_MARKERS.items())
    )
    + " ELSE 'unknown' END AS predicted_lang FROM documents"
)


@register("lang_id_heuristic", oracle=_LANGID_ORACLE, tags=("L4",))
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    scores = textops.lang_scores(F.col("text"))
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[scores[lang].cast("int").alias(f"score_{lang}") for lang in sorted(scores)],
        textops.predicted_lang(F.col("text")).alias("predicted_lang"),
    )


# ---------------------------------------------------------------------------
# L4: order-sensitive rolling fingerprint (portable polynomial hash).
# ---------------------------------------------------------------------------

_FPRINT_ORACLE = f"""
SELECT
  doc_id,
  list_reduce(
    list_transform({_SQL_TOKS},
      w -> list_reduce(
             list_transform(range(1, LENGTH(w) + 1), i -> CAST(ascii(w[i]) AS BIGINT)),
             (a, c) -> (a * 131 + c) % 2147483647)),
    (acc, h) -> (acc * 31 + h) % 1000000007) AS fingerprint
FROM documents
"""


@register("doc_fingerprint", oracle=_FPRINT_ORACLE, tags=("L4",))
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", textops.doc_fingerprint(F.col("text")).alias("fingerprint"))


# ---------------------------------------------------------------------------
# L2 exact: n-gram Jaccard near-dup pairs via inverted-index join.
# ---------------------------------------------------------------------------

# Mirrors ngram_jaccard_pairs(df_max=100): shingles in >= 100 docs are
# removed from the shingle space (posting list, sizes, intersections)
# before pairing — the inverted-index hot-key cut. At sf0.01 the max
# document frequency is 7, so the cut is a no-op on values here while
# keeping the registered plan's 100 TB shape honest.
_JACCARD_ORACLE = f"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, LEN(toks) - 1),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS grams
  FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
  WHERE LEN(toks) >= 3
),
post0 AS (SELECT doc_id, UNNEST(grams) AS g FROM sh),
hot AS (SELECT g FROM post0 GROUP BY g HAVING COUNT(*) >= 100),
post AS (SELECT p.doc_id, p.g FROM post0 p ANTI JOIN hot h ON p.g = h.g),
sz AS (SELECT doc_id, COUNT(*) AS n FROM post GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM post a JOIN post b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b,
       CAST(n_inter AS DOUBLE) / (x.n + y.n - n_inter) AS jaccard
FROM inter i JOIN sz x ON i.id_a = x.doc_id JOIN sz y ON i.id_b = y.doc_id
WHERE CAST(n_inter AS DOUBLE) / (x.n + y.n - n_inter) >= 0.05
"""


@register("ngram_jaccard_neardup", oracle=_JACCARD_ORACLE, tags=("L2",))
def ngram_jaccard_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        d, "doc_id", "text", shingle_n=3, threshold=0.05, df_max=100
    )


# ---------------------------------------------------------------------------
# L2 scale paths: MinHash-LSH + SimHash (xxhash64-based → rows-only;
# fidelity vs exact Jaccard is property-tested in tests/test_dedup.py).
# ---------------------------------------------------------------------------


# Bytes of `documents` one task of a Python-UDF signature stage (the
# MinHash minima, the SimHash bit votes) must be worth (round-13
# optimization): 64 KiB of compressed text prices the regex tokenize +
# per-token hash at ~100× plain scan cost. A width derived
# from it is ~10 tasks at sf0.1 instead of 32 (measured 1.4s→0.95s on
# MinHash — the cores-wide Python stage was floor-bound) and reaches
# cores-wide by sf1. PySpark keeps one worker process per concurrently
# running Python task, so the width is also the stage's worker count.
_DOC_UDF_CHUNK = 64 << 10


@register("minhash_lsh_neardup", oracle=None, tags=("L2",), bench=True)
def minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fanout=False: minhash_lsh_pairs repartitions by __id itself — the
    # catalog fan-out would add a second, immediately-discarded exchange
    # of the raw text ahead of it (visible in the cold/first build).
    d = table(spark, sf_dir, "documents", fanout=False)
    return minhash_lsh_pairs(
        d,
        "doc_id",
        "text",
        num_hashes=32,
        bands=8,
        shingle_n=3,
        jaccard_threshold=0.3,
        n_part=derived_width(spark, sf_dir, "documents", _DOC_UDF_CHUNK),
    )


# ---------------------------------------------------------------------------
# L2 verifiability twin: md5-permutation MinHash-LSH. Unlike the
# xxhash64 scale path above, every step (signature minima, band keys,
# candidates, exact-Jaccard verify) is replayable in DuckDB, so the
# banded-LSH pipeline itself gets a full hash-checked CORRECTNESS row.
# ---------------------------------------------------------------------------

_MH_HASHES, _MH_BANDS, _MH_THRESH = 16, 4, 0.3


def _md5_sig_band_sql() -> tuple[str, str]:
    """(sig column list, banded UNION-ALL selects) shared by the md5
    MinHash oracles — one text source so the pair and star-edge
    replays can never drift apart."""
    rows = _MH_HASHES // _MH_BANDS
    sig_cols = ",\n         ".join(
        f"list_min(list_transform(grams, g -> md5('{i}|' || g))) AS m{i}"
        for i in range(_MH_HASHES)
    )
    band_selects = "\n  UNION ALL\n  ".join(
        "SELECT doc_id, n, {b} AS band, md5({key}) AS key FROM sig".format(
            b=b,
            key=" || ',' || ".join(f"m{b * rows + r}" for r in range(rows)),
        )
        for b in range(_MH_BANDS)
    )
    return sig_cols, band_selects


def _minhash_md5_oracle() -> str:
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
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
j AS (
  SELECT c.id_a, c.id_b,
         CAST(LEN(list_intersect(x.grams, y.grams)) AS DOUBLE)
           / (LEN(x.grams) + LEN(y.grams) - LEN(list_intersect(x.grams, y.grams)))
           AS jaccard
  FROM cand c JOIN sh x ON c.id_a = x.doc_id JOIN sh y ON c.id_b = y.doc_id
)
SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= {_MH_THRESH}
"""


@register("minhash_md5_neardup", oracle=_minhash_md5_oracle(), tags=("L2",))
def minhash_md5_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_lsh_pairs_md5

    d = table(spark, sf_dir, "documents")
    return minhash_lsh_pairs_md5(
        d,
        "doc_id",
        "text",
        num_hashes=_MH_HASHES,
        bands=_MH_BANDS,
        shingle_n=3,
        jaccard_threshold=_MH_THRESH,
    )


@register("simhash_neardup", oracle=None, tags=("L2",))
def simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fanout=False: the pair operator repartitions by id itself, at the
    # size-derived width of its vote UDF
    d = table(spark, sf_dir, "documents", fanout=False)
    return simhash_neardup_pairs(
        d,
        "doc_id",
        "text",
        max_hamming=3,
        n_part=derived_width(spark, sf_dir, "documents", _DOC_UDF_CHUNK),
    )


# ---------------------------------------------------------------------------
# L2 verifiability twin: 32-bit md5 SimHash. Per-token hash = first 8
# hex chars of md5 parsed as an integer — identical in Spark (conv) and
# DuckDB ('0x'||… cast) — so bit votes, signatures, pigeonhole
# blocking, and bit_count verify all replay in SQL and the SimHash
# pipeline gets a full hash-checked CORRECTNESS row (the xxhash64
# simhash_neardup above stays the JVM scale path, rows-only).
# 16-bit blocks keep the bucket keyspace at 65536 per block — the same
# bounded-bucket discipline as the 64-bit path; with 2 blocks the
# pigeonhole radius is hamming <= 1.
# ---------------------------------------------------------------------------

_SH_BLOCK_BITS, _SH_MAX_HAMMING = 16, 1


def _simhash_md5_oracle() -> str:
    tok_hash = "('0x' || substr(md5(tok), 1, 8))::BIGINT"
    sig_terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(hs, h -> "
        f"CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 "
        f"THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(32)
    )
    n_blocks = 32 // _SH_BLOCK_BITS
    mask = (1 << _SH_BLOCK_BITS) - 1
    block_selects = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, sig, {i} AS blk, (sig >> {i * _SH_BLOCK_BITS}) & {mask} AS key"
        " FROM sig"
        for i in range(n_blocks)
    )
    return f"""
WITH t AS (
  SELECT doc_id, list_transform({_SQL_TOKS}, tok -> {tok_hash}) AS hs
  FROM documents
),
sig AS (
  SELECT doc_id, {sig_terms} AS sig FROM t
),
blocked AS (
  {block_selects}
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
FROM blocked a
JOIN blocked b ON a.blk = b.blk AND a.key = b.key AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.sig, b.sig)) <= {_SH_MAX_HAMMING}
"""


@register("simhash_md5_neardup", oracle=_simhash_md5_oracle(), tags=("L2",))
def simhash_md5_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import simhash_md5_pairs

    d = table(spark, sf_dir, "documents", fanout=False)
    return simhash_md5_pairs(
        d,
        "doc_id",
        "text",
        max_hamming=_SH_MAX_HAMMING,
        block_bits=_SH_BLOCK_BITS,
        n_part=derived_width(spark, sf_dir, "documents", _DOC_UDF_CHUNK),
    )


# ---------------------------------------------------------------------------
# L4/L6 curation-quality depth: Gopher-style quality gate, n-gram
# repetition signal, PII pattern counts — the published pre-training
# filter heuristics, each oracle-exact (integer counts, guarded
# divisions that are NULL in both engines for degenerate docs).
# ---------------------------------------------------------------------------

_GOPHER_ORACLE = f"""
WITH t AS (
  SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents
),
m AS (
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
)
SELECT doc_id, n_tokens, mean_word_len, symbol_ratio,
       CAST(n_tokens >= {textops.GOPHER_MIN_WORDS}
            AND n_tokens <= {textops.GOPHER_MAX_WORDS} AS INT) AS flag_word_count,
       CAST(mean_word_len IS NOT NULL
            AND mean_word_len >= {textops.GOPHER_MIN_MEAN_LEN}
            AND mean_word_len <= {textops.GOPHER_MAX_MEAN_LEN} AS INT)
         AS flag_mean_word_len,
       CAST(symbol_ratio IS NOT NULL
            AND symbol_ratio < {textops.GOPHER_MAX_SYMBOL_RATIO} AS INT)
         AS flag_symbol_ratio,
       CAST(n_tokens >= {textops.GOPHER_MIN_WORDS}
            AND n_tokens <= {textops.GOPHER_MAX_WORDS}
            AND mean_word_len IS NOT NULL
            AND mean_word_len >= {textops.GOPHER_MIN_MEAN_LEN}
            AND mean_word_len <= {textops.GOPHER_MAX_MEAN_LEN}
            AND symbol_ratio IS NOT NULL
            AND symbol_ratio < {textops.GOPHER_MAX_SYMBOL_RATIO} AS INT) AS keep
FROM m
"""


@register("gopher_quality_gate", oracle=_GOPHER_ORACLE, tags=("L4", "L6", "P10"))
def gopher_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    flags = textops.gopher_quality_flags(F.col("text"))
    return d.select(
        "doc_id",
        flags["n_tokens"].cast("int").alias("n_tokens"),
        flags["mean_word_len"].alias("mean_word_len"),
        flags["symbol_ratio"].alias("symbol_ratio"),
        flags["flag_word_count"].alias("flag_word_count"),
        flags["flag_mean_word_len"].alias("flag_mean_word_len"),
        flags["flag_symbol_ratio"].alias("flag_symbol_ratio"),
        flags["keep"].alias("keep"),
    )


_REPETITION_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
),
g AS (
  SELECT doc_id,
         CASE WHEN LEN(toks) >= 2
              THEN list_transform(range(1, LEN(toks)), i -> toks[i] || ' ' || toks[i+1])
              ELSE CAST([] AS VARCHAR[]) END AS grams
  FROM t
)
SELECT doc_id,
       CAST(LEN(grams) AS INT) AS n_grams,
       CASE WHEN LEN(grams) > 0
            THEN 1.0 - CAST(LEN(list_distinct(grams)) AS DOUBLE) / LEN(grams)
            END AS repetition_ratio
FROM g
"""


@register("repetition_2gram_ratio", oracle=_REPETITION_ORACLE, tags=("L4",))
def repetition_2gram_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    grams = textops.shingles(textops.tokens(F.col("text")), 2)
    return d.select(
        "doc_id",
        F.size(grams).cast("int").alias("n_grams"),
        textops.repetition_ratio(F.col("text"), 2).alias("repetition_ratio"),
    )


_PII_ORACLE = f"""
SELECT doc_id,
       CAST(LEN(regexp_extract_all(text, '{textops.EMAIL_RE}')) AS INT) AS n_emails,
       CAST(LEN(regexp_extract_all(text, '{textops.URL_RE}')) AS INT) AS n_urls,
       CAST(LEN(regexp_extract_all(text, '{textops.DIGIT_RUN_RE}')) AS INT)
         AS n_digit_runs
FROM documents
"""


@register("pii_pattern_counts", oracle=_PII_ORACLE, tags=("L4", "F11"))
def pii_pattern_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    counts = textops.pii_pattern_counts(F.col("text"))
    return d.select(
        "doc_id",
        counts["n_emails"].cast("int").alias("n_emails"),
        counts["n_urls"].cast("int").alias("n_urls"),
        counts["n_digit_runs"].cast("int").alias("n_digit_runs"),
    )


# ---------------------------------------------------------------------------
# §2.11 UDTF surface: lateral sentence split (one row per sentence).
# The oracle reproduces the Python splitter with UNNEST(string_split).
# ---------------------------------------------------------------------------

_SENTENCE_ORACLE = r"""
SELECT d.doc_id,
       TRIM(s) AS sentence,
       CAST(len(string_split_regex(TRIM(s), '\s+')) AS INT) AS n_words
FROM documents d, UNNEST(string_split(d.text, '.')) AS t(s)
WHERE LENGTH(TRIM(s)) > 0
"""


@register("sentence_split_udtf", oracle=_SENTENCE_ORACLE, tags=("A2", "F11"))
def sentence_split_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    SplitSentences = textops.sentence_udtf()
    spark.udtf.register("split_sentences", SplitSentences)
    table(spark, sf_dir, "documents").createOrReplaceTempView("__udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, s.sentence, s.n_words
        FROM __udtf_docs d, LATERAL split_sentences(d.text) s
        """
    )


# ---------------------------------------------------------------------------
# §2.11 grouped-map surface: per-user value trend via applyInPandas
# (rows-only: float OLS order is engine-internal; exactness is asserted
# against numpy in tests/test_multimodal.py).
# ---------------------------------------------------------------------------


# Exact-rank spelling: value (2-dec clean → integer cents) regressed on
# event rank with bigint sums, so even this PYTHON grouped-map operator
# hash-matches a SQL oracle — the same closed form over
# ROW_NUMBER/SUM in DuckDB. Both engines' single final division sees
# the identical exactly-representable integers.
_TREND_ORACLE = """
WITH r AS (
  SELECT user_id,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events
),
s AS (
  SELECT user_id,
         COUNT(*) AS n,
         SUM(i) AS sx, SUM(i * i) AS sxx,
         SUM(cents) AS sy, SUM(i * cents) AS sxy
  FROM r GROUP BY user_id
)
SELECT user_id AS key,
       CAST(n AS BIGINT) AS n_obs,
       CASE WHEN n * sxx - sx * sx = 0 THEN 0.0
            ELSE CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE) / 100.0
       END AS slope_per_event
FROM s
"""


@register("user_value_trend", oracle=_TREND_ORACLE, tags=("W3", "L4"))
def user_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return textops.grouped_rank_trend(ev, "user_id", "ts", "event_id", "value")


# ---------------------------------------------------------------------------
# §2.11 cogrouped-map surface: per-user funnel stats via
# cogroup().applyInPandas — purchases and views of the same user land
# in ONE Python call as two aligned pandas frames (the two-sided
# custom-merge surface grouped-map can't express without a pre-join).
# All outputs are exact integer counts, so even this Python operator
# hash-matches a SQL oracle (FULL OUTER per-user aggregates).
# ---------------------------------------------------------------------------

_COGROUP_ORACLE = """
WITH p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
pu AS (SELECT user_id, COUNT(*) AS n_purchases FROM p GROUP BY 1),
vu AS (SELECT user_id, COUNT(*) AS n_views, MIN(ts) AS min_vts FROM v GROUP BY 1),
m AS (
  SELECT p.user_id, COUNT(*) AS n_matched
  FROM p JOIN vu ON vu.user_id = p.user_id
  WHERE p.ts >= vu.min_vts
  GROUP BY 1
)
SELECT COALESCE(pu.user_id, vu.user_id) AS user_id,
       CAST(COALESCE(pu.n_purchases, 0) AS BIGINT) AS n_purchases,
       CAST(COALESCE(vu.n_views, 0) AS BIGINT) AS n_views,
       CAST(COALESCE(m.n_matched, 0) AS BIGINT) AS n_matched
FROM pu
FULL JOIN vu ON pu.user_id = vu.user_id
LEFT JOIN m ON m.user_id = COALESCE(pu.user_id, vu.user_id)
ORDER BY user_id
"""


@register("cogroup_user_funnel", oracle=_COGROUP_ORACLE, tags=("W3", "G5"))
def cogroup_user_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    v = ev.filter(F.col("event_type") == "view").select("user_id", "ts")

    def funnel(key, p_pdf, v_pdf):
        # self-contained (pickled by value): no references to this module
        import pandas as pd

        n_p, n_v = len(p_pdf), len(v_pdf)
        # Under a COUNT-only consumer, Catalyst prunes the cogroup
        # inputs down to the grouping key (the UDF is a black box, so
        # pruning is all-or-nothing): ts is absent exactly when every
        # output VALUE is discarded and only cardinality (always one
        # row per group) survives — so the guarded fallback can never
        # leak a wrong n_matched to a reader.
        has_ts = "ts" in p_pdf.columns and "ts" in v_pdf.columns
        # a purchase is "matched" iff ANY view of the same user is at or
        # before it — equivalently p.ts >= min(view ts); exact integer
        n_matched = (
            int((p_pdf["ts"] >= v_pdf["ts"].min()).sum())
            if n_p and n_v and has_ts
            else 0
        )
        return pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_purchases": [n_p],
                "n_views": [n_v],
                "n_matched": [n_matched],
            }
        )

    # explicit hash repartition on user_id: the cogrouped sides are
    # byte-light, so AQE would coalesce them to 1-2 partitions and
    # serialize thousands of per-group Python calls (same guard as
    # textops.grouped_trend; ~4x at sf0.1)
    n_part = spark.sparkContext.defaultParallelism
    return (
        p.repartition(n_part, F.col("user_id"))
        .groupBy("user_id")
        .cogroup(v.repartition(n_part, F.col("user_id")).groupBy("user_id"))
        .applyInPandas(
            funnel,
            "user_id long, n_purchases long, n_views long, n_matched long",
        )
        # no global sort: the driver's compare is order-insensitive, and
        # Spark's range-partitioned ORDER BY samples its child to pick
        # bounds — re-executing the whole cogroup a second time (2x cost
        # measured at sf0.1)
    )


# ---------------------------------------------------------------------------
# L2+L7 end-to-end fuzzy dedup: pairs -> clusters -> canonical doc.
# The step every corpus-dedup pipeline runs after near-dup pair mining
# (no reference analog — [EXT] LLM-curation surface): MinHash-LSH
# candidate pairs become duplicate CLUSTERS via distributed connected
# components, and each cluster keeps its lowest doc_id as the canonical
# representative. The md5 MinHash variant is used so the WHOLE chain —
# signatures, banding, verify, transitive closure — replays in DuckDB
# (closure via recursive CTE; Spark runs pointer-doubling label
# propagation, operators/graph.py). At 100 TB: pair mining is the
# banded-LSH keyed shuffle, components is O(log diameter) keyed-shuffle
# rounds (dup clusters are shallow — diameter rarely exceeds a few
# hops), and the final join is doc_id-keyed; no all-pairs stage exists.
# ---------------------------------------------------------------------------

_CLUSTER_ORACLE = f"""
WITH RECURSIVE
pairs AS ({_minhash_md5_oracle()}),
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
SELECT d.doc_id,
       CAST(COALESCE(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id,
       COALESCE(c.cluster_id, d.doc_id) = d.doc_id AS is_canonical,
       CAST(COUNT(*) OVER (PARTITION BY COALESCE(c.cluster_id, d.doc_id))
            AS BIGINT) AS cluster_size
FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
"""


def _star_edge_cluster_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared build for the two cluster queries: O(n·bands) star-edge
    near-dup clustering with the (doc_id, cluster_id, is_canonical,
    cluster_size) membership projection. Since round 6 this is THE
    canonical spelling — no registered query materializes the O(g²)
    verified pair set on its primary path (pair spellings remain as
    small-corpus/verification twins: minhash_md5_neardup and the
    equivalence test in tests/test_oracle_parity.py)."""
    from pyspark.sql.window import Window

    from ..operators.dedup import minhash_lsh_clusters_md5

    d = table(spark, sf_dir, "documents")
    labeled = minhash_lsh_clusters_md5(
        d,
        "doc_id",
        "text",
        num_hashes=_MH_HASHES,
        bands=_MH_BANDS,
        shingle_n=3,
        jaccard_threshold=_MH_THRESH,
    )
    return labeled.select(
        F.col("id").alias("doc_id"),
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
        (F.col("cluster_id") == F.col("id")).alias("is_canonical"),
        F.count(F.lit(1))
        .over(Window.partitionBy("cluster_id"))
        .cast("bigint")
        .alias("cluster_size"),
    )


@register("neardup_cluster_canonical", oracle=_CLUSTER_ORACLE, tags=("L2", "L7"))
def neardup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Build = star-edge emission; oracle = closure over the FULL
    # verified pair set. The driver hash-check therefore proves, every
    # round, that the scalable star-edge clustering reproduces the
    # pair-built definition on this corpus — the equivalence the O(g²)
    # spelling used to pay alpha 0.65-0.81 at 10-100× to state.
    return _star_edge_cluster_membership(spark, sf_dir)


# ---------------------------------------------------------------------------
# L2 cluster-level emission — the 100 TB output-bound answer: the pair
# variants above materialize ~g²/2 verified pairs per duplicate group
# of g replicas (the one super-linear headline at 100×, alpha 0.79 in
# BENCH_sf1.json); this one emits O(n·bands) verified STAR edges and
# returns cluster MEMBERSHIP — O(g) rows per group. Precision is
# unchanged (every edge exact-verified); the recall semantics vs the
# pair set are documented at operators/dedup.py:minhash_lsh_clusters_md5,
# and tests/test_oracle_parity.py asserts cluster-for-cluster equality
# with neardup_cluster_canonical on the testdata. The full chain —
# signatures, banding, bucket-min star-edge choice, exact-Jaccard
# verify, transitive closure — replays in DuckDB below, so the
# scalable spelling carries its own hash-checked CORRECTNESS row.
# ---------------------------------------------------------------------------


def _scalable_clusters_oracle() -> str:
    sig_cols, band_selects = _md5_sig_band_sql()
    return f"""
WITH RECURSIVE
sh AS (
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
star AS (
  SELECT DISTINCT MIN(doc_id) OVER (PARTITION BY band, key) AS id_a,
                  doc_id AS id_b
  FROM banded
),
v AS (
  SELECT s.id_a, s.id_b
  FROM star s JOIN sh x ON s.id_a = x.doc_id JOIN sh y ON s.id_b = y.doc_id
  WHERE s.id_a <> s.id_b
    AND CAST(LEN(list_intersect(x.grams, y.grams)) AS DOUBLE)
        / (LEN(x.grams) + LEN(y.grams) - LEN(list_intersect(x.grams, y.grams)))
        >= {_MH_THRESH}
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM v
  UNION
  SELECT id_b AS a, id_a AS b FROM v
),
reach(id, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT reach.id, e.b FROM reach JOIN edges e ON e.a = reach.r
),
comp AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id)
SELECT d.doc_id,
       CAST(COALESCE(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id,
       COALESCE(c.cluster_id, d.doc_id) = d.doc_id AS is_canonical,
       CAST(COUNT(*) OVER (PARTITION BY COALESCE(c.cluster_id, d.doc_id))
            AS BIGINT) AS cluster_size
FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
"""


@register("neardup_clusters_scalable", oracle=_scalable_clusters_oracle(), tags=("L2", "L7"))
def neardup_clusters_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same build as neardup_cluster_canonical, DIFFERENT oracle: this
    # one replays the star-edge construction itself bit-for-bit in
    # DuckDB, while canonical's oracle states pair-closure equivalence.
    return _star_edge_cluster_membership(spark, sf_dir)


# ---------------------------------------------------------------------------
# L4 decontamination: train/test n-gram overlap ([EXT] — the benchmark-
# contamination check every pre-training pipeline runs before shipping
# a corpus). The corpus is split deterministically by md5(doc_id)
# (~25% "test", the held-out side); a TRAIN document is contaminated if
# it shares any word 8-gram with ANY test document. Both the split and
# the n-gram join replay exactly in DuckDB. At 100 TB: distinct-gram
# postings on both sides, one gram-keyed shuffle join, doc-keyed count
# — same inverted-index shape as the n-gram Jaccard path (hot grams
# are bounded by the 8-gram length; no all-pairs doc join exists).
# ---------------------------------------------------------------------------

_DECON_N = 8

_DECON_ORACLE = f"""
WITH tok AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
g AS (
  SELECT doc_id,
         UNNEST(list_distinct(list_transform(
             range(1, LEN(toks) - {_DECON_N - 2}),
             i -> array_to_string(toks[i:i+{_DECON_N - 1}], ' ')))) AS gram
  FROM tok WHERE LEN(toks) >= {_DECON_N}
),
split AS (
  SELECT doc_id, gram,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '4' AS is_test
  FROM g
),
test_g AS (SELECT DISTINCT gram FROM split WHERE is_test)
SELECT s.doc_id, CAST(COUNT(DISTINCT s.gram) AS BIGINT) AS n_shared_grams
FROM split s JOIN test_g t ON s.gram = t.gram
WHERE NOT s.is_test
GROUP BY s.doc_id
"""


@register("decontaminate_train_test", oracle=_DECON_ORACLE, tags=("L4", "L2"))
def decontaminate_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    # persisted (r14): the gram posting frame feeds BOTH the test-gram
    # dictionary and the train-side probe — one tokenize+shingle+explode
    # pass instead of two (same rule as the dedup signature frames)
    grams = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(textops.shingles(textops.tokens("text"), _DECON_N))
        ).alias("gram"),
        (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "4").alias(
            "is_test"
        ),
    ).transform(tracked_persist)
    test_grams = grams.filter("is_test").select("gram").distinct()
    return (
        grams.filter(~F.col("is_test"))
        .join(test_grams, "gram")
        .groupBy("doc_id")
        .agg(F.countDistinct("gram").alias("n_shared_grams"))
    )


# ---------------------------------------------------------------------------
# L4 keyword extraction: top-5 TF-IDF terms per source ([EXT] — corpus
# characterization / domain labeling). Aggregated TF-IDF: score(term,
# source) = tf * ln(N_docs / df), rounded to 6 decimals so the one
# transcendental (ln — libm vs JVM may differ in the last ulp) can't
# break cross-engine hashing; tf/df/N are exact integers. At 100 TB:
# two keyed aggregations (term-df, source×term-tf), the N_docs scalar
# is a broadcast 1-row aggregate, top-k is a per-source window over
# the already-aggregated (small) term table.
# ---------------------------------------------------------------------------

_TFIDF_ORACLE = f"""
WITH tok AS (SELECT doc_id, source, UNNEST({_SQL_TOKS}) AS term FROM documents),
n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM tok),
df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term),
tf AS (SELECT source, term, COUNT(*) AS tf FROM tok GROUP BY source, term),
scored AS (
  SELECT tf.source, tf.term,
         ROUND(tf.tf * LN(n.n_docs / df.df), 6) AS tfidf,
         ROW_NUMBER() OVER (
             PARTITION BY tf.source
             ORDER BY tf.tf * LN(n.n_docs / df.df) DESC, tf.term
         ) AS rk
  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
)
SELECT source, term, tfidf, CAST(rk AS INT) AS rk
FROM scored WHERE rk <= 5
"""


@register("tfidf_top_terms", oracle=_TFIDF_ORACLE, tags=("L4",))
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "source", F.explode(textops.tokens("text")).alias("term")
    )
    n = tok.agg(F.countDistinct("doc_id").cast("double").alias("n_docs"))
    df_t = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    tf = tok.groupBy("source", "term").agg(F.count(F.lit(1)).alias("tf"))
    scored = (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("raw", F.col("tf") * F.log(F.col("n_docs") / F.col("df")))
    )
    w = Window.partitionBy("source").orderBy(F.desc("raw"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select(
            "source",
            "term",
            F.round("raw", 6).alias("tfidf"),
            F.col("rk").cast("int").alias("rk"),
        )
    )


# ---------------------------------------------------------------------------
# L2 incremental near-dup: DELTA × CORPUS only ([EXT] — the daily-crawl
# dedup shape: today's documents are checked against the accumulated
# corpus without regenerating corpus-internal pairs; at 100 TB the
# corpus's banded signatures are a persisted artifact and the run cost
# is O(delta × bucket density), not O(corpus²)). Split is an md5 key
# hash (~12.5% delta) so DuckDB replays it exactly.
# ---------------------------------------------------------------------------


def _minhash_md5_incr_oracle() -> str:
    rows = _MH_HASHES // _MH_BANDS
    sig_cols = ",\n         ".join(
        f"list_min(list_transform(grams, g -> md5('{i}|' || g))) AS m{i}"
        for i in range(_MH_HASHES)
    )
    band_selects = "\n  UNION ALL\n  ".join(
        "SELECT doc_id, n, {b} AS band, md5({key}) AS key FROM sig".format(
            b=b,
            key=" || ',' || ".join(f"m{b * rows + r}" for r in range(rows)),
        )
        for b in range(_MH_BANDS)
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
flagged AS (
  SELECT *, substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '2' AS is_new
  FROM banded
),
cand AS (
  SELECT DISTINCT d.doc_id AS id_new, c.doc_id AS id_old
  FROM flagged d JOIN flagged c
    ON d.band = c.band AND d.key = c.key AND d.is_new AND NOT c.is_new
),
j AS (
  SELECT c.id_new, c.id_old,
         CAST(LEN(list_intersect(x.grams, y.grams)) AS DOUBLE)
           / (LEN(x.grams) + LEN(y.grams) - LEN(list_intersect(x.grams, y.grams)))
           AS jaccard
  FROM cand c JOIN sh x ON c.id_new = x.doc_id JOIN sh y ON c.id_old = y.doc_id
)
SELECT id_new, id_old, jaccard FROM j WHERE jaccard >= {_MH_THRESH}
"""


@register("minhash_incremental_neardup", oracle=_minhash_md5_incr_oracle(), tags=("L2",))
def minhash_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_lsh_pairs_md5_incremental

    d = table(spark, sf_dir, "documents").withColumn(
        "is_new", F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "2"
    )
    return minhash_lsh_pairs_md5_incremental(
        d,
        "doc_id",
        "text",
        "is_new",
        num_hashes=_MH_HASHES,
        bands=_MH_BANDS,
        shingle_n=3,
        jaccard_threshold=_MH_THRESH,
    )


# ---------------------------------------------------------------------------
# G10 heavy hitters: approximate top-k terms via Spark 4's approx_top_k
# sketch ([EXT] — vocabulary heavy-hitter profiling; the sketch merges
# associatively across partitions, so at 100 TB the full token stream
# never shuffles: each partition sends one bounded sketch). Rows-only
# by design (sketch internals are engine-specific, same policy as
# sketch_quantiles_hll); the invariant in tests/test_oracle_parity.py
# checks it against the exact groupBy-count twin.
# ---------------------------------------------------------------------------


@register("approx_top_terms", oracle=None, tags=("G10", "L4"))
def approx_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    tok = d.select(F.explode(textops.tokens("text")).alias("term"))
    sk = tok.agg(F.expr("approx_top_k(term, 10, 100000)").alias("top"))
    return (
        sk.select(F.posexplode("top").alias("pos", "t"))
        .select(
            (F.col("pos") + 1).cast("int").alias("rnk"),
            F.col("t.item").alias("term"),
            F.col("t.count").cast("bigint").alias("approx_count"),
        )
    )


# ---------------------------------------------------------------------------
# L4/L7 context-window chunking: fixed-size character chunks with
# overlap ([EXT] — the standard retrieval/training preprocessing step:
# every document becomes ceil-strided substrings of CHUNK chars every
# STRIDE chars, so consecutive chunks share CHUNK-STRIDE chars of
# context). Pure built-in expressions — sequence+explode+substr — so
# the whole operator is one narrow map stage: no shuffle, no Python,
# and at 100 TB it scales with the scan. Chunk identity travels as
# md5(chunk) so the output stays slim while still witnessing the exact
# chunk bytes to the oracle.
# ---------------------------------------------------------------------------

_CHUNK, _STRIDE = 240, 180

_CHUNKS_ORACLE = f"""
WITH n AS (
  SELECT doc_id, text,
         1 + CASE WHEN LENGTH(text) <= {_CHUNK} THEN 0
                  ELSE (LENGTH(text) - {_CHUNK} + {_STRIDE} - 1) // {_STRIDE} END
           AS n_chunks
  FROM documents
)
SELECT doc_id,
       CAST(idx AS INT) AS chunk_idx,
       CAST(LENGTH(SUBSTR(text, idx * {_STRIDE} + 1, {_CHUNK})) AS INT) AS chunk_len,
       MD5(SUBSTR(text, idx * {_STRIDE} + 1, {_CHUNK})) AS chunk_md5
FROM n, UNNEST(generate_series(0, n_chunks - 1)) AS t(idx)
"""


@register("doc_chunks_overlap", oracle=_CHUNKS_ORACLE, tags=("L4", "L7", "A2"))
def doc_chunks_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    n_chunks = F.lit(1) + F.when(
        F.length("text") <= _CHUNK, F.lit(0)
    ).otherwise(
        F.expr(f"(length(text) - {_CHUNK} + {_STRIDE} - 1) div {_STRIDE}")
    )
    idx = F.explode(F.sequence(F.lit(0), F.col("__n_chunks") - 1)).alias("__idx")
    chunk = F.col("text").substr(
        (F.col("__idx") * _STRIDE + 1).cast("int"), F.lit(_CHUNK)
    )
    return (
        d.select("doc_id", "text", n_chunks.alias("__n_chunks"))
        .select("doc_id", "text", idx)
        .select(
            "doc_id",
            F.col("__idx").cast("int").alias("chunk_idx"),
            F.length(chunk).cast("int").alias("chunk_len"),
            F.md5(chunk).alias("chunk_md5"),
        )
    )


# ---------------------------------------------------------------------------
# L3/L4 chunk-grain neighbor retrieval ([EXT] — round-13: the RAG/RETRO
# index-build shape at the CHUNK grain — "for this passage, the
# most-similar passages from OTHER documents". No model in the
# container, so the chunk embedding is the classic hashed bag-of-words:
# each token is md5-bucketed into one of _CNB_DIMS integer counts —
# feature hashing (Weinberger et al.), exact integers end-to-end, so
# the DuckDB twin replays bucketing, dots, and ranking bit-for-bit.
# The same-document exclusion is the RETRO training rule (neighbors
# from the doc itself are leakage, not context). Scale shape: vectors
# live in LONG form (chunk, dim, count) — the dot join is keyed on the
# 16-value dim domain with the query side filtered to the O(1) strided
# panel first, so the pair space is panel × corpus-chunks — the
# brute-force ANN envelope (corpus streams once), never
# chunks × chunks; everything else is map-side or panel-sized.
# ---------------------------------------------------------------------------

_CNB_DIMS, _CNB_K = 16, 5

_CNB_ORACLE = f"""
WITH s AS (
  SELECT GREATEST(50, CAST(COUNT(*) // 100 AS BIGINT)) AS stride FROM documents
),
ch AS (
  SELECT doc_id, CAST(idx AS INT) AS chunk_idx,
         SUBSTR(text, idx * {_STRIDE} + 1, {_CHUNK}) AS text
  FROM (
    SELECT doc_id, text,
           1 + CASE WHEN LENGTH(text) <= {_CHUNK} THEN 0
                    ELSE (LENGTH(text) - {_CHUNK} + {_STRIDE} - 1) // {_STRIDE} END
             AS n_chunks
    FROM documents
  ) n, UNNEST(generate_series(0, n_chunks - 1)) AS t(idx)
),
tok AS (
  SELECT doc_id, chunk_idx, UNNEST({_SQL_TOKS}) AS term FROM ch
),
vec AS (
  SELECT doc_id, chunk_idx,
         CAST('0x' || SUBSTR(MD5(term || '|hb'), 1, 8) AS BIGINT) % {_CNB_DIMS}
           AS dim,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM tok GROUP BY 1, 2, 3
),
nrm AS (SELECT doc_id, chunk_idx, SUM(x*x) AS sq FROM vec GROUP BY 1, 2),
qv AS (
  SELECT v.* FROM vec v, s WHERE v.doc_id % s.stride = 0 AND v.chunk_idx = 0
),
dots AS (
  SELECT q.doc_id AS q_doc_id, q.chunk_idx AS q_chunk_idx,
         c.doc_id AS c_doc_id, c.chunk_idx AS c_chunk_idx,
         SUM(q.x * c.x) AS dot
  FROM qv q JOIN vec c ON q.dim = c.dim AND q.doc_id <> c.doc_id
  GROUP BY 1, 2, 3, 4
),
scored AS (
  SELECT d.q_doc_id, d.q_chunk_idx, d.c_doc_id, d.c_chunk_idx,
         CAST(d.dot AS BIGINT) AS dot,
         CAST(d.dot AS DOUBLE)
           / (SQRT(CAST(a.sq AS DOUBLE)) * SQRT(CAST(b.sq AS DOUBLE))) AS cosine
  FROM dots d
  JOIN nrm a ON d.q_doc_id = a.doc_id AND d.q_chunk_idx = a.chunk_idx
  JOIN nrm b ON d.c_doc_id = b.doc_id AND d.c_chunk_idx = b.chunk_idx
)
SELECT q_doc_id, q_chunk_idx, c_doc_id, c_chunk_idx, dot, cosine,
       CAST(rnk AS INT) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_doc_id, q_chunk_idx
            ORDER BY cosine DESC, c_doc_id ASC, c_chunk_idx ASC) AS rnk
  FROM scored
) WHERE rnk <= {_CNB_K}
"""


def _chunk_dense(d: DataFrame) -> DataFrame:
    """(doc_id, chunk_idx, v): dense _CNB_DIMS-count hashed-BoW vector
    per chunk over any frame with (doc_id, text) — one shuffle (bucket
    counts → array); chunks with zero tokens drop out, matching the
    oracle's vec CTE. Shared by chunk_neighbor_topk (whole corpus) and
    incremental_chunk_index_refresh (base / delta slices)."""
    from ..operators.curation import hash_key

    n_chunks = F.lit(1) + F.when(F.length("text") <= _CHUNK, F.lit(0)).otherwise(
        F.expr(f"(length(text) - {_CHUNK} + {_STRIDE} - 1) div {_STRIDE}")
    )
    idx = F.explode(F.sequence(F.lit(0), F.col("__n_chunks") - 1)).alias("__idx")
    chunk = F.col("text").substr(
        (F.col("__idx") * _STRIDE + 1).cast("int"), F.lit(_CHUNK)
    )
    ch = (
        d.select("doc_id", "text", n_chunks.alias("__n_chunks"))
        .select("doc_id", "text", idx)
        .select(
            "doc_id", F.col("__idx").cast("int").alias("chunk_idx"),
            chunk.alias("chunk"),
        )
    )
    tok = ch.select(
        "doc_id", "chunk_idx", F.explode(textops.tokens("chunk")).alias("term")
    )
    dim = (
        F.conv(F.substring(hash_key(F.col("term"), "hb"), 1, 8), 16, 10)
        .cast("bigint") % _CNB_DIMS
    )
    return (
        tok.select("doc_id", "chunk_idx", dim.alias("dim"))
        .groupBy("doc_id", "chunk_idx")
        .agg(
            *[
                F.sum((F.col("dim") == i).cast("bigint")).alias(f"d{i}")
                for i in range(_CNB_DIMS)
            ]
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.array(*[F.col(f"d{i}") for i in range(_CNB_DIMS)]).alias("v"),
        )
    )


_CNB_EMPTY_SCHEMA = (
    "q_doc_id long, q_chunk_idx int, c_doc_id long, c_chunk_idx int, "
    "dot long, cosine double, rnk int"
)


def _chunk_gemm_topk(spark: SparkSession, dense: DataFrame, qpd, k: int) -> DataFrame:
    """Exact chunk-grain top-k of the qpd panel (pandas: doc_id,
    chunk_idx, v) against the dense corpus, GEMM-style: one Arrow
    matmul per batch against the broadcast O(1) panel — NOT a
    long-form join on `dim` (that spelling's pair fan-out is
    n_chunks × panel ≈ 1.1B rows at x100 and OOMed the hash agg; same
    design call as operators/similarity.py:gemm_exact_topk). The
    same-document exclusion is applied inside the batch so per-batch
    top-k pruning stays exact across ties."""
    import numpy as np
    import pandas as pd

    from ..operators.relational import topk_per_group
    from ..operators.similarity import _vector_kernels

    if not len(qpd):
        return spark.createDataFrame([], _CNB_EMPTY_SCHEMA)
    q_doc = qpd["doc_id"].to_numpy().astype("int64")
    q_idx = qpd["chunk_idx"].to_numpy().astype("int64")
    Q = np.stack(qpd["v"].to_numpy()).astype("int64")
    q_nrm = np.sqrt((Q * Q).sum(axis=1).astype("float64"))
    bq = spark.sparkContext.broadcast((q_doc, q_idx, Q, q_nrm))
    kern = _vector_kernels()

    def score_batches(batches):
        qd, qi, Qm, qn = bq.value
        for pdf in batches:
            if not len(pdf):  # zero-row Arrow batch: np.stack would raise
                continue
            c_doc = pdf["doc_id"].to_numpy().astype("int64")
            c_idx = pdf["chunk_idx"].to_numpy().astype("int64")
            C = np.stack(pdf["v"].to_numpy()).astype("int64")
            c_nrm = np.sqrt((C * C).sum(axis=1).astype("float64"))
            D = C @ Qm.T  # exact int64 dots
            cos = kern.cosine(D, c_nrm[:, None], qn[None, :])
            # the RETRO same-document exclusion
            ci, qj = np.nonzero(kern.cut(cos, c_doc[:, None] != qd[None, :], k))
            yield pd.DataFrame(
                {
                    "q_doc_id": qd[qj],
                    "q_chunk_idx": qi[qj],
                    "c_doc_id": c_doc[ci],
                    "c_chunk_idx": c_idx[ci],
                    "dot": D[ci, qj],
                    "cosine": cos[ci, qj],
                }
            )

    scored = dense.mapInPandas(
        score_batches,
        "q_doc_id long, q_chunk_idx long, c_doc_id long, c_chunk_idx long, "
        "dot long, cosine double",
    )
    return topk_per_group(
        scored,
        ["q_doc_id", "q_chunk_idx"],
        [F.col("cosine").desc(), F.col("c_doc_id").asc(), F.col("c_chunk_idx").asc()],
        k,
        rank_col="rnk",
    ).select(
        "q_doc_id",
        F.col("q_chunk_idx").cast("int").alias("q_chunk_idx"),
        "c_doc_id",
        F.col("c_chunk_idx").cast("int").alias("c_chunk_idx"),
        "dot",
        "cosine",
        F.col("rnk").cast("int").alias("rnk"),
    )


@register("chunk_neighbor_topk", oracle=_CNB_ORACLE, tags=("L3", "L4", "A2"))
def chunk_neighbor_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    # persisted: consumed by the panel AND the GEMM scan
    dense = _chunk_dense(d).transform(tracked_persist)
    stride = d.agg(
        F.greatest(F.lit(50).cast("long"), (F.count(F.lit(1)) / 100).cast("long"))
        .alias("__stride")
    )
    # O(1) panel: first chunk of every stride-th document
    qpd = (
        dense.crossJoin(F.broadcast(stride))
        .filter((F.col("doc_id") % F.col("__stride") == 0) & (F.col("chunk_idx") == 0))
        .select("doc_id", "chunk_idx", "v")
        .toPandas()
    )
    return _chunk_gemm_topk(spark, dense, qpd, _CNB_K)


# ---------------------------------------------------------------------------
# L3/L6/Q3 incremental chunk-index refresh ([EXT] — round-13: the
# nightly-index-update pattern for the retrieval index above. New
# documents ARRIVE (md5 arrival split, ~3/16 of the corpus); instead
# of rebuilding, the serving top-k is refreshed by the monotone-top-k
# identity topk(base ∪ delta) = rerank(topk(base) ∪ topk(delta)) —
# only the DELTA's chunks are scored against the standing panel, the
# base side is the already-materialized result. Emits from_delta so
# the operator witnesses which neighbors the refresh displaced; the
# equivalence to a full rebuild is asserted in tests
# (test_round13_session_ops.py). The oracle replays both phases and
# the re-rank. Scale: the recompute is delta-sized (plus the O(1)
# panel); the base top-k is k·panel rows.
# ---------------------------------------------------------------------------

_CNB_ARRIVAL_SQL = "substr(md5('arr:' || CAST(doc_id AS VARCHAR)), 1, 1) < '3'"


def _cnb_vec_cte(sfx: str, where: str) -> str:
    """ch/tok/vec/nrm CTE block for one corpus slice (WHERE on
    documents) — the same chunking/hashing as _CNB_ORACLE."""
    return f"""
ch{sfx} AS (
  SELECT doc_id, CAST(idx AS INT) AS chunk_idx,
         SUBSTR(text, idx * {_STRIDE} + 1, {_CHUNK}) AS text
  FROM (
    SELECT doc_id, text,
           1 + CASE WHEN LENGTH(text) <= {_CHUNK} THEN 0
                    ELSE (LENGTH(text) - {_CHUNK} + {_STRIDE} - 1) // {_STRIDE} END
             AS n_chunks
    FROM documents WHERE {where}
  ) n, UNNEST(generate_series(0, n_chunks - 1)) AS t(idx)
),
tok{sfx} AS (
  SELECT doc_id, chunk_idx, UNNEST({_SQL_TOKS}) AS term FROM ch{sfx}
),
vec{sfx} AS (
  SELECT doc_id, chunk_idx,
         CAST('0x' || SUBSTR(MD5(term || '|hb'), 1, 8) AS BIGINT) % {_CNB_DIMS}
           AS dim,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM tok{sfx} GROUP BY 1, 2, 3
),
nrm{sfx} AS (SELECT doc_id, chunk_idx, SUM(x*x) AS sq FROM vec{sfx} GROUP BY 1, 2)"""


def _cnb_phase_cte(sfx: str) -> str:
    """dots/top CTE block scoring the base panel against one slice."""
    return f"""
dots{sfx} AS (
  SELECT q.doc_id AS q_doc_id, q.chunk_idx AS q_chunk_idx,
         c.doc_id AS c_doc_id, c.chunk_idx AS c_chunk_idx,
         SUM(q.x * c.x) AS dot
  FROM qv q JOIN vec{sfx} c ON q.dim = c.dim AND q.doc_id <> c.doc_id
  GROUP BY 1, 2, 3, 4
),
top{sfx} AS (
  SELECT q_doc_id, q_chunk_idx, c_doc_id, c_chunk_idx, dot, cosine FROM (
    SELECT d.q_doc_id, d.q_chunk_idx, d.c_doc_id, d.c_chunk_idx,
           CAST(d.dot AS BIGINT) AS dot,
           CAST(d.dot AS DOUBLE)
             / (SQRT(CAST(a.sq AS DOUBLE)) * SQRT(CAST(b.sq AS DOUBLE))) AS cosine,
           ROW_NUMBER() OVER (PARTITION BY d.q_doc_id, d.q_chunk_idx
               ORDER BY CAST(d.dot AS DOUBLE)
                 / (SQRT(CAST(a.sq AS DOUBLE)) * SQRT(CAST(b.sq AS DOUBLE))) DESC,
               d.c_doc_id ASC, d.c_chunk_idx ASC) AS prnk
    FROM dots{sfx} d
    JOIN nrmb a ON d.q_doc_id = a.doc_id AND d.q_chunk_idx = a.chunk_idx
    JOIN nrm{sfx} b ON d.c_doc_id = b.doc_id AND d.c_chunk_idx = b.chunk_idx
  ) WHERE prnk <= {_CNB_K}
)"""


_CNB_INCR_ORACLE = f"""
WITH s AS (
  SELECT GREATEST(50, CAST(COUNT(*) // 100 AS BIGINT)) AS stride
  FROM documents WHERE NOT ({_CNB_ARRIVAL_SQL})
),
{_cnb_vec_cte("b", f"NOT ({_CNB_ARRIVAL_SQL})")[1:]},
{_cnb_vec_cte("d", _CNB_ARRIVAL_SQL)[1:]},
qv AS (
  SELECT v.* FROM vecb v, s WHERE v.doc_id % s.stride = 0 AND v.chunk_idx = 0
),
{_cnb_phase_cte("b")[1:]},
{_cnb_phase_cte("d")[1:]},
u AS (
  SELECT *, FALSE AS from_delta FROM topb
  UNION ALL
  SELECT *, TRUE AS from_delta FROM topd
)
SELECT q_doc_id, q_chunk_idx, c_doc_id, c_chunk_idx, dot, cosine, from_delta,
       CAST(rnk AS INT) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_doc_id, q_chunk_idx
            ORDER BY cosine DESC, c_doc_id ASC, c_chunk_idx ASC) AS rnk
  FROM u
) WHERE rnk <= {_CNB_K}
"""


def _cnb_arrival_col() -> Column:
    return (
        F.substring(
            F.md5(F.concat(F.lit("arr:"), F.col("doc_id").cast("string"))), 1, 1
        )
        < "3"
    )


@register(
    "incremental_chunk_index_refresh", oracle=_CNB_INCR_ORACLE, tags=("L3", "L6", "Q3")
)
def incremental_chunk_index_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import topk_per_group

    d = table(spark, sf_dir, "documents")
    is_new = _cnb_arrival_col()
    base = d.filter(~is_new)
    delta = d.filter(is_new)
    # persisted: consumed by the panel AND the base-phase scan
    dense_b = _chunk_dense(base).transform(tracked_persist)
    dense_d = _chunk_dense(delta)
    stride = base.agg(
        F.greatest(F.lit(50).cast("long"), (F.count(F.lit(1)) / 100).cast("long"))
        .alias("__stride")
    )
    qpd = (
        dense_b.crossJoin(F.broadcast(stride))
        .filter((F.col("doc_id") % F.col("__stride") == 0) & (F.col("chunk_idx") == 0))
        .select("doc_id", "chunk_idx", "v")
        .toPandas()
    )
    p_base = _chunk_gemm_topk(spark, dense_b, qpd, _CNB_K).withColumn(
        "from_delta", F.lit(False)
    )
    p_delta = _chunk_gemm_topk(spark, dense_d, qpd, _CNB_K).withColumn(
        "from_delta", F.lit(True)
    )
    merged = p_base.unionByName(p_delta).drop("rnk")
    return topk_per_group(
        merged,
        ["q_doc_id", "q_chunk_idx"],
        [F.col("cosine").desc(), F.col("c_doc_id").asc(), F.col("c_chunk_idx").asc()],
        _CNB_K,
        rank_col="rnk",
    ).select(
        "q_doc_id", "q_chunk_idx", "c_doc_id", "c_chunk_idx", "dot", "cosine",
        "from_delta", F.col("rnk").cast("int").alias("rnk"),
    )


# ---------------------------------------------------------------------------
# L1+F11 normalization-aware dedup ([EXT] — the curation step between
# exact and near dedup: case-fold, strip non-alphanumerics, collapse
# runs of whitespace, THEN group. Catches trivially-reformatted copies
# exact dedup misses at the cost of one deterministic map — same
# single-shuffle hash-groupBy shape as L1, so the 100 TB story is
# unchanged. The regex pipeline avoids \\s and \\w classes entirely
# (Java and RE2 disagree on their edges); [^a-z0-9] + ' +' behave
# identically in both engines on any input.
# ---------------------------------------------------------------------------

_NORM_EXPR_SPARK = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]', ' '), ' +', ' '))"
)
_NORM_EXPR_SQL = (
    "TRIM(regexp_replace(regexp_replace(LOWER(text), '[^a-z0-9]', ' ', 'g'),"
    " ' +', ' ', 'g'))"
)

_NORM_DEDUP_ORACLE = f"""
WITH n AS (SELECT doc_id, {_NORM_EXPR_SQL} AS norm FROM documents)
SELECT MIN(doc_id) AS rep_doc_id,
       COUNT(*) AS n_variants,
       MD5(norm) AS norm_md5,
       CAST(LENGTH(norm) AS INT) AS norm_len
FROM n GROUP BY norm
"""


@register("dedup_normalized_text", oracle=_NORM_DEDUP_ORACLE, tags=("L1", "F11"))
def dedup_normalized_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    n = d.select("doc_id", F.expr(_NORM_EXPR_SPARK).alias("norm"))
    return n.groupBy("norm").agg(
        F.min("doc_id").alias("rep_doc_id"), F.count(F.lit(1)).alias("n_variants")
    ).select(
        "rep_doc_id",
        "n_variants",
        F.md5(F.col("norm")).alias("norm_md5"),
        F.length("norm").cast("int").alias("norm_len"),
    )


# ---------------------------------------------------------------------------
# L4 collocation mining ([EXT] — corpus analysis beyond single-term
# frequencies: the top document-level co-occurring token pairs, the
# first step of phrase/collocation extraction). Document-frequency
# banding (5 <= df <= 100) is applied BEFORE the pairing join — the
# same inverted-index hot-key discipline as the n-gram Jaccard path:
# stopword-grade terms would contribute df^2 pairs each, so they are
# excluded from the pair space by definition, not post-filtered. One
# doc-keyed self-join over the banded postings, one pair-keyed count,
# deterministic rank.
# ---------------------------------------------------------------------------

# band bounds sized to the synthetic corpus (31-term vocabulary where
# the median term appears in ~80% of documents — the 450 cap still
# excludes true-ubiquitous terms); a natural-language corpus would run
# a much tighter band (e.g. 5..100) for the same df^2 reason
_COOC_DF_MIN, _COOC_DF_MAX, _COOC_TOP = 5, 450, 20

_COOC_ORACLE = f"""
WITH post AS (
  SELECT DISTINCT doc_id, t.term
  FROM documents, UNNEST(list_distinct({_SQL_TOKS})) AS t(term)
),
banded AS (
  SELECT doc_id, term FROM post
  WHERE term IN (
    SELECT term FROM post GROUP BY term
    HAVING COUNT(*) BETWEEN {_COOC_DF_MIN} AND {_COOC_DF_MAX}
  )
),
pairs AS (
  SELECT a.term AS term_a, b.term AS term_b, COUNT(*) AS n_docs
  FROM banded a JOIN banded b
    ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY 1, 2
)
SELECT term_a, term_b, n_docs, CAST(rnk AS INT) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY n_docs DESC, term_a ASC, term_b ASC) AS rnk
  FROM pairs
)
WHERE rnk <= {_COOC_TOP}
"""


@register("token_cooccurrence_pairs", oracle=_COOC_ORACLE, tags=("L4", "J2"))
def token_cooccurrence_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = table(spark, sf_dir, "documents")
    post = (
        d.select("doc_id", F.explode(F.array_distinct(textops.tokens("text"))).alias("term"))
        .distinct()
    )
    # band by document frequency BEFORE pairing (the df^2 hot-key cut);
    # the banded term list is small -> AQE broadcasts the semi join
    band = (
        post.groupBy("term")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df").between(_COOC_DF_MIN, _COOC_DF_MAX))
        .select("term")
    )
    banded = post.join(band, "term", "left_semi").transform(tracked_persist)
    a = banded.select("doc_id", F.col("term").alias("term_a"))
    b = banded.select("doc_id", F.col("term").alias("term_b"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    # global top-k as TakeOrdered (orderBy+limit), not a partition-less
    # row_number window: plan-shape-independent of the WindowGroupLimit
    # rewrite — only k rows ever reach one place. The rank column is
    # then a window over the ALREADY-k-row frame (bounded by k).
    topk = pairs.orderBy(
        F.desc("n_docs"), F.asc("term_a"), F.asc("term_b")
    ).limit(_COOC_TOP)
    wr = Window.orderBy(F.desc("n_docs"), F.asc("term_a"), F.asc("term_b"))
    return topk.withColumn("rnk", F.row_number().over(wr).cast("int"))


# ---------------------------------------------------------------------------
# L4/L6 equi-DEPTH length histogram ([EXT] — the curation sibling of
# doc_length_histogram's equi-width bins: deciles by corpus mass, the
# binning used for length-balanced sampling budgets). The decile
# assignment is the distributed global NTILE
# (operators/relational.py:with_global_ntile — range partition +
# broadcast prefix offsets, no single-reducer sort), bit-identical to
# the oracle's partition-less NTILE(10); per-bin stats are exact
# integers.
# ---------------------------------------------------------------------------

_EQUIDEPTH_ORACLE = """
WITH b AS (
  SELECT n_chars,
         NTILE(10) OVER (ORDER BY n_chars ASC, doc_id ASC) AS bin
  FROM documents
)
SELECT CAST(bin AS INT) AS bin,
       COUNT(*) AS n_docs,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM b GROUP BY bin
"""


@register("doc_length_equidepth_bins", oracle=_EQUIDEPTH_ORACLE, tags=("L4", "L6", "W4"))
def doc_length_equidepth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import with_global_ntile

    d = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    binned = with_global_ntile(
        d, [F.asc("n_chars"), F.asc("doc_id")], 10, "bin"
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").cast("bigint").alias("min_chars"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# L4/L6 token-frequency profile ([EXT] — the integer-exact cousin of
# unigram-LM quality filtering: curation pipelines score documents by
# how "ordinary" their vocabulary is, and docs dominated by rare
# tokens are disproportionately OCR noise / boilerplate / garbage).
# Per document: mean corpus frequency of its tokens (ONE double
# division of exact integer sums — a true log-prob LM would hinge on
# libm ln() bit-parity across engines, so the formulation stays on
# the integer side deliberately) and the rare-token ratio (tokens
# whose corpus count <= threshold). At 100 TB: the term-count table is
# vocabulary-sized (broadcastable), the join is token-keyed, and the
# doc-level reduce is one keyed aggregation — the exact shape a
# CCNet-style filter runs before training.
# ---------------------------------------------------------------------------

_RARE_MAX_COUNT = 50

_TOKEN_FREQ_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, UNNEST({_SQL_TOKS}) AS term FROM documents
),
tc AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY term)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(tc.c) AS BIGINT) AS freq_sum,
       CAST(SUM(tc.c) AS DOUBLE) / COUNT(*) AS mean_token_corpus_freq,
       CAST(COUNT(CASE WHEN tc.c <= {_RARE_MAX_COUNT} THEN 1 END) AS BIGINT)
         AS n_rare_tokens,
       CAST(COUNT(CASE WHEN tc.c <= {_RARE_MAX_COUNT} THEN 1 END) AS DOUBLE)
         / COUNT(*) AS rare_token_ratio
FROM tok t JOIN tc ON t.term = tc.term
GROUP BY t.doc_id
"""


@register("token_frequency_profile", oracle=_TOKEN_FREQ_ORACLE, tags=("L4", "L6"))
def token_frequency_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(textops.tokens(F.col("text"))).alias("term"))
    tc = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    # no broadcast hint: a web-scale vocabulary can exceed the 8 GB
    # broadcast hard limit — let AQE broadcast when the stats allow and
    # degrade to a shuffle join when they don't
    joined = tok.join(tc, "term")
    rare = F.when(F.col("c") <= _RARE_MAX_COUNT, 1)
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum("c").cast("long").alias("freq_sum"),
        (F.sum("c").cast("double") / F.count(F.lit(1))).alias(
            "mean_token_corpus_freq"
        ),
        F.count(rare).cast("long").alias("n_rare_tokens"),
        (F.count(rare).cast("double") / F.count(F.lit(1))).alias("rare_token_ratio"),
    )


# ---------------------------------------------------------------------------
# L6 curation decision matrix ([EXT] — the pipeline's FINAL select:
# every upstream signal joined per document into one keep/drop verdict
# with a reason code, which is exactly the relation a data team ships
# and audits). Composes two independently-oracle-checked signals —
# the Gopher-style quality gate and the star-edge near-dup canonical
# flag — by doc_id; the oracle nests both signal oracles as CTEs, so
# the composition is hash-checked end to end on top of already-proven
# parts. At 100 TB: each signal is its own bounded-shuffle pipeline
# and the final join is doc-keyed — signals compute once, decisions
# are a cheap last join, the same layering every curation DAG uses.
# ---------------------------------------------------------------------------

_DECISION_ORACLE = f"""
WITH g AS ({_GOPHER_ORACLE}),
c AS ({_CLUSTER_ORACLE})
SELECT g.doc_id,
       CAST(g.keep AS INT) AS quality_keep,
       CAST(c.is_canonical AS INT) AS dedup_keep,
       CAST(g.keep = 1 AND c.is_canonical AS INT) AS keep,
       CASE WHEN g.keep = 0 AND NOT c.is_canonical THEN 'quality+duplicate'
            WHEN g.keep = 0 THEN 'quality'
            WHEN NOT c.is_canonical THEN 'duplicate'
            ELSE 'keep' END AS decision
FROM g JOIN c ON g.doc_id = c.doc_id
"""


@register("curation_decision_matrix", oracle=_DECISION_ORACLE, tags=("L6", "L4", "L2"))
def curation_decision_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    flags = textops.gopher_quality_flags(F.col("text"))
    quality = d.select("doc_id", flags["keep"].alias("quality_keep"))
    dedup = _star_edge_cluster_membership(spark, sf_dir).select(
        "doc_id", F.col("is_canonical").cast("int").alias("dedup_keep")
    )
    q, dd = F.col("quality_keep"), F.col("dedup_keep")
    return quality.join(dedup, "doc_id").select(
        "doc_id",
        q.cast("int").alias("quality_keep"),
        dd.cast("int").alias("dedup_keep"),
        ((q == 1) & (dd == 1)).cast("int").alias("keep"),
        F.when((q == 0) & (dd == 0), "quality+duplicate")
        .when(q == 0, "quality")
        .when(dd == 0, "duplicate")
        .otherwise("keep")
        .alias("decision"),
    )


# ---------------------------------------------------------------------------
# L4/L6 unigram-LM surprisal scoring ([EXT] — the actual log-prob
# document score that CCNet/RedPajama-style curation uses: documents
# whose tokens are improbable under a corpus unigram LM are OCR noise,
# boilerplate, or the wrong language. A float ln() spelling would
# hinge on libm bit-parity across engines, so the surprisal is
# QUANTIZED TO WHOLE BITS with pure integer machinery:
# bits(t) = floor(log2(N div c(t))) = LENGTH(bin(N div c(t))) - 1,
# exact and identical in Spark and DuckDB — the fixed-point LM
# spelling promised in token_frequency_profile's design note. At
# 100 TB: the term-count table is vocabulary-sized (broadcast), the
# per-token join is token-keyed, and the doc reduce is one keyed agg —
# identical shape to the CCNet perplexity filter, minus libm.
# ---------------------------------------------------------------------------

_SURPRISAL_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, UNNEST({_SQL_TOKS}) AS term FROM documents
),
tc AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY term),
n AS (SELECT SUM(c) AS total FROM tc),
s AS (
  SELECT term, LENGTH(bin(total // c)) - 1 AS bits FROM tc, n
)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(s.bits) AS BIGINT) AS total_bits,
       CAST(MAX(s.bits) AS INT) AS max_bits,
       CAST(SUM(s.bits) AS DOUBLE) / COUNT(*) AS bits_per_token
FROM tok t JOIN s ON t.term = s.term
GROUP BY t.doc_id
"""


@register("unigram_lm_surprisal", oracle=_SURPRISAL_ORACLE, tags=("L4", "L6"))
def unigram_lm_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(textops.tokens(F.col("text"))).alias("term"))
    tc = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    total = tc.agg(F.sum("c").alias("total"))
    # bits = floor(log2(N div c)) via the binary-representation length
    # — integer-exact in both engines (N >= c >= 1 always)
    bits = (F.length(F.bin(F.expr("total div c"))) - F.lit(1)).alias("bits")
    s = tc.crossJoin(F.broadcast(total)).select("term", bits)
    # vocabulary-sized s: no broadcast hint (8 GB hard limit at web
    # scale) — AQE picks broadcast vs shuffle from runtime stats
    return (
        tok.join(s, "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("bits").cast("long").alias("total_bits"),
            F.max("bits").cast("int").alias("max_bits"),
            (F.sum("bits").cast("double") / F.count(F.lit(1))).alias(
                "bits_per_token"
            ),
        )
    )


# ---------------------------------------------------------------------------
# L4/L6 vocabulary building with dense token ids ([EXT] — the
# tokenizer-prep step every training pipeline runs: distinct terms get
# CONTIGUOUS integer ids ordered by (count DESC, term ASC). The naive
# spelling is a partition-less ROW_NUMBER — a single-reducer global
# sort, the classic scale killer — so this routes through
# with_global_row_number (operators/relational.py): range-partition on
# the total order, rank locally, lift by broadcast prefix offsets;
# bit-identical to single-reducer ROW_NUMBER given the deterministic
# tie-break. At 100 TB: the ranked frame is vocabulary-sized, every
# step parallel, the only serial piece is the ~num_partitions-row
# prefix sum.
# ---------------------------------------------------------------------------

_VOCAB_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, UNNEST({_SQL_TOKS}) AS term FROM documents
),
tc AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY term)
SELECT term,
       CAST(c AS BIGINT) AS n_occurrences,
       CAST(ROW_NUMBER() OVER (ORDER BY c DESC, term ASC) AS BIGINT)
         AS token_id
FROM tc
"""


@register("vocab_dense_ids", oracle=_VOCAB_ORACLE, tags=("L4", "L6", "W3", "O1"))
def vocab_dense_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import with_global_row_number

    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(textops.tokens(F.col("text"))).alias("term"))
    tc = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    ranked = with_global_row_number(
        tc, [F.desc("c"), F.asc("term")], "token_id"
    )
    return ranked.select(
        "term",
        F.col("c").cast("long").alias("n_occurrences"),
        F.col("token_id").cast("long").alias("token_id"),
    )


# ---------------------------------------------------------------------------
# L4/L6 corpus-adaptive stopword discovery ([EXT] — quality signals
# that ship with a FIXED stopword list break on new domains/languages;
# the robust spelling derives the list from the corpus itself: a term
# is a stopword iff it appears in >= 60% of documents. Document
# frequency (not corpus count — that is token_frequency_profile's
# axis) via a distinct doc×term agg, the threshold as a pure integer
# cross-multiplication (docfreq*100 >= 60*ndocs — no float ratio), and
# the per-doc stop-token share as ONE final double division. At
# 100 TB: docfreq is vocabulary-sized (broadcast), the distinct agg
# and doc reduce are the only shuffles.
# ---------------------------------------------------------------------------

_STOP_DF_PCT = 60

_STOPWORD_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, UNNEST({_SQL_TOKS}) AS term FROM documents
),
d AS (SELECT COUNT(*) AS ndocs FROM documents),
df AS (SELECT term, COUNT(DISTINCT doc_id) AS docfreq FROM tok GROUP BY term),
stop AS (
  SELECT term FROM df, d WHERE docfreq * 100 >= {_STOP_DF_PCT} * ndocs
)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(CASE WHEN s.term IS NOT NULL THEN 1 END) AS BIGINT)
         AS n_stop_tokens,
       CAST(COUNT(CASE WHEN s.term IS NOT NULL THEN 1 END) AS DOUBLE)
         / COUNT(*) AS stop_ratio
FROM tok t LEFT JOIN stop s ON t.term = s.term
GROUP BY t.doc_id
"""


@register("adaptive_stopword_ratio", oracle=_STOPWORD_ORACLE, tags=("L4", "L6"))
def adaptive_stopword_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(textops.tokens(F.col("text"))).alias("term"))
    ndocs = d.agg(F.count(F.lit(1)).alias("ndocs"))
    docfreq = tok.dropDuplicates(["doc_id", "term"]).groupBy("term").agg(
        F.count(F.lit(1)).alias("docfreq")
    )
    stop = (
        docfreq.crossJoin(F.broadcast(ndocs))
        .filter(F.col("docfreq") * 100 >= F.lit(_STOP_DF_PCT) * F.col("ndocs"))
        .select("term", F.lit(1).alias("__is_stop"))
    )
    hit = F.when(F.col("__is_stop").isNotNull(), 1)
    return (
        tok.join(F.broadcast(stop), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.count(hit).cast("long").alias("n_stop_tokens"),
            (F.count(hit).cast("double") / F.count(F.lit(1))).alias("stop_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# L4/L6 train/test token-distribution drift ([EXT] — the distribution-
# shift check run after every corpus split or refresh: if the held-out
# side's unigram distribution drifts from the train side, eval numbers
# stop meaning anything. The metric is TOTAL VARIATION DISTANCE, chosen
# over KL/PSI because it needs NO logarithm: with per-term counts
# c_tr/c_te and totals N_tr/N_te,
#   TVD = (1/2) * SUM |c_tr/N_tr - c_te/N_te|
#       = SUM |c_tr*N_te - c_te*N_tr| / (2*N_tr*N_te)
# — the numerator is an exact BIGINT sum over the term union (order-
# independent), and the single double division happens once at the
# end. The split is the same deterministic md5(doc_id) predicate as
# decontaminate_train_test. At 100 TB: one term-keyed agg producing a
# vocabulary-sized frame, totals as a broadcast 1-row aggregate, one
# final reduce; the BIGINT cross-products would need DECIMAL(38,0)
# widening past ~10^9-token sides (c*N < 2^63), a one-line cast.
# ---------------------------------------------------------------------------

_DRIFT_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, UNNEST({_SQL_TOKS}) AS term,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '4' AS is_test
  FROM documents
),
tc AS (
  SELECT term,
         SUM(CASE WHEN is_test THEN 0 ELSE 1 END) AS c_tr,
         SUM(CASE WHEN is_test THEN 1 ELSE 0 END) AS c_te
  FROM tok GROUP BY term
),
n AS (
  SELECT CAST(SUM(c_tr) AS BIGINT) AS n_tr,
         CAST(SUM(c_te) AS BIGINT) AS n_te
  FROM tc
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_terms_union,
       MIN(n.n_tr) AS n_train_tokens,
       MIN(n.n_te) AS n_test_tokens,
       CAST(SUM(ABS(c_tr * n.n_te - c_te * n.n_tr)) AS BIGINT)
         AS tvd_numerator,
       CAST(SUM(ABS(c_tr * n.n_te - c_te * n.n_tr)) AS DOUBLE)
         / (2.0 * CAST(MIN(n.n_tr) AS DOUBLE) * CAST(MIN(n.n_te) AS DOUBLE))
         AS tvd
FROM tc, n
"""


@register("token_distribution_drift", oracle=_DRIFT_ORACLE, tags=("L4", "L6"))
def token_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        F.explode(textops.tokens("text")).alias("term"),
        (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "4").alias(
            "is_test"
        ),
    )
    tc = tok.groupBy("term").agg(
        F.sum(F.when(F.col("is_test"), 0).otherwise(1)).alias("c_tr"),
        F.sum(F.when(F.col("is_test"), 1).otherwise(0)).alias("c_te"),
    )
    n = tc.agg(
        F.sum("c_tr").cast("long").alias("n_tr"),
        F.sum("c_te").cast("long").alias("n_te"),
    )
    joined = tc.crossJoin(F.broadcast(n))
    num = F.abs(F.col("c_tr") * F.col("n_te") - F.col("c_te") * F.col("n_tr"))
    return joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_terms_union"),
        F.min("n_tr").alias("n_train_tokens"),
        F.min("n_te").alias("n_test_tokens"),
        F.sum(num).cast("long").alias("tvd_numerator"),
        (
            F.sum(num).cast("double")
            / (
                F.lit(2.0)
                * F.min("n_tr").cast("double")
                * F.min("n_te").cast("double")
            )
        ).alias("tvd"),
    )


# ---------------------------------------------------------------------------
# L4 collocation strength via fixed-point PMI ([EXT] — phrase mining
# ranks co-occurring pairs by POINTWISE MUTUAL INFORMATION, not raw
# count, so ubiquitous-but-independent pairs sink. Doc-level PMI =
# log2(P(a,b) / (P(a)P(b))) = log2(n_ab * N / (df_a * df_b)); a float
# log would hinge on libm parity, so like unigram_lm_surprisal the
# score is QUANTIZED TO WHOLE BITS with integer machinery only:
# floor(log2(num/den)) = LENGTH(bin(num DIV den)) - 1 whenever
# num >= den (floor(log2(floor(x))) = floor(log2(x)) for x >= 1), and
# pairs with num < den (negative PMI) are excluded by definition of a
# collocation. Candidate pairs reuse the df-banded posting self-join
# discipline of token_cooccurrence_pairs (stopword-grade terms never
# enter the pair space). At 100 TB: same inverted-index shape; the
# banded df table is broadcast back for the scoring join.
# ---------------------------------------------------------------------------

_PMI_MIN_PAIR_DOCS = 5

_PMI_ORACLE = f"""
WITH post AS (
  SELECT DISTINCT doc_id, t.term
  FROM documents, UNNEST(list_distinct({_SQL_TOKS})) AS t(term)
),
n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM post),
df AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM post GROUP BY term
  HAVING COUNT(*) BETWEEN {_COOC_DF_MIN} AND {_COOC_DF_MAX}
),
banded AS (SELECT p.doc_id, p.term FROM post p JOIN df ON p.term = df.term),
pairs AS (
  SELECT a.term AS term_a, b.term AS term_b, CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM banded a JOIN banded b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_PMI_MIN_PAIR_DOCS}
)
SELECT p.term_a, p.term_b, p.n_ab,
       da.df AS df_a, db.df AS df_b,
       CAST(LENGTH(bin((p.n_ab * n.n_docs) // (da.df * db.df))) - 1 AS INT)
         AS pmi_bits
FROM pairs p
JOIN df da ON p.term_a = da.term
JOIN df db ON p.term_b = db.term
CROSS JOIN n
WHERE p.n_ab * n.n_docs >= da.df * db.df
"""


@register("pmi_collocation_bits", oracle=_PMI_ORACLE, tags=("L4",))
def pmi_collocation_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    post = d.select(
        "doc_id", F.explode(F.array_distinct(textops.tokens("text"))).alias("term")
    ).distinct()
    n = post.agg(F.countDistinct("doc_id").cast("long").alias("n_docs"))
    df_t = (
        post.groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .filter(F.col("df").between(_COOC_DF_MIN, _COOC_DF_MAX))
        .transform(tracked_persist)
    )
    banded = post.join(F.broadcast(df_t.select("term")), "term", "left_semi")
    a = banded.select("doc_id", F.col("term").alias("term_a"))
    b = banded.select("doc_id", F.col("term").alias("term_b"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= _PMI_MIN_PAIR_DOCS)
    )
    da = df_t.select(F.col("term").alias("term_a"), F.col("df").alias("df_a"))
    db = df_t.select(F.col("term").alias("term_b"), F.col("df").alias("df_b"))
    scored = (
        pairs.join(F.broadcast(da), "term_a")
        .join(F.broadcast(db), "term_b")
        .crossJoin(F.broadcast(n))
    )
    num = F.col("n_ab") * F.col("n_docs")
    den = F.col("df_a") * F.col("df_b")
    return scored.filter(num >= den).select(
        "term_a",
        "term_b",
        "n_ab",
        "df_a",
        "df_b",
        (F.length(F.bin(F.expr("(n_ab * n_docs) div (df_a * df_b)"))) - 1)
        .cast("int")
        .alias("pmi_bits"),
    )


# ---------------------------------------------------------------------------
# L4/L6 tokenizer prep: BPE first-iteration pair statistics ([EXT] —
# byte-pair-encoding training starts by counting ADJACENT SYMBOL PAIRS
# weighted by word frequency; the arg-max pair becomes the first
# merge. The classic scale trick is built in: pairs are enumerated
# over the DISTINCT word table (vocabulary-sized) and weighted by the
# word counts, never over the raw token stream — a word occurring 10^9
# times contributes its pair positions once, times an integer weight.
# Multiple occurrences of a pair inside one word all count (true BPE
# semantics: 'aaa' contributes 'aa' twice). Everything is an exact
# integer; the pair space is charset²-bounded, so the output frame
# is tiny at any corpus size. At 100 TB: one token-keyed agg to the
# vocab table, one narrow per-word expansion, one pair-keyed agg.
# ---------------------------------------------------------------------------

_BPE_ORACLE = f"""
WITH tok AS (
  SELECT UNNEST({_SQL_TOKS}) AS w FROM documents
),
wc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY w),
p AS (
  SELECT w, c,
         UNNEST(list_transform(range(1, LENGTH(w)),
                               i -> substr(w, CAST(i AS BIGINT), 2))) AS pair
  FROM wc WHERE LENGTH(w) >= 2
)
SELECT pair,
       CAST(SUM(c) AS BIGINT) AS n_occurrences,
       CAST(COUNT(DISTINCT w) AS BIGINT) AS n_distinct_words
FROM p GROUP BY pair
"""


@register("bpe_pair_counts", oracle=_BPE_ORACLE, tags=("L4", "L6"))
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    tok = d.select(F.explode(textops.tokens("text")).alias("w"))
    wc = tok.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c"))
    pairs = wc.filter(F.length("w") >= 2).select(
        "w",
        "c",
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
    )
    return pairs.groupBy("pair").agg(
        F.sum("c").cast("long").alias("n_occurrences"),
        F.countDistinct("w").cast("long").alias("n_distinct_words"),
    )


# ---------------------------------------------------------------------------
# L4/L2 boilerplate detection via repeated character n-grams ([EXT] —
# web corpora are full of templated chrome (cookie banners, nav bars,
# license footers) that token-level dedup misses because surrounding
# text differs; the standard signal is a CHARACTER n-gram that recurs
# far more often than natural text allows. Every 16-char gram (stride
# 1, so alignment can't hide a repeat) feeds one gram-keyed count; the
# threshold keeps grams occurring >= 20 times, reported with corpus
# and document frequencies — exactly the inverted-posting envelope of
# decontaminate_train_test, with partial aggregation absorbing the
# hot-gram skew map-side. At 100 TB the stride (and a cheap first-pass
# frequency sketch) is the volume knob; the semantics stay identical.
# ---------------------------------------------------------------------------

_BOILER_N, _BOILER_MIN = 16, 20

_BOILER_ORACLE = f"""
WITH g AS (
  SELECT doc_id,
         UNNEST(list_transform(range(1, LENGTH(text) - {_BOILER_N - 2}),
                               i -> substr(text, CAST(i AS BIGINT), {_BOILER_N})))
           AS gram
  FROM documents WHERE LENGTH(text) >= {_BOILER_N}
)
SELECT gram,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM g GROUP BY gram HAVING COUNT(*) >= {_BOILER_MIN}
"""


@register("boilerplate_ngram_detect", oracle=_BOILER_ORACLE, tags=("L4", "L2"))
def boilerplate_ngram_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    grams = d.filter(F.length("text") >= _BOILER_N).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, length(text) - {_BOILER_N - 1}),"
                f" i -> substring(text, i, {_BOILER_N}))"
            )
        ).alias("gram"),
    )
    return (
        grams.groupBy("gram")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
        )
        .filter(F.col("n_occurrences") >= _BOILER_MIN)
    )


# ---------------------------------------------------------------------------
# L2 IDF-weighted near-dup ([EXT] — unweighted Jaccard lets common
# boilerplate shingles vote as loudly as distinctive content; the
# standard upgrade weights each shingle by its inverse document
# frequency so two documents sharing RARE material score high. A float
# idf would break cross-engine hashing, so the weight is the integer
# idf BIT COUNT w(g) = LENGTH(bin(N div df(g))) — same fixed-point
# log2 machinery as unigram_lm_surprisal — and weighted Jaccard
# = W(A∩B) / W(A∪B) stays a rational of exact integers; the keep
# predicate is the cross-multiplication 100·w_inter >= 5·w_union
# (threshold 0.05, matching ngram_jaccard_neardup) and the reported
# score is one double division. Same inverted-index envelope as the
# unweighted query: df >= 100 hot-shingle cut BEFORE pairing, weights
# attached in the same g-keyed shuffle the self-join already pays.
# ---------------------------------------------------------------------------

_WJ_DF_MAX, _WJ_THR_PCT = 100, 5

_WJACCARD_ORACLE = f"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, LEN(toks) - 1),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS grams
  FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
  WHERE LEN(toks) >= 3
),
post0 AS (SELECT doc_id, UNNEST(grams) AS g FROM sh),
nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM post0),
dfw AS (
  SELECT g, CAST(LENGTH(bin(nd.n_docs // COUNT(*))) AS BIGINT) AS w
  FROM post0, nd GROUP BY g, nd.n_docs
  HAVING COUNT(*) < {_WJ_DF_MAX}
),
post AS (SELECT p.doc_id, p.g, d.w FROM post0 p JOIN dfw d ON p.g = d.g),
sz AS (SELECT doc_id, CAST(SUM(w) AS BIGINT) AS wn FROM post GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(SUM(a.w) AS BIGINT) AS w_inter
  FROM post a JOIN post b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b, i.w_inter,
       CAST(x.wn + y.wn - i.w_inter AS BIGINT) AS w_union,
       CAST(i.w_inter AS DOUBLE) / (x.wn + y.wn - i.w_inter) AS wjaccard
FROM inter i JOIN sz x ON i.id_a = x.doc_id JOIN sz y ON i.id_b = y.doc_id
WHERE 100 * i.w_inter >= {_WJ_THR_PCT} * (x.wn + y.wn - i.w_inter)
"""


@register("weighted_jaccard_neardup", oracle=_WJACCARD_ORACLE, tags=("L2", "L4"))
def weighted_jaccard_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    post0 = (
        d.select(
            "doc_id",
            F.explode(
                F.array_distinct(textops.shingles(textops.tokens("text"), 3))
            ).alias("g"),
        )
        .transform(tracked_persist)
    )
    nd = post0.agg(F.countDistinct("doc_id").cast("long").alias("n_docs"))
    dfw = (
        post0.groupBy("g")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") < _WJ_DF_MAX)
        .crossJoin(F.broadcast(nd))
        .select("g", F.length(F.bin(F.expr("n_docs div __df"))).cast("long").alias("w"))
    )
    post = post0.join(dfw, "g").transform(tracked_persist)
    sz = post.groupBy("doc_id").agg(F.sum("w").cast("long").alias("wn"))
    a, b = post.alias("a"), post.alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.sum("a.w").cast("long").alias("w_inter"))
    )
    x = sz.select(F.col("doc_id").alias("id_a"), F.col("wn").alias("wn_a"))
    y = sz.select(F.col("doc_id").alias("id_b"), F.col("wn").alias("wn_b"))
    joined = inter.join(x, "id_a").join(y, "id_b")
    union = F.col("wn_a") + F.col("wn_b") - F.col("w_inter")
    return (
        joined.filter(100 * F.col("w_inter") >= _WJ_THR_PCT * union)
        .select(
            "id_a",
            "id_b",
            "w_inter",
            union.cast("long").alias("w_union"),
            (F.col("w_inter").cast("double") / union).alias("wjaccard"),
        )
    )


# ---------------------------------------------------------------------------
# L6 × L2 leakage-safe train/test split ([EXT] — the correctness trap
# in every eval pipeline: a doc-level hash split puts near-duplicate
# documents on OPPOSITE sides, leaking test content into training.
# The fix is to assign the split at the near-dup CLUSTER grain: the
# md5 draw is taken on cluster_id, so every member of a cluster lands
# on the same side by construction. Built on the canonical star-edge
# cluster membership (same frame as neardup_clusters_scalable); the
# oracle nests that query's full DuckDB replay — signatures, banding,
# verify, recursive closure — then applies the same split predicate.
# The output also carries the doc-level naive split and a per-cluster
# naive_would_leak flag (cluster members straddling naive sides),
# making the prevented leakage itself an auditable, hash-checked
# column. At 100 TB: clustering cost is the star-edge path's; the
# split adds one md5 per row and one cluster-keyed window.
# ---------------------------------------------------------------------------

_SPLIT_SAFE_ORACLE = f"""
WITH m AS ({_scalable_clusters_oracle()})
SELECT doc_id, cluster_id, cluster_size,
       CASE WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 1) < '4'
            THEN 'test' ELSE 'train' END AS split,
       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '4'
            THEN 'test' ELSE 'train' END AS naive_split,
       MIN(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '4'
                THEN 'test' ELSE 'train' END)
         OVER (PARTITION BY cluster_id)
       <> MAX(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '4'
                   THEN 'test' ELSE 'train' END)
         OVER (PARTITION BY cluster_id) AS naive_would_leak
FROM m
"""


@register("leakage_safe_split", oracle=_SPLIT_SAFE_ORACLE, tags=("L6", "L2"))
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    m = _star_edge_cluster_membership(spark, sf_dir)
    naive = F.when(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "4", "test"
    ).otherwise("train")
    wclu = Window.partitionBy("cluster_id")
    return m.select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        F.when(
            F.substring(F.md5(F.col("cluster_id").cast("string")), 1, 1) < "4",
            "test",
        )
        .otherwise("train")
        .alias("split"),
        naive.alias("naive_split"),
        (F.min(naive).over(wclu) != F.max(naive).over(wclu)).alias(
            "naive_would_leak"
        ),
    )


# ---------------------------------------------------------------------------
# L2 weighted-Jaccard, BANDED scale path ([EXT] — the scale companion
# to weighted_jaccard_neardup above). The inverted-index envelope is
# exact but its candidate set is |postings|² per shingle; at corpus
# scale the standard fix is MinHash-LSH banding: candidates come from
# md5 band-bucket collisions (O(n·bands) emission, the same
# _md5_banded stage the minhash family already proves), and only
# those candidates pay the weighted verify. Verification is the SAME
# integer-idf weighted Jaccard as the exact query (bit-count weights,
# cross-multiplied threshold, one final double division), so the
# DuckDB oracle replays the ENTIRE pipeline — signatures, band keys,
# candidate pairs, idf weights, verify — hash-exact. Semantics:
# "near-dup pairs the LSH recalls", deterministic in both engines;
# the exact twin remains the recall reference.
# At 100 TB: signature math is per-row, banding emission O(n·bands),
# the bucket self-join is bounded by band-bucket density, and the
# verify joins are candidate-keyed — no |postings|² stage anywhere.
# ---------------------------------------------------------------------------


def _wjaccard_banded_oracle() -> str:
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
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
post0 AS (SELECT doc_id, UNNEST(grams) AS g FROM sh),
nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM post0),
dfw AS (
  SELECT g, CAST(LENGTH(bin(nd.n_docs // COUNT(*))) AS BIGINT) AS w
  FROM post0, nd GROUP BY g, nd.n_docs
  HAVING COUNT(*) < {_WJ_DF_MAX}
),
post AS (SELECT p.doc_id, p.g, d.w FROM post0 p JOIN dfw d ON p.g = d.g),
sz AS (SELECT doc_id, CAST(SUM(w) AS BIGINT) AS wn FROM post GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, CAST(SUM(pa.w) AS BIGINT) AS w_inter
  FROM cand c
  JOIN post pa ON pa.doc_id = c.id_a
  JOIN post pb ON pb.doc_id = c.id_b AND pb.g = pa.g
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b, i.w_inter,
       CAST(x.wn + y.wn - i.w_inter AS BIGINT) AS w_union,
       CAST(i.w_inter AS DOUBLE) / (x.wn + y.wn - i.w_inter) AS wjaccard
FROM inter i JOIN sz x ON i.id_a = x.doc_id JOIN sz y ON i.id_b = y.doc_id
WHERE 100 * i.w_inter >= {_WJ_THR_PCT} * (x.wn + y.wn - i.w_inter)
"""


@register(
    "weighted_jaccard_banded_neardup", oracle=_wjaccard_banded_oracle(), tags=("L2", "L4")
)
def weighted_jaccard_banded_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import _band_candidates, _md5_banded, _shingle_base

    base = _shingle_base(
        table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        3,
        n_part=spark.sparkContext.defaultParallelism,
    )
    # persisted (r14): both self-join sides read the banded postings —
    # one md5 signature pass, not two
    banded = _md5_banded(base, _MH_HASHES, _MH_BANDS).transform(tracked_persist)
    cand = _band_candidates(banded).select("id_a", "id_b")
    post0 = base.select("__id", F.explode("__sh").alias("g"))
    nd = post0.agg(F.countDistinct("__id").cast("long").alias("n_docs"))
    dfw = (
        post0.groupBy("g")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") < _WJ_DF_MAX)
        .crossJoin(F.broadcast(nd))
        .select("g", F.length(F.bin(F.expr("n_docs div __df"))).cast("long").alias("w"))
    )
    post = post0.join(dfw, "g").transform(tracked_persist)
    sz = post.groupBy("__id").agg(F.sum("w").cast("long").alias("wn"))
    inter = (
        cand.join(
            post.select(F.col("__id").alias("id_a"), "g", "w"), "id_a"
        )
        .join(post.select(F.col("__id").alias("id_b"), "g"), ["id_b", "g"])
        .groupBy("id_a", "id_b")
        .agg(F.sum("w").cast("long").alias("w_inter"))
    )
    x = sz.select(F.col("__id").alias("id_a"), F.col("wn").alias("wn_a"))
    y = sz.select(F.col("__id").alias("id_b"), F.col("wn").alias("wn_b"))
    joined = inter.join(x, "id_a").join(y, "id_b")
    union = F.col("wn_a") + F.col("wn_b") - F.col("w_inter")
    return joined.filter(100 * F.col("w_inter") >= _WJ_THR_PCT * union).select(
        "id_a",
        "id_b",
        "w_inter",
        union.cast("long").alias("w_union"),
        (F.col("w_inter").cast("double") / union).alias("wjaccard"),
    )


# ---------------------------------------------------------------------------
# L4 frequent terms via Misra-Gries + exact verify ([EXT] — the
# sketch-then-verify scale pattern: at 100 TB a full token groupBy is
# a vocabulary-sized shuffle, but the heavy hitters (count > n/k) fit
# in O(k) memory per partition. Stage 1 runs the Misra-Gries counter
# fold (256 counters) inside one mapInPandas pass — per-partition
# state, value_counts-vectorized batches, decrement-by-minimum
# maintaining the MG invariant, so every term with LOCAL count >
# local_n/257 survives its partition's summary; by averaging, every
# GLOBAL heavy hitter (count·200 > n, and 200 < 257) is in the
# candidate union regardless of partitioning. Stage 2 exactly
# recounts ONLY the candidates (semi join + keyed agg — a k-bounded
# shuffle, not vocabulary-sized) and applies the exact
# cross-multiplied threshold. The sketch choses candidates; the
# EXACT filter decides — so the output is deterministic and
# partitioning-independent, which is what lets a sketch-stage query
# carry a full value-hash oracle (the plain HAVING spelling below).
# ---------------------------------------------------------------------------

_HH_K = 200  # heavy-hitter threshold: count * _HH_K > total tokens
_HH_COUNTERS = 256  # MG counters per partition; must be >= _HH_K

_FREQUENT_TERMS_ORACLE = f"""
WITH tok AS (SELECT UNNEST({_SQL_TOKS}) AS term FROM documents),
tc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS n_occurrences FROM tok GROUP BY term),
n AS (SELECT CAST(SUM(n_occurrences) AS BIGINT) AS total FROM tc)
SELECT term, n_occurrences, n.total AS total_tokens,
       CAST(n_occurrences AS DOUBLE) / n.total AS share
FROM tc, n WHERE n_occurrences * {_HH_K} > n.total
"""


@register("frequent_terms_exact", oracle=_FREQUENT_TERMS_ORACLE, tags=("L4", "G10"))
def frequent_terms_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    tok = d.select(F.explode(textops.tokens(F.col("text"))).alias("term")).transform(
        tracked_persist  # consumed by the MG pass AND the exact recount
    )
    n_counters = _HH_COUNTERS

    def mg(batches):
        # per-PARTITION Misra-Gries state (the generator spans every
        # Arrow batch of one partition); self-contained for pickling
        import pandas as pd

        counters: dict = {}
        for pdf in batches:
            for t, c in pdf["term"].value_counts().items():
                counters[t] = counters.get(t, 0) + int(c)
            while len(counters) > n_counters:
                m = min(counters.values())
                counters = {t: c - m for t, c in counters.items() if c > m}
        yield pd.DataFrame({"term": list(counters.keys())})

    cand = tok.mapInPandas(mg, "term string").distinct()
    counted = (
        tok.join(cand, "term", "left_semi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
    )
    total = tok.agg(F.count(F.lit(1)).cast("long").alias("total"))
    return (
        counted.crossJoin(F.broadcast(total))
        .filter(F.col("n_occurrences") * _HH_K > F.col("total"))
        .select(
            "term",
            "n_occurrences",
            F.col("total").alias("total_tokens"),
            (F.col("n_occurrences").cast("double") / F.col("total")).alias("share"),
        )
    )


# ---------------------------------------------------------------------------
# L4 × L6 importance-resampling weights ([EXT] — the DSIR-style data
# selection signal (Xie et al. 2023, "Data Selection for Language
# Models via Importance Resampling", public): score each document by
# how much more likely its tokens are under a TARGET distribution
# (here: the lang='en' slice) than under the raw corpus distribution.
# The log-ratio Σ log2(p_tgt/p_raw) is carried in WHOLE BITS with the
# same libm-free machinery as unigram_lm_surprisal — per-term
# surprisal floor(log2((N+V)/(c+1))) under each distribution (add-one
# smoothing keeps unseen-in-target terms finite), importance = raw
# bits − target bits. Whole-bit quantization flattens sub-bit ratios
# (documented trade: on this synthetic corpus the per-language
# separation is small but correctly ordered, en on top) — the point
# is the SHAPE: two keyed count tables + one broadcast stats row +
# one doc-keyed agg, no floats until the final per-token division.
# ---------------------------------------------------------------------------

_IS_TARGET_LANG = "en"

_IMPORTANCE_ORACLE = f"""
WITH tok AS (SELECT doc_id, lang, UNNEST({_SQL_TOKS}) AS term FROM documents),
ca AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS c_all FROM tok GROUP BY term),
ct AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS c_tgt FROM tok
       WHERE lang = '{_IS_TARGET_LANG}' GROUP BY term),
st AS (
  SELECT CAST(SUM(c_all) AS BIGINT) AS n_all,
         CAST(COUNT(*) AS BIGINT) AS v,
         (SELECT CAST(COALESCE(SUM(c_tgt), 0) AS BIGINT) FROM ct) AS n_tgt
  FROM ca
),
tb AS (
  SELECT ca.term,
         CAST(LENGTH(bin((st.n_tgt + st.v) // (COALESCE(ct.c_tgt, 0) + 1))) - 1
              AS BIGINT) AS bits_t,
         CAST(LENGTH(bin((st.n_all + st.v) // (ca.c_all + 1))) - 1
              AS BIGINT) AS bits_a
  FROM ca LEFT JOIN ct ON ca.term = ct.term, st
)
SELECT t.doc_id,
       MIN(t.lang) AS lang,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(tb.bits_t) AS BIGINT) AS target_bits,
       CAST(SUM(tb.bits_a) AS BIGINT) AS corpus_bits,
       CAST(SUM(tb.bits_a - tb.bits_t) AS BIGINT) AS importance_bits,
       CAST(SUM(tb.bits_a - tb.bits_t) AS DOUBLE) / COUNT(*)
         AS importance_per_token
FROM tok t JOIN tb ON t.term = tb.term
GROUP BY t.doc_id
"""


@register("importance_sampling_bits", oracle=_IMPORTANCE_ORACLE, tags=("L4", "L6"))
def importance_sampling_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "lang", F.explode(textops.tokens(F.col("text"))).alias("term")
    ).transform(tracked_persist)  # term counts (x2) + the scoring join
    ca = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c_all"))
    ct = (
        tok.filter(F.col("lang") == _IS_TARGET_LANG)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c_tgt"))
    )
    st = (
        ca.agg(
            F.sum("c_all").cast("long").alias("n_all"),
            F.count(F.lit(1)).cast("long").alias("v"),
        )
        .crossJoin(
            F.broadcast(
                ct.agg(
                    F.coalesce(F.sum("c_tgt"), F.lit(0)).cast("long").alias("n_tgt")
                )
            )
        )
    )
    tb = (
        ca.join(ct, "term", "left")
        .crossJoin(F.broadcast(st))
        .select(
            "term",
            (
                F.length(
                    F.bin(
                        F.expr("(n_tgt + v) div (coalesce(c_tgt, 0) + 1)")
                    )
                )
                - 1
            )
            .cast("long")
            .alias("bits_t"),
            (F.length(F.bin(F.expr("(n_all + v) div (c_all + 1)"))) - 1)
            .cast("long")
            .alias("bits_a"),
        )
    )
    # vocabulary-sized tb: no broadcast hint (AQE decides)
    return (
        tok.join(tb, "term")
        .groupBy("doc_id")
        .agg(
            F.min("lang").alias("lang"),
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("bits_t").cast("long").alias("target_bits"),
            F.sum("bits_a").cast("long").alias("corpus_bits"),
            F.sum(F.col("bits_a") - F.col("bits_t")).cast("long").alias(
                "importance_bits"
            ),
            (
                F.sum(F.col("bits_a") - F.col("bits_t")).cast("double")
                / F.count(F.lit(1))
            ).alias("importance_per_token"),
        )
    )


# ---------------------------------------------------------------------------
# L4 G-test (Dunning log-likelihood-ratio) collocations ([EXT] — the
# significance-test companion to pmi_collocation_bits: PMI over-ranks
# rare pairs (two hapaxes co-occurring once score maximal PMI); the
# Dunning 1993 G² statistic weights each 2x2 contingency cell by its
# COUNT, so evidence mass matters and rare flukes sink. Same df-banded
# pair space as PMI.
#
#   G²/2 = Σ_ij k_ij · ln( k_ij·N / (R_i·C_j) )
#   k11 = n_ab          k12 = df_a − n_ab
#   k21 = df_b − n_ab   k22 = N − df_a − df_b + n_ab
#   R1 = df_a, R2 = N − df_a;  C1 = df_b, C2 = N − df_b
#
# Like every log in this module the score is quantized to WHOLE BITS
# with integer machinery only (no libm parity risk): each cell's
# log2-ratio is LENGTH(bin(num div den)) − 1 when num >= den, and the
# symmetric negative magnitude −(LENGTH(bin(den div num)) − 1)
# otherwise; a zero cell contributes 0 (the k·log k limit). The cell
# products k·N and R·C cross int64 near web-scale doc counts, so they
# ride decimal(38,0)/HUGEINT with the QUOTIENT (bounded by N) back in
# int64 — exactly the temperature_scaled_mix discipline. llr_bits is
# then an exact integer in both engines, replayed cell by cell.
# At 100 TB: identical shape to PMI — inverted-index posting self-join
# bounded by the df band, broadcast df/N scoring joins.
# ---------------------------------------------------------------------------


def _gtest_sql_term(k: str, r: str, c: str) -> str:
    num = f"(CAST({k} AS HUGEINT) * nn)"
    den = f"(CAST({r} AS HUGEINT) * ({c}))"
    return f"""CASE WHEN {k} = 0 THEN 0
      WHEN {num} >= {den}
      THEN ({k}) * (LENGTH(bin(CAST({num} // {den} AS BIGINT))) - 1)
      ELSE -({k}) * (LENGTH(bin(CAST({den} // {num} AS BIGINT))) - 1) END"""


_GTEST_ORACLE = f"""
WITH post AS (
  SELECT DISTINCT doc_id, t.term
  FROM documents, UNNEST(list_distinct({_SQL_TOKS})) AS t(term)
),
n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM post),
df AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM post GROUP BY term
  HAVING COUNT(*) BETWEEN {_COOC_DF_MIN} AND {_COOC_DF_MAX}
),
banded AS (SELECT p.doc_id, p.term FROM post p JOIN df ON p.term = df.term),
pairs AS (
  SELECT a.term AS term_a, b.term AS term_b, CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM banded a JOIN banded b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_PMI_MIN_PAIR_DOCS}
),
cells AS (
  SELECT p.term_a, p.term_b, p.n_ab, da.df AS df_a, db.df AS df_b,
         n.n_docs AS nn
  FROM pairs p
  JOIN df da ON p.term_a = da.term
  JOIN df db ON p.term_b = db.term
  CROSS JOIN n
)
SELECT term_a, term_b, n_ab, df_a, df_b,
       CAST({_gtest_sql_term("n_ab", "df_a", "df_b")}
          + {_gtest_sql_term("(df_a - n_ab)", "df_a", "(nn - df_b)")}
          + {_gtest_sql_term("(df_b - n_ab)", "(nn - df_a)", "df_b")}
          + {_gtest_sql_term(
              "(nn - df_a - df_b + n_ab)", "(nn - df_a)", "(nn - df_b)"
          )} AS BIGINT) AS llr_bits,
       CAST(n_ab AS HUGEINT) * nn >= CAST(df_a AS HUGEINT) * df_b
         AS positive
FROM cells
"""


@register("gtest_collocation_bits", oracle=_GTEST_ORACLE, tags=("L4",))
def gtest_collocation_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    post = d.select(
        "doc_id", F.explode(F.array_distinct(textops.tokens("text"))).alias("term")
    ).distinct()
    n = post.agg(F.countDistinct("doc_id").cast("long").alias("nn"))
    df_t = (
        post.groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .filter(F.col("df").between(_COOC_DF_MIN, _COOC_DF_MAX))
        .transform(tracked_persist)
    )
    banded = post.join(F.broadcast(df_t.select("term")), "term", "left_semi")
    a = banded.select("doc_id", F.col("term").alias("term_a"))
    b = banded.select("doc_id", F.col("term").alias("term_b"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= _PMI_MIN_PAIR_DOCS)
    )
    da = df_t.select(F.col("term").alias("term_a"), F.col("df").alias("df_a"))
    db = df_t.select(F.col("term").alias("term_b"), F.col("df").alias("df_b"))
    cells = (
        pairs.join(F.broadcast(da), "term_a")
        .join(F.broadcast(db), "term_b")
        .crossJoin(F.broadcast(n))
    )

    def dec(c: Column) -> Column:
        return c.cast("decimal(38,0)")

    def term(k: Column, r: Column, c: Column) -> Column:
        num = dec(k) * dec(F.col("nn"))
        den = dec(r) * dec(c)
        pos = k * (F.length(F.bin(F.call_function("div", num, den))) - 1)
        neg = -k * (F.length(F.bin(F.call_function("div", den, num))) - 1)
        return F.when(k == 0, F.lit(0).cast("long")).otherwise(
            F.when(num >= den, pos).otherwise(neg)
        )

    k11 = F.col("n_ab")
    k12 = F.col("df_a") - F.col("n_ab")
    k21 = F.col("df_b") - F.col("n_ab")
    k22 = F.col("nn") - F.col("df_a") - F.col("df_b") + F.col("n_ab")
    r2 = F.col("nn") - F.col("df_a")
    c2 = F.col("nn") - F.col("df_b")
    llr = (
        term(k11, F.col("df_a"), F.col("df_b"))
        + term(k12, F.col("df_a"), c2)
        + term(k21, r2, F.col("df_b"))
        + term(k22, r2, c2)
    )
    return cells.select(
        "term_a",
        "term_b",
        "n_ab",
        "df_a",
        "df_b",
        llr.cast("bigint").alias("llr_bits"),
        (dec(k11) * dec(F.col("nn")) >= dec(F.col("df_a")) * dec(F.col("df_b"))).alias(
            "positive"
        ),
    )


# ---------------------------------------------------------------------------
# L4/L6 BPE second iteration ([EXT] — bpe_pair_counts is iteration 1
# of byte-pair-encoding training; this composes the LOOP: take the
# arg-max pair (count DESC, pair ASC — a total order, so both engines
# pick the same merge), APPLY the merge to every word's symbol
# sequence, and recount adjacent-symbol pairs. Merge application uses
# the space-separated symbol-string representation: REPLACE(s, 'x y',
# 'xy') replaces non-overlapping occurrences left to right in both
# engines — exactly greedy BPE ('a a a' + merge 'aa' -> 'aa a').
# Pairs after the merge are spaced ('ab c'), so multi-char symbols
# never collide with char pairs. The same vocabulary-table trick as
# iteration 1 keeps everything vocab-sized: pair enumeration runs over
# DISTINCT words weighted by count, never the raw token stream; the
# arg-max is a broadcast 1-row frame; at 100 TB each further merge
# iteration is one more narrow map + keyed agg over the vocab table.
# ---------------------------------------------------------------------------

_BPE2_ORACLE = f"""
WITH tok AS (SELECT UNNEST({_SQL_TOKS}) AS w FROM documents),
wc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY w),
p1 AS (
  SELECT pair, SUM(c) AS n FROM (
    SELECT w, c,
           UNNEST(list_transform(range(1, LENGTH(w)),
                                 i -> substr(w, CAST(i AS BIGINT), 2))) AS pair
    FROM wc WHERE LENGTH(w) >= 2
  ) GROUP BY pair
),
best AS (SELECT pair FROM p1 ORDER BY n DESC, pair ASC LIMIT 1),
seq AS (
  SELECT c,
         array_to_string(list_transform(range(1, LENGTH(w) + 1),
                                        i -> substr(w, CAST(i AS BIGINT), 1)),
                         ' ') AS s
  FROM wc
),
merged AS (
  SELECT seq.c, b.pair AS merged_pair,
         string_split(
           REPLACE(seq.s,
                   substr(b.pair, 1, 1) || ' ' || substr(b.pair, 2, 1),
                   b.pair),
           ' ') AS sy
  FROM seq, best b
),
p2 AS (
  SELECT merged_pair, pr AS pair, SUM(c) AS n FROM (
    SELECT merged_pair, c,
           UNNEST(list_transform(range(1, LEN(sy)),
                                 i -> sy[i] || ' ' || sy[i + 1])) AS pr
    FROM merged WHERE LEN(sy) >= 2
  ) GROUP BY 1, 2
)
SELECT merged_pair, pair, CAST(n AS BIGINT) AS n_occurrences
FROM p2 ORDER BY n DESC, pair ASC LIMIT 10
"""


@register("bpe_second_merge", oracle=_BPE2_ORACLE, tags=("L4", "L6"))
def bpe_second_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = d.select(F.explode(textops.tokens("text")).alias("w"))
    # wc feeds both the iteration-1 recount and the merge application
    wc = tracked_persist(
        toks.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    p1 = (
        wc.filter(F.length("w") >= 2)
        .select(
            "c",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("w") - 1),
                    lambda i: F.col("w").substr(i, F.lit(2)),
                )
            ).alias("pair"),
        )
        .groupBy("pair")
        .agg(F.sum("c").alias("n"))
    )
    best = p1.orderBy(F.col("n").desc(), F.col("pair").asc()).limit(1).select("pair")
    seq = wc.select(
        "c",
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.length("w")),
                lambda i: F.col("w").substr(i, F.lit(1)),
            ),
            " ",
        ).alias("s"),
    )
    spaced = F.concat(
        F.col("pair").substr(1, 1), F.lit(" "), F.col("pair").substr(2, 1)
    )
    merged = seq.crossJoin(F.broadcast(best)).select(
        "c",
        F.col("pair").alias("merged_pair"),
        F.split(F.replace(F.col("s"), spaced, F.col("pair")), " ").alias("sy"),
    )
    p2 = (
        merged.filter(F.size("sy") >= 2)
        .select(
            "merged_pair",
            "c",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("sy") - 1),
                    lambda i: F.concat(
                        F.get(F.col("sy"), i - 1),
                        F.lit(" "),
                        F.get(F.col("sy"), i),
                    ),
                )
            ).alias("pair"),
        )
        .groupBy("merged_pair", "pair")
        .agg(F.sum("c").alias("n"))
    )
    return (
        p2.orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(10)
        .select("merged_pair", "pair", F.col("n").cast("bigint").alias("n_occurrences"))
    )


# ---------------------------------------------------------------------------
# L4/L6 BPE encode — merge APPLICATION ([EXT] — round-13: the
# tokenizer family's missing half. bpe_pair_counts / bpe_second_merge
# cover merge LEARNING; this op runs the encode side a serving
# tokenizer executes per request: a PINNED merge table (literals in
# both engines, like the LSH plane literals) applied greedily
# left-to-right in priority order over every word — char-split with
# space separators, one plain (non-regex) replace per merge, split
# back into subwords. Replace-all left-to-right is deterministic and
# identical in Spark and DuckDB, so the segmentation — and the
# emitted per-subword vocabulary statistics — hash-match exactly.
# Later merges consume earlier outputs ('t h'→'th', then
# 'th e'→'the'), exercising the chaining a real merge table has.
# Scale: per-row expressions + one subword-keyed agg; no joins.
# ---------------------------------------------------------------------------

# priority-ordered, chaining through th→the and an→and
_BPE_APPLY_MERGES = (
    ("t", "h"), ("th", "e"), ("a", "n"), ("an", "d"),
    ("i", "n"), ("e", "r"), ("r", "e"), ("o", "n"),
)


def _bpe_apply_sql() -> str:
    s = "TRIM(regexp_replace(w, '(.)', '\\1 ', 'g'))"
    for a, b in _BPE_APPLY_MERGES:
        s = f"replace({s}, '{a} {b}', '{a}{b}')"
    return f"""
WITH tok AS (
  SELECT UNNEST({_SQL_TOKS}) AS w FROM documents
),
enc AS (
  SELECT w, {s} AS s FROM tok
),
sub AS (
  SELECT w, UNNEST(string_split(s, ' ')) AS subword FROM enc
)
SELECT subword,
       CAST(LENGTH(subword) AS INT) AS subword_len,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(COUNT(DISTINCT w) AS BIGINT) AS n_distinct_words
FROM sub GROUP BY subword
"""


@register("bpe_apply_merges", oracle=_bpe_apply_sql(), tags=("L4", "L6", "F11"))
def bpe_apply_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    tok = d.select(F.explode(textops.tokens("text")).alias("w"))
    s = F.trim(F.regexp_replace(F.col("w"), "(.)", "$1 "))
    for a, b in _BPE_APPLY_MERGES:
        s = F.replace(s, F.lit(f"{a} {b}"), F.lit(f"{a}{b}"))
    sub = tok.select("w", F.explode(F.split(s, " ")).alias("subword"))
    return (
        sub.groupBy("subword")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.countDistinct("w").cast("bigint").alias("n_distinct_words"),
        )
        .select(
            "subword",
            F.length("subword").cast("int").alias("subword_len"),
            "n_occurrences",
            "n_distinct_words",
        )
    )


# ---------------------------------------------------------------------------
# L4/F11 PII redaction REWRITE ([EXT] — pii_pattern_counts is the cheap
# routing pass; this is the expensive stage it routes to: emit the
# scrubbed text itself). The corpus contains no surface PII, so the
# query first INJECTS deterministic synthetic PII (the same
# doc_id-keyed mutation trick as the lineage queries) — email on
# doc_id%4, URL on %6, long digit run on %5 — then redacts with the
# shared engine-portable patterns (operators/textops.py:EMAIL_RE/
# URL_RE/DIGIT_RUN_RE, parity already proven by pii_pattern_counts) in
# a fixed EMAIL→URL→NUM order. Hash equality on md5(clean) proves the
# REWRITE (Java regex replace-all vs RE2 'g') is byte-identical across
# engines — a strictly stronger claim than matching counts. All string
# expressions, JVM-side, embarrassingly parallel: one map stage at any
# scale.
# ---------------------------------------------------------------------------

def _pii_raw_sql() -> str:
    """SQL twin of _pii_raw_col(): the injected raw text."""
    sid = "CAST(doc_id AS VARCHAR)"
    return (
        "text"
        f" || CASE WHEN doc_id % 4 = 0 THEN ' contact user' || {sid}"
        " || '@example.com now' ELSE '' END"
        f" || CASE WHEN doc_id % 6 = 0 THEN ' see https://ex.example/p/' || {sid}"
        " || '?s=1' ELSE '' END"
        f" || CASE WHEN doc_id % 5 = 0 THEN ' ref 00' || {sid}"
        " || '4242 done' ELSE '' END"
    )


def _pii_raw_col() -> Column:
    """The deterministic synthetic-PII injection (doc_id-keyed): email
    on doc_id%4, URL on %6, long digit run on %5 — shared by the
    rewrite and span-audit queries and their tests."""
    sid = F.col("doc_id").cast("string")
    return F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit(" contact user"), sid, F.lit("@example.com now")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 6 == 0,
            F.concat(F.lit(" see https://ex.example/p/"), sid, F.lit("?s=1")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit(" ref 00"), sid, F.lit("4242 done")),
        ).otherwise(F.lit("")),
    )


def _pii_redact_sql() -> str:
    raw = _pii_raw_sql()
    clean = (
        "regexp_replace(regexp_replace(regexp_replace(raw,"
        f" '{textops.EMAIL_RE}', '[EMAIL]', 'g'),"
        f" '{textops.URL_RE}', '[URL]', 'g'),"
        f" '{textops.DIGIT_RUN_RE}', '[NUM]', 'g')"
    )
    return f"""
WITH t AS (SELECT doc_id, {raw} AS raw FROM documents),
r AS (SELECT doc_id, raw, {clean} AS clean FROM t)
SELECT doc_id,
       CAST(LEN(regexp_extract_all(raw, '{textops.EMAIL_RE}')) AS INT) AS n_emails,
       CAST(LEN(regexp_extract_all(raw, '{textops.URL_RE}')) AS INT) AS n_urls,
       CAST(LEN(regexp_extract_all(raw, '{textops.DIGIT_RUN_RE}')) AS INT)
         AS n_digit_runs,
       md5(clean) AS clean_md5,
       CAST(LENGTH(raw) - LENGTH(clean) AS BIGINT) AS char_delta
FROM r
"""


@register("pii_redact_rewrite", oracle=_pii_redact_sql(), tags=("L4", "F11", "P5"))
def pii_redact_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    raw = _pii_raw_col()
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("raw"), textops.EMAIL_RE, "[EMAIL]"),
            textops.URL_RE,
            "[URL]",
        ),
        textops.DIGIT_RUN_RE,
        "[NUM]",
    )
    counts = textops.pii_pattern_counts(F.col("raw"))
    return (
        d.select("doc_id", raw.alias("raw"))
        .select(
            "doc_id",
            counts["n_emails"].cast("int").alias("n_emails"),
            counts["n_urls"].cast("int").alias("n_urls"),
            counts["n_digit_runs"].cast("int").alias("n_digit_runs"),
            F.md5(clean).alias("clean_md5"),
            (F.length("raw") - F.length(clean)).cast("bigint").alias("char_delta"),
        )
    )


# ---------------------------------------------------------------------------
# L4/F11/A2 span-grain redaction audit ([EXT] — the reviewable log a
# compliance pipeline wants NEXT TO the rewrite: one row per match
# with its exact 1-based character offset and length, per pattern
# kind). Offsets are reconstructed cross-engine without any position
# API: split(raw, pattern) yields the BETWEEN-match segments (trailing
# empties kept by both engines — parity probed in tests), so the n-th
# match starts at sum(len(segments 1..n)) + sum(len(matches 1..n-1))
# + 1 — pure higher-order array expressions (transform/slice/
# aggregate), JVM-side, one map stage at any scale. Spans are
# per-kind on the RAW text (kinds may overlap; the rewrite's
# EMAIL→URL→NUM order resolves precedence at redaction time).
# ---------------------------------------------------------------------------

_PII_KINDS = (
    ("email", textops.EMAIL_RE),
    ("url", textops.URL_RE),
    ("num", textops.DIGIT_RUN_RE),
)


def _pii_spans_sql() -> str:
    parts = []
    for kind, rx in _PII_KINDS:
        parts.append(f"""
SELECT doc_id, '{kind}' AS kind, occ,
       CAST(
         COALESCE(list_sum(list_transform(segs[1:occ], s -> LENGTH(s))), 0)
         + COALESCE(list_sum(list_transform(ms[1:occ-1], s -> LENGTH(s))), 0)
         + 1 AS BIGINT) AS span_start,
       CAST(LENGTH(ms[occ]) AS BIGINT) AS span_len
FROM (
  SELECT doc_id, segs, ms, CAST(u.i AS INT) AS occ
  FROM (
    SELECT doc_id, string_split_regex(raw, '{rx}') AS segs,
           regexp_extract_all(raw, '{rx}') AS ms
    FROM (SELECT doc_id, {_pii_raw_sql()} AS raw FROM documents)
  ), UNNEST(range(1, LEN(ms) + 1)) AS u(i)
)""")
    return " UNION ALL ".join(parts)


@register("pii_redaction_spans", oracle=_pii_spans_sql(), tags=("L4", "F11", "A2"))
def pii_redaction_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select(
        "doc_id", _pii_raw_col().alias("raw")
    )
    parts = []
    for kind, rx in _PII_KINDS:
        sl = F.transform(F.split(F.col("raw"), rx), lambda s: F.length(s))
        ml = F.transform(
            F.regexp_extract_all(F.col("raw"), F.lit(rx), 0), lambda s: F.length(s)
        )
        ex = d.select("doc_id", sl.alias("sl"), ml.alias("ml")).select(
            "doc_id", "sl", "ml", F.posexplode("ml").alias("occ0", "mlen")
        )
        start = (
            F.aggregate(
                F.slice("sl", F.lit(1), F.col("occ0") + 1),
                F.lit(0).cast("bigint"),
                lambda a, x: a + x,
            )
            + F.aggregate(
                F.slice("ml", F.lit(1), F.col("occ0")),
                F.lit(0).cast("bigint"),
                lambda a, x: a + x,
            )
            + 1
        )
        parts.append(
            ex.select(
                "doc_id",
                F.lit(kind).alias("kind"),
                (F.col("occ0") + 1).cast("int").alias("occ"),
                start.cast("bigint").alias("span_start"),
                F.col("mlen").cast("bigint").alias("span_len"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# L2/L6 cluster-weighted sampling ([EXT] — the SOFT-dedup alternative
# to dropping near-duplicates: keep every document with probability
# 1/cluster_size, so each near-dup cluster contributes ~1 expected
# copy while singletons pass untouched — the standard counter to
# "hard dedup deletes rare-but-replicated gems"). Membership is the
# canonical star-edge clustering (shared _star_edge_cluster_membership
# frame); the draw is the pps_weighted_sample integer idiom: keep iff
# u32(md5(doc_id|'cw')) * cluster_size < 2^32 — a pure-integer test
# both engines replay exactly (the oracle nests the full cluster
# replay). weight_ppm records the acceptance probability in exact
# integer ppm for downstream loss reweighting.
# ---------------------------------------------------------------------------

_CW_SAMPLE_ORACLE = f"""
WITH m AS ({{clusters}})
SELECT doc_id, cluster_id, cluster_size, is_canonical,
       CAST(1000000 // cluster_size AS BIGINT) AS weight_ppm
FROM m
WHERE CAST('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR) || '|cw'), 1, 8) AS BIGINT)
        * cluster_size
      < 4294967296
""".format(clusters="{clusters}")


@register(
    "cluster_weighted_sampling",
    oracle=_CW_SAMPLE_ORACLE.format(clusters=_scalable_clusters_oracle()),
    tags=("L2", "L6"),
)
def cluster_weighted_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import hash_key

    m = _star_edge_cluster_membership(spark, sf_dir)
    u = (
        F.conv(F.substring(hash_key(F.col("doc_id"), "cw"), 1, 8), 16, 10)
        .cast("bigint")
    )
    return (
        m.filter(u * F.col("cluster_size") < F.lit(4294967296))
        .select(
            "doc_id",
            "cluster_id",
            "cluster_size",
            "is_canonical",
            F.call_function("div", F.lit(1000000).cast("bigint"), F.col("cluster_size"))
            .cast("bigint")
            .alias("weight_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# L4/F11 mojibake detection + repair audit ([EXT] — round-13: the
# encoding-repair stage every web-scale text pipeline runs before
# anything else, ftfy-style. The classic corruption is UTF-8 bytes
# misdecoded as latin-1: 'á' (0xC3 0xA1) becomes the two-character
# sequence 'Ã¡'. The corpus is pure ASCII, so — exactly like
# pii_redact_rewrite injects synthetic PII — a deterministic
# doc_id-keyed feed simulates the damaged upstream: docs with
# doc_id%3==0 arrive with every 'a' double-encoded to 'Ã¡', docs with
# doc_id%7==0 with every 'e' as 'Ã©' (both can apply). The repair maps
# each mojibake sequence back to its true single character; md5
# equality of repair(feed) against the independently-built expected
# text proves the rewrite is byte-identical cross-engine, per source:
# detection counts, exact sequence counts (char-delta arithmetic), and
# the repaired-match tally (must equal n_docs — enforced in tests).
# Plain (non-regex) replace chains: JVM-side, one map stage, no
# shuffle beyond the final low-cardinality agg.
# ---------------------------------------------------------------------------

_MOJI_PAIRS = (("Ã¡", "á", "a", 3), ("Ã©", "é", "e", 7))

_MOJI_ORACLE = """
WITH feed AS (
  SELECT doc_id, source, text,
         CASE WHEN doc_id % 3 = 0 THEN replace(text, 'a', 'Ã¡') ELSE text END
           AS f1
  FROM documents
),
feed2 AS (
  SELECT doc_id, source, text,
         CASE WHEN doc_id % 7 = 0 THEN replace(f1, 'e', 'Ã©') ELSE f1 END AS raw
  FROM feed
),
expected AS (
  SELECT doc_id, source, raw,
         CASE WHEN doc_id % 7 = 0 THEN
           replace(CASE WHEN doc_id % 3 = 0 THEN replace(text, 'a', 'á')
                        ELSE text END, 'e', 'é')
         ELSE CASE WHEN doc_id % 3 = 0 THEN replace(text, 'a', 'á')
                   ELSE text END END AS want
  FROM feed2
),
audit AS (
  SELECT source,
         raw LIKE '%Ã%' AS detected,
         (LENGTH(raw) - LENGTH(replace(raw, 'Ã¡', ''))) // 2 AS n_seq_a,
         (LENGTH(raw) - LENGTH(replace(raw, 'Ã©', ''))) // 2 AS n_seq_e,
         md5(replace(replace(raw, 'Ã¡', 'á'), 'Ã©', 'é')) = md5(want)
           AS repaired_ok,
         LENGTH(raw) - LENGTH(replace(replace(raw, 'Ã¡', 'á'), 'Ã©', 'é'))
           AS char_delta
  FROM expected
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN detected THEN 1 ELSE 0 END) AS BIGINT) AS n_mojibake,
       CAST(SUM(n_seq_a) AS BIGINT) AS n_seq_a,
       CAST(SUM(n_seq_e) AS BIGINT) AS n_seq_e,
       CAST(SUM(CASE WHEN repaired_ok THEN 1 ELSE 0 END) AS BIGINT)
         AS n_repaired_ok,
       CAST(SUM(char_delta) AS BIGINT) AS chars_recovered
FROM audit
GROUP BY source
"""


def moji_doc_audit(d: DataFrame) -> DataFrame:
    """Doc-grain mojibake audit facts over any frame with (doc_id,
    source, text): the deterministic damaged feed, its repair, and the
    per-doc counters — shared by the batch aggregate below and the
    per-source GroupState fold in streaming/jobs.py
    (stream_mojibake_repair_state). Pure JVM replace chains, no
    shuffle."""
    raw = F.col("text")
    want = F.col("text")
    for moji, true_ch, ascii_ch, mod in _MOJI_PAIRS:
        hit = F.col("doc_id") % mod == 0
        raw = F.when(hit, F.replace(raw, F.lit(ascii_ch), F.lit(moji))).otherwise(raw)
        want = F.when(hit, F.replace(want, F.lit(ascii_ch), F.lit(true_ch))).otherwise(
            want
        )
    repaired = F.col("raw")
    for moji, true_ch, _ascii_ch, _mod in _MOJI_PAIRS:
        repaired = F.replace(repaired, F.lit(moji), F.lit(true_ch))
    seq_count = {
        moji: ((F.length("raw") - F.length(F.replace(F.col("raw"), F.lit(moji), F.lit(""))))
               / 2).cast("bigint")
        for moji, *_ in _MOJI_PAIRS
    }
    return d.select("doc_id", "source", raw.alias("raw"), want.alias("want")).select(
        "doc_id",
        "source",
        F.col("raw").contains("Ã").alias("detected"),
        seq_count["Ã¡"].alias("n_seq_a"),
        seq_count["Ã©"].alias("n_seq_e"),
        (F.md5(repaired) == F.md5("want")).alias("repaired_ok"),
        (F.length("raw") - F.length(repaired)).cast("bigint").alias("char_delta"),
    )


@register("mojibake_repair_audit", oracle=_MOJI_ORACLE, tags=("L4", "F11", "Q1"))
def mojibake_repair_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    audit = moji_doc_audit(table(spark, sf_dir, "documents"))
    return audit.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.col("detected").cast("int")).cast("bigint").alias("n_mojibake"),
        F.sum("n_seq_a").cast("bigint").alias("n_seq_a"),
        F.sum("n_seq_e").cast("bigint").alias("n_seq_e"),
        F.sum(F.col("repaired_ok").cast("int")).cast("bigint").alias("n_repaired_ok"),
        F.sum("char_delta").cast("bigint").alias("chars_recovered"),
    )
