"""Deduplication operators (SURVEY.md §2.13 L1/L2): exact, MinHash+LSH,
SimHash, n-gram Jaccard.

Scale design: every path is a hash-partition + band-bucket join — never
an all-pairs cross join. The exact-Jaccard verification only runs on
LSH candidate pairs, so cost is O(candidates), not O(n²). Every hash is
a JVM built-in, deterministic across runs/executors: xxhash64 on the
scale paths, md5 on the oracle-replayable twins (Spark F.md5 == DuckDB
md5, so the DuckDB oracles replay them bit-for-bit).

The banded-LSH near-dup family is built from one set of private stages:
_shingle_base (id + distinct shingle set) → a banded signature
(minhash_lsh_pairs' Arrow minima, or _md5_banded over _md5_minhash) →
_band_candidates (the band-bucket join) → _jaccard_verify (the exact
verify on candidates only). The SimHash pair operators are thin calls
to _simhash_pairs.
"""

from __future__ import annotations

import random as _random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..caching import tracked_persist

from .relational import latest_per_key
from .textops import shingles, tokens


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """L1: one representative row (lowest id) per exact text value —
    a hash-groupBy, one shuffle on the text hash."""
    return latest_per_key(df, [text_col], [F.col(id_col).asc()])


def _rows_per_band(num_hashes: int, bands: int) -> int:
    if num_hashes % bands:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands "
            f"({bands}); a remainder would silently drop signature "
            "components and change effective recall"
        )
    return num_hashes // bands


def _shingle_base(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    n_part: int | None = None,
    carry: tuple[Column, ...] = (),
    shingle_hash=None,
) -> DataFrame:
    """(id, text[, carry]) → (__id[, carry], __sh): each document's
    distinct word-shingle set, documents with an empty set dropped.

    Empty sets never reach the banding (optimization round 13, guide
    §2.5): they would all share one sentinel signature — the one
    unbounded hot bucket at scale — yet an empty doc can never appear
    in the output (its exact Jaccard is NULL/0 < any threshold).

    ``n_part`` is for the batch callers: it repartitions by id AHEAD of
    the shingle map and persists the mapped frame. The map is CPU-bound
    but byte-light, so both a single-row-group scan and AQE's size-based
    coalescing would serialize it, while an explicit partition count
    (which AQE respects) keeps every core busy. The frame then feeds
    THREE consumers in one action (the banding and both sides of the
    verify join); without a cache the tokenize→shingle→hash map
    recomputes per consumer whenever AQE broadcasts a join side
    (ReusedExchange only saves it in the all-shuffle plan). persist()
    materializes it once — lineage kept (unlike localCheckpoint), and
    Spark's CacheManager keys the entry by logical plan, so repeated
    builds of the same query share one entry instead of accumulating.
    Measured at sf0.1: 2.10s → 1.50s. The empty-set filter sits ABOVE
    the cache: below it, the optimizer pushes it through the exchange
    onto the scan, where it evaluates the whole shingle map a second
    time, serially. None keeps the input's partitioning and caches
    nothing (unpersisted callers, streaming frames).

    ``shingle_hash`` maps each shingle before the in-row dedup (the
    xxhash scale path hashes to the 31-bit domain). ``carry`` columns
    ride along unchanged."""
    base = df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t"), *carry)
    if n_part is not None:
        base = base.repartition(n_part, F.col("__id"))
    sh = shingles(tokens(F.col("__t")), shingle_n)
    if shingle_hash is not None:
        sh = F.transform(sh, shingle_hash)
    kept = [c for c in base.columns if c not in ("__id", "__t")]
    base = base.select("__id", *kept, F.array_distinct(sh).alias("__sh"))
    if n_part is not None:
        base = base.transform(tracked_persist)
    return base.filter(F.size("__sh") > 0)


def _band_candidates(left: DataFrame, right: DataFrame | None = None) -> DataFrame:
    """(__id, __n, band, key) postings → (id_a, id_b, n_a, n_b): one row
    per pair of documents sharing at least one (band, key) bucket.
    Without ``right`` this is the band SELF-join and emits each
    unordered pair once (id_a < id_b); with it, left × right (the
    incremental delta × corpus join, disjoint frames, every pair kept).

    Candidate generation stays a band-bucket JOIN deliberately (r13
    finding, guide §2.5): the tempting groupBy(band, key) +
    collect_list + in-row pair expansion computes the same pair set
    with one shuffle, and at sf0.1 it measures the same — but a hot
    bucket (a large near-duplicate group all sharing one band key)
    then becomes ONE giant array expanded by ONE task, and AQE's skew
    handling splits JOINS only, never aggregations. Measured on the
    x100 replica lake (duplicate groups of ~100 by construction):
    bucket-agg 527 s vs self-join 44 s — the join keeps the g²
    expansion spread across skew-split partitions."""
    l = left.alias("l")
    r = (left if right is None else right).alias("r")
    on = (F.col("l.band") == F.col("r.band")) & (F.col("l.key") == F.col("r.key"))
    if right is None:
        on = on & (F.col("l.__id") < F.col("r.__id"))
    return (
        l.join(r, on)
        .groupBy(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"))
        .agg(F.first("l.__n").alias("n_a"), F.first("r.__n").alias("n_b"))
    )


def _size_ratio_prune(candidates, threshold: float):
    """Lossless pre-verify prune: the intersection is at most the
    smaller set, so J(a,b) <= min(n_a, n_b) / max(n_a, n_b) — any
    candidate pair whose size ratio is below the Jaccard threshold
    cannot pass the exact verify. Dropping those BEFORE the shingle
    arrays rejoin removes accidental banding collisions between very
    different-length documents (a large fraction on real corpora)
    while provably never changing the emitted pair set."""
    return candidates.filter(
        F.least("n_a", "n_b") >= threshold * F.greatest("n_a", "n_b")
    )


def _jaccard_verify(candidates: DataFrame, base: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b, n_a, n_b) candidates + the _shingle_base frame →
    (id_a, id_b, jaccard) with the exact shingle-set Jaccard >=
    threshold. Only the candidate list joins back to the per-doc
    shingle arrays (two id-keyed joins, only for docs that appear in a
    candidate pair) and the intersection runs inside the row — the
    arrays never ride the band explode."""
    candidates = _size_ratio_prune(candidates, threshold)
    sa = base.select(F.col("__id").alias("id_a"), F.col("__sh").alias("__sa"))
    sb = base.select(F.col("__id").alias("id_b"), F.col("__sh").alias("__sb"))
    inter = (
        candidates.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("__sa", "__sb")).alias("n_inter"),
            "n_a",
            "n_b",
        )
    )
    jac = F.col("n_inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_inter")
    )
    return inter.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    n_part: int | None = None,
) -> DataFrame:
    """L2: MinHash + banded LSH near-duplicate pairs, verified with the
    exact Jaccard of the candidates' shingle sets.

    ``n_part`` overrides the width of the shingle/signature stage (and
    of the persisted base every later pass re-reads). Default: every
    core (defaultParallelism). Callers that can see the input's size
    should derive a width from it (plans/llm_text.py does) — at small
    scale the per-task Arrow/scheduling floor of a cores-wide Python
    stage costs more than the compute it spreads, while a byte-derived
    width converges to cores-wide as the corpus grows.

    shingle → minhash → band → bucket-join → verify:
    1. signature array per doc (num_hashes components);
    2. band key = xxhash64 of each r-row slice; explode to (band, key);
    3. self-join within (band, key) buckets → candidate pairs;
    4. exact Jaccard on the candidates only; keep >= threshold.

    The bucket join shuffles on the band key — skew-safe under AQE,
    no quadratic blowup; at 100 TB this is the only viable shape.
    Returns (id_a, id_b, jaccard) with id_a < id_b.
    """
    rows = _rows_per_band(num_hashes, bands)
    # Shuffle-frugal shape: the signature stage is entirely per-row
    # array math (no explode, no repartition, no aggregate) —
    # shingles are hashed to the 31-bit domain ONCE (pmod(xxhash64, p)),
    # deduped with array_distinct inside the row, and ALL num_hashes
    # MinHash components come from ONE Arrow-vectorized pass (the same
    # one-GEMM design as similarity.lsh_bucket_keys_gemm): the batch's
    # shingle arrays are flattened once, (flat ⊗ a + b) mod p is a
    # single numpy broadcast, and per-row minima fall out of
    # minimum.reduceat. Exact integer math (h,a < p keeps a*h within
    # int64), bit-identical to the per-column JVM array_min(transform)
    # spelling it replaces — and measured faster on both axes: ~2.5×
    # cheaper analysis (1 projection vs num_hashes lambda columns) and
    # ~1.3× higher per-row throughput at 10× sf0.1. Jaccard over the
    # hashed sets equals string-set Jaccard up to ~1e-9 collision
    # probability. The ONLY shuffles in the whole operator are the band
    # bucket join and the two candidate↔array verification joins.
    p = 2_147_483_647
    rnd = _random.Random(0x5EED)
    coefs = [(rnd.randrange(1, p), rnd.randrange(0, p)) for _ in range(num_hashes)]
    a_coefs = [a for a, _ in coefs]
    b_coefs = [b for _, b in coefs]
    n_h = num_hashes

    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("array<long>")
    def _minima(sh):  # pd.Series of array<bigint> (hashed shingle sets)
        # self-contained (pickled by value): no references to this module
        import numpy as np
        import pandas as pd

        a = np.array(a_coefs, dtype="int64")
        b = np.array(b_coefs, dtype="int64")
        lens = sh.map(len).to_numpy()
        # empty shingle sets keep the sentinel p (the JVM spelling gave
        # NULL): empty docs still all share one band key, and the exact
        # verify assigns every pair touching them jaccard NULL/0 < any
        # threshold — the emitted pair set is identical
        out = np.full((len(sh), n_h), p, dtype="int64")
        # The (shingles × num_hashes) broadcast product is the only
        # superlinear intermediate in the whole operator: an unchunked
        # Arrow batch of shingle-heavy docs could materialize GBs per
        # core. Cap it at ~4M int64 cells (32 MB) by processing runs of
        # documents whose combined product stays under the cap — a doc
        # too big for the cap alone still runs, just by itself.
        cap = 1 << 22
        arrs = sh.to_numpy()
        nonempty = np.flatnonzero(lens)
        start = 0
        while start < len(nonempty):
            end, tot = start, 0
            while end < len(nonempty) and (
                tot == 0 or (tot + lens[nonempty[end]]) * n_h <= cap
            ):
                tot += lens[nonempty[end]]
                end += 1
            idx = nonempty[start:end]
            flat = np.concatenate([np.asarray(arrs[i], dtype="int64") for i in idx])
            hashed = (flat[:, None] * a[None, :] + b[None, :]) % p
            bounds = np.concatenate([[0], np.cumsum(lens[idx])[:-1]])
            out[idx] = np.minimum.reduceat(hashed, bounds, axis=0)
            start = end
        return pd.Series(list(out))

    if n_part is None:
        n_part = df.sparkSession.sparkContext.defaultParallelism
    base = _shingle_base(
        df,
        id_col,
        text_col,
        shingle_n,
        n_part=n_part,
        shingle_hash=lambda s: F.pmod(F.xxhash64(s), F.lit(p)),
    )
    sig = base.select(
        "__id", F.size("__sh").alias("__n"), _minima(F.col("__sh")).alias("__m")
    )
    # Band key = the band's signature slice itself (optimization round
    # 13). The old spelling re-hashed each r-row slice to one bigint via
    # element_at→cast(string)→concat_ws→xxhash64 — ~6 expression nodes
    # per signature component (measured 0.25 s of plan build/analysis
    # per bench rep at bands=8, rows=4) plus per-row string
    # materialization at runtime. Two docs collide on a band iff their
    # r minima are equal, which is exactly equality of the slice —
    # grouping on the array<bigint> directly produces the identical
    # bucket partition (minus the ~2^-64 xxhash-collision merges the
    # re-hash could introduce), with ONE slice call per band.
    # The banded posting frame is PERSISTED (r13): it feeds both sides
    # of the band self-join below, and without a cache each side
    # re-evaluates the signature pandas_udf — the before-plan carried
    # TWO ArrowEvalPython corpus passes. Caching the narrow
    # (id, n, band, key) postings (bands×n rows of 4 fixed-width
    # columns) is the cheap way to one UDF pass; Spark's persist spills
    # to disk at sizes where memory is tight.
    banded = sig.select(
        "__id",
        "__n",
        F.posexplode(
            F.array(
                *[F.xxhash64(F.slice("__m", b * rows + 1, rows)) for b in range(bands)]
            )
        ).alias("band", "key"),
    ).transform(tracked_persist)
    return _jaccard_verify(_band_candidates(banded), base, jaccard_threshold)


def minhash_lsh_pairs_md5(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.3,
) -> DataFrame:
    """Cross-engine-verifiable MinHash-LSH twin of minhash_lsh_pairs.

    Permutation i ranks shingles by md5(f"{i}|" + shingle); the
    signature component is the MINIMUM hex digest (a string min — a
    valid MinHash permutation because md5 ordering is a uniform pseudo-
    random total order). Every step is reproducible in any engine with
    md5, so the DuckDB oracle replays signatures, band keys, candidate
    pairs, and the exact-Jaccard verify bit-for-bit — this is the
    variant that PROVES the banded-LSH pipeline correct; the xxhash64
    variant is the faster JVM-hash scale path with identical structure.

    Same stages as minhash_lsh_pairs: per-row signature math, band
    bucket join, candidate-only verification joins.
    """
    base = _shingle_base(
        df, id_col, text_col, shingle_n, n_part=df.sparkSession.sparkContext.defaultParallelism
    )
    # both self-join sides read the banded postings: persisted (r14) so
    # the md5 signature stage — num_hashes interpreted
    # array_min(transform(md5)) folds per row — runs once, not twice
    banded = _md5_banded(base, num_hashes, bands).transform(tracked_persist)
    return _jaccard_verify(_band_candidates(banded), base, jaccard_threshold)


def minhash_lsh_pairs_md5_incremental(
    df: DataFrame,
    id_col: str,
    text_col: str,
    new_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.3,
) -> DataFrame:
    """Incremental near-dup: candidates are DELTA × CORPUS band-bucket
    matches only — the daily-crawl shape where today's documents
    (``new_col`` true) are checked against the accumulated corpus
    without regenerating corpus-internal pairs. At 100 TB this is the
    difference between O(delta × bucket-density) and re-running the
    full corpus self-join; the corpus's banded signatures are exactly
    the artifact a standing pipeline would persist between runs (here
    they're recomputed because the testdata lake is immutable).

    Same md5-permutation signatures as minhash_lsh_pairs_md5 (fully
    DuckDB-replayable). Returns (id_new, id_old, jaccard).
    """
    base = _shingle_base(
        df,
        id_col,
        text_col,
        shingle_n,
        n_part=df.sparkSession.sparkContext.defaultParallelism,
        carry=(F.col(new_col).cast("boolean").alias("__new"),),
    )
    # the delta and corpus sides below are two readers of the banded
    # frame — one md5 signature pass, not two
    banded = _md5_banded(base, num_hashes, bands).transform(tracked_persist)
    candidates = _band_candidates(banded.filter(F.col("__new")), banded.filter(~F.col("__new")))
    return _jaccard_verify(candidates, base, jaccard_threshold).select(
        F.col("id_a").alias("id_new"), F.col("id_b").alias("id_old"), "jaccard"
    )


def _md5_minhash(sh: Column, num_hashes: int) -> list[Column]:
    """The md5-permutation MinHash signature of a shingle array, one
    column per component: component i is the minimum of
    md5(f"{i}|" + shingle) over the set."""

    def _salted_digest(i: int):
        # closure factory, NOT a default argument: a two-parameter
        # lambda would make F.transform pass the array INDEX as the
        # second argument, silently rebinding the salt
        prefix = F.lit(f"{i}|")
        return lambda s: F.md5(F.concat(prefix, s))

    return [F.array_min(F.transform(sh, _salted_digest(i))) for i in range(num_hashes)]


def _md5_banded(base: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, distinct-shingle array[, extra cols]) → exploded md5 band
    keys (id, extras..., __n, band, key) — the shared signature+banding
    stage of the md5 MinHash variants. Pure JVM expressions, so it runs
    unchanged on a streaming frame."""
    rows = _rows_per_band(num_hashes, bands)
    extras = [c for c in base.columns if c not in ("__id", "__sh")]
    sig = base.select(
        "__id",
        *extras,
        F.size("__sh").alias("__n"),
        *[m.alias(f"m{i}") for i, m in enumerate(_md5_minhash(F.col("__sh"), num_hashes))],
    )
    return sig.select(
        "__id",
        *extras,
        "__n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                ",", *[F.col(f"m{b * rows + r}") for r in range(rows)]
                            )
                        ).alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(
        "__id", *extras, "__n", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.05,
    df_max: int | None = 100,
) -> DataFrame:
    """L2 exact variant: all pairs sharing >= 1 shingle, scored with
    exact Jaccard over distinct shingle sets (inverted-index join, not
    a cross join — candidate generation is |postings|², bounded by
    shingle selectivity).

    df_max is the standard inverted-index frequency cut: a shingle
    appearing in >= df_max docs contributes df² candidate pairs — one
    viral boilerplate shingle at corpus scale is a quadratic hot key —
    so such shingles are removed from the shingle space entirely
    (posting list, set sizes, and intersections alike). The score is
    then exact Jaccard over *discriminative* shingles, a deterministic
    definition both engines replay identically. Pass None to disable
    (exact classic Jaccard, small corpora only)."""
    # one repartition by doc serves the dedup, the size aggregate, and
    # the size join (all colocated on __id — no further exchanges)
    dedup = (
        df.select(
            F.col(id_col).alias("__id"),
            F.explode(shingles(tokens(F.col(text_col)), shingle_n)).alias("g"),
        )
        .repartition(F.col("__id"))
        .dropDuplicates(["__id", "g"])
    )
    # the posting list feeds the hot-shingle aggregate, the anti join,
    # the per-doc size aggregate, and BOTH sides of the inverted-index
    # self-join — persist() materializes the tokenize+explode+dedup
    # work once (plan-keyed cache, shared across rebuilds)
    dedup = dedup.transform(tracked_persist)
    if df_max is not None:
        # the blocklist (hot shingles only) is orders of magnitude
        # smaller than the posting list — AQE broadcasts the anti join
        hot = (
            dedup.groupBy("g")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") >= df_max)
            .select("g")
        )
        dedup = dedup.join(hot, "g", "left_anti").transform(tracked_persist)
    sizes = dedup.groupBy("__id").agg(F.count(F.lit(1)).alias("__n"))
    postings = dedup.join(sizes, "__id")
    a, b = postings.alias("a"), postings.alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.__id") < F.col("b.__id")))
        .groupBy(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.col("a.__n").alias("n_a"),
            F.col("b.__n").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    jac = F.col("n_inter").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        inter.select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _simhash_sig_udf(n_bits: int):
    """Arrow-vectorized SimHash voting (r14, guide §4.2): pd.Series of
    array<bigint> per-token hashes → bigint signature. Bit b of the
    signature is set iff the sum over tokens of ±1 (vote = bit b of the
    token hash, mapped 1→+1 / 0→-1) is > 0 — bit-identical to the
    unrolled JVM fold (simhash64 / simhash32_md5 below), which
    evaluates n_bits interpreted higher-order `aggregate` expressions
    per row, each one re-walking the token-hash array (and, before the
    r14 rewrite of the pair operators, re-deriving it from the text).
    Here the whole Arrow batch is one (tokens × bits) numpy broadcast:
    flatten the batch's hash arrays once, extract the bit matrix with
    one shift, vote-sum per document with add.reduceat, pack bits back.
    Exact integer math throughout; a NULL/empty token array yields
    signature 0, exactly like the JVM fold (aggregate over NULL is
    NULL, and every per-bit `when` then takes the `otherwise(0)` arm).
    The per-token hash stays a JVM expression at the call site (xxhash64
    or md5), so the md5 twin remains oracle-replayable — the UDF is
    pure arithmetic on the hashes."""
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("bigint")
    def _sig(hs):  # pd.Series of array<bigint> (token hashes)
        # self-contained (pickled by value): no references to this module
        import numpy as np
        import pandas as pd

        out = np.zeros(len(hs), dtype="uint64")
        lens = hs.map(lambda a: 0 if a is None else len(a)).to_numpy()
        shifts = np.arange(n_bits, dtype="uint64")
        nonempty = np.flatnonzero(lens)
        arrs = hs.to_numpy()
        # chunk the (tokens × n_bits) broadcast product (same cap
        # discipline as the MinHash UDF above): ~4M int32 cells per
        # run so a token-heavy batch can't materialize GBs; a doc too
        # big for the cap alone still runs, just by itself
        cap = max(1, (1 << 22) // n_bits)
        start = 0
        while start < len(nonempty):
            end, tot = start, 0
            while end < len(nonempty) and (
                tot == 0 or tot + lens[nonempty[end]] <= cap
            ):
                tot += lens[nonempty[end]]
                end += 1
            idx = nonempty[start:end]
            flat = np.concatenate(
                [np.asarray(arrs[i], dtype="int64") for i in idx]
            ).view("uint64")
            # bit b of hash h == (h >> b) & 1 — identical for the JVM's
            # arithmetic shiftright, since & 1 keeps only the landed bit
            bits = ((flat[:, None] >> shifts[None, :]) & np.uint64(1)).astype(
                "int32"
            )
            bounds = np.concatenate([[0], np.cumsum(lens[idx])[:-1]])
            votes = np.add.reduceat(2 * bits - 1, bounds, axis=0)
            out[idx] = ((votes > 0).astype("uint64") << shifts[None, :]).sum(axis=1)
            start = end
        # uint64 → int64 view wraps bit 63 exactly like the JVM's
        # shiftleft(1L, 63) does
        return pd.Series(out.view("int64"))

    return _sig


def _xxhash_token_hash(w: Column) -> Column:
    # one-argument form for F.transform, which rejects variadic F.xxhash64
    return F.xxhash64(w)


def _md5_token_hash(w: Column) -> Column:
    """First 8 hex chars of md5 as an integer — the engine-portable token
    hash (DuckDB replays it as ('0x' || substr(md5(tok), 1, 8))::BIGINT)."""
    return F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("bigint")


def _simhash_fold(tok: Column, token_hash, n_bits: int) -> Column:
    """SimHash as built-in expressions only: per bit, sum +1/-1 across
    the token hashes and keep the sign. The outer loop runs over the
    n_bits positions, the inner aggregate over the token hash array."""
    hashes = F.transform(tok, token_hash)

    def _vote_fn(bit: int):
        # closure factory: pyspark inspects lambda arity, so the bit
        # index can't ride along as a default argument
        return lambda acc, h: acc + F.when(
            F.shiftright(h, bit).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    sig = F.lit(0).cast("bigint")
    for b in range(n_bits):  # unrolled: shift amounts must be literals
        vote = F.aggregate(hashes, F.lit(0).cast("bigint"), _vote_fn(b))
        sig = sig.bitwiseOR(
            F.when(vote > 0, F.shiftleft(F.lit(1).cast("bigint"), b)).otherwise(
                F.lit(0).cast("bigint")
            )
        )
    return sig


def simhash64(tok: Column) -> Column:
    """L2: 64-bit SimHash over token xxhash64 values (the JVM-fold
    reference spelling of simhash_neardup_pairs' signature)."""
    return _simhash_fold(tok, _xxhash_token_hash, 64)


def simhash32_md5(tok: Column) -> Column:
    """Oracle-replayable 32-bit SimHash over md5 token hashes — the md5
    twin of simhash64 (which uses xxhash64, JVM-only) and the JVM-fold
    reference spelling of simhash_md5_pairs' signature."""
    return _simhash_fold(tok, _md5_token_hash, 32)


def _simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    token_hash,
    n_bits: int,
    max_hamming: int,
    block_bits: int,
) -> DataFrame:
    """SimHash near-dup pairs: block on each of the n_bits/block_bits
    chunks, then verify the true Hamming distance with bit_count.
    Returns (id_a, id_b, hamming).

    Signature = ``token_hash`` per token as a JVM expression (ONE
    transform pass; md5 keeps the twin oracle-replayable) + the
    Arrow-vectorized bit-vote UDF (r14, guide §4.2), replacing n_bits
    interpreted higher-order `aggregate` folds per row; bit-identical
    to the _simhash_fold spelling (tests/test_dedup.py asserts
    equality on the corpus)."""
    tok_hashes = F.transform(tokens(F.col(text_col)), token_hash)
    sigs = df.select(
        F.col(id_col).alias("__id"),
        _simhash_sig_udf(n_bits)(tok_hashes).alias("__sig"),
    # the signature frame feeds BOTH sides of the block self-join —
    # persist() computes the per-doc simhash once, not twice
    ).transform(tracked_persist)
    n_blocks = n_bits // block_bits
    mask = (1 << block_bits) - 1
    blocked = sigs.select(
        "__id",
        "__sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftright("__sig", i * block_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for i in range(n_blocks)
                ]
            )
        ).alias("bk"),
    ).select("__id", "__sig", F.col("bk.blk").alias("blk"), F.col("bk.key").alias("key"))
    l, r = blocked.alias("l"), blocked.alias("r")
    hamming = F.bit_count(F.col("l.__sig").bitwiseXOR(F.col("r.__sig")))
    return (
        l.join(
            r,
            (F.col("l.blk") == F.col("r.blk"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.__id") < F.col("r.__id")),
        )
        .select(
            F.col("l.__id").alias("id_a"),
            F.col("r.__id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_md5_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    block_bits: int = 8,
) -> DataFrame:
    """simhash_neardup_pairs' verifiability twin on the 32-bit md5
    signature. Same pigeonhole recall guarantee (max_hamming <=
    n_blocks-1 → recall 1); every step is replayable in ANSI SQL, so
    this variant carries the hash-checked CORRECTNESS row for the
    SimHash pipeline. Returns (id_a, id_b, hamming)."""
    return _simhash_pairs(df, id_col, text_col, _md5_token_hash, 32, max_hamming, block_bits)


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    block_bits: int = 16,
) -> DataFrame:
    """SimHash near-dup candidates over the 64-bit xxhash64 signature.
    Returns (id_a, id_b, hamming).

    Recall guarantee (pigeonhole): with n_blocks chunks, a pair at
    Hamming distance < n_blocks MUST share at least one exact chunk —
    so max_hamming <= n_blocks-1 (the default, 3 of 4) gives recall 1.
    A looser max_hamming still works but is probabilistic-recall AND
    candidate-heavy: at sf0.1 the 138k hamming<=12 pairs are ~100× the
    hamming<=3 set — exactly the blowup a 100 TB corpus can't afford."""
    return _simhash_pairs(df, id_col, text_col, _xxhash_token_hash, 64, max_hamming, block_bits)


def minhash_lsh_clusters_md5(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.3,
) -> DataFrame:
    """Cluster-level near-dup emission: O(n·bands) verified STAR edges
    instead of the O(g²)-per-duplicate-group verified pair set.

    The pair variants (minhash_lsh_pairs*) are exact but output-bound
    at scale: a duplicate group of g replicas materializes ~g²/2
    verified pairs (measured alpha 0.79 at 100× on a corpus that is
    near-dups by construction — BENCH_sf1.json). For corpus curation
    the pair set is a means to CLUSTER MEMBERSHIP, so this variant
    never builds it: inside every (band, key) bucket each doc links
    only to the bucket REPRESENTATIVE (min id in the bucket) — a
    window min per bucket, no self-join — giving ≤ n·bands candidate
    edges total. Each star edge is verified with the same exact
    hashed-shingle Jaccard as the pair path, and connected components
    over the verified edges yield the clusters.

    Semantics vs the exact pair set, honestly:
    - PRECISION is unchanged: every surviving edge is a true pair with
      J ≥ threshold, so every cluster is connected purely through
      verified near-dup links — exactly the guarantee CC over the full
      verified pair set provides.
    - RECALL can only be lost on bucket mates b, c whose direct edge
      the star never tests: they stay connected unless the rep fails
      verification against BOTH in every band bucket the three share.
      Each of the `bands` buckets re-draws the rep independently, so a
      true near-dup pair must be shadowed by a spurious smaller-id
      collider in every band to be split — the same multi-band
      amplification that gives banded LSH its recall in the first
      place. tests/test_oracle_parity.py asserts cluster-for-cluster
      equality with the pair-built neardup_cluster_canonical on the
      testdata corpus.

    Returns (id, cluster_id): every input doc labeled, singletons
    labeling themselves. One banding shuffle, one bucket-keyed window,
    one edge dedup, two id-keyed verify joins, then CC's bounded
    rounds — no stage is quadratic in group size.
    """
    from pyspark.sql import Window

    from .graph import connected_components

    base = _shingle_base(
        df, id_col, text_col, shingle_n, n_part=df.sparkSession.sparkContext.defaultParallelism
    )
    banded = _md5_banded(base, num_hashes, bands)
    # bucket representative: min (__id, __n) struct per (band, key) —
    # struct min orders by id first, so .__n rides along for free
    w = Window.partitionBy("band", "key")
    rep = F.min(F.struct(F.col("__id"), F.col("__n"))).over(w)
    edges = (
        banded.select(
            rep["__id"].alias("id_a"),
            rep["__n"].alias("n_a"),
            F.col("__id").alias("id_b"),
            F.col("__n").alias("n_b"),
        )
        .filter(F.col("id_a") != F.col("id_b"))
        # the same (rep, doc) edge recurs across bands — dedupe before
        # paying for verification
        .groupBy("id_a", "id_b")
        .agg(F.first("n_a").alias("n_a"), F.first("n_b").alias("n_b"))
    )
    verified = _jaccard_verify(edges, base, jaccard_threshold).select("id_a", "id_b")
    cc = connected_components(verified, "id_a", "id_b")
    ids = df.select(F.col(id_col).alias("__id"))
    return (
        ids.join(cc, ids["__id"] == cc["id"], "left")
        .select(
            F.col("__id").alias("id"),
            F.coalesce("component", F.col("__id")).alias("cluster_id"),
        )
    )
