"""Property tests for the engine-specific (non-oracle) dedup/ANN ops:
planted near-duplicates must be found, estimates must track exact
values, and the LSH scale paths must agree with their exact baselines."""

from __future__ import annotations

import hashlib
import re
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F

from etl_showcase_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_neardup_pairs,
    simhash64,
)
from etl_showcase_spark.operators.similarity import (
    brute_force_topk,
    lsh_ann_topk,
    lsh_neardup_pairs,
)
from etl_showcase_spark.operators.textops import tokens

from .conftest import SF_SMOKE

WORDS = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima".split()


def _docs(spark):
    base = " ".join(WORDS * 5)  # 60 tokens
    mutated = " ".join((WORDS * 5)[:-3] + ["zulu", "yankee", "xray"])  # ~95% shingles shared
    unrelated = " ".join(reversed([w.upper().lower() + "x" for w in WORDS * 5]))
    return spark.createDataFrame(
        [(1, base), (2, mutated), (3, unrelated), (4, base)], ["doc_id", "text"]
    )


def test_minhash_lsh_finds_planted_neardups(spark):
    pairs = minhash_lsh_pairs(
        _docs(spark), "doc_id", "text", num_hashes=32, bands=8, jaccard_threshold=0.5
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 4) in found  # identical
    assert (1, 2) in found or (2, 4) in found  # planted near-dup
    assert all({r.id_a, r.id_b} != {1, 3} for r in pairs)  # unrelated not paired
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(_docs(spark), "doc_id", "text", threshold=0.0).collect()
    }
    for r in pairs:
        assert abs(r.jaccard - exact[(r.id_a, r.id_b)]) < 1e-9  # verify step is exact


def test_simhash_distance_ordering(spark):
    df = _docs(spark).select("doc_id", simhash64(tokens(F.col("text"))).alias("sig"))
    sigs = {r.doc_id: r.sig for r in df.collect()}
    ham = lambda a, b: bin((a ^ b) & (2**64 - 1)).count("1")  # noqa: E731
    assert ham(sigs[1], sigs[4]) == 0  # identical docs, identical signature
    assert ham(sigs[1], sigs[2]) < ham(sigs[1], sigs[3])  # near-dup closer than unrelated
    pairs = simhash_neardup_pairs(_docs(spark), "doc_id", "text", max_hamming=12).collect()
    assert (1, 4) in {(r.id_a, r.id_b) for r in pairs}


def test_simhash_vectorized_sig_equals_jvm_fold(spark):
    """The r14 Arrow-vectorized bit-vote UDF must be bit-identical to
    the unrolled JVM fold it replaced inside the pair operators — for
    BOTH widths (xxhash64/64-bit and md5/32-bit), on the real corpus
    plus the edge rows the fold's NULL semantics cover (empty text,
    whitespace-only, NULL)."""
    from etl_showcase_spark.operators.dedup import _simhash_sig_udf, simhash32_md5

    corpus = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select("doc_id", "text")
    edges = spark.createDataFrame(
        [(100001, ""), (100002, "   "), (100003, None), (100004, "one"),
         (100005, "a b c a b c " * 500)],
        ["doc_id", "text"],
    )
    df = corpus.unionByName(edges)
    tok = tokens(F.col("text"))
    h64 = F.transform(tok, lambda w: F.xxhash64(w))
    h32 = F.transform(
        tok, lambda w: F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("bigint")
    )
    bad = df.select(
        simhash64(tok).eqNullSafe(_simhash_sig_udf(64)(h64)).alias("eq64"),
        simhash32_md5(tok).eqNullSafe(_simhash_sig_udf(32)(h32)).alias("eq32"),
    ).agg(
        F.sum((~F.col("eq64")).cast("int")).alias("bad64"),
        F.sum((~F.col("eq32")).cast("int")).alias("bad32"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    assert bad["n"] > 0 and bad["bad64"] == 0 and bad["bad32"] == 0


FIXTURE_SF = str(Path(__file__).parent / "fixtures" / "sf0.001")


@pytest.mark.parametrize(
    "name, digest",
    [
        ("minhash_lsh_neardup", "d757d991bbf6d058353fce3e20b04a1e"),
        ("simhash_neardup", "4fc98f0a24f697932ef441e87708b439"),
    ],
)
def test_oracle_blind_neardup_output_pinned(spark, name, digest):
    """The xxhash64 near-dup queries have no DuckDB oracle (JVM-only
    hash), so only invariants guarded them. This pins their exact
    output on the committed fixture: md5 of the canonicalized frame,
    the same canonical hash the benchmark checks each pass. A refactor
    of the banded-LSH/SimHash stages must leave both digests unchanged;
    a deliberate output change re-pins them."""
    from etl_showcase_spark.registry import all_specs
    from etl_showcase_spark.testing import canonicalize

    frame = all_specs()[name].build(spark, FIXTURE_SF).toPandas()
    got = hashlib.md5(canonicalize(frame).to_csv(index=False).encode()).hexdigest()
    assert len(frame) > 0 and got == digest


def test_lsh_ann_recall_vs_brute_force(spark):
    from etl_showcase_spark.catalog import table

    e = table(spark, SF_SMOKE, "embeddings")
    queries = e.filter(F.col("vec_id") % 50 == 0)
    exact = brute_force_topk(queries, e, "vec_id", "vec_id", "embedding", k=10)
    approx = lsh_ann_topk(
        queries, e, "vec_id", "vec_id", "embedding", k=10, n_planes=4, n_tables=8
    )
    exact_set = {(r.q_id, r.c_id) for r in exact.collect()}
    approx_set = {(r.q_id, r.c_id) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    # deterministic hashing → stable; measured 0.78 on this data
    assert recall >= 0.6, f"LSH recall collapsed: {recall}"
    # every approx hit must carry the exact same cosine as brute force
    ej = {(r.q_id, r.c_id): r.cosine for r in exact.collect()}
    for r in approx.collect():
        if (r.q_id, r.c_id) in ej:
            assert abs(r.cosine - ej[(r.q_id, r.c_id)]) < 1e-12


def test_ivf_ann_recall_vs_brute_force(spark):
    from etl_showcase_spark.catalog import table
    from etl_showcase_spark.operators.similarity import ivf_ann_topk

    e = table(spark, SF_SMOKE, "embeddings")
    queries = e.filter(F.col("vec_id") % 50 == 0)
    exact = brute_force_topk(queries, e, "vec_id", "vec_id", "embedding", k=10)
    approx = ivf_ann_topk(
        queries, e, "vec_id", "vec_id", "embedding", k=10, n_centroids=16, n_probe=4
    )
    exact_set = {(r.q_id, r.c_id) for r in exact.collect()}
    approx_set = {(r.q_id, r.c_id) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"IVF recall collapsed: {recall}"
    # determinism: a second build returns the identical result set
    again = ivf_ann_topk(
        queries, e, "vec_id", "vec_id", "embedding", k=10, n_centroids=16, n_probe=4
    )
    assert {(r.q_id, r.c_id) for r in again.collect()} == approx_set


@pytest.mark.parametrize("op", ["simhash_neardup_pairs", "lsh_neardup_pairs"])
def test_udf_stage_width_never_changes_output(spark, op):
    """The near-dup family's Python-UDF stages run at a size-derived
    width (``n_part``). The width decides how many tasks, and so how
    many Python workers, run the signature stage — never what the
    operator emits: n_part 1, 3 and None (the input's own partitioning)
    give the same canonical frame on the committed fixture, and an
    explicit width is the id-keyed exchange feeding that stage."""
    from etl_showcase_spark.caching import release_all
    from etl_showcase_spark.plans import llm_vector as lv
    from etl_showcase_spark.testing import canonicalize

    def build(n_part):
        if op == "simhash_neardup_pairs":
            docs = spark.read.parquet(f"{FIXTURE_SF}/documents.parquet")
            return simhash_neardup_pairs(docs, "doc_id", "text", max_hamming=3, n_part=n_part)
        emb = spark.read.parquet(f"{FIXTURE_SF}/embeddings.parquet")
        return lsh_neardup_pairs(
            emb,
            "vec_id",
            "embedding",
            threshold=lv._ND_THRESH,
            n_planes=lv._ND_PLANES,
            dim=lv._ND_DIM,
            n_tables=lv._ND_TABLES,
            n_part=n_part,
        )

    frames = {}
    for n_part in (1, 3, None):
        out = build(n_part)
        plan = out._jdf.queryExecution().executedPlan().toString()
        widths = {
            1 if single else int(n)
            for single, n in re.findall(
                r"Exchange (?:(SinglePartition)|hashpartitioning\(\w+#\d+L, (\d+)\)), "
                r"REPARTITION_BY_NUM",
                plan,
            )
        }
        assert widths == (set() if n_part is None else {n_part}), (n_part, widths)
        frames[n_part] = canonicalize(out.toPandas())
        release_all()
    assert len(frames[None]) > 0
    for n_part in (1, 3):
        pd.testing.assert_frame_equal(frames[n_part], frames[None])
