"""Shared-helper drift guard.

registry.query_fingerprint hashes only a query's OWN build source +
oracle SQL, so editing a SHARED helper (gram stages, pack manifest,
classifier weights, LSH serve path...) changes blessed-query behavior
without staling any fingerprint — the gap the round-9 self-review
found in the round-3 stale-verification fix. This test pins the
source of the high-fan-in helpers. When it fails after a deliberate
helper edit: (1) delete the dependent queries' entries from
VERIFIED_FINGERPRINTS.json so the driver re-checks them (every
registered query in the helper's module is the safe over-approximation),
then (2) regenerate the pin file:

    python -m tests.test_helper_fingerprints
"""

from __future__ import annotations

import hashlib
import inspect
import json
from pathlib import Path

PIN_FILE = Path(__file__).parent / "helper_fingerprints.json"

# dotted module:function names of helpers that blessed queries compose;
# extend when a new shared stage appears
HELPERS = [
    "etl_showcase_spark.plans.mlprep:_fdiv",
    "etl_showcase_spark.plans.mlprep:_isqrt",
    "etl_showcase_spark.plans.mlprep:_span_tok",
    "etl_showcase_spark.plans.mlprep:_span_grams",
    "etl_showcase_spark.plans.mlprep:_span_covered",
    "etl_showcase_spark.plans.mlprep:_pack_manifest",
    "etl_showcase_spark.plans.mlprep:_probe_coverage_report",
    "etl_showcase_spark.plans.mlprep:_hq_doc_scores",
    "etl_showcase_spark.plans.mlprep:_lloyd_two_rounds",
    "etl_showcase_spark.plans.mlprep:_two_level_index",
    "etl_showcase_spark.plans.mlprep:_two_level_assign",
    "etl_showcase_spark.plans.llm_vector:_stride_frame",
    "etl_showcase_spark.plans.llm_vector:_strided_queries",
    "etl_showcase_spark.plans.llm_vector:_strided_queries_eager",
    "etl_showcase_spark.plans.llm_vector:_serve_lsh_topk",
    "etl_showcase_spark.plans.llm_vector:_write_posting_and_tombstone_snapshots",
    "etl_showcase_spark.plans.llm_vector:_lsh_posting_sql",
    "etl_showcase_spark.operators.textops:tokens",
    "etl_showcase_spark.operators.textops:shingles",
    "etl_showcase_spark.operators.relational:topk_per_group",
    "etl_showcase_spark.operators.relational:_with_global_rank",
    "etl_showcase_spark.operators.relational:with_global_running_sum",
    "etl_showcase_spark.operators.relational:assert_max_length",
    "etl_showcase_spark.operators.similarity:quantize",
    "etl_showcase_spark.operators.similarity:int_dot",
    "etl_showcase_spark.operators.similarity:lsh_bucket_keys_gemm",
    "etl_showcase_spark.operators.similarity:build_ivf_centroids",
    # round-10 session helpers with multiple query/twin consumers
    "etl_showcase_spark.sources.io:write_snapshot_partitioned",
    "etl_showcase_spark.plans.llm_text:_pii_raw_col",
    "etl_showcase_spark.plans.llm_text:_pii_raw_sql",
    "etl_showcase_spark.operators.similarity:gemm_contrastive_topk",
    # round-11: the decimal-exact aggregation family (the 2^53 sweep) —
    # ~48 blessed queries compose these; any edit must re-queue them
    "etl_showcase_spark.functions.numeric:dec2",
    "etl_showcase_spark.functions.numeric:dsum",
    "etl_showcase_spark.functions.numeric:davg",
    "etl_showcase_spark.functions.numeric:sql_dsum",
    "etl_showcase_spark.functions.numeric:sql_davg",
    "etl_showcase_spark.functions.numeric:d2d",
    "etl_showcase_spark.functions.numeric:sql_d2d",
    # the banded-LSH near-dup skeleton and the SimHash pair operator:
    # minhash_lsh_neardup, neardup_cluster_canonical,
    # minhash_containment_neardup, minhash_estimate_calibration and
    # banded_dedup_first_writer (and the md5/SimHash twins) compose them
    "etl_showcase_spark.operators.dedup:_shingle_base",
    "etl_showcase_spark.operators.dedup:_band_candidates",
    "etl_showcase_spark.operators.dedup:_size_ratio_prune",
    "etl_showcase_spark.operators.dedup:_jaccard_verify",
    "etl_showcase_spark.operators.dedup:_md5_minhash",
    "etl_showcase_spark.operators.dedup:_md5_banded",
    "etl_showcase_spark.operators.dedup:_simhash_sig_udf",
    "etl_showcase_spark.operators.dedup:_simhash_pairs",
]


def _resolve(dotted: str):
    import importlib

    mod_name, fn_name = dotted.split(":")
    return getattr(importlib.import_module(mod_name), fn_name)


def current_hashes() -> dict[str, str]:
    out = {}
    for dotted in HELPERS:
        src = inspect.getsource(_resolve(dotted))
        out[dotted] = hashlib.md5(src.encode()).hexdigest()
    return out


def test_shared_helpers_unchanged_since_pin():
    assert PIN_FILE.exists(), (
        "helper pin file missing — run: python -m tests.test_helper_fingerprints"
    )
    pinned = json.loads(PIN_FILE.read_text())
    cur = current_hashes()
    drifted = sorted(
        d for d in set(pinned) | set(cur) if pinned.get(d) != cur.get(d)
    )
    assert not drifted, (
        f"shared helpers changed since their pin: {drifted}. If deliberate, "
        "un-bless every registered query in those helpers' modules from "
        "VERIFIED_FINGERPRINTS.json, then regenerate: "
        "python -m tests.test_helper_fingerprints"
    )


if __name__ == "__main__":
    PIN_FILE.write_text(json.dumps(current_hashes(), indent=1, sort_keys=True))
    print(f"pinned {len(HELPERS)} helpers -> {PIN_FILE}")
