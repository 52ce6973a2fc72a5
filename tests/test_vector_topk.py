"""The vector top-k family's shared quantized-cosine decision
(operators/similarity.py): the zero-norm rule across every spelling,
and the numpy kernels' by-value pickling."""

from __future__ import annotations

import os
import pickle
import subprocess
import sys

import numpy as np
import pandas as pd

_K = 2
_ZERO_ID = 5


def _rows():
    # 12 4-dim vectors, one all-zero; labels alternate for the
    # contrastive (pos/neg) split
    out = []
    for i in range(12):
        v = [((i * 7 + j * 3) % 11 - 5) / 10 for j in range(4)]
        out.append((i, [0.0] * 4 if i == _ZERO_ID else v, i % 2))
    return out


def _reference(labelled: bool) -> pd.DataFrame:
    """numpy/pandas top-k: cosine = dot / (na·nb) on the quantized ints,
    NaN (NULL) for a zero norm, ranked by (cosine desc nulls last,
    c_id asc) per query, or per (query, side) when labelled."""
    ids, vecs, labs = (np.array(c, dtype=object) for c in zip(*_rows()))
    q = np.floor(np.stack(vecs).astype("float64") * 1000 + 0.5)
    nrm = np.sqrt((q * q).sum(axis=1))
    with np.errstate(invalid="ignore"):
        cos = (q @ q.T) / np.outer(nrm, nrm)
    n = len(ids)
    pairs = pd.DataFrame(
        {"q_id": np.repeat(ids, n), "c_id": np.tile(ids, n), "cosine": cos.ravel()}
    )
    same = np.repeat(labs, n) == np.tile(labs, n)
    pairs["side"] = np.where(same, "pos", "neg") if labelled else None
    pairs = pairs[pairs["q_id"] != pairs["c_id"]].sort_values(
        ["cosine", "c_id"], ascending=[False, True], na_position="last"
    )
    pairs["rnk"] = pairs.groupby(["q_id", "side"], dropna=False).cumcount() + 1
    ranked = pairs[pairs["rnk"] <= _K]
    return _canon(ranked if labelled else ranked.drop(columns="side"))


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    keys = [c for c in ("q_id", "side", "rnk") if c in pdf.columns]
    pdf = pdf[keys + ["c_id", "cosine"]].sort_values(keys).reset_index(drop=True)
    return pdf.astype(
        {"q_id": "int64", "rnk": "int64", "c_id": "int64", "cosine": "float64"}
    )


def test_zero_norm_cosine_is_null_and_ranks_last(spark):
    # a zero vector's cosine is NULL: it never takes a ranked slot from
    # a real neighbour, whatever the corpus partition layout, and the
    # JVM spellings return instead of raising DIVIDE_BY_ZERO (ANSI)
    from etl_showcase_spark.operators.similarity import (
        brute_force_topk,
        gemm_contrastive_topk,
        gemm_exact_topk,
        lsh_neardup_pairs,
    )

    df = spark.createDataFrame(
        _rows(), "vec_id long, embedding array<double>, label int"
    )
    exact_ref, contrastive_ref = _reference(False), _reference(True)
    for width in (1, 6):
        corpus = df.repartition(width)
        exact = gemm_exact_topk(df, corpus, "vec_id", "vec_id", "embedding", _K)
        pd.testing.assert_frame_equal(_canon(exact.toPandas()), exact_ref)
        contrastive = gemm_contrastive_topk(
            df, corpus, "vec_id", "vec_id", "embedding", "label", _K
        )
        pd.testing.assert_frame_equal(_canon(contrastive.toPandas()), contrastive_ref)

    brute = brute_force_topk(df, df, "vec_id", "vec_id", "embedding", _K)
    pd.testing.assert_frame_equal(_canon(brute.toPandas()), exact_ref)
    pairs = lsh_neardup_pairs(
        df, "vec_id", "embedding", threshold=-1.0, n_planes=2, dim=4, n_tables=2
    ).collect()
    assert pairs, "threshold -1 keeps every colliding non-zero pair"
    assert all(_ZERO_ID not in (r.id_a, r.id_b) for r in pairs)


# one batch through every kernel; run both in-process and, unpickled,
# in a bare interpreter
_KERNEL_CALLS = """
batch = pd.Series([[0.5, -0.25, 1.0], [0.0, 0.0, 0.0], [0.1234, 0.9, -0.7]])
q, nrm = k["quant"](batch)
cos = k["cosine"](q @ q.T, nrm[:, None], nrm[None, :])
kept = k["cut"](cos, np.ones(cos.shape, dtype=bool), 2)
out = [q.tolist(), cos.tolist(), kept.tolist(), k["plane_keys"](q).tolist()]
"""


def test_vector_kernels_pickle_by_value(tmp_path):
    # executor workers may not be able to import the package: every
    # shared kernel must unpickle and run in an interpreter where it is
    # absent, so none may reference a module-level function of it
    from pyspark import cloudpickle

    from etl_showcase_spark.operators.similarity import _vector_kernels

    kern = vars(_vector_kernels(n_planes=2, dim=3, n_tables=2))
    script = (
        "import importlib.util, pickle, sys\nimport numpy as np\nimport pandas as pd\n"
        "assert importlib.util.find_spec('etl_showcase_spark') is None, 'importable'\n"
        "k = {n: pickle.loads(b) for n, b in pickle.load(sys.stdin.buffer).items()}\n"
        + _KERNEL_CALLS
        + "print(repr(out))\n"
    )
    run = subprocess.run(
        [sys.executable, "-c", script],
        input=pickle.dumps({n: cloudpickle.dumps(f) for n, f in kern.items()}),
        cwd=tmp_path,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
        capture_output=True,
        timeout=120,
    )
    assert run.returncode == 0, run.stderr.decode()
    here = {"k": kern, "np": np, "pd": pd}
    exec(_KERNEL_CALLS, here)
    assert run.stdout.decode().strip() == repr(here["out"])
    q, cos, kept, _ = here["out"]
    assert q == [[500, -250, 1000], [0, 0, 0], [123, 900, -700]]
    assert np.isnan(cos[1]).all()
    # per query (column) the top-2: a zero norm's NaN ranks last, and
    # fills the slots only where nothing else can
    assert kept == [[True, True, True], [False, True, False], [True, True, True]]
