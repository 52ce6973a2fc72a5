"""Seeded replica lake and its DuckDB oracle answers.

The lake is built from the repository's checked-in smoke fixture
(``tests/fixtures/sf0.001``) with pyarrow and DuckDB only, never the
engine. It follows ``scripts/scale_stress.build_lake``: every replica
of a table gets its own disjoint key space (foreign keys shift by the
step of the key they reference), ``nation`` and ``region`` are copied
once, and replicated documents carry a suffix token so that they are
near-duplicates rather than exact copies.

The seed decides everything that varies between lakes of one scale:
which key-space slot each replica takes, the documents' suffix tokens,
the row order of every table, and where each table's rows are split
into part files. The same seed and scale always give byte-identical
parquet files.

Lakes and oracle answers are cached by (scale, seed) under the cache
root the caller passes; a build lands in a temporary directory that is
renamed into place, so a reader never sees a half-written lake.
"""

from __future__ import annotations

import math
import os
import pickle
import shutil
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

FIXTURE = os.path.join("tests", "fixtures", "sf0.001")
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
COPY_ONLY = ("region", "nation")
# key columns per table, each mapped to the primary key whose domain
# sets its replica step (a foreign key shifts with what it references)
KEY_COLS = {
    "customer": {"c_custkey": "c_custkey"},
    "supplier": {"s_suppkey": "s_suppkey"},
    "part": {"p_partkey": "p_partkey"},
    "orders": {"o_orderkey": "o_orderkey", "o_custkey": "c_custkey"},
    "lineitem": {
        "l_orderkey": "o_orderkey",
        "l_partkey": "p_partkey",
        "l_suppkey": "s_suppkey",
    },
    "events": {"event_id": "event_id", "user_id": "user_id"},
    "documents": {"doc_id": "doc_id"},
    "embeddings": {"vec_id": "vec_id"},
}
# primary key -> table that owns its domain
KEY_OWNER = {
    "c_custkey": "customer",
    "s_suppkey": "supplier",
    "p_partkey": "part",
    "o_orderkey": "orders",
    "event_id": "events",
    "user_id": "events",
    "doc_id": "documents",
    "vec_id": "embeddings",
}
FILES_PER_TABLE = 4


def lake_dir(cache_root: str, scale: int, seed: int) -> str:
    return os.path.join(cache_root, f"lake-x{scale}-s{seed}")


def _step(base: dict[str, pa.Table], key: str) -> int:
    top = pc.max(base[KEY_OWNER[key]].column(key)).as_py()
    return 10 ** math.ceil(math.log10(int(top) + 2))


def _replicate(
    name: str,
    table: pa.Table,
    slots: list[int],
    steps: dict[str, int],
    tokens: list[str],
) -> pa.Table:
    parts = []
    for rep, slot in enumerate(slots):
        t = table
        for col, key in KEY_COLS[name].items():
            shifted = pc.add(t.column(col), pa.scalar(slot * steps[key], pa.int64()))
            t = t.set_column(t.schema.get_field_index(col), col, shifted)
        if name == "documents" and rep > 0:
            text = pc.binary_join_element_wise(t.column("text"), pa.scalar(tokens[rep]), " ")
            t = t.set_column(t.schema.get_field_index("text"), "text", text)
            t = t.set_column(
                t.schema.get_field_index("n_chars"),
                "n_chars",
                pc.cast(pc.utf8_length(text), pa.int64()),
            )
        parts.append(t)
    return pa.concat_tables(parts)


def _write_split(table: pa.Table, out: str, rng: np.random.Generator) -> None:
    """Shuffle rows and write them as FILES_PER_TABLE part files whose
    boundaries the seed jitters by up to a tenth of an even split."""
    os.makedirs(out)
    n = table.num_rows
    table = table.take(pa.array(rng.permutation(n)))
    files = FILES_PER_TABLE if n >= 4 * FILES_PER_TABLE else 1
    even = np.linspace(0, n, files + 1)
    jitter = rng.uniform(-0.1, 0.1, files + 1) * (n / files)
    cuts = np.clip(np.round(even + jitter), 0, n).astype(int)
    cuts[0], cuts[-1] = 0, n
    cuts = np.maximum.accumulate(cuts)
    for i in range(files):
        pq.write_table(
            table.slice(cuts[i], cuts[i + 1] - cuts[i]),
            os.path.join(out, f"part-{i:02d}.parquet"),
        )


def build_lake(root: str, out: str, scale: int, seed: int) -> dict[str, int]:
    """Write the (scale, seed) lake under ``out``; return row counts."""
    rng = np.random.default_rng(seed)
    base = {
        t: pq.read_table(os.path.join(root, FIXTURE, f"{t}.parquet")).replace_schema_metadata()
        for t in TABLES
    }
    steps = {k: _step(base, k) for k in KEY_OWNER}
    slots = [int(s) for s in rng.permutation(scale)]
    tokens = [f"rep{int(x):06x}" for x in rng.integers(0, 1 << 24, scale)]
    rows = {}
    for name in TABLES:
        t = base[name]
        if name not in COPY_ONLY:
            t = _replicate(name, t, slots, steps, tokens)
        _write_split(t, os.path.join(out, f"{name}.parquet"), rng)
        rows[name] = t.num_rows
    return rows


def _duck(lake: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{lake}/{t}.parquet/*.parquet')"
        )
    return con


def oracle_answers(lake: str, oracles: dict[str, str]) -> dict[str, object]:
    """Run each oracle SQL on the lake in DuckDB."""
    con = _duck(lake)
    try:
        return {name: con.execute(sql).fetchdf() for name, sql in oracles.items()}
    finally:
        con.close()


def ensure_lake(
    root: str, cache_root: str, scale: int, seed: int, oracles: dict[str, str]
) -> tuple[str, dict[str, int], dict[str, object]]:
    """Return (lake dir, row counts, oracle frames) for (scale, seed),
    building and caching whatever is missing."""
    out = lake_dir(cache_root, scale, seed)
    if not os.path.isdir(out):
        os.makedirs(cache_root, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix=".build-", dir=cache_root)
        try:
            rows = build_lake(root, os.path.join(tmp, "lake"), scale, seed)
            with open(os.path.join(tmp, "lake", "rows.pkl"), "wb") as f:
                pickle.dump(rows, f)
            try:
                os.rename(os.path.join(tmp, "lake"), out)
            except OSError:  # a concurrent run renamed the same lake first
                pass
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    with open(os.path.join(out, "rows.pkl"), "rb") as f:
        rows = pickle.load(f)
    answers: dict[str, object] = {}
    missing: dict[str, str] = {}
    for name, sql in oracles.items():
        path = os.path.join(out, f"oracle-{name}.pkl")
        if os.path.isfile(path):
            with open(path, "rb") as f:
                answers[name] = pickle.load(f)
        else:
            missing[name] = sql
    for name, frame in oracle_answers(out, missing).items():
        answers[name] = frame
        fd, tmp_path = tempfile.mkstemp(dir=out)
        with os.fdopen(fd, "wb") as f:
            pickle.dump(frame, f)
        os.replace(tmp_path, os.path.join(out, f"oracle-{name}.pkl"))
    return out, rows, answers
