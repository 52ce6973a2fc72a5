"""Table catalog over the driver's parquet testdata.

Analog of the reference's schema-pinned ingest boundary (reference
spark_jobs/transform_weather.py:30-61): every table is loaded from
columnar parquet (SURVEY.md §1.4) and can be registered as a temp view
for the Spark SQL surface (reference sql/create_weather_tables.sql
views, §3.3).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

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

# Pinned ingest schemas (SURVEY.md §1.3: "fixed, explicitly declared
# schemas at every boundary", the reference's deliberate design point at
# spark_jobs/transform_weather.py:34-57). Scans validate against these
# instead of trusting whatever a writer left in the footer; a drifted
# file fails loudly at analysis time, not deep inside a query.
# `events` is absent: its ts is parquet TIMESTAMP(NANOS), readable only
# through the nanosAsLong conf path below.
SCHEMAS: dict[str, str] = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": (
        "c_custkey bigint, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string"
    ),
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
    "part": (
        "p_partkey bigint, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double"
    ),
    "orders": (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    ),
    "lineitem": (
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
        "l_returnflag string, l_linestatus string, l_shipdate timestamp"
    ),
    "documents": "doc_id bigint, text string, lang string, source string, n_chars bigint",
    "embeddings": "vec_id bigint, embedding array<float>, label int",
}

# Small dimensions that should always be broadcast in joins (the
# dim_city / dim_weather_code role, reference sql/create_weather_tables.sql:42-82).
BROADCAST_DIMS = frozenset({"region", "nation", "supplier", "part", "customer"})

# Fact-side tables that carry the compute; when a scan yields fewer
# partitions than the cluster has slots (the driver's testdata is one
# unsplittable row group per table), fan out so expression-heavy
# operators use every core. On a real lake the input is many-file and
# this branch never triggers.
FACT_TABLES = frozenset({"lineitem", "orders", "events", "documents", "embeddings"})

# Fan-out key per fact table (optimization round 13, guide §2.4/§2.5):
# hash-partitioning on the table's natural join/group key instead of
# round-robin. Two wins at identical spread (keys are uniform, 47-18750x
# more distinct values than partitions): (a) a keyless repartition(n)
# pays a full local sort of every row first (sortBeforeRepartition,
# SPARK-23207 — needed so retried tasks re-produce the same assignment;
# hash partitioning is deterministic without it), and (b) downstream
# joins/aggregations keyed the same way reuse the exchange outright —
# e.g. join_fact_revenue's per-order pre-aggregation consumes
# hashpartitioning(l_orderkey, slots) directly, dropping its
# ENSURE_REQUIREMENTS exchange (600k-row shuffle at sf0.1) from the
# plan. Result-neutral: partitioning never changes what a declarative
# plan computes, and every money aggregate is decimal (order-free).
FANOUT_KEYS: dict[str, str] = {
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
    "events": "user_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}

# Per-table fan-out chunk (optimization round 13, guide §2.2): bytes of
# table one slot must be worth before the small-file fan-out exchange
# pays for itself. The partition count DERIVES from the input size —
# min(slots, ceil(size / chunk)) — so it adapts across scale factors
# instead of pinning the local core count; a sub-chunk table skips the
# exchange outright. Tables whose consumers are Arrow-vectorized
# (embeddings: every similarity/ANN/mlprep path signs or scores whole
# batches with one GEMM; events: plain sum/count aggregates) spread
# only once there is real per-slot work; documents (regex tokenization,
# ~100× the per-byte cost) and lineitem/orders (decimal partial
# aggregates, exchange-reusing keyed joins) keep the full spread at any
# qualifying size (chunk 0 = always slots-wide).
FANOUT_CHUNKS: dict[str, int] = {
    "embeddings": 2 << 20,
    "events": 8 << 20,
}


def dataset_bytes(path: str) -> int | None:
    """Bytes of a local parquet dataset: the file's size, or the sum of
    a directory's direct children (Spark-written datasets are one level
    of part files). None when the size can't be determined — callers
    must fall back to their conservative default. NEVER stat a
    directory inode as if it were data: that returns ~4 KB for any
    multi-file lake and silently collapses every size-derived width to
    1 (observed: the x100 stress lake ran the MinHash signature pass on
    ONE task, 307 s of a 400 s run)."""
    try:
        if os.path.isfile(path):
            return os.path.getsize(path)
        if os.path.isdir(path):
            return sum(
                e.stat().st_size for e in os.scandir(path) if e.is_file()
            )
    except OSError:
        pass
    return None


def derived_width(spark: SparkSession, sf_dir: str, name: str, chunk: int) -> int:
    """Size-derived task width for operator-internal repartitions
    (guide §2.2): min(cores, ceil(dataset_bytes / chunk)), at least 1.

    Same derivation as the fan-out above but exposed to plan functions
    whose operators repartition internally (e.g. the MinHash signature
    stage): the width grows with the input and converges to cores-wide,
    instead of pinning defaultParallelism at every scale — at small
    inputs the per-task Arrow/scheduling floor of a cores-wide Python
    stage costs more than the compute it spreads. Unknown size →
    cores-wide (the conservative end: full parallelism)."""
    slots = spark.sparkContext.defaultParallelism
    size = dataset_bytes(os.path.join(sf_dir, f"{name}.parquet"))
    if size is None:
        return slots
    return max(1, min(slots, -(-size // chunk)))


def table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    fanout: bool = True,
    fanout_chunk: int | None = None,
    fanout_cols: list[str] | None = None,
) -> DataFrame:
    """Load one testdata table. Parquet scan → full pushdown/pruning.

    ``events.ts`` is parquet TIMESTAMP(NANOS), which Spark rejects by
    default; read it as long nanos and truncate to micros — exactly the
    conversion DuckDB applies when reading the same file (verified:
    DuckDB truncates, not rounds).
    """
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        # session-wide by necessity: the conf is read at SCAN time, so
        # restoring it after this call would break the returned (lazy)
        # frame. Side effect: later parquet reads of other
        # TIMESTAMP(NANOS) files in this session also get bigint nanos
        # instead of an analysis error — acceptable for this engine's
        # sessions, where events is the only nanos source.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F

        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif name in SCHEMAS:
        df = spark.read.schema(SCHEMAS[name]).parquet(path)
    else:
        df = spark.read.parquet(path)
    if name in FACT_TABLES and fanout:
        slots = spark.sparkContext.defaultParallelism
        # free metadata check — never a Spark job. Applies ONLY to a
        # single local file: a directory-shaped dataset would report
        # its inode size (~4KB) and misclassify a multi-GB table as
        # small, injecting a full shuffle on every scan.
        small = (
            os.path.isfile(path)
            and os.path.getsize(path) < slots * 8 * 1024 * 1024
        )
        if small:
            # Scale-adaptive spread (optimization round 13, guide §2.2):
            # a caller whose per-row work is vectorized (Arrow GEMM) or
            # already cheap passes fanout_chunk = the bytes one slot
            # should be worth spreading for; the partition count then
            # DERIVES from input size — min(slots, ceil(size/chunk)) —
            # instead of pinning the local core count. At bench scale a
            # sub-chunk table skips the exchange outright (the fan-out
            # would cost more than the single-task compute it spreads);
            # at 10-100× the same call site fans wide again. Callers
            # with heavy per-row JVM work (regex tokenization, decimal
            # chains) keep the default slots-wide spread.
            chunk = (
                fanout_chunk
                if fanout_chunk is not None
                else FANOUT_CHUNKS.get(name, 0)
            )
            n_part = slots
            if chunk:
                n_part = min(slots, -(-os.path.getsize(path) // chunk))
            if n_part > 1:
                # fanout_cols (r14, guide §2.3 "project before the
                # exchange"): a caller that neither joins nor groups on
                # the table's natural key can fan out on columns it
                # consumes ANYWAY, so the key never rides the exchange
                # as ballast — q1/weather dropped the 8-byte l_orderkey
                # from a 600k-row shuffle this way (~4.6 MB at sf0.1).
                # Callers must pick a high-cardinality consumed column
                # (§2.5: 20-100× more distinct values than partitions).
                cols = (
                    fanout_cols
                    if fanout_cols is not None
                    else ([FANOUT_KEYS[name]] if name in FANOUT_KEYS else None)
                )
                if cols:
                    from pyspark.sql import functions as F

                    df = df.repartition(n_part, *[F.col(c) for c in cols])
                else:
                    df = df.repartition(n_part)
    return df

