"""Testdata table loaders.

The driver generates a TPC-H-ish star schema plus ``events`` (stream
stand-in), ``documents`` and ``embeddings`` at /root/testdata/sf* (see
TESTDATA.md / FIXTURES.md §2). These loaders are the single place that
knows two quirks:

- ``events.ts`` is parquet TIMESTAMP(NANOS); Spark reads it as a long
  (with ``spark.sql.legacy.parquet.nanosAsLong=true``) and we convert to
  a microsecond TIMESTAMP_NTZ with integer division -- the same
  truncation DuckDB applies on read, so oracle comparisons line up.
- All other timestamps load as TIMESTAMP_NTZ already, matching DuckDB's
  naive TIMESTAMP.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import apply_runtime_conf

#: Process-lifetime cache of testdata parquet schemas, keyed on the
#: full file path (immutable committed bytes -- the driver-artifact
#: caching discipline). StructType is plain Python: safe across
#: sessions, holds no JVM handle. There is deliberately no mtime/size
#: component in the key: the driver's testdata and committed fixtures
#: never change within a process, and any flow that DOES regenerate
#: data at the same path (a test rewriting fixtures) must call
#: :func:`clear_plan_caches` (ADVICE r13).
_SCHEMA_CACHE: dict[str, "object"] = {}


def clear_plan_caches() -> None:
    """Explicit invalidation hook for the process-lifetime plan-build
    caches (schemas, driver-side fixture rows, rendered ADC texts).
    The caches key on file paths under an immutability contract;
    regeneration flows that rewrite those paths in-process call this
    so stale schemas/rows are never served silently (ADVICE r13)."""
    _SCHEMA_CACHE.clear()
    from .operators import similarity as _sim

    _sim._DIM_CACHE.clear()
    _sim._DRIVER_ROWS_CACHE.clear()
    _sim._OPQ_FIXTURE_CACHE.clear()
    _sim._ADC_LUT_TEXT_CACHE.clear()
    _sim._PRUNED_PLAN_CACHE.clear()

#: Tables the driver pre-registers as DuckDB views (TESTDATA.md).
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _parse_bytes(v: str) -> int:
    """Parse a Spark byte conf ('128m', '1g', '134217728b', plain int)."""
    s = str(v).strip().lower().rstrip("b")
    mult = 1
    for suffix, m in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30)):
        if s.endswith(suffix):
            s, mult = s[:-1], m
            break
    return int(float(s) * mult)


def scan_spread(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Scale-adaptive input spread (optimization guide §2.5 "input
    skew: one huge unsplittable file ... repartition immediately after
    the read"): when the parquet input yields fewer scan splits than
    the cluster has cores, the entire scan *stage* -- including every
    narrow map fused into it (tokenize, hash, higher-order array ops)
    -- executes on that few tasks while the rest of the machine idles.
    The driver testdata is one single-row-group file per table, i.e.
    exactly one split at ANY ``maxPartitionBytes``, so each map-heavy
    operator ran 1-of-32-cores before round 13.

    The fix is conditional, derived from input size (never a constant
    tuned for local mode): estimate the split count from the file's
    on-disk bytes and the session's ``spark.sql.files.maxPartitionBytes``;
    only when that undershoots ``defaultParallelism`` do we round-robin
    repartition to the core count. At production scale (thousands of
    row groups) the condition is false and the plan is untouched, so
    the "payload never rides an exchange" posture holds exactly where
    it matters; in the undershoot case the one extra exchange moves a
    provably small input (< cores x maxPartitionBytes) once, which is
    the guide's own trade for unsplittable inputs.

    Deterministic under retries WITHOUT the round-robin sort tax:
    a keyless ``repartition(n)`` first locally sorts its whole input
    (spark.sql.execution.sortBeforeRepartition) so retried tasks
    reproduce the same row placement -- and with ONE input split that
    sort is a serial pass over the entire table inside the single map
    task (measured on q_table_digest: the 600k-row sort dominated the
    spread). Hash-repartitioning on a deterministic synthetic key --
    xxhash64 over every column, the guide §2.5 recipe -- needs no
    sort, is reproducible under retries, and spreads uniformly because
    the key is near-unique. The hash covers ONLY the leading column
    (every testdata table leads with its id/key column): hashing all
    columns would reference them in the repartition expression and
    block column pruning below the exchange (guide §2.3 "project
    before the exchange"), shipping unused payload through the spread
    -- measured +0.3-0.5 s on the orders/lineitem statistics queries.
    """
    try:
        size = os.path.getsize(path)
    except OSError:
        return df
    max_split = _parse_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")
    )
    est_splits = max(1, -(-size // max_split))
    cores = spark.sparkContext.defaultParallelism
    if est_splits >= cores:
        return df
    return df.repartition(cores, F.xxhash64(df.columns[0]))


def table_path(sf_dir: str, name: str) -> str:
    """On-disk parquet path for one testdata table (the argument both
    spread helpers size their undershoot condition from)."""
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def keyed_spread(
    spark: SparkSession, df: DataFrame, path: str, cols: list[str]
) -> DataFrame:
    """:func:`scan_spread` for frames whose NEXT operation is a keyed
    aggregation with ~no map-side reduction (distinct-value collapses:
    the grouping key is near-unique, so partial aggregation buys
    nothing and the generic spread pays TWO exchanges -- the spread's
    round-robin one plus the aggregation's own). Hash-partitioning the
    spread on the aggregation keys instead makes the spread exchange
    BE the aggregation exchange: EnsureRequirements recognises
    HashPartitioning(cols) as satisfying the groupBy's clustered
    distribution (exact keys or any superset of ``cols``), so the
    collapse runs spread across the cluster with ONE exchange total
    (guide §2.4 "two operations keyed the same way can often share one
    exchange").

    Same undershoot condition as :func:`scan_spread` -- at production
    split counts this returns ``df`` untouched and the plan is the
    normal partial-agg -> exchange -> final-agg shape. Deterministic
    under retries (data-derived hash keys, no round-robin)."""
    try:
        size = os.path.getsize(path)
    except OSError:
        return df
    max_split = _parse_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")
    )
    est_splits = max(1, -(-size // max_split))
    cores = spark.sparkContext.defaultParallelism
    if est_splits >= cores:
        return df
    return df.repartition(cores, *[F.col(c) for c in cols])


def checkpoint_partitioned(
    df: DataFrame, n: int, *cols: str
) -> DataFrame:
    """Hash-partition ``df`` on ``cols`` and localCheckpoint it so the
    PARTITIONING SURVIVES for downstream consumers (round 14, guide
    §2.4 "two operations keyed the same way share one exchange").

    Under AQE, ``repartition(...).localCheckpoint()`` silently records
    ``UnknownPartitioning``: the RDD is captured through the
    AdaptiveSparkPlan wrapper, whose output partitioning is not final
    at capture time -- so every later join/aggregation on the key
    RE-EXCHANGES the checkpointed table (measured on q_pagerank: 16
    exchanges / 26 sorts for 5 power iterations over two static
    tables). Creating the checkpoint with AQE momentarily off makes
    the LogicalRDD carry ``hashpartitioning(cols, n)``, which AQE-on
    consumers recognise normally -- iterative loops then pay the key
    exchange ONCE instead of once per round. The toggle is scoped to
    the checkpoint creation on the driver thread (query builds here
    are single-threaded) and flipped back immediately.
    """
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        out = df.repartition(n, *[F.col(c) for c in cols]).localCheckpoint(
            eager=False
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    return out


def loop_partitions(
    spark: SparkSession, est_rows: int, row_bytes: int = 16
) -> int:
    """Partition count for ITERATIVE-LOOP state tables (the (node,
    label) / (node, rank) frames the CC and PageRank rounds shuffle),
    derived from the measured state size -- guide §2 scale-adaptive
    partitioning, never a constant tuned for one deployment.

    The loop state is narrow integer pairs, orders of magnitude
    smaller than the corpus that produced it. Pinning it to
    ``defaultParallelism`` (round-14 session 1) locked every round's
    joins and aggregations to ``cores`` tasks -- ~2.4 s/round of pure
    scheduling at sf0.1, where the whole label table is ~80 KB.
    Sizing partitions at ~64 MB of state instead (the guide §2.2
    "fewer, larger partitions" band) collapses toy-scale rounds to
    single-task stages while a 100 TB edge set still fans out to the
    full cluster (capped at defaultParallelism; the estimate comes
    from a COUNT of the already-materialized edge checkpoint, so it
    scales with the data, not the host)."""
    cores = spark.sparkContext.defaultParallelism
    target = 64 << 20
    return max(1, min(cores, -(-(est_rows * row_bytes) // target)))


def load_table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """Load one testdata table as a DataFrame with normalized types.

    ``spread=True`` opts the caller into :func:`scan_spread` -- for
    operators whose scan stage carries heavy per-row compute (text
    tokenization, md5 fingerprints, array folds) and would otherwise
    serialize on an unsplittable input.
    """
    apply_runtime_conf(spark)
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    # Schema-inference skip (r13 opt, guide §1.2 "per-task work" at the
    # driver): spark.read.parquet() infers the schema from the footer on
    # EVERY call (~130 ms); with an explicit schema the same read costs
    # ~25 ms. The testdata is immutable committed bytes, so the schema
    # keyed on the full path can never go stale within a process; the
    # first load still infers (with the nanos conf already applied, so
    # events' ts arrives as the same bigint either way). Data is read
    # from parquet identically -- this caches METADATA, not results.
    schema = _SCHEMA_CACHE.get(path)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[path] = df.schema
    else:
        df = spark.read.schema(schema).parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # ns epoch -> µs TIMESTAMP_NTZ; `div` truncates exactly like DuckDB.
        df = df.withColumn(
            "ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
        )
    if spread:
        df = scan_spread(spark, df, path)
    return df
