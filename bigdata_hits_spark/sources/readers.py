"""Schema-checked readers.

Parquet-first (the driver testdata), plus a compatibility reader for the
reference's Neo4j-bulk-import CSV convention (``name:TYPE`` headers, e.g.
``id:ID,names,size:int,labels:LABEL,rho:double`` —
``/root/reference/data/nodes_elab.csv:1``).

Unlike the reference (``header+inferSchema`` on every read,
``/root/reference/src/base_hits.py:36-37``, which costs an extra full pass
over the file), these readers derive the schema from the header's type
suffixes in a single pass: read everything as string, then cast by the
declared suffix.  At 100 TB an inference pre-pass is a non-starter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

#: Clean-name schema of the reference's nodes table (SURVEY §1.1).
NODES_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("names", T.StringType()),
        T.StructField("size", T.IntegerType()),
        T.StructField("labels", T.StringType()),
        T.StructField("rho", T.DoubleType()),
    ]
)

#: Clean-name base schema of the reference's edges table (weight columns
#: beyond these are kept dynamically — the table carries >=2 weights,
#: SURVEY §1.1).
EDGES_BASE_SCHEMA = T.StructType(
    [
        T.StructField("src", T.StringType()),
        T.StructField("dst", T.StringType()),
    ]
)

#: Mapping from Neo4j header type-suffix to Spark type.  ``ID``/``LABEL``/
#: ``START_ID``/``END_ID`` are string-typed markers, not value types.
_NEO4J_TYPE_MAP: dict[str, T.DataType] = {
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "boolean": T.BooleanType(),
    "string": T.StringType(),
    "id": T.StringType(),
    "label": T.StringType(),
    "start_id": T.StringType(),
    "end_id": T.StringType(),
}

#: Canonical renames so engine code never sees positional columns
#: (the reference indexes rows positionally after `.rdd` —
#: ``/root/reference/src/base_hits.py:40``).
_CANONICAL_RENAMES = {
    "id:ID": "id",
    "src:START_ID": "src",
    "dst:END_ID": "dst",
    "labels:LABEL": "labels",
}


def split_neo4j_header(name: str) -> tuple[str, T.DataType]:
    """``'size:int'`` -> ``('size', IntegerType())``; bare names stay string."""
    if ":" in name:
        base, suffix = name.rsplit(":", 1)
        dtype = _NEO4J_TYPE_MAP.get(suffix.strip().lower())
        if dtype is not None and base:
            return base, dtype
    return name, T.StringType()


def read_neo4j_csv(spark: SparkSession, path: str, delimiter: str = ",") -> DataFrame:
    """Read a ``name:TYPE``-headed CSV into clean names and proper types.

    Single pass: strings in, header-driven casts out (no inferSchema).
    """
    raw = spark.read.options(header=True, delimiter=delimiter).csv(path)
    cols = []
    for name in raw.columns:
        clean, dtype = split_neo4j_header(name)
        cols.append(F.col(f"`{name}`").cast(dtype).alias(clean))
    return raw.select(*cols)


def read_nodes_csv(spark: SparkSession, path: str) -> DataFrame:
    """Reference nodes table -> DataFrame(id, names, size, labels, rho)."""
    df = read_neo4j_csv(spark, path)
    missing = [f.name for f in NODES_SCHEMA.fields if f.name not in df.columns]
    if missing:
        raise ValueError(f"nodes CSV at {path} lacks expected columns: {missing}")
    return df


def read_edges_csv(spark: SparkSession, path: str) -> DataFrame:
    """Reference edges table -> DataFrame(src, dst, <weight columns...>).

    The reference selects weight columns by raw header including the type
    suffix (``'mrho:double'`` — ``/root/reference/src/weighted_hits.py:26``);
    here they come out clean (``mrho``).
    """
    df = read_neo4j_csv(spark, path)
    missing = [f.name for f in EDGES_BASE_SCHEMA.fields if f.name not in df.columns]
    if missing:
        raise ValueError(f"edges CSV at {path} lacks expected columns: {missing}")
    return df


def read_json(
    spark: SparkSession, path: str, schema: T.StructType | str
) -> DataFrame:
    """JSON-lines reader.  ``schema`` is REQUIRED (StructType or DDL
    string): schema inference on JSON is a full extra pass over the data —
    the same non-starter at 100 TB as the reference's CSV inferSchema
    (module docstring), and silently type-unstable besides (a column of
    ints with one float becomes double only if the sampled rows hit it)."""
    return spark.read.schema(schema).json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC reader — self-describing columnar format, no inference pass."""
    return spark.read.orc(path)


#: Driver testdata table names (TESTDATA.md).
TESTDATA_TABLES = (
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


#: Tz-independent epoch-microseconds of a TIMESTAMP_NTZ column: a naive
#: wall-clock is treated as UTC epoch time, which is exactly how DuckDB's
#: ``epoch_ns(ts)`` reads the same parquet value — so oracles agree.
_NTZ_EPOCH_US = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"


def set_events_compat_conf(spark: SparkSession) -> None:
    """int64-nanos parquet is refused by Spark 4 unless this legacy conf
    is on.  The engine's own session factory sets it, but the driver
    harness hands queries a vanilla session — set it at the read site so
    the contract is session-agnostic.  Harmless for other encodings."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize an events frame to the engine convention regardless of
    how the driver encoded time on disk: ``ts_ns`` (long epoch
    nanoseconds, lossless) plus ``ts`` (microsecond timestamp derived
    from it).  Observed encodings across driver rounds: int64
    nanoseconds (round 1, needs nanosAsLong), microsecond TIMESTAMP_NTZ
    (round 2); plain TIMESTAMP handled for completeness.  Any OTHER
    dtype raises with the real problem named (an unconditional
    ``withColumn`` would surface as an opaque UNRESOLVED_COLUMN error on
    ts_ns instead).

    Shared by the batch reader (:func:`load_table`) and the streaming
    reader (streaming/jobs.py read_events_stream) so the two can never
    drift on the next encoding change.

    ``ts`` carries EPOCH semantics (naive wall-clock read as UTC): all
    engine bucketing happens on ``ts_ns`` or epoch-aligned ``window()``;
    do not apply session-timezone wall-clock extractions (``hour()``,
    ``date()``) to ``ts`` — in a non-UTC session they would disagree
    with the DuckDB oracle's naive reading of the same parquet values.
    """
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumnRenamed("ts", "ts_ns")
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts_ns", F.expr(_NTZ_EPOCH_US) * F.lit(1000))
    elif ts_type == "timestamp":
        df = df.withColumn("ts_ns", F.unix_micros("ts") * F.lit(1000))
    else:
        raise ValueError(
            f"unsupported events.ts dtype: {ts_type!r} "
            "(expected bigint epoch-nanos, timestamp_ntz, or timestamp)"
        )
    # Integer division, NOT float: epoch-scale int64 nanos exceed a
    # double's 53-bit mantissa, so (ts_ns / 1000).cast('long') is
    # off by ±1 us for a sizable fraction of rows.
    return df.withColumn("ts", F.timestamp_micros(F.expr("ts_ns div 1000")))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata parquet table; ``events`` is normalized
    via :func:`normalize_events_ts`."""
    if name == "events":
        set_events_compat_conf(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_events_ts(df)
    return df


def load_testdata(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every testdata table as a dict of DataFrames."""
    return {name: load_table(spark, sf_dir, name) for name in TESTDATA_TABLES}


def spread_small_scan(df: DataFrame, key: str) -> DataFrame:
    """Hash-repartition ``df`` on ``key`` to the session's parallelism —
    but ONLY when its current plan has fewer partitions, i.e. the input
    is a small scan (r13 optimization).

    Why it exists: a parquet file is splittable only at row-group
    boundaries, so a small table written as ONE row group scans as ONE
    task no matter what the split-size confs say — and every per-row
    expensive map (k-gram transforms, token explodes, vector
    fan-outs) downstream of it then runs on one core while the rest of
    the machine idles.  Measured at sf0.1/4 cores, spread on vs off
    (median warm pass): ``winnow_dedup_pairs`` 2.92 vs 3.87 s,
    ``diversity_distinct2_source`` 1.20 vs 2.30 s.

    Scale shape: at production scale the scan has thousands of splits,
    the predicate is false, and the plan is UNCHANGED — no exchange is
    ever added to a big input (repartitioning 100 TB to "spread" it
    would be the bug, not the fix).  The partition-count probe
    (``df.rdd.getNumPartitions()``) is free on a bare scan, but under
    AQE it runs any exchange upstream of ``df`` eagerly — which is why
    the MinHash/n-gram shingler does not spread: ``clean_corpus`` feeds
    it from behind the exact-dedup semi-join.

    Use ONLY on value-deterministic pipelines (per-row maps +
    aggregations).  Layout-sensitive consumers — seeded ``sample()``
    (per-partition seeds), IVF/PQ centroid seeding, greedy
    per-partition packing — must keep the scan's native layout, which
    is why this is opt-in per operator rather than inside
    :func:`load_table`.  The explicit partition count keeps AQE from
    coalescing the exchange back to one partition (AQE respects
    user-specified counts)."""
    import os

    if os.environ.get("SPARK_GRAFT_NO_SPREAD") == "1":  # A/B + kill switch
        return df
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, F.col(key))
