"""Scans over the driver's star-schema parquet tables (TESTDATA.md).

Reference analog: the 4 eager full-file CSV scans at
``usda_branded_food_data_pipeline.py:141-144``. Here scans are lazy,
columnar, and schema-on-read; Catalyst prunes columns and pushes
predicates into the parquet reader, which is the behavior the reference
lacked (SURVEY §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

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

def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return load_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize the events scan across driver testdata generations: the
    ``ts`` column has shipped both as TIMESTAMP(NANOS) (which Spark's
    vectorized reader only accepts as long via the legacy conf) and as a
    plain microsecond timestamp. Expose ``ts`` as a TimestampType
    microsecond instant (session TZ is pinned UTC, so the NTZ→TZ cast is
    identity on the wire) plus ``ts_ns`` as raw epoch nanos."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(raw.dtypes)["ts"]
    if ts_type == "bigint":
        # integer DIV, not double division: ns values ~1.7e18 exceed
        # double's 2^53 exact-integer range
        ts = F.timestamp_micros(F.expr("ts DIV 1000"))
        ts_ns = F.col("ts")
    else:
        ts = F.col("ts").cast("timestamp")
        ts_ns = (F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)).cast(
            "long"
        )
    return raw.select(
        "event_id",
        ts.alias("ts"),
        ts_ns.alias("ts_ns"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


# Spark's own inferred schema per parquet path, stored with the
# (name, mtime_ns, size) signature of the data files it came from — file
# METADATA, the same class as _ROW_GROUPS_CACHE below.  Inference costs a
# Spark job per read; a read with the memoized schema costs none.  A
# rewrite changes the signature, and the re-inferred entry replaces the
# stale one, so the memo holds one entry per path.
_PARQUET_SCHEMA_CACHE: dict[str, tuple[tuple, StructType]] = {}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema once per
    version of a local directory's data files (``_``/``.`` names are
    Spark's hidden files), under the conf of that first read."""
    import os as _os
    from urllib.parse import urlparse

    walk = _os.walk(urlparse(path).path or path)
    files = tuple(sorted(_os.path.join(d, f) for d, _, fs in walk for f in fs if f[0] not in "_."))
    if not files:  # a single file or a non-local store: no memo
        return spark.read.parquet(path)
    sig, cached = _stat_signature(files), _PARQUET_SCHEMA_CACHE.get(path)
    if cached is not None and cached[0] == sig:
        return spark.read.schema(cached[1]).parquet(path)
    df = spark.read.parquet(path)
    _PARQUET_SCHEMA_CACHE[path] = (sig, df.schema)
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] | list[str] = TABLES
) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL API."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


# spread()'s metadata probe, cached per (path, mtime_ns, size): the
# fixture tables are re-scanned by every query in a session, and the
# row-group count of an immutable file never changes.  This is file
# METADATA (one footer read), not query results — nothing here caches
# computation across runs.
_ROW_GROUPS_CACHE: dict[tuple[str, int, int], int] = {}

# narrow-only analyzed-plan heads: a plan made of these over one scan
# preserves the scan's partitioning, so the scan's row-group count IS
# the DataFrame's effective parallelism.  Anything else (Aggregate,
# Join, Window, Repartition, Union, ...) falls back to the exact RDD
# probe below.
_NARROW_HEADS = (
    "Project", "Filter", "Generate", "SubqueryAlias", "Relation", "View",
)


def _scan_row_groups(df: DataFrame) -> int | None:
    """Effective scan-task parallelism of a narrow plan over ONE parquet
    relation, from driver-side file metadata — or None when the plan
    shape/store makes the cheap probe unsound (caller falls back to the
    RDD partition count).

    Spark byte-splits parquet files, but a row group is read entirely by
    the one task whose split covers its midpoint — a single-row-group
    file is ONE non-empty task no matter how many splits (or how large
    ``maxPartitionBytes``), which is exactly the regime spread() exists
    for (its docstring).  Total row groups therefore bounds the scan's
    useful parallelism.
    """
    from urllib.parse import urlparse

    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return None
    for line in plan.splitlines():
        head = line.lstrip(" :+-")
        if head and not head.startswith(_NARROW_HEADS):
            return None
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    import os as _os

    total = 0
    for f in files:
        local = urlparse(f).path or f
        try:
            st = _os.stat(local)
        except OSError:
            return None  # non-local store: no cheap footer read
        key = (local, int(st.st_mtime_ns), st.st_size)
        n = _ROW_GROUPS_CACHE.get(key)
        if n is None:
            try:
                import pyarrow.parquet as pq

                n = int(pq.ParquetFile(local).metadata.num_row_groups)
            except Exception:
                return None  # not parquet / unreadable footer
            _ROW_GROUPS_CACHE[key] = n
        total += n
    return total


def spread(df: DataFrame) -> DataFrame:
    """Repartition up to cluster parallelism when the input has fewer
    partitions (single-row-group parquet files scan as ONE task, which
    serializes CPU-heavy downstream operators). No-op when the scan is
    already parallel — multi-row-group production files stay untouched.

    The partition probe reads parquet footers (cached) instead of
    forcing the plan→RDD conversion ``df.rdd.getNumPartitions()`` pays
    (~10-100 ms of analysis+planning per call × ~50 call sites — r11
    verdict task 5); non-scan inputs (literal DataFrames in tests,
    post-shuffle plans) keep the exact RDD probe."""
    target = df.sparkSession.sparkContext.defaultParallelism
    n = _scan_row_groups(df)
    if n is None:
        n = df.rdd.getNumPartitions()
    if n < target:
        return df.repartition(target)
    return df


# ---------------------------------------------------------------------------
# Explicit schema-on-read for the four staged USDA CSVs (SURVEY §1.3).
# Reference dtype override: utils/upload_data_to_pinecone.py:8 — the
# reference re-reads with dtype=str; here every production read carries an
# explicit type per known column (serving_size stays STRING: dirty values
# are coerced later by safe_cast_round, like pandas to_numeric(coerce)).
# Real USDA exports carry extra columns; the schema is built by NAME
# against the file's header (one-row text read), unknown columns default
# to STRING, so column order/width changes never silently shift types.
# ---------------------------------------------------------------------------

USDA_CSV_TYPES: dict[str, dict[str, str]] = {
    "branded_food": {
        "fdc_id": "bigint",
        "gtin_upc": "string",
        "ingredients": "string",
        "serving_size": "string",
        "serving_size_unit": "string",
    },
    "food": {"fdc_id": "bigint", "description": "string"},
    "nutrient": {"id": "bigint", "name": "string", "unit_name": "string"},
    "food_nutrient": {"fdc_id": "bigint", "nutrient_id": "bigint", "amount": "double"},
}


# header-probe results per resolved file list: the per-file probe costs
# one driver round trip per file, and re-reading the same staged release
# within a session (the hot path — every pipeline stage re-reads the
# staged CSVs) must not re-pay O(files) probes when nothing changed.
# Indexed by the resolved file-path tuple; the VALUE carries the stat
# signature (per-file mtime_ns + size — a driver-side stat, cheap next
# to a Spark read) alongside the probed headers, so a staged CSV
# rewritten IN PLACE with a different column order is re-probed instead
# of served stale headers (which would silently transpose values, the
# exact failure the probe exists to prevent) — and the re-probe
# REPLACES the superseded entry rather than stranding it, keeping the
# cache bounded by the number of distinct staging paths, not the number
# of re-stages (ADVICE r06, low: signature-keyed entries accumulated
# one per rewrite, unbounded driver memory in long re-staging sessions).
_HEADER_PROBE_CACHE: dict[
    tuple[str, ...], tuple[tuple, dict[str, tuple[str, ...]]]
] = {}


def _stat_signature(files: tuple[str, ...]) -> tuple:
    import os as _os
    from urllib.parse import urlparse

    sig = []
    for f in files:
        local = urlparse(f).path or f
        try:
            st = _os.stat(local)
            sig.append((f, int(st.st_mtime_ns), st.st_size))
        except OSError:
            # non-local store: no cheap stat — key by path only
            sig.append((f, None, None))
    return tuple(sig)


def read_usda_csv(spark: SparkSession, path: str, table: str) -> DataFrame:
    from functools import reduce

    from pyspark.sql import types as T

    dtypes = {"bigint": T.LongType(), "double": T.DoubleType(), "string": T.StringType()}
    types = USDA_CSV_TYPES[table]

    def schema_for(cols: list[str]) -> T.StructType:
        return T.StructType(
            [T.StructField(c, dtypes[types.get(c, "string")], True) for c in cols]
        )

    # header-only pass through the CSV source itself: quoted header names
    # (commas inside quotes) parse correctly — unlike a read.text(...)
    # .first() probe, which splits the header naively on ','.
    base = spark.read.option("header", True).csv(path)
    files = tuple(sorted(set(base.inputFiles())))
    if len(files) <= 1:
        # single file: header divergence is impossible, skip the probes
        return spark.read.option("header", True).schema(schema_for(base.columns)).csv(path)
    # With an explicit schema + header=True, Spark binds CSV columns
    # POSITIONALLY per file (the header row is merely skipped) — a glob
    # whose files disagree on column order would silently transpose
    # values. Probe each file's header (first line only; a USDA release
    # is dozens of files, not thousands) and fall back to per-file reads
    # + unionByName when they differ. Probes are cached per resolved
    # file list, so repeat loads of an unchanged staging dir cost zero
    # extra driver round trips.
    sig = _stat_signature(files)
    cached = _HEADER_PROBE_CACHE.get(files)
    if cached is not None and cached[0] == sig:
        headers = cached[1]
    else:
        headers = {
            f: tuple(spark.read.option("header", True).csv(f).columns) for f in files
        }
        _HEADER_PROBE_CACHE[files] = (sig, headers)
    if len(set(headers.values())) <= 1:
        return spark.read.option("header", True).schema(schema_for(base.columns)).csv(path)
    parts = [
        spark.read.option("header", True).schema(schema_for(list(h))).csv(f)
        for f, h in headers.items()
    ]
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)
