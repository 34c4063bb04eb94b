"""Query-spec plumbing for the driver contract.

A :class:`QuerySpec` pairs a Spark query callable ``(spark, sf_dir) ->
DataFrame`` with the equivalent ANSI SQL that DuckDB runs as the
correctness oracle.  ``oracle=None`` marks genuinely non-SQL-expressible
ops (stateful streaming, iterative fixpoints) — the driver then records a
weaker rows-only check.

Determinism rules used by every spec (so order-insensitive value hashes
match across engines):

- double SUM/AVG go through ``CAST(SUM(CAST(x AS DECIMAL(18,6))) AS
  DOUBLE)`` on both sides — decimal addition is exact and associative, so
  Spark's partial-aggregate order vs DuckDB's single-threaded order can't
  change bits;
- every window/rank is ordered by a total key (unique tie-break column);
- similarity scores are rounded before thresholding/ranking so float
  association differences (1e-15) can't flip a comparison;
- computed integer columns are cast to BIGINT on both sides.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""


def scratch_dir(prefix: str) -> str:
    """Process-scoped scratch directory for intermediate parquet (KG
    fixture stores, sink round-trips, streaming checkpoints, mock
    endpoints).

    Root comes from ``SPARK_GRAFT_SCRATCH_ROOT`` (default: the system
    temp dir).  Every directory created here is registered for
    ``atexit`` removal, so repeated sessions don't accumulate orphaned
    ``/tmp`` trees (the round-5 ``tempfile.mkdtemp`` call sites leaked
    one per fixture per process).

    CLUSTER NOTE: these paths are written by executors and re-read by
    ``spark.read.parquet``, which is only correct when driver and
    executors share the filesystem — i.e. local mode, or a scratch
    root on shared storage (NFS, HDFS/S3 via a mounted path).  On a
    real cluster set ``SPARK_GRAFT_SCRATCH_ROOT`` to a shared
    location; a driver-local ``/tmp`` root will produce
    empty-directory reads.
    """
    import atexit
    import shutil
    import tempfile

    root = os.environ.get("SPARK_GRAFT_SCRATCH_ROOT")
    if root:
        os.makedirs(root, exist_ok=True)
    d = tempfile.mkdtemp(prefix=prefix, dir=root or None)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


# Session-scoped memo of loaded table frames.  ``spark.read.parquet``
# costs a schema-inference py4j round trip (~0.3-0.6 s) every call; a
# bench/oracle run issues hundreds of t() calls over the same ten
# paths.  DataFrames are immutable plans — reusing one is free.
_TABLE_MEMO: dict[tuple, DataFrame] = {}


_MEMO_LOCK = threading.Lock()
_MISS = object()


def memo_get(memo: dict, key, build, cap: int = 512):
    """The ONE bounded get-or-build every module-level memo uses: return
    ``memo[key]``, building and storing it on a miss, and evict the
    oldest entry (FIFO) once ``cap`` entries are held.  ``build`` runs
    outside the lock: two threads that miss together both build, and
    the later store wins."""
    value = memo.get(key, _MISS)
    if value is not _MISS:
        return value
    value = build()
    with _MEMO_LOCK:
        if len(memo) >= cap:
            memo.pop(next(iter(memo)))
        memo[key] = value
    return value


def source_memo(memo: dict, spark: SparkSession, path: str, build,
                extra=None, cap: int = 512):
    """The source-keyed memo discipline: key on (applicationId, path,
    mtime, extra) so a regenerated source file — or a new session —
    invalidates instead of serving stale state, bounded by
    :func:`memo_get`.  applicationId, not id(spark): a stopped session's
    id() can be reused by a later allocation; the string id is stable
    and unique per app.  Used by :func:`t`'s table memo and streaming's
    schema memo."""
    try:
        mtime = os.path.getmtime(path)
    except OSError:
        mtime = None
    key = (spark.sparkContext.applicationId, path, mtime, extra)
    return memo_get(memo, key, build, cap)


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts``'s physical forms to TIMESTAMP — ONE copy
    of the two-branch conversion (see :func:`t`'s docstring for the
    forms), shared by the batch loader and the streaming reader
    (``streaming.windows.read_events_stream``); a third physical form
    needs ONE new branch here, not three (the round-3 failure class).
    ``events_in_range`` keeps its own pushdown-ordered variant: it must
    filter the RAW column before converting."""
    from pyspark.sql import functions as F

    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a star-schema table.

    ``events.parquet``'s ``ts`` has shipped in two physical forms across
    driver testdata generations; normalize both to TIMESTAMP (with the
    session timezone pinned to UTC in session.py the values agree):

    - TIMESTAMP(NANOS), which Spark's parquet reader rejects — read
      nanos as long and convert with integer division (``div`` stays in
      long space; double division would lose µs precision at 1.7e18 ns
      epochs);
    - timestamp[us] → TIMESTAMP_NTZ, which ``withWatermark`` rejects —
      plain cast.
    """
    # keyed on file mtime so a driver that regenerates testdata
    # in-session (possibly with a different physical ts form — the
    # round-3 failure class) invalidates the frozen plan instead of
    # serving it stale; the stat is one syscall per t() call
    path = os.path.join(sf_dir, f"{name}.parquet")

    def build() -> DataFrame:
        if name == "events":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            return normalize_event_ts(spark.read.parquet(path))
        return spark.read.parquet(path)

    return source_memo(_TABLE_MEMO, spark, path, build,
                       extra=(sf_dir, name))


def events_in_range(
    spark: SparkSession, sf_dir: str, start: str, end: str
) -> DataFrame:
    """Time-range scan of events WITH predicate pushdown.

    Filtering the converted timestamp column defeats pushdown (the
    predicate sits on a computed expression, so the parquet scan reads
    every row group).  Instead convert the *bounds* to epoch nanos —
    foldable literals — and filter the raw int64 column: the plan then
    shows ``PushedFilters: [GreaterThanOrEqual(ts,...)]`` and row-group
    stats prune the scan.  At 100 TB of time-partitioned events this is
    the difference between reading a day and reading the decade.
    """
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        # parse bounds with to_timestamp (accepts date-only and ISO-T
        # forms, same as the other two branches) before converting to
        # epoch ns — bare unix_timestamp(str) demands the one fixed
        # 'yyyy-MM-dd HH:mm:ss' pattern and silently NULLed other
        # shapes, turning the range filter into zero rows
        ns = F.lit(1_000_000_000).cast("long")
        lo = F.unix_timestamp(F.to_timestamp(F.lit(start))).cast("long") * ns
        hi = F.unix_timestamp(F.to_timestamp(F.lit(end))).cast("long") * ns
        df = df.filter((F.col("ts") >= lo) & (F.col("ts") < hi)).withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    elif ts_type == "timestamp_ntz":
        # Filter the raw NTZ column with NTZ literals so the predicate
        # sits on the scanned column (PushedFilters + row-group pruning),
        # THEN cast for watermark/display compatibility.  Filtering a
        # cast(ts) expression would defeat pushdown.
        df = df.filter(
            (F.col("ts") >= F.to_timestamp_ntz(F.lit(start)))
            & (F.col("ts") < F.to_timestamp_ntz(F.lit(end)))
        ).withColumn("ts", F.col("ts").cast("timestamp"))
    else:
        df = df.filter(
            (F.col("ts") >= F.to_timestamp(F.lit(start)))
            & (F.col("ts") < F.to_timestamp(F.lit(end)))
        )
    return df


# SQL fragments for the decimal-sum determinism trick.
def dsum(expr: str, alias: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE) AS {alias}"


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly materialize a small intermediate that the downstream plan
    references more than once.

    Spark does not share identical subplans across DataFrame branches —
    a gram/signature table referenced by three joins would be recomputed
    (re-scan + re-shingle) three times.  ``localCheckpoint(eager=True)``
    computes it once and truncates lineage.  Local checkpoints live on
    executor storage; on a multi-node cluster prefer
    ``persist(StorageLevel.MEMORY_AND_DISK)`` or a reliable checkpoint
    dir for fault tolerance — the call site is the same.
    """
    return df.localCheckpoint(eager=True)
