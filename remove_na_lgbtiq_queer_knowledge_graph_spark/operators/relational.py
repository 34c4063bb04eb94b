"""Named relational idioms (SURVEY.md §2.2-2.8).

Each function is a thin DataFrame→DataFrame operator mirroring a tidyverse
pattern the reference uses pervasively.  They are deliberately *plans*,
not actions: Catalyst sees the whole composed query, so pushdown, pruning
and join selection work across operator boundaries.

Determinism note: every window is ordered by a *total* key (ties broken
by a unique column) so results are stable across partitionings — required
for oracle comparison and for reproducible runs on a 1000-executor
cluster.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..spec import memo_get


def keep_first_per_group(
    df: DataFrame, keys: Sequence[str], order: Sequence[Column]
) -> DataFrame:
    """W2: ``group_by(...) %>% filter(row_number()==1)`` dedupe.

    Reference: ``chronik/02-distinct-entities-from-chronik.R:36-38``,
    ``apps/entity-resolver/index.Rmd:296-299``.
    """
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def argmax_per_group(
    df: DataFrame, keys: Sequence[str], score: Column, tiebreak: Sequence[Column] = ()
) -> DataFrame:
    """A4/J12: keep row(s) with the max score per group (best-match join
    tail).  Reference: ``data-linking/book-authors-viaf.R:52-58``."""
    w = Window.partitionBy(*keys).orderBy(score.desc(), *tiebreak)
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk")
    )


def elect_first_per_group(
    df: DataFrame, keys: Sequence[str], order: Sequence[Column], col: str, out: str
) -> DataFrame:
    """W3: canonical-value election — ``arrange(...) %>% mutate(x =
    first(x))``.  Reference: ``chronik/02:250-254``."""
    w = Window.partitionBy(*keys).orderBy(*order)
    return df.withColumn(out, F.first(col).over(w))


def fill_down(df: DataFrame, col: str, order: Sequence[Column]) -> DataFrame:
    """W7: tidyr ``fill(.direction="down")`` — last non-null so far.

    Reference: ``data-gathering/from-pdf/themengeschichtspfad.R:68``.
    Note: a global ordered fill serializes into one partition; at scale,
    partition by a document/section key first (pass it via ``order`` on a
    pre-partitioned frame or use fill_down_grouped).
    """
    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn(col, F.last(col, ignorenulls=True).over(w))


def fill_down_grouped(
    df: DataFrame, col: str, keys: Sequence[str], order: Sequence[Column]
) -> DataFrame:
    """Partitioned fill-down — the scale-safe variant."""
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.withColumn(col, F.last(col, ignorenulls=True).over(w))


def string_agg(
    df: DataFrame, keys: Sequence[str], col: str, out: str, sep: str = ", "
) -> DataFrame:
    """A1: per-key ordered string aggregation (``glue_collapse`` per group,
    reference ``from-citavi/books.R:55-57``).

    ``collect_list`` order is partition-dependent, so we sort the array —
    deterministic at any scale.
    """
    return df.groupBy(*keys).agg(
        F.array_join(F.array_sort(F.collect_list(col)), sep).alias(out)
    )


def explode_delimited(df: DataFrame, col: str, sep: str, out: str | None = None) -> DataFrame:
    """R1: ``separate_rows`` — split a delimited string into rows, trimmed.

    ``sep`` is a LITERAL delimiter (the separate_rows contract), not a
    regex: F.split takes a Java regex, so an unescaped '|' matches the
    empty string (one row per character) and '.' matches everything —
    the separator is regex-quoted before it reaches split.

    Reference: ``books.R:131-134``.
    """
    import re as _re

    out = out or col
    return df.withColumn(
        out,
        F.explode(F.transform(F.split(F.col(col), _re.escape(sep)), F.trim)))


def melt(df: DataFrame, ids: Sequence[str], value_cols: Sequence[str],
         var_name: str = "variable", value_name: str = "value") -> DataFrame:
    """R3: wide→long (``pivot_longer``, 67 uses in the reference)."""
    pairs = ", ".join(f"'{c}', `{c}`" for c in value_cols)
    stack_expr = f"stack({len(value_cols)}, {pairs}) as (`{var_name}`, `{value_name}`)"
    return df.selectExpr(*ids, stack_expr)


def pivot_wide(
    df: DataFrame, keys: Sequence[str], name_col: str, value_col: str,
    names: Sequence[str],
) -> DataFrame:
    """R4: long→wide (``pivot_wider``).  Passing explicit ``names`` avoids
    the extra distinct-scan Spark needs to discover pivot values — the
    same reason ``pivot_wider`` wants ``names_expected`` at scale."""
    return df.groupBy(*keys).pivot(name_col, list(names)).agg(F.first(value_col))


def anti_incremental(df: DataFrame, done: DataFrame, on: Sequence[str]) -> DataFrame:
    """J4: the incremental idiom — exclude already-processed keys before
    expensive work.  Reference: ``lobid/02-search-via-author-title.R:36-49``.

    No dedupe on the done side: duplicate keys on the right of an
    anti-join are harmless, and a dropDuplicates would insert a full
    extra shuffle of the done table."""
    return df.join(done.select(*on), list(on), "left_anti")


def fixedpoint_sums(
    df: DataFrame,
    keys: Sequence[str],
    sums: Sequence[tuple[Column, str]],
    *,
    count_alias: str | None = None,
) -> DataFrame:
    """Deterministic multi-SUM aggregation in fixed-point long space.

    The repo's determinism rule sums doubles as DECIMAL(18,6) so the
    result is independent of partial-aggregate order.  Spark's decimal
    SUM widens past precision 18, which leaves the compact-long Decimal
    representation and runs every row through BigDecimal — measured ~6×
    slower than a double sum on the hot path (TPC-H Q1 shape).  This
    operator keeps the bit-exact contract at long-sum speed:

    1. per row, quantize each term to integer micros with
       ``floor(x·1e6 + 0.5) → long`` — pure IEEE multiply/add/floor in
       whole-stage codegen (Spark's ``round`` on doubles itself detours
       through BigDecimal, which would reintroduce the cost this
       operator removes).  Half-up; on negative values this rounds
       half-toward-+∞ rather than away from zero, identically in both
       engines, so determinism is unaffected;
    2. partial-sum the micros per (group, input partition) — map-side
       combine means each scan task emits one row per group, and a long
       partial cannot overflow: |partial| ≤ rows-per-partition × |x|·1e6,
       bounded by ``spark.sql.files.maxPartitionBytes`` (128 MB ≈ ≤4M
       rows ≈ ≤4e17 for values up to 1e5 — two orders under 2^63);
    3. combine the per-partition partials as DECIMAL(38,0) — exact,
       associative, and only (groups × partitions) rows ever reach the
       decimal path;
    4. emit ``cast(total as double) / 1e6``.

    The oracle twin is ``CAST(SUM(CAST(floor(x*1e6 + 0.5) AS BIGINT))
    AS DOUBLE) / 1e6`` (DuckDB sums BIGINT into exact HUGEINT): both
    engines floor an IEEE-identical product, sum exactly, and convert
    the same integer to double — bit-equal.
    Note the quantization point differs from the DECIMAL(18,6) helper by
    at most one ulp of the 6th decimal (double-string vs double-product
    rounding), so a query's Spark AND SQL sides must pick the same
    helper family.

    Intended regime: LOW-cardinality groups (aggregate dashboards,
    pricing summaries) where per-row decimal cost dominates.  For
    high-cardinality groups (≈1 row per group) the per-row decimal work
    is negligible and plain ``sum(cast(x as decimal))`` is simpler.
    """
    micros = [
        F.floor(expr * F.lit(1_000_000.0) + F.lit(0.5)).alias(f"__m{i}")
        for i, (expr, _) in enumerate(sums)
    ]
    partial = (
        df.select(*keys, *micros)
        .groupBy(*keys, F.spark_partition_id().alias("__pid"))
        .agg(
            *[F.sum(f"__m{i}").alias(f"__s{i}") for i in range(len(sums))],
            F.count(F.lit(1)).alias("__n"),
        )
    )
    finals = [
        (F.sum(F.col(f"__s{i}").cast("decimal(38,0)")).cast("double")
         / F.lit(1_000_000.0)).alias(alias)
        for i, (_, alias) in enumerate(sums)
    ]
    if count_alias is not None:
        finals.append(F.sum("__n").alias(count_alias))
    return partial.groupBy(*keys).agg(*finals)


def fsum_sql(expr: str, alias: str) -> str:
    """Oracle-side twin of one :func:`fixedpoint_sums` column."""
    return (f"CAST(SUM(CAST(floor(({expr}) * 1000000.0 + 0.5) AS BIGINT))"
            f" AS DOUBLE) / 1000000.0 AS {alias}")


def assert_unique(df: DataFrame, keys: Sequence[str]) -> None:
    """§5 assertion op: fail fast when a key is not unique.

    Reference: ``testdat::expect_unique`` inline assertions
    (``poster-books/01:112-115``, ``books.R:171-179``).
    """
    dup = df.groupBy(*keys).count().filter(F.col("count") > 1)
    offenders = dup.limit(5).collect()
    if offenders:
        raise AssertionError(f"keys {list(keys)} not unique; sample dupes: {offenders}")


def assert_no_null(df: DataFrame, cols: Sequence[str]) -> None:
    """§5 completeness assertion (``12-events.R:112-115``).

    An empty ``cols`` is vacuously true and returns without running a
    job (df.filter(None) would raise a confusing PySparkTypeError from
    deep inside an assertion helper)."""
    if not cols:
        return
    pred = None
    for c in cols:
        p = F.col(c).isNull()
        pred = p if pred is None else (pred | p)
    bad = df.filter(pred).limit(5).collect()
    if bad:
        raise AssertionError(f"null values in {list(cols)}; sample: {bad}")


# salted_join "auto" skew estimates, keyed by (session, fact-plan
# semanticHash, key, params).  Hot-key lists are tiny (≤ 1/hot_share).
_HOT_KEY_MEMO: dict[tuple, list] = {}

# interval_join auto-width estimates — same per-plan memo contract
_AUTO_WIDTH_MEMO: dict[tuple, float] = {}


def salted_join(
    fact: DataFrame, dim: DataFrame, key: str, n_salts: int = 16,
    how: str = "inner", hot_keys: Sequence | str | None = "auto",
    hot_share: float = 0.02, sample_rows: int = 100_000,
    sample_fraction: float = 0.01,
) -> DataFrame:
    """Skew-resistant equi-join: spread HOT fact keys over ``n_salts``
    sub-partitions via a deterministic salt, replicate the dim rows for
    those keys across all salts, and join cold keys with a plain join.

    Semantically identical to ``fact.join(dim, key, how)`` for
    ``how in ('inner', 'left')`` — the salt is an execution detail that
    never reaches the output.  Right/full joins are rejected: the dim
    side is exploded across ``n_salts`` salts, so an unmatched dim row
    would be emitted once per salt.

    Salting everything makes the common (unskewed) case ``n_salts``×
    more expensive on the dim side to protect against the rare hot key,
    so the replication is scoped to keys known or estimated to be hot:

    - ``hot_keys=<sequence>`` — explicit hot-key values (a viral
      document id, a null-bucket fk) salt; everything else plain-joins.
    - ``hot_keys="auto"`` (default) — estimate from a bounded sample of
      the fact side: a ``sample_fraction`` spread sample truncated at
      ``sample_rows`` (so at 100 TB the estimate costs a partial scan,
      not a pass).  The EFFECTIVE sample is therefore
      ``min(sample_rows, ~sample_fraction·|fact|)`` — raising
      ``sample_rows`` alone only helps once ``|fact| >
      sample_rows/sample_fraction``; raise ``sample_fraction`` if hot
      keys cluster late in partition order.  On small facts where the
      fraction yields a noisy sample (< 1000 rows and < sample_rows)
      the estimator falls back to a ``limit(sample_rows)`` prefix scan
      — cheap exactly because such a fact is small.
    - ``hot_keys=None`` / empty — plain join (AQE's skew-join already
      rebalances moderate *sorted-shuffle* skew; explicit salting is for
      the extreme keys and for aggregations-after-join with AQE off).

    Hot keys are by construction few (share > ``hot_share`` → at most
    ``1/hot_share``), so the hot-key list is driver-side metadata.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how in ('inner', 'left'), got {how!r}: "
            "replicated dim rows would duplicate unmatched right-side output"
        )
    if isinstance(hot_keys, str):
        if hot_keys != "auto":
            raise ValueError(f"hot_keys must be a sequence, 'auto', or None, got {hot_keys!r}")
        # One bounded job: Arrow-transfer the sampled key column and
        # count on the driver (a hot key at share p appears ~p*n times
        # in an n-row sample; n in the thousands resolves hot_share=2%).
        # The estimate is a pure function of the fact plan + params, so
        # memoize it per plan (semanticHash) like table statistics — a
        # bench/pipeline that re-executes the same join pays the
        # sampling job once per session, not per execution.
        # applicationId (not id(session)): a stable string that cannot
        # be reused by a later session the way a garbage-collected
        # object's id() can
        memo_key = (
            fact.sparkSession.sparkContext.applicationId,
            fact._jdf.queryExecution().analyzed().semanticHash(),
            key, hot_share, sample_rows, sample_fraction,
        )

        def sample_hot_keys() -> list:
            pdf = (
                fact.select(key)
                .sample(fraction=float(sample_fraction), seed=42)
                .limit(sample_rows)
                .toPandas()
            )
            if len(pdf) < min(sample_rows, 1000):
                # fraction yielded a statistically useless sample — the
                # fact is small, so a bounded prefix scan is cheap and
                # makes hot/cold classification deterministic instead
                # of coin-flip noise on ~50 rows
                pdf = fact.select(key).limit(sample_rows).toPandas()
            total = len(pdf) or 1
            vc = pdf[key].value_counts(dropna=True)
            hot = [k for k, n in vc.items() if n / total > hot_share]
            if pdf[key].dtype.kind in "iu":  # numpy ints → Python for isin
                hot = [int(k) for k in hot]
            return hot

        # bound driver-side growth
        hot = memo_get(_HOT_KEY_MEMO, memo_key, sample_hot_keys, cap=256)
    else:
        hot = [k for k in (hot_keys or []) if k is not None]

    if not hot:
        return fact.join(dim, key, how)

    kc = F.col(key)
    f_hot = fact.filter(kc.isin(hot))
    f_cold = fact.filter(~kc.isin(hot) | kc.isNull())
    d_hot = dim.filter(F.col(key).isin(hot)).withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    salt = F.pmod(F.xxhash64(*[c for c in fact.columns]), F.lit(n_salts))
    salted = (
        f_hot.withColumn("__salt", salt.cast("int"))
        .join(d_hot, [key, "__salt"], how)
        .drop("__salt")
    )
    return f_cold.join(dim, key, how).unionByName(salted)


def dense_ids(
    df: DataFrame, order: Sequence[str], out: str = "id",
    num_partitions: int | None = None,
    materialize_parted: bool = True,
) -> DataFrame:
    """W1 at scale: dense 1..N surrogate keys in ``order`` without a
    global single-partition sort.

    ``row_number() OVER (ORDER BY ...)`` funnels the whole table through
    ONE task — the classic 100 TB killer.  This is the two-pass
    dense-id plan instead (the DataFrame form of ``zipWithIndex``):

    1. ``repartitionByRange`` + ``sortWithinPartitions`` on the order
       key — range partitions are non-overlapping and internally sorted,
       so global rank = per-partition offset + within-partition position.
    2. Per-partition row counts are collected to the driver (ONE row per
       partition — metadata, not data) and turned into cumulative
       offsets.
    3. An Arrow-batched ``mapInPandas`` pass assigns
       ``offset[pid] + position`` with a running counter.  No window, no
       second shuffle, no single-partition exchange.

    ``materialize_parted`` (default TRUE) localCheckpoints the
    partitioned frame between the passes — this is a CORRECTNESS
    requirement, not an optimization: the count pass and the assign
    pass otherwise each re-execute the range shuffle, and Spark's
    range-boundary SAMPLING is seeded per RDD id, so two executions
    can draw different boundaries.  Rows near a boundary then land in
    different partitions across the passes, the driver's offsets no
    longer describe the assign pass's partition sizes, and the emitted
    ids gap/overlap (observed at sf0.1: 10 of 15k ids lost —
    zipWithIndex has always demanded a stable input for the same
    reason).  Pass ``False`` only to inspect the lazy plan shape.
    ``order`` must be a total key (repo determinism rule) — equal keys
    split across a partition boundary would otherwise make ids
    order-ambiguous anyway.
    """
    from pyspark.sql import types as T

    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    parted = (
        df.repartitionByRange(n, *[F.col(c) for c in order])
        .sortWithinPartitions(*order)
        .withColumn("__pid", F.spark_partition_id())
    )
    if materialize_parted:
        from ..spec import materialize

        parted = materialize(parted)
    counts = {
        r["__pid"]: r["cnt"]
        for r in parted.groupBy("__pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]

    out_schema = T.StructType(df.schema.fields + [T.StructField(out, T.LongType())])

    def assign(batches):
        import numpy as np

        base = None
        seen = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if base is None:
                base = offsets.get(int(pdf["__pid"].iloc[0]), 0)
            pdf = pdf.drop(columns="__pid")
            start = base + seen + 1
            pdf[out] = np.arange(start, start + len(pdf), dtype="int64")
            seen += len(pdf)
            yield pdf

    return parted.mapInPandas(assign, schema=out_schema)


def grouped_running_sum(
    df: DataFrame, group: Sequence[str], order: Sequence[str],
    value_col: str, out: str = "running",
    num_partitions: int | None = None,
    max_meta_rows: int | None = 100_000,
) -> DataFrame:
    """Per-group INCLUSIVE running sum of ``value_col`` in ``order``,
    without the per-group window sort that funnels a huge group through
    one task (``SUM() OVER (PARTITION BY g ORDER BY ...)`` is fine for
    many small groups; a corpus with a handful of giant sources is the
    opposite regime).

    Same two-pass shape as :func:`dense_ids`: range partition on
    ``(group..., order...)`` + sortWithinPartitions; per-(partition,
    group) partial sums come back as metadata (one row per group-slice
    per partition); cumulative offsets per group across partitions; an
    Arrow pass adds ``offset + within-partition running total``.
    ``group + order`` must be a total key (repo determinism rule).

    Regime guard: the two-pass plan's driver metadata is one row per
    (partition × group-slice).  That is tiny for its intended regime
    (few giant groups) but a driver bomb for high-cardinality groups —
    so the group count is estimated first (``approx_count_distinct``,
    one map-side-combinable job) and when ``partitions × groups``
    would exceed ``max_meta_rows`` the op falls back to the plain
    window formulation, which is exactly right for many small groups
    (each group sorts within one task).  ``max_meta_rows=None``
    disables the estimate job and forces the two-pass plan.
    """
    from pyspark.sql import types as T

    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism

    vtype = dict(df.dtypes)[value_col]
    if vtype in ("double", "float"):
        out_type = T.DoubleType()
    elif vtype in ("tinyint", "smallint", "int", "bigint", "long"):
        out_type = T.LongType()
    else:
        # decimal (or anything else) would be SILENTLY truncated by the
        # long fallback (1.5 + 2.7 → 4) — refuse instead
        raise ValueError(
            f"grouped_running_sum: unsupported value_col type {vtype!r}; "
            "cast to bigint or double first (a decimal column would be "
            "silently truncated by the integer sum path)")

    if max_meta_rows is not None:
        n_groups = df.agg(
            F.approx_count_distinct(F.concat_ws("\x1f", *group)).alias("g")
        ).collect()[0]["g"]
        if n * n_groups > max_meta_rows:
            w = (
                Window.partitionBy(*group)
                .orderBy(*[F.col(c) for c in order])
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            return df.withColumn(
                out, F.sum(value_col).over(w).cast(out_type)
            )

    keys = [F.col(c) for c in (*group, *order)]
    # canonical STRING group key for the driver↔pandas handshake: raw
    # tuples break in two ways — a NULL in a numeric/datetime group
    # column arrives in pandas as NaN/NaT (hashes unequal to the
    # driver's None), and the NaN coerces the whole pandas column to
    # float so even non-null int keys stop matching.  md5-over-JSON-
    # array keeps NULLs distinct (to_json of an ARRAY keeps nulls; the
    # concat_ws form would collapse them — the similarity.py lesson).
    gk = F.md5(F.to_json(F.array(
        *[F.col(c).cast("string") for c in group])))
    parted = (
        df.repartitionByRange(n, *keys)
        .sortWithinPartitions(*group, *order)
        .withColumn("__pid", F.spark_partition_id())
        .withColumn("__gk", gk)
    )
    # materialize between the passes — same CORRECTNESS requirement as
    # dense_ids: the partial-sum collect and the mapInPandas pass would
    # otherwise each re-execute the range shuffle, whose boundary
    # sampling is seeded per RDD id; divergent boundaries make the
    # driver offsets describe the wrong partition slices
    from ..spec import materialize

    parted = materialize(parted)
    parts = (
        parted.groupBy("__pid", "__gk")
        .agg(F.sum(value_col).alias("__psum"))
        .collect()
    )
    offsets: dict[tuple, float] = {}
    seen_prior: dict[tuple, bool] = {}
    acc: dict[str, float] = {}
    for r in sorted(parts, key=lambda r: r["__pid"]):
        gkey = r["__gk"]
        offsets[(r["__pid"], gkey)] = acc.get(gkey, 0)
        seen_prior[(r["__pid"], gkey)] = gkey in acc
        # __psum is NULL only for a slice whose values are ALL NULL —
        # it contributes nothing and does not mark the group as seen
        # (SQL's running sum stays NULL until the first non-null value)
        if r["__psum"] is not None:
            acc[gkey] = acc.get(gkey, 0) + r["__psum"]

    out_schema = T.StructType(df.schema.fields + [T.StructField(out, out_type)])

    def add_running(batches):
        import pandas as pd

        run: dict[str, float] = {}
        seen: dict[str, bool] = {}
        pid = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if pid is None:
                pid = int(pdf["__pid"].iloc[0])
            vals = []
            for gkey, v in zip(pdf["__gk"], pdf[value_col]):
                if gkey not in run:
                    run[gkey] = offsets.get((pid, gkey), 0)
                    seen[gkey] = seen_prior.get((pid, gkey), False)
                # NULL values arrive as NaN through Arrow; the window
                # fallback's F.sum skips them — one NaN must not poison
                # every later running value of the group.  Parity with
                # the fallback also means NULL (not 0) until a group's
                # first non-null value: sum-of-nothing is NULL in SQL.
                if pd.notna(v):
                    run[gkey] += v
                    seen[gkey] = True
                vals.append(run[gkey] if seen[gkey] else None)
            pdf = pdf.drop(columns=["__pid", "__gk"])
            pdf[out] = vals
            yield pdf

    return parted.mapInPandas(add_running, schema=out_schema)


def asof_join(
    left: DataFrame, right: DataFrame, key: str, ts: str,
    value_cols: Sequence[str], tie_break: str | None = None,
    direction: str = "backward",
) -> DataFrame:
    """As-of join: each left row picks the latest right row with
    ``right.ts <= left.ts`` per key (``direction="backward"``, the
    default) or the EARLIEST right row with ``right.ts >= left.ts``
    (``direction="forward"`` — next-event enrichment: time-to-next-
    purchase, next maintenance window).  Spark has no native asof.

    Implemented the scale-correct way: tag both sides, union, one
    window sorted by (ts, side[, tie]) per key — ts DESCENDING for the
    forward direction, which makes 'earliest following' the same
    fill-down recurrence — fill the right values down, keep left rows.
    ONE shuffle on the key and no range-join blowup — the naive
    ``ON r.ts <= l.ts`` join explodes to the full per-key cross
    product before aggregation.  Ties at equal ts are resolved
    right-row-first (so an exact-ts match is visible in BOTH
    directions) and by ``tie_break`` among simultaneous right rows
    (keep the max) — total order, deterministic.

    All value columns are carried as ONE struct and filled together, so
    every left row is enriched from a single latest right row — a right
    row with NULL in one value column still supplies its (null) value
    rather than being skipped for that column only, which would mix
    values from different right rows.
    """
    lcols = [c for c in left.columns]
    # a value_col shadowing a LEFT column would silently overwrite the
    # left frame's data with right-side values in the output — refuse.
    # key/ts included: a value_col named after them would clobber the
    # join key / as-of timestamp itself (NULL on unmatched left rows)
    collide = set(value_cols) & set(lcols)
    if collide:
        raise ValueError(
            f"asof_join: value_cols {sorted(collide)} collide with left "
            "columns — rename the right-side columns before joining")
    rtypes = dict(right.dtypes)
    vals_ddl = "struct<" + ",".join(f"`{v}`:{rtypes[v]}" for v in value_cols) + ">"
    tagged_l = left.select(
        *[F.col(c) for c in lcols],
        F.lit(None).cast(vals_ddl).alias("__vals"),
        F.lit(1).alias("__side"),
    )
    # a NULL-ts right row can never satisfy r.ts <= l.ts / >= l.ts, but
    # under asc NULLS FIRST it would sort to the partition head and
    # fill down into every early left row (and desc NULLS LAST mirrors
    # it forward) — drop them before the union
    tagged_r = right.filter(F.col(ts).isNotNull()).select(
        F.col(key),
        F.col(ts),
        *[F.lit(None).cast(dict(left.dtypes)[c]).alias(c)
          for c in lcols if c not in (key, ts)],
        F.struct(*[F.col(v) for v in value_cols]).alias("__vals"),
        F.lit(0).alias("__side"),
    ).select(*[F.col(c) for c in tagged_l.columns])
    if direction not in ("backward", "forward"):
        raise ValueError(
            f"direction must be 'backward' or 'forward', got {direction!r}")
    ts_order = F.col(ts) if direction == "backward" else F.col(ts).desc()
    order = [ts_order, F.col("__side")]
    if tie_break:
        order.append(
            F.col("__vals").getField(tie_break)
            if tie_break in value_cols
            else F.col(tie_break)
        )
    w = (
        Window.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        tagged_l.unionByName(tagged_r)
        .withColumn("__vals", F.last("__vals", ignorenulls=True).over(w))
        .filter(F.col("__side") == 1)
        # a NULL-ts LEFT row has no defined as-of point: under the
        # forward ordering (desc NULLS LAST) it would inherit the
        # minimum-ts right row — the oracle's r.ts >= l.ts yields NULL,
        # so the values must be NULL here too
        .withColumn("__vals", F.when(F.col(ts).isNull(),
                                     F.lit(None).cast(vals_ddl))
                    .otherwise(F.col("__vals")))
    )
    for v in value_cols:
        out = out.withColumn(v, F.col("__vals").getField(v))
    return out.drop("__vals", "__side")


def interval_join(
    points: DataFrame, intervals: DataFrame, point_col: str,
    start_col: str, end_col: str, keys: Sequence[str] = (),
    bin_width: float | None = 1800.0, max_bins_per_interval: int = 1024,
    width_sample_rows: int = 100_000,
) -> DataFrame:
    """Point-in-interval range join: every (point, interval) pair with
    ``start <= point <= end`` (and equal ``keys``), the join family
    member Spark has no native operator for.  Expressed the naive way
    (``ON key = key AND p BETWEEN start AND end``) Catalyst hash-joins
    on the key and evaluates the range RESIDUALLY against every
    interval of that key — per-point work ∝ intervals-per-key, the
    per-key cross product (with no key at all it degrades to a full
    BroadcastNestedLoopJoin).  Measured (tools/stress_interval.py,
    sf0.1): naive 0.15 s → 2.5 s as intervals-per-key grows 26 → 19.5k
    while this operator stays flat ≈ 0.17 s at identical output.

    Implemented as the BINNED EQUI-JOIN (the interval-bucketing
    strategy of spatial and range joins): each interval explodes to
    the fixed-width bins it covers (``floor(start/w) .. floor(end/w)``,
    ∝ interval length / w rows), each point maps to its single bin, and
    the join becomes an equi-join on (*keys, bin) with the exact range
    predicate as a post-filter.  A point's bin is unique, so each
    qualifying pair is produced exactly once — no dedup pass.  Shuffle
    is ∝ |points| + |interval bins|, never the cross product; skew is
    bounded by bin population, tunable via ``bin_width``.

    ``max_bins_per_interval`` is the fail-loud guard for degenerate
    inputs (an interval spanning ≫ bin_width · max_bins would explode
    the bin list): enforced IN-PLAN via a conditional raise inside the
    sequence bound — no extra action, and a violating interval fails
    the job with a named error instead of silently OOMing an executor.

    Columns: returns points ⋈ intervals with all columns from both
    sides (keys once).  ``point_col``/``start_col``/``end_col`` must be
    numeric (epoch seconds — cast timestamps with ``.cast('double')``,
    which both engines evaluate as micros/1e6 bit-identically).

    SELF-TUNING WIDTH (round 11, hardened in review): ``bin_width=None``
    derives the width from TWO statistics of the interval lengths —

    - p95 over a bounded sample (``limit(width_sample_rows)`` then
      ``approxQuantile`` — cheap, perf-shaping only): with w ≈
      p95(len), ≥95% of intervals cover ≤ 2 bins, so bins-per-interval
      stays O(1) on any span regime;
    - the EXACT max length over ALL intervals (one map-side-combinable
      agg): the width is floored at ``max_len / (max_bins_per_interval
      - 2)``, which makes the bins guard UNREACHABLE for every
      well-formed interval in auto mode.  Without the floor, a skewed
      workload (p95 ≈ 1 s plus one legitimate 2000 s interval) would
      pick w = 1 s and the in-plan raise would kill the job — a
      failure mode the old fixed 1800 s default did not have — and
      because the p95 sample is partition-order-dependent, whether it
      raised would not even be deterministic.  With the exact-max
      floor, auto mode raises only for inverted/NULL intervals
      (corrupt data, which SHOULD fail loud); an explicit bin_width
      keeps the hard guard semantics for callers who size it
      themselves.

    The width only shapes the PLAN, never the result, so oracle
    equivalence is untouched.  Auto mode reads the INTERVALS side
    eagerly (two small jobs) — with a streaming points side
    (``stream_interval_join``) the intervals must be the static side,
    which is the only shape the operator supports anyway.
    """
    if bin_width is None:
        # the exact-max floor divides by (max_bins_per_interval - 2);
        # below 3 that clamps to 1, w = max_len, and a full-length
        # interval straddling one bin boundary yields nbins == 2 —
        # which the strict `< max_bins` guard would then RAISE on for
        # well-formed data.  Auto mode therefore requires >= 3.
        if max_bins_per_interval < 3:
            raise ValueError(
                "interval_join: auto bin_width requires "
                f"max_bins_per_interval >= 3 (got {max_bins_per_interval}); "
                "pass an explicit bin_width for tighter guards")
        # the derived width is a pure function of the intervals plan +
        # params, so memoize it per plan like salted_join's hot-key
        # estimate — a bench/pipeline re-executing the same join pays
        # the two stat jobs (exact max + p95 sample) once per session
        memo_key = (
            intervals.sparkSession.sparkContext.applicationId,
            intervals._jdf.queryExecution().analyzed().semanticHash(),
            start_col, end_col, max_bins_per_interval, width_sample_rows,
        )

        def estimate_width() -> float:
            lens = intervals.select(
                (F.col(end_col) - F.col(start_col)).cast("double")
                .alias("__len")).where(F.col("__len") >= 0)
            mx_row = lens.agg(F.max("__len").alias("m")).first()
            mx = mx_row[0] if mx_row and mx_row[0] else 0.0
            q = lens.limit(int(width_sample_rows)).approxQuantile(
                "__len", [0.95], 0.01)
            p95 = q[0] if q and q[0] and q[0] > 0 else 1800.0
            return max(p95, mx / max(1, max_bins_per_interval - 2))

        # bound driver-side growth
        bin_width = memo_get(_AUTO_WIDTH_MEMO, memo_key, estimate_width,
                             cap=256)
    w = F.lit(float(bin_width))
    nbins = (F.floor(F.col(end_col) / w) - F.floor(F.col(start_col) / w))
    # the guard must be TWO-SIDED: an INVERTED interval (end < start,
    # corrupt upstream data) makes nbins negative — it would pass a
    # one-sided `< max` check while F.sequence auto-steps -1 and
    # explodes |nbins|+1 descending bins, exactly the silent blow-up
    # this guard exists to prevent.  The non-negativity condition also
    # routes NULL start/end into the raise (NULL predicate → otherwise)
    guarded = intervals.withColumn(
        "__nb",
        F.when(
            (nbins >= 0) & (nbins < F.lit(int(max_bins_per_interval))),
            nbins,
        ).otherwise(F.raise_error(F.concat(
            F.lit(f"interval_join: degenerate interval (NULL bound, "
                  f"end < start, or span over {max_bins_per_interval} "
                  f"bins of {bin_width}s) ("),
            F.col(start_col).cast("string"), F.lit(" .. "),
            F.col(end_col).cast("string"), F.lit(")"))).cast("bigint")),
    )
    binned = guarded.withColumn(
        "__bin",
        F.explode(F.sequence(
            F.floor(F.col(start_col) / w).cast("long"),
            (F.floor(F.col(start_col) / w).cast("long") + F.col("__nb")),
        )),
    ).drop("__nb")
    pts = points.withColumn(
        "__bin", F.floor(F.col(point_col) / w).cast("long"))
    on = [*keys, "__bin"]
    return (
        pts.join(binned, on)
        .filter((F.col(point_col) >= F.col(start_col))
                & (F.col(point_col) <= F.col(end_col)))
        .drop("__bin")
    )
