"""Source/sink round-trips (S5, S8, S9) and the U2 horizontal-concat
idiom — the engine's ingestion/egress edges."""

import os
import tempfile

from pyspark.sql import functions as F, Window

from remove_na_lgbtiq_queer_knowledge_graph_spark.sources.io import (
    append_sink,
    load_table,
    overwrite_sink,
)


def test_csv_roundtrip(spark):
    """S5: CSV read with explicit schema (schema-on-read like readr)."""
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "x.csv")
        df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "name"])
        df.write.mode("overwrite").option("header", True).csv(path)
        back = spark.read.schema("id bigint, name string").option("header", True).csv(path)
        assert sorted((r.id, r.name) for r in back.collect()) == [(1, "a"), (2, "b")]


def test_append_and_overwrite_sinks(spark):
    """S8/S9: dbAppendTable / dbWriteTable analogues."""
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "t")
        df1 = spark.createDataFrame([(1,)], ["v"])
        df2 = spark.createDataFrame([(2,)], ["v"])
        append_sink(df1, path)
        append_sink(df2, path)
        assert spark.read.parquet(path).count() == 2  # append-log semantics
        overwrite_sink(df1, path)
        assert spark.read.parquet(path).count() == 1  # replaced


def test_horizontal_concat_rowid(spark):
    """U2: bind_cols — align two frames by a generated row id
    (`lobid/01:192`)."""
    a = spark.createDataFrame([("x",), ("y",)], ["l"])
    b = spark.createDataFrame([(10,), (20,)], ["r"])
    w_a = Window.orderBy("l")
    w_b = Window.orderBy("r")
    aa = a.withColumn("rid", F.row_number().over(w_a))
    bb = b.withColumn("rid", F.row_number().over(w_b))
    got = {(r.l, r.r) for r in aa.join(bb, "rid").select("l", "r").collect()}
    assert got == {("x", 10), ("y", 20)}


def test_events_loader_normalizes_ts(spark, sf_dir):
    """Whatever physical form the driver ships (int64-nanos or
    timestamp[us]/NTZ), the events loader lands on TIMESTAMP with the
    expected values under the UTC-pinned session."""
    e = load_table(spark, sf_dir, "events")
    assert dict(e.dtypes)["ts"] == "timestamp"
    first = e.orderBy("event_id").first()
    assert first.ts.year == 2024


def test_events_loader_nanos_branch(spark, tmp_path):
    """The int64-nanos branch stays live even when the driver's testdata
    is timestamp[us]: a locally-written TIMESTAMP(NANOS) fixture must
    come through the same loader as TIMESTAMP with exact µs values."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ns = 1_704_153_600_000_000_000  # 2024-01-02T00:00:00Z in epoch-nanos
    table = pa.table({
        "event_id": pa.array([1, 2], pa.int64()),
        "ts": pa.array([ns, ns + 1_500_000_000], pa.timestamp("ns")),
    })
    d = tmp_path / "nanos"
    d.mkdir()
    pq.write_table(table, str(d / "events.parquet"),
                   coerce_timestamps=None, use_deprecated_int96_timestamps=False)
    e = load_table(spark, str(d), "events")
    assert dict(e.dtypes)["ts"] == "timestamp"
    rows = {r.event_id: r.ts for r in e.collect()}
    assert rows[1].year == 2024 and rows[1].month == 1 and rows[1].day == 2
    assert (rows[2] - rows[1]).total_seconds() == 1.5


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """Co-located join: both sides bucketed on the join key at write
    time → the join plan has no Exchange (shuffle paid once at ingest)."""
    from remove_na_lgbtiq_queer_knowledge_graph_spark.sources.io import (
        load_table,
        write_bucketed,
    )

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    write_bucketed(o, "orders_b", str(tmp_path / "orders_b"), "o_orderkey", 8)
    write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        "lineitem_b", str(tmp_path / "lineitem_b"), "o_orderkey", 8,
    )
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("lineitem_b").join(spark.table("orders_b"), "o_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        # and it actually computes
        assert joined.count() == li.count()
    finally:
        # restore what was actually set (session-scoped conf — a
        # hardcoded constant here would leak into later tests if the
        # factory value ever changes)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_partitioned_write_prunes_directories(spark, sf_dir, tmp_path):
    """Reader filters on the partition column become PartitionFilters —
    whole directories pruned before any file opens."""
    from remove_na_lgbtiq_queer_knowledge_graph_spark.sources.io import (
        load_table,
        write_partitioned,
    )

    e = load_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    out = str(tmp_path / "events_by_day")
    write_partitioned(e, out, ["day"])

    back = spark.read.parquet(out).filter(F.col("day") == "2024-01-03")
    plan = back._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters" in plan and "day" in plan.split("PartitionFilters")[1][:120]
    want = e.filter(F.col("day") == "2024-01-03").count()
    assert back.count() == want and want > 0


def test_compact_parquet_reduces_file_count(spark, sf_dir, tmp_path):
    from remove_na_lgbtiq_queer_knowledge_graph_spark.sources.io import (
        compact_parquet,
        load_table,
    )

    out = str(tmp_path / "frag")
    nation = load_table(spark, sf_dir, "nation")
    nation.repartition(25).write.parquet(out)   # 25 tiny files
    before = len(list((tmp_path / "frag").glob("*.parquet")))
    assert before > 5
    n = compact_parquet(spark, out, target_file_bytes=512 * 1024 * 1024)
    after = len(list((tmp_path / "frag").glob("*.parquet")))
    assert n == 1 and after == 1
    assert spark.read.parquet(out).count() == nation.count()


def test_compact_parquet_partition_safety(spark, sf_dir, tmp_path):
    """Round-13 review: (a) a hive-partitioned ROOT is refused —
    compacting it would flatten the k=v layout and kill pruning;
    (b) a crash-orphaned swap dir must be invisible to partition
    discovery of the parent dataset (dot-prefixed siblings), so a
    bucket's history can never be silently retyped/emptied."""
    import os

    import pytest

    from remove_na_lgbtiq_queer_knowledge_graph_spark.sources.io import (
        compact_parquet,
        load_table,
        write_partitioned,
    )

    nation = load_table(spark, sf_dir, "nation")
    root = str(tmp_path / "by_region")
    write_partitioned(nation, root, ["n_regionkey"])
    with pytest.raises(ValueError, match="partitioned root"):
        compact_parquet(spark, root)
    # leaf compaction works and leaves no visible intermediates
    leaf = os.path.join(root, "n_regionkey=0")
    compact_parquet(spark, leaf, target_file_bytes=512 * 1024 * 1024)
    visible = [p for p in os.listdir(root)
               if not p.startswith((".", "_"))]  # _SUCCESS is hidden too
    assert all(p.startswith("n_regionkey=") for p in visible), visible
    # a simulated crash-orphaned old copy is hidden from discovery
    os.makedirs(os.path.join(root, ".n_regionkey=0__old"), exist_ok=True)
    back = spark.read.parquet(root)
    assert dict(back.dtypes)["n_regionkey"] != "string"
    assert back.count() == nation.count()


def test_events_in_range_matches_post_conversion_filter(spark, sf_dir):
    """The pushdown-friendly ranged loader returns exactly the rows the
    naive (non-pushdown) timestamp filter would."""
    from remove_na_lgbtiq_queer_knowledge_graph_spark.spec import events_in_range, t

    lo, hi = "2024-01-02 00:00:00", "2024-01-04 00:00:00"
    fast = events_in_range(spark, sf_dir, lo, hi)
    naive = t(spark, sf_dir, "events").filter(
        (F.col("ts") >= F.to_timestamp(F.lit(lo)))
        & (F.col("ts") < F.to_timestamp(F.lit(hi)))
    )
    assert fast.count() == naive.count() > 0
    assert sorted(r.event_id for r in fast.select("event_id").collect()) == \
        sorted(r.event_id for r in naive.select("event_id").collect())


def test_read_jdbc_seam(spark):
    """S1 JDBC seam: builds the partitioned reader plan; executes only
    when a JDBC driver is on the classpath (none ships here)."""
    import pytest

    from remove_na_lgbtiq_queer_knowledge_graph_spark.sources.io import read_jdbc

    with pytest.raises(ValueError):
        read_jdbc(spark, "jdbc:sqlite:/tmp/x.db", "books",
                  partition_column="id")

    try:
        read_jdbc(
            spark, "jdbc:sqlite:/tmp/nonexistent.db", "books",
            partition_column="id", lower_bound=0, upper_bound=100,
            num_partitions=4, driver="org.sqlite.JDBC",
        ).schema
    except Exception as e:  # no driver jar in this container
        assert "sqlite" in str(e).lower() or "driver" in str(e).lower() \
            or "ClassNotFound" in str(e)


def test_fetch_json_source_failure_semantics(spark, tmp_path):
    """Round-6 advice: the REST seam must bound a broken endpoint —
    on_error='null' yields a diagnosable row instead of killing the
    task; on_error='raise' names the URL; a fetcher that fails every
    attempt surfaces after the retry budget, not as a hang."""
    import json

    import pytest

    from remove_na_lgbtiq_queer_knowledge_graph_spark.queries_external import (
        fetch_json_source,
    )

    good = tmp_path / "good.json"
    good.write_text(json.dumps({"v": 7}))
    urls = spark.createDataFrame(
        [(f"file://{good}",), ("file:///nonexistent-xyz.json",)], ["url"])

    def parse(row):
        j = row["__json"]
        return {"url": row["url"], "v": None if j is None else j["v"],
                "err": row["__error"]}

    rows = {r.url: r for r in fetch_json_source(
        urls, "url", "url string, v long, err string",
        parse, retries=0, on_error="null").collect()}
    assert rows[f"file://{good}"].v == 7 and rows[f"file://{good}"].err is None
    bad = rows["file:///nonexistent-xyz.json"]
    assert bad.v is None and bad.err

    with pytest.raises(Exception, match="nonexistent-xyz"):
        fetch_json_source(
            urls, "url", "url string, v long, err string",
            parse, retries=0, on_error="raise").collect()

    with pytest.raises(ValueError, match="on_error"):
        fetch_json_source(urls, "url", "url string", parse, on_error="skip")


def test_fetch_json_guards_and_custom_fetcher_cap(spark, tmp_path):
    """Review-fix pins: (a) retries/timeout/max_bytes validate on the
    DRIVER (retries=-1 used to surface as `raise None` inside a task),
    (b) the max_bytes cap applies to INJECTED fetchers too, (c) a dead
    file:// link fails fast (URLError with a deterministic reason must
    not burn retries)."""
    import json
    import time

    import pytest

    from remove_na_lgbtiq_queer_knowledge_graph_spark.queries_external import (
        fetch_json_source,
    )

    urls = spark.createDataFrame([("u1",)], "url string")
    parse = lambda row: {"url": row["url"],  # noqa: E731
                         "ok": row["__json"] is not None}
    for bad_kwargs in ({"retries": -1}, {"timeout": 0}, {"max_bytes": 0}):
        with pytest.raises(ValueError):
            fetch_json_source(urls, "url", "url string, ok boolean",
                              parse, **bad_kwargs)

    big = tmp_path / "big.json"
    big.write_text(json.dumps({"x": "y" * 100}))
    fat_fetcher = lambda u: open(big, "rb").read()  # noqa: E731
    rows = fetch_json_source(
        spark.createDataFrame([(f"file://{big}",)], "url string"),
        "url", "url string, ok boolean", parse,
        fetcher=fat_fetcher, max_bytes=10, on_error="null").collect()
    assert rows[0].ok is False  # capped, surfaced as the error row

    dead = spark.createDataFrame(
        [(f"file://{tmp_path}/definitely-missing.json",)], "url string")
    t0 = time.monotonic()
    out = fetch_json_source(dead, "url", "url string, ok boolean",
                            parse, retries=2, on_error="null").collect()
    assert out[0].ok is False
    # fail-fast: 2 retries would sleep 0.5+1.0 s; deterministic reasons
    # must skip the backoff entirely
    assert time.monotonic() - t0 < 1.0


def test_read_jdbc_bounds_without_partition_column_raise(spark):
    import pytest

    from remove_na_lgbtiq_queer_knowledge_graph_spark.sources.io import read_jdbc

    with pytest.raises(ValueError, match="without\\s+partition_column"):
        read_jdbc(spark, "jdbc:h2:mem:x", "t", lower_bound=0,
                  upper_bound=10, num_partitions=4)


def test_memo_get_is_bounded_fifo_and_thread_safe():
    """spec.memo_get, the get-or-build every module-level memo uses:
    a hit never rebuilds, the oldest entry goes first at the cap, and
    threads missing together at the cap neither raise nor overfill."""
    import sys
    import threading

    from remove_na_lgbtiq_queer_knowledge_graph_spark.spec import memo_get

    memo: dict = {}
    builds = []

    def build(k):
        builds.append(k)
        return k.upper()

    for k in ("a", "b", "a", "c"):
        assert memo_get(memo, k, lambda k=k: build(k), cap=2) == k.upper()
    assert builds == ["a", "b", "c"] and list(memo) == ["b", "c"]

    shared: dict = {}
    errors = []

    def worker(w):
        try:
            for i in range(3000):
                memo_get(shared, (w, i), lambda: i, cap=4)
        except Exception as exc:  # noqa: BLE001 — reported below
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(w,))
                   for w in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert errors == [] and len(shared) <= 4
