"""Property-path helpers over a triples DataFrame (SURVEY.md §2.11 G9).

BGP joins, OPTIONAL, UNION, FILTER (NOT) EXISTS, MINUS, VALUES and BIND
are compiled from SPARQL text by :mod:`plans.sparql`.  This module holds
the path relations that compiler and the ``graph_`` queries build on:

- :func:`path_seq` — sequence path ``p1/p2/...`` as chained joins,
  returning (src, dst) pairs;
- :func:`transitive_closure` — ``p*``/``p+`` as an iterative fixpoint
  (a driver-side BFS for ontology-sized edge sets, repeated squaring
  with per-round lineage truncation otherwise).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema


def path_seq(triples: DataFrame, preds: list[str]) -> DataFrame:
    """G9 sequence path ``p1/p2/...`` → chained joins; returns (src, dst)."""
    if not preds:
        raise ValueError("path_seq requires at least one predicate")
    df = None
    for i, p in enumerate(preds):
        step = triples.filter(F.col("predicate") == p).select(
            F.col("subject").alias(f"h{i}"), F.col("object").alias(f"h{i+1}")
        )
        df = step if df is None else df.join(step, f"h{i}")
    return df.select(F.col("h0").alias("src"), F.col(f"h{len(preds)}").alias("dst"))


def _driver_closure(closure: DataFrame, reflexive: bool, spark,
                    pair_cap: int, rows: list | None = None
                    ) -> DataFrame | None:
    """Driver BFS for ontology-sized edge sets (subclass/part-of
    hierarchies stay ~10³ even when the instance data is 100 TB): one
    pass beats 3 Spark jobs per squaring round.  Returns ``None`` when
    the output pair count crosses ``pair_cap`` — the caller falls back
    to the distributed fixpoint.  NULL endpoints (possible from a left
    join upstream) ride through like the distributed branch: they join
    to nothing but stay in the output edge set."""
    adj: dict[str, set[str]] = {}
    null_rows: list[tuple] = []
    if rows is None:
        rows = closure.collect()
    for r in rows:
        sv, dv = r["src"], r["dst"]
        if sv is None or dv is None:
            # None is not orderable/joinable — keep the row, skip BFS
            null_rows.append((sv, dv))
            continue
        adj.setdefault(sv, set()).add(dv)
    out: set[tuple[str, str]] = set()
    for s in adj:
        seen: set[str] = set()
        stack = list(adj[s])
        while stack:
            d = stack.pop()
            if d in seen:
                continue
            seen.add(d)
            stack.extend(adj.get(d, ()))
        out.update((s, d) for d in seen)
        if len(out) > pair_cap:
            return None
    if reflexive:
        nodes = set(adj)
        nodes.update(d for ds in adj.values() for d in ds)
        out.update((x, x) for x in nodes)
        if len(out) > pair_cap:
            return None
    # preserve the input column TYPES — the distributed branch does,
    # and a hardcoded string schema would make behavior depend on
    # whether the edge count crossed the driver-BFS gate.  Sort key
    # tolerates None (NULLs first, like Spark's default ordering).
    rows = sorted(out) + sorted(
        null_rows, key=lambda t: tuple((v is not None, v or "") for v in t))
    # Through Arrow, not a list: a list becomes a pickled Python RDD,
    # and every execution that scans it starts Python workers to
    # unpickle the rows (~0.17 s per broadcast of a 6-pair closure on
    # 2 cores); an Arrow table becomes a LocalRelation, which the
    # driver broadcasts with no Spark job.
    schema = closure.schema
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [() for _ in schema]
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema)
    return spark.createDataFrame(table, schema)


def transitive_closure(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    max_iter: int = 20, reflexive: bool = False,
) -> DataFrame:
    """G9 ``p*``/``p+`` — iterative join to fixpoint with lineage
    truncation per round (``checkpoint`` pattern, SURVEY §4).

    Doubles path length each iteration (repeated squaring), so 20
    iterations cover diameter 2^20 — termination is by fixpoint, and the
    per-round ``localCheckpoint`` keeps the plan from growing.  Returns
    distinct (src, dst) pairs; ``reflexive=True`` adds the zero-length
    paths (``p*`` vs ``p+`` semantics).
    """
    closure = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    closure = closure.localCheckpoint()
    # Gate probe: one bounded take instead of count-then-collect (same
    # r13 optimization as connected_components) — when the edge set is
    # ontology-sized the fetched rows ARE the BFS input; the count the
    # distributed fixpoint needs is only computed when the gate fails
    # (or the driver BFS aborts on the pair cap).
    #
    # Output cap for the driver path: closure size is O(V²) — a 2k-edge
    # LINEAR CHAIN yields ~2M pairs, and the old 10k-edge gate admitted
    # ~50M-tuple driver heaps (round-13 review).  The edge gate bounds
    # the INPUT; _PAIR_CAP aborts mid-BFS the moment the OUTPUT
    # explodes and falls through to the distributed loop.
    probe = closure.take(2_001)
    if len(probe) <= 2_000:
        result = _driver_closure(closure, reflexive,
                                 edges.sparkSession, pair_cap=500_000,
                                 rows=probe)
        if result is not None:
            # Driver-built and bounded by pair_cap (≤500k pairs), which
            # can still exceed the auto-broadcast threshold, and then the
            # path-algebra joins that fold this relation against the (at
            # scale TB-sized) triples frame plan SortMergeJoins shuffling
            # the triples side.  Hint it broadcastable — same
            # bounded-build-side argument as the connected_components
            # fast path (guide §3.1).  The distributed fixpoint below stays unhinted.
            # The cap is in PAIRS, not bytes (r13 ADVICE): 500k pairs of
            # ~100-byte IRIs ≈ 100 MB framed — fine for a broadcast,
            # but ontologies with multi-KB terms would need a byte-aware
            # cap.  The rows were already driver-resident (the BFS ran
            # on them), so the hint adds executor copies, not a new
            # driver collect.
            return F.broadcast(result)
        n = len(probe)
    else:
        n = closure.count()
    for _ in range(max_iter):
        hop = (
            closure.alias("a")
            .join(closure.alias("b"), F.col("a.dst") == F.col("b.src"))
            .select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"))
        )
        new = closure.union(hop).distinct().localCheckpoint()
        m = new.count()
        if m == n:
            closure = new
            break
        closure, n = new, m
    if reflexive:
        nodes = (
            closure.select("src").union(closure.select(F.col("dst").alias("src")))
            .distinct()
        )
        closure = closure.union(
            nodes.select(F.col("src"), F.col("src").alias("dst"))
        ).distinct()
    return closure
