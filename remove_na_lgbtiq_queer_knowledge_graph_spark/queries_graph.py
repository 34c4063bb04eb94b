"""Graph / triples / BGP queries (SURVEY.md §2.11) with DuckDB oracles.

The BGP queries are SPARQL text compiled by ``plans.sparql`` over the
materialized star-schema triples.  The oracle SQL rebuilds the same
triples table as a CTE and runs the SPARQL-algebra operation as
relational SQL — so the compiler's join semantics are checked
end-to-end, not just row counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.graph import degrees, neighborhood, two_hop
from .plans.bgp import path_seq, transitive_closure
from .plans.r2rml import materialize, star_schema_maps
from .plans.sparql import compile_sparql
from .spec import QuerySpec, t

_TRIPLES_CTE = """
triples AS (
  SELECT 'c:' || CAST(c_custkey AS VARCHAR) AS subject, 'type' AS predicate, 'Customer' AS object FROM customer
  UNION ALL SELECT 'c:' || CAST(c_custkey AS VARCHAR), 'name', c_name FROM customer
  UNION ALL SELECT 'c:' || CAST(c_custkey AS VARCHAR), 'segment', c_mktsegment FROM customer
  UNION ALL SELECT 'c:' || CAST(c_custkey AS VARCHAR), 'inNation', 'n:' || CAST(c_nationkey AS VARCHAR) FROM customer
  UNION ALL SELECT 's:' || CAST(s_suppkey AS VARCHAR), 'type', 'Supplier' FROM supplier
  UNION ALL SELECT 's:' || CAST(s_suppkey AS VARCHAR), 'name', s_name FROM supplier
  UNION ALL SELECT 's:' || CAST(s_suppkey AS VARCHAR), 'inNation', 'n:' || CAST(s_nationkey AS VARCHAR) FROM supplier
  UNION ALL SELECT 'n:' || CAST(n_nationkey AS VARCHAR), 'name', n_name FROM nation
  UNION ALL SELECT 'n:' || CAST(n_nationkey AS VARCHAR), 'inRegion', 'r:' || CAST(n_regionkey AS VARCHAR) FROM nation
  UNION ALL SELECT 'r:' || CAST(r_regionkey AS VARCHAR), 'name', r_name FROM region
)
"""


def _triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The star-schema KG, materialized once per SESSION (kg_memo), not
    once per query call — ~13 graph/BGP specs read it, and an oracle
    gate or bench round would otherwise re-run the identical R2RML
    materialize a dozen-plus times.  A BGP query scans the triples
    relation once per pattern; the parquet-backed memo store gives each
    scan pushdown + codegen.  This mirrors the reference's
    architecture: the triple store is built once, then queried
    (`create-rdf.py` → `query.ipynb`)."""
    from .queries_sparql import kg_memo

    def build() -> DataFrame:
        tables = {name: t(spark, sf_dir, name)
                  for name in ("customer", "supplier", "nation", "region")}
        return materialize(tables, star_schema_maps())

    return kg_memo("star_schema", spark, sf_dir, build)


def graph_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G19: R2RML-style materialization of the star schema into triples
    (`kg_v1.yml:28-83`, `create-rdf.py:15`)."""
    return _triples(spark, sf_dir)


_MATERIALIZE_SQL = f"""WITH {_TRIPLES_CTE}
SELECT subject, predicate, object,
       CAST(NULL AS VARCHAR) AS lang, CAST(NULL AS VARCHAR) AS dtype
FROM triples"""


def graph_bgp_region_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1/G11: BGP conjunction — every entity in region ASIA with its
    name (4-pattern join, the `network-00-starting-point.rq` shape)."""
    return compile_sparql("""
      SELECT DISTINCT ?e ?ename WHERE {
        ?e <inNation> ?n . ?n <inRegion> ?r . ?r <name> "ASIA" .
        ?e <name> ?ename
      }""", _triples(spark, sf_dir))


_BGP_SQL = f"""
WITH {_TRIPLES_CTE}
SELECT DISTINCT t1.subject AS e, t4.object AS ename
FROM triples t1
JOIN triples t2 ON t1.object = t2.subject AND t2.predicate = 'inRegion'
JOIN triples t3 ON t2.object = t3.subject AND t3.predicate = 'name' AND t3.object = 'ASIA'
JOIN triples t4 ON t1.subject = t4.subject AND t4.predicate = 'name'
WHERE t1.predicate = 'inNation'
"""


def graph_optional_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2: OPTIONAL — names of all typed entities with segment if
    present (suppliers have none → null, `lokale-from-factgrid.rq:29-38`)."""
    return compile_sparql("""
      SELECT ?e ?etype ?ename ?seg WHERE {
        ?e <type> ?etype . ?e <name> ?ename .
        OPTIONAL { ?e <segment> ?seg }
      }""", _triples(spark, sf_dir))


_OPTIONAL_SQL = f"""
WITH {_TRIPLES_CTE}
SELECT t1.subject AS e, t1.object AS etype, t2.object AS ename, t3.object AS seg
FROM triples t1
JOIN triples t2 ON t1.subject = t2.subject AND t2.predicate = 'name'
LEFT JOIN triples t3 ON t1.subject = t3.subject AND t3.predicate = 'segment'
WHERE t1.predicate = 'type'
"""


def graph_union_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3+G8: UNION of pattern groups with a branch tag
    (`companions_and_relations.rq:56-67` — customer-shaped and
    supplier-shaped branches over the same graph, bag semantics)."""
    return compile_sparql("""
      SELECT ?e ?nname ?kind WHERE {
        { ?e <type> "Customer" . ?e <inNation> ?n . ?n <name> ?nname .
          BIND("customer" AS ?kind) }
        UNION
        { ?e <type> "Supplier" . ?e <inNation> ?n . ?n <name> ?nname .
          BIND("supplier" AS ?kind) }
      }""", _triples(spark, sf_dir))


_UNION_SQL = f"""
WITH {_TRIPLES_CTE}
SELECT t1.subject AS e, t3.object AS nname, 'customer' AS kind
FROM triples t1
JOIN triples t2 ON t1.subject = t2.subject AND t2.predicate = 'inNation'
JOIN triples t3 ON t2.object = t3.subject AND t3.predicate = 'name'
WHERE t1.predicate = 'type' AND t1.object = 'Customer'
UNION ALL
SELECT t1.subject AS e, t3.object AS nname, 'supplier' AS kind
FROM triples t1
JOIN triples t2 ON t1.subject = t2.subject AND t2.predicate = 'inNation'
JOIN triples t3 ON t2.object = t3.subject AND t3.predicate = 'name'
WHERE t1.predicate = 'type' AND t1.object = 'Supplier'
"""


def graph_values_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7+G4: VALUES inline table + FILTER regex
    (`db_all_person_relations.rq:36-45`, `companions_and_relations.rq:76`)."""
    return compile_sparql("""
      SELECT ?nname ?rname WHERE {
        ?n <inRegion> ?r . ?r <name> ?rname . ?n <name> ?nname .
        VALUES ?rname { "EUROPE" "ASIA" }
        FILTER(REGEX(?nname, "_1?[0-9]$"))
      }""", _triples(spark, sf_dir))


_VALUES_SQL = f"""
WITH {_TRIPLES_CTE}
SELECT t3.object AS nname, t2.object AS rname
FROM triples t1
JOIN triples t2 ON t1.object = t2.subject AND t2.predicate = 'name'
JOIN triples t3 ON t1.subject = t3.subject AND t3.predicate = 'name'
WHERE t1.predicate = 'inRegion'
  AND t2.object IN ('EUROPE', 'ASIA')
  AND regexp_matches(t3.object, '_1?[0-9]$')
"""


def sparql_values_undef(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUES with UNDEF cells (§10.2.2) through the TEXT front-end:
    an UNDEF cell is compatible with any binding, so the inline table
    is a compatibility JOIN (bag semantics — a solution matched by two
    rows appears twice), not an isin filter."""
    q = """
      SELECT ?n ?rname ?status WHERE {
        ?n <inRegion> ?r . ?r <name> ?rname .
        VALUES (?rname ?status)
          { ("EUROPE" "east") ("ASIA" "far east") (UNDEF "anywhere") }
      }"""
    return compile_sparql(q, _triples(spark, sf_dir))


_VALUES_UNDEF_SQL = f"""
WITH {_TRIPLES_CTE},
sol AS (
  SELECT t1.subject AS n, t2.object AS rname
  FROM triples t1
  JOIN triples t2 ON t1.object = t2.subject AND t2.predicate = 'name'
  WHERE t1.predicate = 'inRegion'
),
vals(v_rname, status) AS (
  VALUES ('EUROPE', 'east'), ('ASIA', 'far east'), (NULL, 'anywhere')
)
SELECT sol.n, sol.rname, v.status
FROM sol JOIN vals v ON v.v_rname IS NULL OR v.v_rname = sol.rname
"""


def graph_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5: FILTER NOT EXISTS — nations without suppliers
    (`get_factgrid_ids_from_wikidata.rq:18-21`)."""
    return compile_sparql("""
      SELECT ?n ?nname WHERE {
        ?n <inRegion> ?r . ?n <name> ?nname .
        FILTER NOT EXISTS { ?s <inNation> ?n . ?s <type> "Supplier" }
      }""", _triples(spark, sf_dir))


_NOTEXISTS_SQL = f"""
WITH {_TRIPLES_CTE}
SELECT t1.subject AS n, t2.object AS nname
FROM triples t1
JOIN triples t2 ON t1.subject = t2.subject AND t2.predicate = 'name'
WHERE t1.predicate = 'inRegion'
  AND NOT EXISTS (
    SELECT 1 FROM triples s1 JOIN triples s2 ON s1.subject = s2.subject
    WHERE s1.predicate = 'inNation' AND s1.object = t1.subject
      AND s2.predicate = 'type' AND s2.object = 'Supplier'
  )
"""


def graph_bind_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G8+F9: BIND with an id-extraction expression
    (`companions_and_relations.rq:38-43`; `extract_id`).  The integer
    cast and its filter stay DataFrame calls on the compiled BGP: the
    SPARQL subset has no integer cast."""
    bgp = compile_sparql("""
      SELECT ?e ?ename WHERE { ?e <type> "Customer" . ?e <name> ?ename }
      """, _triples(spark, sf_dir))
    eid = F.regexp_extract(F.col("e"), r"([0-9]+)$", 1).cast("long")
    return bgp.withColumn("eid", eid).filter(F.col("eid") % 100 == 0)


_BIND_SQL = f"""
WITH {_TRIPLES_CTE}
SELECT t1.subject AS e, t2.object AS ename,
       TRY_CAST(regexp_extract(t1.subject, '([0-9]+)$', 1) AS BIGINT) AS eid
FROM triples t1
JOIN triples t2 ON t1.subject = t2.subject AND t2.predicate = 'name'
WHERE t1.predicate = 'type' AND t1.object = 'Customer'
  AND TRY_CAST(regexp_extract(t1.subject, '([0-9]+)$', 1) AS BIGINT) % 100 = 0
"""


def graph_path_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G9 sequence path inNation/inRegion — entity → region in one hop
    pair (`companions_and_relations.rq:59` `fgt:P2/fgt:P3` shape)."""
    return path_seq(_triples(spark, sf_dir), ["inNation", "inRegion"])


_PATHSEQ_SQL = f"""
WITH {_TRIPLES_CTE}
SELECT t1.subject AS src, t2.object AS dst
FROM triples t1 JOIN triples t2 ON t1.object = t2.subject
WHERE t1.predicate = 'inNation' AND t2.predicate = 'inRegion'
"""


def _chain_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic hierarchy for `p*`: nation k → nation k-1 (a 25-deep
    chain — deep enough that one- or two-round expansion fails)."""
    n = t(spark, sf_dir, "nation")
    return n.filter(F.col("n_nationkey") > 0).select(
        F.concat(F.lit("n:"), F.col("n_nationkey").cast("string")).alias("src"),
        F.concat(F.lit("n:"), (F.col("n_nationkey") - 1).cast("string")).alias("dst"),
    )


def graph_transitive_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G9 `p*` transitive closure by iterative squaring to fixpoint
    (`persons_factgrid_wikidata.rq:28` `P3*`) over a 25-deep chain."""
    return transitive_closure(_chain_edges(spark, sf_dir))


_CLOSURE_SQL = """
WITH RECURSIVE edges AS (
  SELECT 'n:' || CAST(n_nationkey AS VARCHAR) AS src,
         'n:' || CAST(n_nationkey - 1 AS VARCHAR) AS dst
  FROM nation WHERE n_nationkey > 0
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src, dst FROM reach
"""


def _entity_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    tri = _triples(spark, sf_dir)
    return tri.filter(F.col("predicate").isin("inNation", "inRegion")).select(
        F.col("subject").alias("src"), F.col("object").alias("dst")
    )


def graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G15: degree centrality over the membership edges
    (`02-look-into-data.R:47`)."""
    return degrees(_entity_edges(spark, sf_dir))


_DEGREES_SQL = f"""
WITH {_TRIPLES_CTE},
edges AS (
  SELECT subject AS src, object AS dst FROM triples
  WHERE predicate IN ('inNation', 'inRegion')
),
ends AS (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
SELECT node, count(*) AS degree FROM ends GROUP BY node
"""


def graph_two_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G14: 2-hop motif (a)-[]->(b)-[]->(c) — entity → nation → region
    (`network-00-starting-point.rq:11-16`)."""
    return two_hop(_entity_edges(spark, sf_dir))


_TWOHOP_SQL = f"""
WITH {_TRIPLES_CTE},
edges AS (
  SELECT subject AS src, object AS dst FROM triples
  WHERE predicate IN ('inNation', 'inRegion')
)
SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
"""


def graph_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G14 parameterized: all nodes within 2 undirected hops of region
    r:0 with min distance (`analysis/network/01-get-data.R:27-45`)."""
    nb = neighborhood(_entity_edges(spark, sf_dir), "r:0", 2)
    return nb.select("node", F.col("dist").cast("long").alias("dist"))


_NEIGHBORHOOD_SQL = f"""
WITH {_TRIPLES_CTE},
edges AS (
  SELECT subject AS src, object AS dst FROM triples
  WHERE predicate IN ('inNation', 'inRegion')
),
sym AS (SELECT src AS u, dst AS v FROM edges UNION SELECT dst, src FROM edges),
d1 AS (SELECT DISTINCT v AS node FROM sym WHERE u = 'r:0' AND v <> 'r:0'),
d2 AS (
  SELECT DISTINCT s.v AS node
  FROM d1 JOIN sym s ON d1.node = s.u
  WHERE s.v <> 'r:0' AND s.v NOT IN (SELECT node FROM d1)
)
SELECT 'r:0' AS node, CAST(0 AS BIGINT) AS dist
UNION ALL SELECT node, 1 FROM d1
UNION ALL SELECT node, 2 FROM d2
"""


def graph_tree_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G16: exact edge betweenness on the entity→nation→region forest —
    below × (component − below) per tree edge
    (`02-look-into-data.R:49`)."""
    from .operators.graph import tree_edge_betweenness

    edges = _entity_edges(spark, sf_dir).select(
        F.col("src").alias("child"), F.col("dst").alias("parent")
    )
    return tree_edge_betweenness(edges, max_depth=2)


_TREE_BT_SQL = f"""
WITH {_TRIPLES_CTE},
edges AS (
  SELECT subject AS child, object AS parent FROM triples
  WHERE predicate IN ('inNation', 'inRegion')
),
members AS (
  SELECT parent AS n, count(*) AS m FROM edges WHERE parent LIKE 'n:%' GROUP BY 1
),
region_size AS (
  SELECT e.parent AS r,
         CAST(1 + count(*) + sum(COALESCE(mm.m, 0)) AS BIGINT) AS sz
  FROM edges e LEFT JOIN members mm ON e.child = mm.n
  WHERE e.parent LIKE 'r:%' GROUP BY 1
)
SELECT e.child AS src, e.parent AS dst,
       CAST(1 * (rs.sz - 1) AS BIGINT) AS betweenness
FROM edges e
JOIN edges up ON e.parent = up.child
JOIN region_size rs ON up.parent = rs.r
WHERE e.parent LIKE 'n:%'
UNION ALL
SELECT e.child, e.parent,
       CAST((1 + COALESCE(mm.m, 0)) * (rs.sz - (1 + COALESCE(mm.m, 0))) AS BIGINT)
FROM edges e
LEFT JOIN members mm ON e.child = mm.n
JOIN region_size rs ON e.parent = rs.r
WHERE e.parent LIKE 'r:%'
"""


_PR_ITER = 10


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the directed membership graph (entity → nation →
    region): fixed 10-iteration power method with dangling-mass
    redistribution (region sinks).  Third centrality next to degree and
    betweenness (`02-look-into-data.R:25-53` analytics)."""
    from .operators.graph import pagerank

    return pagerank(_entity_edges(spark, sf_dir), n_iter=_PR_ITER)


def _pagerank_oracle_sql(n_iter: int) -> str:
    """Unroll the exact power iteration pagerank() performs.  Every
    float constant is CAST to DOUBLE (a bare 1.0 is a DECIMAL literal in
    DuckDB and would divide in decimal space, diverging from Spark);
    inflow/dangling sums go through DECIMAL(38,18) like the Spark side."""
    d = "CAST(0.85 AS DOUBLE)"
    one = "CAST(1.0 AS DOUBLE)"
    parts = [f"""WITH {_TRIPLES_CTE},
e AS MATERIALIZED (
  SELECT DISTINCT subject AS u, object AS v FROM triples
  WHERE predicate IN ('inNation', 'inRegion')
),
nodes AS MATERIALIZED (
  SELECT DISTINCT node FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
),
base AS MATERIALIZED (
  SELECT node, COALESCE(od.outdeg, 0) AS outdeg,
         (SELECT count(*) FROM nodes) AS n
  FROM nodes LEFT JOIN (SELECT u AS node, count(*) AS outdeg FROM e GROUP BY 1) od
  USING (node)
),
r0 AS MATERIALIZED (SELECT node, outdeg, n, {one} / n AS rank FROM base)"""]
    for i in range(1, n_iter + 1):
        parts.append(f"""c{i} AS MATERIALIZED (
  SELECT e.v AS node,
         CAST(SUM(CAST(r.rank / r.outdeg AS DECIMAL(38,18))) AS DOUBLE) AS inflow
  FROM r{i - 1} r JOIN e ON r.node = e.u WHERE r.outdeg > 0 GROUP BY 1
)""")
        parts.append(f"""d{i} AS MATERIALIZED (
  SELECT COALESCE(CAST(SUM(CAST(rank AS DECIMAL(38,18))) AS DOUBLE),
                  CAST(0.0 AS DOUBLE)) AS dmass
  FROM r{i - 1} WHERE outdeg = 0
)""")
        parts.append(f"""r{i} AS MATERIALIZED (
  SELECT b.node, b.outdeg, b.n,
         ({one} - {d}) / b.n
           + {d} * (COALESCE(c.inflow, CAST(0.0 AS DOUBLE)) + dd.dmass / b.n)
           AS rank
  FROM base b LEFT JOIN c{i} c USING (node) CROSS JOIN d{i} dd
)""")
    return ",\n".join(parts) + f"""
SELECT node, round(rank, 9) AS pagerank FROM r{n_iter}
"""


_PAGERANK_SQL = _pagerank_oracle_sql(_PR_ITER)


def graph_pagerank_personalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank seeded on the NATION layer of the
    membership graph (entity → nation → region): proximity-to-seeds
    scores, the "related entities" primitive a KG runs for curated
    lists (the reference hand-curates such lists in
    `entities/`; PPR is the batch scoring behind them).  Fixed
    10-iteration power method, teleport uniform over the ~25 nation
    nodes, dangling mass returned to the seeds."""
    from .operators.graph import personalized_pagerank

    edges = _entity_edges(spark, sf_dir)
    seeds = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .filter(F.col("node").startswith("n:"))
        .distinct()
    )
    return personalized_pagerank(edges, seeds, n_iter=_PR_ITER)


def _ppr_oracle_sql(n_iter: int) -> str:
    """Unroll the exact PPR power iteration (same float/DECIMAL
    discipline as :func:`_pagerank_oracle_sql`; rv replaces 1/n as the
    teleport distribution, dangling mass scales rv instead of 1/n)."""
    d = "CAST(0.85 AS DOUBLE)"
    one = "CAST(1.0 AS DOUBLE)"
    parts = [f"""WITH {_TRIPLES_CTE},
e AS MATERIALIZED (
  SELECT DISTINCT subject AS u, object AS v FROM triples
  WHERE predicate IN ('inNation', 'inRegion')
),
nodes AS MATERIALIZED (
  SELECT DISTINCT node FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
),
seeds AS MATERIALIZED (SELECT node FROM nodes WHERE node LIKE 'n:%'),
base AS MATERIALIZED (
  SELECT node, COALESCE(od.outdeg, 0) AS outdeg,
         CASE WHEN node LIKE 'n:%'
              THEN {one} / (SELECT count(*) FROM seeds)
              ELSE CAST(0.0 AS DOUBLE) END AS rv
  FROM nodes LEFT JOIN (SELECT u AS node, count(*) AS outdeg FROM e GROUP BY 1) od
  USING (node)
),
r0 AS MATERIALIZED (SELECT node, outdeg, rv, rv AS rank FROM base)"""]
    for i in range(1, n_iter + 1):
        parts.append(f"""c{i} AS MATERIALIZED (
  SELECT e.v AS node,
         CAST(SUM(CAST(r.rank / r.outdeg AS DECIMAL(38,18))) AS DOUBLE) AS inflow
  FROM r{i - 1} r JOIN e ON r.node = e.u WHERE r.outdeg > 0 GROUP BY 1
)""")
        parts.append(f"""d{i} AS MATERIALIZED (
  SELECT COALESCE(CAST(SUM(CAST(rank AS DECIMAL(38,18))) AS DOUBLE),
                  CAST(0.0 AS DOUBLE)) AS dmass
  FROM r{i - 1} WHERE outdeg = 0
)""")
        parts.append(f"""r{i} AS MATERIALIZED (
  SELECT b.node, b.outdeg, b.rv,
         ({one} - {d}) * b.rv
           + {d} * (COALESCE(c.inflow, CAST(0.0 AS DOUBLE)) + dd.dmass * b.rv)
           AS rank
  FROM base b LEFT JOIN c{i} c USING (node) CROSS JOIN d{i} dd
)""")
    return ",\n".join(parts) + f"""
SELECT node, round(rank, 9) AS ppr FROM r{n_iter}
"""


_PPR_SQL = _ppr_oracle_sql(_PR_ITER)


_BT_DEPTH = 4


def _tag(prefix: str, col: str):
    return F.concat(F.lit(prefix), F.col(col).cast("string"))


def _membership_coorder_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The typed-node analysis graph shared by the sampled betweenness
    AND label-propagation entries: customer/supplier→nation→region
    membership edges plus distinct customer–supplier co-order edges
    (cycles).  ONE copy (the `_repeated_coorder_pairs` rule): an edge-
    shape change here reaches every consumer — review fix, this body
    was duplicated verbatim in both entries, so a change to one graph
    silently left the other analyzing a different one.  SQL twin:
    ``_BT_EDGES_SQL`` (shared by the betweenness and LPA oracles)."""
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    return (
        c.select(_tag("c:", "c_custkey").alias("src"),
                 _tag("n:", "c_nationkey").alias("dst"))
        .unionAll(s.select(_tag("s:", "s_suppkey"), _tag("n:", "s_nationkey")))
        .unionAll(n.select(_tag("n:", "n_nationkey"), _tag("r:", "n_regionkey")))
        .unionAll(
            o.join(li, o.o_orderkey == li.l_orderkey)
            .select(_tag("c:", "o_custkey"), _tag("s:", "l_suppkey"))
            .distinct()
        )
    )


def graph_betweenness_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G16 on a GENERAL (cyclic) graph: depth-bounded sampled-Brandes
    edge betweenness (`02-look-into-data.R:49`), closing the forest-only
    gap flagged in COVERAGE.md.

    Graph: the shared membership + co-order construction
    (:func:`_membership_coorder_edges`).  Pivots: the 5 region hubs +
    nations with key < 5 — a deterministic hub sample; paths counted up
    to length _BT_DEPTH on both engines, so truncation is part of the
    (matching) semantics.
    """
    from .operators.graph import sampled_edge_betweenness

    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    edges = _membership_coorder_edges(spark, sf_dir)
    pivots = (
        r.select(_tag("r:", "r_regionkey").alias("p"))
        .unionAll(n.filter(F.col("n_nationkey") < 5).select(_tag("n:", "n_nationkey")))
    )
    return sampled_edge_betweenness(edges, pivots, max_depth=_BT_DEPTH)


_BT_EDGES_SQL = """
  SELECT 'c:' || CAST(c_custkey AS VARCHAR) AS src, 'n:' || CAST(c_nationkey AS VARCHAR) AS dst FROM customer
  UNION ALL SELECT 's:' || CAST(s_suppkey AS VARCHAR), 'n:' || CAST(s_nationkey AS VARCHAR) FROM supplier
  UNION ALL SELECT 'n:' || CAST(n_nationkey AS VARCHAR), 'r:' || CAST(n_regionkey AS VARCHAR) FROM nation
  UNION ALL SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR), 's:' || CAST(l_suppkey AS VARCHAR)
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
"""

_BT_PIV_SQL = """
  SELECT 'r:' || CAST(r_regionkey AS VARCHAR) AS p FROM region
  UNION ALL SELECT 'n:' || CAST(n_nationkey AS VARCHAR) FROM nation WHERE n_nationkey < 5
"""


def _betweenness_oracle_sql(
    depth: int, edges_sql: str = _BT_EDGES_SQL, piv_sql: str = _BT_PIV_SQL,
) -> str:
    """Unroll the exact computation sampled_edge_betweenness performs —
    forward BFS levels then backward dependency levels — as a DuckDB CTE
    chain.  Same decimal-sum determinism trick as the Spark side.
    ``edges_sql``/``piv_sql`` parameterize the graph and source set so
    the EXACT all-pivots entry (``graph_betweenness_exact``) shares the
    one unroller with the sampled entry.

    Every CTE is MATERIALIZED (round-9 verdict item): DuckDB inlines
    plain CTEs per reference, and sym (the 574k-edge co-order graph at
    sf0.1) is referenced by every forward level AND every backward
    contribution join — ~8 re-evaluations of the orders⋈lineitem
    DISTINCT.  Materializing cut the sf0.1 oracle from ~360 s to
    ~100 s and sf0.01 ~6× with byte-identical results (independence
    unchanged — no Spark-derived values enter the oracle)."""
    parts = [
        f"""WITH edges AS MATERIALIZED ({edges_sql}),
sym AS MATERIALIZED (
  SELECT DISTINCT u, v FROM (
    SELECT src AS u, dst AS v FROM edges UNION ALL SELECT dst, src FROM edges
  ) WHERE u <> v
),
piv AS MATERIALIZED ({piv_sql}),
lvl0 AS MATERIALIZED (SELECT p, p AS node, CAST(1.0 AS DOUBLE) AS sigma FROM piv),
seen0 AS MATERIALIZED (SELECT p, node FROM lvl0)"""
    ]
    for lv in range(1, depth + 1):
        parts.append(f"""lvl{lv} AS MATERIALIZED (
  SELECT l.p, s.v AS node, SUM(l.sigma) AS sigma
  FROM lvl{lv - 1} l JOIN sym s ON l.node = s.u
  WHERE NOT EXISTS (SELECT 1 FROM seen{lv - 1} x WHERE x.p = l.p AND x.node = s.v)
  GROUP BY 1, 2
)""")
        parts.append(
            f"seen{lv} AS MATERIALIZED (SELECT * FROM seen{lv - 1} "
            f"UNION ALL SELECT p, node FROM lvl{lv})"
        )
    # backward: low{lv} = level lv nodes with accumulated delta;
    # con{lv} = DAG-edge contributions between lvl{lv-1} and lvl{lv}
    for lv in range(depth, 0, -1):
        if lv == depth:
            parts.append(
                f"low{lv} AS MATERIALIZED (SELECT p, node, sigma, CAST(0.0 AS DOUBLE) AS delta "
                f"FROM lvl{lv})"
            )
        else:
            parts.append(f"""low{lv} AS MATERIALIZED (
  SELECT l.p, l.node, l.sigma, COALESCE(d.delta, 0.0) AS delta
  FROM lvl{lv} l LEFT JOIN del{lv + 1} d ON l.p = d.p AND l.node = d.node
)""")
        parts.append(f"""con{lv} AS MATERIALIZED (
  SELECT u.p, u.node AS vn, w.node AS wn,
         u.sigma / w.sigma * (1.0 + w.delta) AS c
  FROM lvl{lv - 1} u JOIN sym s ON u.node = s.u
  JOIN low{lv} w ON w.p = u.p AND w.node = s.v
)""")
        parts.append(f"""del{lv} AS MATERIALIZED (
  SELECT p, vn AS node,
         round(CAST(SUM(CAST(c AS DECIMAL(38,12))) AS DOUBLE), 12) AS delta
  FROM con{lv} GROUP BY 1, 2
)""")
    allc = " UNION ALL ".join(f"SELECT * FROM con{lv}" for lv in range(1, depth + 1))
    return ",\n".join(parts) + f"""
SELECT least(vn, wn) AS a, greatest(vn, wn) AS b,
       round(CAST(SUM(CAST(c AS DECIMAL(38,12))) AS DOUBLE), 6) AS betweenness
FROM ({allc}) GROUP BY 1, 2
"""


_BETWEENNESS_SQL = _betweenness_oracle_sql(_BT_DEPTH)


# --- exact all-sources Brandes at reference scale (round 11) ---------------
# The reference computes EXACT edge betweenness via igraph on its
# ~10^3-node statement graph (analysis/network/02-look-into-data.R:49);
# this entry runs the distributed equivalent on a comparably-sized
# cyclic subgraph: suppliers (key-capped), their nations/regions, and
# supplier-supplier co-order edges.  Depth 12 >> the measured diameter;
# the operator RAISES if the BFS hasn't exhausted every component, so
# the bound is a guard, not a truncation.
_BTX_DEPTH = 12
_BTX_CAP = 200


def graph_betweenness_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G16 EXACT: all-sources Brandes edge betweenness on a cyclic
    graph at the reference's own scale (igraph
    ``centrality_edge_betweenness``, `02-look-into-data.R:49`) — the
    last approximation gap from COVERAGE.md closed.  Values follow the
    all-ordered-sources convention (2× the per-unordered-pair count;
    see ``operators.graph.exact_edge_betweenness``).  The node-count
    gate and the exhaustion guard both fail loud; the sampled entry
    (``graph_betweenness_sampled``) remains the 100 TB path."""
    from .operators.graph import exact_edge_betweenness

    s = t(spark, sf_dir, "supplier").filter(F.col("s_suppkey") <= _BTX_CAP)
    n = t(spark, sf_dir, "nation")
    li = t(spark, sf_dir, "lineitem")
    tag = _tag  # module-level helper; the local copy was byte-identical
    x = li.select(F.col("l_orderkey").alias("o"),
                  F.col("l_suppkey").alias("sa")) \
        .filter(F.col("sa") <= _BTX_CAP)
    y = li.select(F.col("l_orderkey").alias("o"),
                  F.col("l_suppkey").alias("sb")) \
        .filter(F.col("sb") <= _BTX_CAP)
    co = (
        x.join(y, "o")
        .filter(F.col("sa") < F.col("sb"))
        .select(tag("s:", "sa").alias("src"), tag("s:", "sb").alias("dst"))
        .distinct()
    )
    edges = (
        s.select(tag("s:", "s_suppkey").alias("src"),
                 tag("n:", "s_nationkey").alias("dst"))
        .unionAll(n.select(tag("n:", "n_nationkey"), tag("r:", "n_regionkey")))
        .unionAll(co)
    )
    return exact_edge_betweenness(edges, max_depth=_BTX_DEPTH)


_BTX_EDGES_SQL = f"""
  SELECT 's:' || CAST(s_suppkey AS VARCHAR) AS src, 'n:' || CAST(s_nationkey AS VARCHAR) AS dst
    FROM supplier WHERE s_suppkey <= {_BTX_CAP}
  UNION ALL SELECT 'n:' || CAST(n_nationkey AS VARCHAR), 'r:' || CAST(n_regionkey AS VARCHAR) FROM nation
  UNION ALL SELECT DISTINCT 's:' || CAST(x.l_suppkey AS VARCHAR), 's:' || CAST(y.l_suppkey AS VARCHAR)
    FROM lineitem x JOIN lineitem y
      ON x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey
    WHERE x.l_suppkey <= {_BTX_CAP} AND y.l_suppkey <= {_BTX_CAP}
"""

# pivots = EVERY node of the symmetric graph (exactness)
_BTX_PIV_SQL = "SELECT DISTINCT u AS p FROM sym"

_BETWEENNESS_EXACT_SQL = _betweenness_oracle_sql(
    _BTX_DEPTH, edges_sql=_BTX_EDGES_SQL, piv_sql=_BTX_PIV_SQL)


_LPA_ITER = 4


def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation over the
    same cyclic customer–supplier co-order graph the sampled
    betweenness uses — the fourth network analytic next to degrees,
    PageRank and betweenness (the reference clusters its statement
    graph visually, `analysis/plot-full-network.qmd:73-91`).

    Deterministic min-tie-break LPA, fixed ``_LPA_ITER`` rounds — see
    ``operators.graph.label_propagation`` for the scale shape (one
    |E|-proportional equi-join + one partial agg + one per-node top-1
    window per round, no driver state)."""
    from .operators.graph import label_propagation

    return label_propagation(
        _membership_coorder_edges(spark, sf_dir), n_iter=_LPA_ITER)


def _lpa_oracle_sql(n_iter: int) -> str:
    """Unroll the exact synchronous rounds label_propagation performs.
    Pure integer/string relational algebra — no float discipline
    needed; the tie-break (count DESC, label ASC) is a total order so
    both engines pick the same label."""
    parts = [
        # the SHARED edge SQL (one copy with the betweenness oracle —
        # review fix: this was an inlined verbatim twin of it)
        f"""WITH edges AS MATERIALIZED (
{_BT_EDGES_SQL}
),
sym AS MATERIALIZED (
  SELECT DISTINCT u, v FROM (
    SELECT src AS u, dst AS v FROM edges UNION ALL SELECT dst, src FROM edges
  ) WHERE u <> v
),
lab0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS label FROM sym)"""
    ]
    for i in range(1, n_iter + 1):
        parts.append(f"""cnt{i} AS MATERIALIZED (
  SELECT node, label, count(*) AS c FROM (
    SELECT s.v AS node, l.label
    FROM lab{i - 1} l JOIN sym s ON l.node = s.u
    UNION ALL SELECT node, label FROM lab{i - 1}
  ) GROUP BY 1, 2
)""")
        parts.append(f"""lab{i} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node
                              ORDER BY c DESC, label ASC) AS rn
    FROM cnt{i}
  ) WHERE rn = 1
)""")
    return ",\n".join(parts) + f"""
SELECT node, label AS community FROM lab{n_iter}
"""


_LPA_SQL = _lpa_oracle_sql(_LPA_ITER)


# YARRRML document equivalent to star_schema_maps() — same KG driven
# from YAML text (the reference's entry point, `kg_v1.yml:28-83`).
# customer.inNation uses a referencing object map with an equal join
# condition (`kg_v1.yml:46-51`); supplier.inNation the template form.
_STAR_YARRRML = """\
prefixes:
  c: "c:"
  s: "s:"
  n: "n:"
  r: "r:"

sources:
  customer:
    table: customer
  supplier:
    table: supplier
  nation:
    table: nation
  region:
    table: region

mappings:
  CustomerMapping:
    sources: customer
    s: c:$(c_custkey)
    po:
      - [type, Customer]
      - [name, $(c_name)]
      - [segment, $(c_mktsegment)]
      - p: inNation
        o:
        - mapping: NationMapping
          condition:
            function: equal
            parameters:
              - [str1, $(c_nationkey)]
              - [str2, $(n_nationkey)]
  SupplierMapping:
    sources: supplier
    s: s:$(s_suppkey)
    po:
      - [type, Supplier]
      - [name, $(s_name)]
      - [inNation, n:$(s_nationkey)]
  NationMapping:
    sources: nation
    s: n:$(n_nationkey)
    po:
      - [name, $(n_name)]
      - [inRegion, r:$(n_regionkey)]
  RegionMapping:
    sources: region
    s: r:$(r_regionkey)
    po:
      - [name, $(r_name)]
"""


def graph_materialize_yaml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G19 from YAML text: the same star-schema KG as
    ``graph_materialize_triples``, but driven by a YARRRML document via
    plans/yarrrml (the reference's materialization entry point,
    `create-rdf.py:8-21` + `kg_v1.yml`), incl. a referencing object map
    with a join condition."""
    from .plans.yarrrml import load_yarrrml

    doc = load_yarrrml(_STAR_YARRRML)
    tables = {name: t(spark, sf_dir, spec["table"])
              for name, spec in doc.sources.items()}
    return materialize(tables, doc.maps)


def graph_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G16-family: per-node triangle participation over the part
    co-occurrence graph (parts appearing in the same order — the
    books-co-cited-together shape).  Degree-oriented node-iterator
    (see :func:`operators.graph.triangle_counts`): orientation bounds
    the wedge join at O(m^1.5) regardless of hub parts."""
    from .operators.graph import triangle_counts

    pairs = _repeated_coorder_pairs(spark, sf_dir, min_orders=1)
    return triangle_counts(pairs, "p1", "p2")


def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient over the part co-occurrence graph
    — the standard companion to `graph_triangle_counts` (how
    clique-like each node's neighborhood is; Watts-Strogatz 1998).
    Reuses the O(m^1.5) oriented triangle kernel plus one degree
    aggregate; zero-triangle nodes of degree ≥ 2 kept at cc = 0."""
    from .operators.graph import clustering_coefficient

    pairs = _repeated_coorder_pairs(spark, sf_dir, min_orders=1)
    return clustering_coefficient(pairs, "p1", "p2")


_KCORE_K = 2
_KCORE_ROUNDS = 12


def _repeated_coorder_pairs(
    spark: SparkSession, sf_dir: str, with_count: bool = False,
    min_orders: int = 2,
) -> DataFrame:
    """Parts co-ordered in ≥ ``min_orders`` DISTINCT orders — the
    co-occurrence graph shared by ``graph_kcore_peel``,
    ``graph_bfs_distances``, ``graph_sssp_weighted``,
    ``graph_harmonic_sampled``, ``graph_link_prediction`` (default
    threshold 2) and, unthresholded (``min_orders=1``, review fix:
    those bodies were copies), ``graph_triangle_counts`` /
    ``graph_clustering_coeff`` (distinct (order, p1, p2) first:
    lineitem repeats rows, and raw join multiplicity would admit
    single-order pairs).  ONE copy of the construction — a threshold
    or pre-pass change here reaches every consumer.
    ``with_count=True`` keeps the distinct-order multiplicity column
    ``c`` (the SSSP entry derives edge weights from it)."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p1"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p2"))
    counted = (
        a.join(b, "o")
        .filter(F.col("p1") < F.col("p2"))
        .select("o", "p1", "p2")
        .distinct()
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= int(min_orders))
    )
    if with_count:
        return counted.select("p1", "p2", "c")
    return counted.select("p1", "p2")


_BFS_DEPTH = 3


def graph_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the repeated co-order graph: minimum hop
    distance from the seed set (parts with key ≡ 0 mod 97 that appear
    in the graph), bounded at ``_BFS_DEPTH`` levels — the
    graph-proximity primitive (how close is every item to a curated
    seed set).  Distances spread over all four levels at every shipped
    SF (measured: sf0.01 = 19/67/213/562 nodes at d 0..3), so each
    frontier round does real work.  See
    ``operators.graph.bfs_distances`` for the level-synchronous
    frontier shape; the depth bound keeps it a pure function of the
    input, mirrored by the oracle's depth-capped recursive CTE."""
    from .operators.graph import bfs_distances

    pairs = _repeated_coorder_pairs(spark, sf_dir)
    seeds = (
        pairs.select(F.col("p1").alias("node"))
        .unionAll(pairs.select(F.col("p2").alias("node")))
        .filter(F.col("node") % 97 == 0)
        .distinct()
    )
    return bfs_distances(pairs, seeds, _BFS_DEPTH,
                         src="p1", dst="p2", node="node")


# ONE copy of the repeated-co-order pair CTE body — the Spark side was
# already consolidated into _repeated_coorder_pairs, but five oracle
# SQL strings carried hand-synced copies that required lockstep edits
# (review batch).  _REP_PAIRS_W_BODY is the weighted variant (keeps the
# co-order count for SSSP's 1000000 div c edge weights).
_REP_PAIRS_BODY = """
  SELECT a, b FROM (
    SELECT DISTINCT x.l_orderkey AS o, x.l_partkey AS a, y.l_partkey AS b
    FROM lineitem x JOIN lineitem y
      ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
  ) GROUP BY 1, 2 HAVING count(*) >= 2"""

_REP_PAIRS_W_BODY = """
  SELECT a, b, CAST(1000000 // c AS BIGINT) AS w FROM (
    SELECT a, b, count(*) AS c FROM (
      SELECT DISTINCT x.l_orderkey AS o, x.l_partkey AS a, y.l_partkey AS b
      FROM lineitem x JOIN lineitem y
        ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
    ) GROUP BY 1, 2 HAVING count(*) >= 2
  )"""


_BFS_SQL = f"""
WITH RECURSIVE rep_pairs AS MATERIALIZED ({_REP_PAIRS_BODY}
),
edges AS MATERIALIZED (
  SELECT a, b FROM rep_pairs UNION SELECT b, a FROM rep_pairs
),
seeds AS (SELECT DISTINCT a AS n FROM edges WHERE a % 97 = 0),
walk(node, d) AS (
  SELECT n, 0 FROM seeds
  UNION
  SELECT e.b, w.d + 1 FROM walk w JOIN edges e ON w.node = e.a
  WHERE w.d < {_BFS_DEPTH}
)
SELECT node, CAST(min(d) AS BIGINT) AS dist FROM walk GROUP BY node
"""


_SSSP_ROUNDS = 10


def graph_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest paths over the repeated co-order graph:
    minimum total TIE-WEAKNESS from the seed set, where an edge
    co-ordered in c distinct orders costs ``1_000_000 // c``
    micro-units (strong ties are cheap) — so a chain of strong ties
    can beat a direct weak tie, the semantics hop-count BFS
    (``graph_bfs_distances``) cannot express.  ``_SSSP_ROUNDS``
    synchronous Bellman-Ford relaxations (integer arithmetic
    end-to-end); the fixpoint is ASSERTED in tests on the shipped
    graph, so the round bound is validated, not assumed (measured
    convergence: ≤4 / ≤8 / ≤6 rounds at sf0.001/0.01/0.1 — weighted
    diameter PEAKS at mid-SF where the graph is sparse but already
    deep, hence the 10-round margin).  Same seed
    set as the BFS twin."""
    from .operators.graph import sssp_weighted

    weighted = _repeated_coorder_pairs(spark, sf_dir, with_count=True) \
        .select("p1", "p2", F.expr("1000000 div c").cast("long").alias("w"))
    seeds = (
        weighted.select(F.col("p1").alias("node"))
        .unionAll(weighted.select(F.col("p2").alias("node")))
        .filter(F.col("node") % 97 == 0)
        .distinct()
    )
    return sssp_weighted(weighted, seeds, _SSSP_ROUNDS,
                         src="p1", dst="p2", weight="w", node="node")


def _sssp_oracle_sql(rounds: int) -> str:
    parts = [f"""WITH rep AS MATERIALIZED ({_REP_PAIRS_W_BODY}
),
edges AS MATERIALIZED (
  SELECT a, b, w FROM rep UNION ALL SELECT b, a, w FROM rep
),
d0 AS MATERIALIZED (
  SELECT DISTINCT a AS n, CAST(0 AS BIGINT) AS d FROM edges WHERE a % 97 = 0
)"""]
    for i in range(1, rounds + 1):
        parts.append(f"""d{i} AS MATERIALIZED (
  SELECT n, min(d) AS d FROM (
    SELECT n, d FROM d{i - 1}
    UNION ALL
    SELECT e.b AS n, p.d + e.w AS d
    FROM d{i - 1} p JOIN edges e ON p.n = e.a
  ) GROUP BY n
)""")
    return ",\n".join(parts) + f"""
SELECT n AS node, CAST(d AS BIGINT) AS dist FROM d{rounds}
"""


_SSSP_SQL = _sssp_oracle_sql(_SSSP_ROUNDS)


def graph_harmonic_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled HARMONIC centrality, depth-bounded: for every node, the
    sum of 1/d(s, v) over the seed sample within ``_BFS_DEPTH`` hops —
    the centrality that handles disconnected graphs gracefully
    (unreached pairs contribute 0, not ∞; Boldi & Vigna's preferred
    closeness variant) — estimated from per-source BFS over the same
    %97 seed set (the Eppstein-Wang sampling trade: error ~ 1/√|S|).
    Terms round to 9 dp and sum as DECIMAL(28,14) per node, so the
    estimate is partition-order-proof; d = 0 self-terms are excluded
    on both engines."""
    from .operators.graph import bfs_distances_per_source

    pairs = _repeated_coorder_pairs(spark, sf_dir)
    seeds = (
        pairs.select(F.col("p1").alias("node"))
        .unionAll(pairs.select(F.col("p2").alias("node")))
        .filter(F.col("node") % 97 == 0)
        .distinct()
    )
    from .functions.numeric import round_half_away_col

    dists = bfs_distances_per_source(pairs, seeds, _BFS_DEPTH,
                                     src="p1", dst="p2", node="node")
    term = round_half_away_col(F.lit(1.0) / F.col("dist"), 9)
    return (
        dists.filter(F.col("dist") > 0)
        .groupBy("node")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sources"),
            round_half_away_col(
                F.sum(term.cast("decimal(28,14)")).cast("double"), 6
            ).alias("harmonic"))
    )


_HARMONIC_SQL = f"""
WITH RECURSIVE rep_pairs AS MATERIALIZED ({_REP_PAIRS_BODY}
),
edges AS MATERIALIZED (
  SELECT a, b FROM rep_pairs UNION SELECT b, a FROM rep_pairs
),
seeds AS (SELECT DISTINCT a AS n FROM edges WHERE a % 97 = 0),
walk(src, node, d) AS (
  SELECT n, n, 0 FROM seeds
  UNION
  SELECT w.src, e.b, w.d + 1 FROM walk w JOIN edges e ON w.node = e.a
  WHERE w.d < {_BFS_DEPTH}
),
md AS (SELECT src, node, min(d) AS d FROM walk GROUP BY 1, 2)
SELECT node, CAST(count(*) AS BIGINT) AS n_sources,
       round(CAST(SUM(CAST(round(1.0 / d, 9) AS DECIMAL(28,14)))
                  AS DOUBLE), 6) AS harmonic
FROM md WHERE d > 0 GROUP BY node
"""


def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-edge suggestions on the repeated co-order graph:
    neighborhood-jaccard link prediction (Liben-Nowell & Kleinberg) —
    non-adjacent part pairs that share co-order neighbors, scored by
    common-neighbor jaccard.  The KG-completion / ER-reviewer-queue
    primitive.  See ``operators.graph.link_prediction_jaccard`` for the
    wedge shape and the hub-middle recall trade (no cut needed here:
    the thresholded graph's max degree is small at every shipped SF)."""
    from .operators.graph import link_prediction_jaccard

    pairs = _repeated_coorder_pairs(spark, sf_dir)
    return link_prediction_jaccard(pairs, src="p1", dst="p2",
                                   min_common=1)


_LINKPRED_SQL = f"""
WITH rep AS MATERIALIZED ({_REP_PAIRS_BODY}
),
nb AS MATERIALIZED (
  SELECT a AS m, b AS x FROM rep UNION ALL SELECT b, a FROM rep
),
deg AS (SELECT x, CAST(count(*) AS BIGINT) AS d FROM nb GROUP BY 1),
wedge AS (
  SELECT n1.x AS u, n2.x AS w, CAST(count(*) AS BIGINT) AS common
  FROM nb n1 JOIN nb n2 ON n1.m = n2.m AND n1.x < n2.x
  GROUP BY 1, 2
),
cand AS (
  SELECT wd.u, wd.w, wd.common FROM wedge wd
  ANTI JOIN rep e ON wd.u = e.a AND wd.w = e.b
)
SELECT c.u, c.w, c.common,
       round(c.common / (du.d + dw.d - c.common), 6) AS jaccard
FROM cand c
JOIN deg du ON c.u = du.x
JOIN deg dw ON c.w = dw.x
"""


def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the REPEATED part co-occurrence graph (parts
    co-ordered in ≥2 distinct orders — the thresholded graph where
    peeling is non-trivial; the raw co-occurrence graph is clique-like
    and nothing peels): ``_KCORE_ROUNDS`` synchronous
    drop-degree-<k rounds (Seidman 1983), the periphery-vs-cyclic-core
    split of network analysis.  Fixed rounds keep it oracle-checkable;
    the fixpoint (every survivor's degree ≥ k) is asserted in tests at
    every shipped SF, so the bound is validated, not assumed."""
    from .operators.graph import kcore

    # the shared _repeated_coorder_pairs keeps the distinct
    # (order, p1, p2) pre-pass (round-9 review catch: raw join
    # multiplicity admits single-distinct-order pairs — 193 such
    # edges at sf0.01)
    return kcore(_repeated_coorder_pairs(spark, sf_dir),
                 _KCORE_K, _KCORE_ROUNDS, "p1", "p2")


def _kcore_oracle_sql(k: int, rounds: int) -> str:
    parts = [f"""WITH rep_pairs AS MATERIALIZED ({_REP_PAIRS_BODY}
),
s0 AS MATERIALIZED (
  SELECT a, b FROM rep_pairs
  UNION ALL SELECT b, a FROM rep_pairs
)"""]
    for i in range(1, rounds + 1):
        parts.append(f"""k{i} AS MATERIALIZED (
  SELECT a FROM (SELECT a, count(*) AS c FROM s{i - 1} GROUP BY a)
  WHERE c >= {k}
), s{i} AS MATERIALIZED (
  SELECT s.a, s.b FROM s{i - 1} s
  JOIN k{i} x ON s.a = x.a JOIN k{i} y ON s.b = y.a
)""")
    return ",\n".join(parts) + f"""
SELECT a AS node, CAST(count(*) AS BIGINT) AS core_degree
FROM s{rounds} GROUP BY a
"""


_KCORE_SQL = _kcore_oracle_sql(_KCORE_K, _KCORE_ROUNDS)


_CLUSTERING_SQL = """
WITH pairs AS (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM pairs e1 JOIN pairs e2 ON e1.b = e2.a
  JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b
),
tcnt AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
    SELECT x AS node FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri
  ) GROUP BY node
),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
    SELECT a AS node FROM pairs UNION ALL SELECT b FROM pairs
  ) GROUP BY node
)
SELECT d.node, d.degree,
       CAST(COALESCE(t.n_triangles, 0) AS BIGINT) AS n_triangles,
       round(CAST(2 * COALESCE(t.n_triangles, 0) AS DOUBLE)
             / (d.degree * (d.degree - 1)), 6) AS clustering
FROM deg d LEFT JOIN tcnt t USING (node)
WHERE d.degree >= 2
"""


_TRIANGLES_SQL = """
WITH pairs AS (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM pairs e1 JOIN pairs e2 ON e1.b = e2.a
  JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b
),
nodes AS (
  SELECT x AS node FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
)
SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
FROM nodes GROUP BY node
"""


SPECS: dict[str, QuerySpec] = {
    "graph_triangle_counts": QuerySpec(
        graph_triangle_counts, _TRIANGLES_SQL,
        "degree-oriented triangle counting over the part co-occurrence "
        "graph — O(m^1.5) wedge join, hub-immune"),
    "graph_clustering_coeff": QuerySpec(
        graph_clustering_coeff, _CLUSTERING_SQL,
        "local clustering coefficient (deg ≥ 2, zero-triangle nodes "
        "kept) over the part co-occurrence graph"),
    "graph_kcore_peel": QuerySpec(
        graph_kcore_peel, _KCORE_SQL,
        "2-core of the repeated-co-order part graph: fixed synchronous "
        "peel rounds, fixpoint asserted in tests"),
    "graph_bfs_distances": QuerySpec(
        graph_bfs_distances, _BFS_SQL,
        "multi-source BFS hop distances from a seed set, depth-bounded "
        "level-synchronous frontier expansion"),
    "graph_sssp_weighted": QuerySpec(
        graph_sssp_weighted, _SSSP_SQL,
        "weighted shortest paths (tie-weakness micro-costs, integer "
        "arithmetic): bounded Bellman-Ford relaxations, fixpoint "
        "asserted"),
    "graph_link_prediction": QuerySpec(
        graph_link_prediction, _LINKPRED_SQL,
        "neighborhood-jaccard link prediction: open-wedge candidates "
        "anti-joined against edges, hub-middle cut available"),
    "graph_harmonic_sampled": QuerySpec(
        graph_harmonic_sampled, _HARMONIC_SQL,
        "sampled depth-bounded harmonic centrality from per-source "
        "BFS (Eppstein-Wang trade), decimal-summed terms"),
    "graph_materialize_triples": QuerySpec(graph_materialize, _MATERIALIZE_SQL),
    "graph_materialize_yaml": QuerySpec(graph_materialize_yaml, _MATERIALIZE_SQL),
    "graph_pagerank": QuerySpec(graph_pagerank, _PAGERANK_SQL),
    "graph_pagerank_personalized": QuerySpec(
        graph_pagerank_personalized, _PPR_SQL,
        "personalized PageRank seeded on the nation layer — "
        "proximity-to-seeds scores, teleport+dangling mass on the "
        "seed distribution, unrolled-iteration oracle"),
    "graph_label_propagation": QuerySpec(
        graph_label_propagation, _LPA_SQL,
        "deterministic synchronous LPA community detection over the "
        "co-order graph — unrolled-round SQL oracle"),
    "graph_betweenness_sampled": QuerySpec(
        graph_betweenness_sampled, _BETWEENNESS_SQL
    ),
    "graph_betweenness_exact": QuerySpec(
        graph_betweenness_exact, _BETWEENNESS_EXACT_SQL,
        "exact all-sources Brandes edge betweenness at reference scale "
        "(node-count gated, exhaustion-guarded); sampled entry is the "
        "100 TB path"),
    "graph_tree_betweenness": QuerySpec(graph_tree_betweenness, _TREE_BT_SQL),
    "graph_bgp_region_members": QuerySpec(graph_bgp_region_members, _BGP_SQL),
    "graph_optional_segment": QuerySpec(graph_optional_segment, _OPTIONAL_SQL),
    "graph_union_patterns": QuerySpec(graph_union_patterns, _UNION_SQL),
    "graph_values_filter": QuerySpec(graph_values_filter, _VALUES_SQL),
    "sparql_values_undef": QuerySpec(
        sparql_values_undef, _VALUES_UNDEF_SQL,
        "VALUES with UNDEF cells: §10.2.2 compatibility join with bag "
        "multiplicity, via the text front-end"),
    "graph_not_exists": QuerySpec(graph_not_exists, _NOTEXISTS_SQL),
    "graph_bind_extract": QuerySpec(graph_bind_extract, _BIND_SQL),
    "graph_path_seq": QuerySpec(graph_path_seq, _PATHSEQ_SQL),
    "graph_transitive_closure": QuerySpec(graph_transitive_closure, _CLOSURE_SQL),
    "graph_degrees": QuerySpec(graph_degrees, _DEGREES_SQL),
    "graph_two_hop": QuerySpec(graph_two_hop, _TWOHOP_SQL),
    "graph_neighborhood": QuerySpec(graph_neighborhood, _NEIGHBORHOOD_SQL),
}
