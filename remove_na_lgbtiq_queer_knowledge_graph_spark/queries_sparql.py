"""SPARQL-text queries (SURVEY.md §2.11, §3.2) with DuckDB oracles.

These queries feed VERBATIM reference ``.rq`` text through the
``plans/sparql`` front-end.  To make the reference queries return real,
oracle-checkable rows, the star schema is first materialized as a
*FactGrid-shaped* knowledge graph: the same IRIs, properties
(``fgt:P131`` project membership, ``fgt:P83`` residence, ``fgt:P47``
located-in, ``fgt:P2`` instance-of), ``wikibase:directClaim`` property
triples, language-tagged ``rdfs:label``s, and Wikidata sitelinks the
reference queries expect.  Nation IRIs are ``fg:Q<225300+nationkey>`` so
that ``fg:Q225307`` — the root item hard-coded in
``network-00-starting-point.rq`` — is nation 7 (GERMANY).

The DuckDB oracles derive the same answers directly from the relational
star schema — a genuinely independent derivation path (no triples, no
BGP), so parser + planner + materializer are all under test.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .plans.r2rml import Template, TriplesMap, materialize
from .plans.sparql import RDFS_LABEL, SKOS_ALT_LABEL, compile_sparql
from .spec import QuerySpec, memo_get, scratch_dir, t

FG = "https://database.factgrid.de/entity/"
FGT = "https://database.factgrid.de/prop/direct/"
WIKIBASE_DC = "http://wikiba.se/ontology#directClaim"
SCHEMA = "http://schema.org/"
WD = "http://www.wikidata.org/entity/"
WDT = "http://www.wikidata.org/prop/direct/"

# property labels used in both the Spark fixture and the oracles
_PROP_LABELS = {
    "P83": "residence",
    "P47": "located in",
    "P131": "part of project",
    "P2": "instance of",
}
_CONST_LABELS = {
    "Q400012": "Remove NA",
    "Q7": "human",
    "Q6256": "country",
    "Q82794": "geographical region",
    "Q2": "agent",
    # venue types for lokale-from-factgrid.rq
    "Q40454": "Lokal",
    "Q399989": "Gaststätte",
    "Q399990": "Bar",
    "Q399988": "Café",
    "Q400014": "Club",
    "Q137530": "Treffpunkt",
    "Q12": "organization",
    "Q100632": "property group",
}

#: audience entities the lokale query UNIONs over (lokale-from-factgrid.rq:7-27)
_AUDIENCES = ("Q399989", "Q399990", "Q399988", "Q400014", "Q137530")

# subclass-of (fgt:P3) edges so (fgt:P2/fgt:P3*) paths are non-trivial;
# Q40454 (Lokal) ⊑ Q12 (organization) makes venues reachable from the
# organisations path of get_wiki_sitelinks.rq:30
_SUBCLASS_EDGES = [("Q7", "Q2"), ("Q40454", "Q12")]


def _factgrid_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    ck = F.col("c_custkey")
    cust = t(spark, sf_dir, "customer").select(
        "c_name",
        (F.lit(500000) + ck).alias("fg_id"),
        (F.lit(225300) + F.col("c_nationkey")).alias("nat_id"),
        (F.lit(900000) + ck).alias("wd_id"),
        # GND authority id (fgt:P76) for most customers — the %3 gap
        # gives get_gnd_from_fg_and_wd.rq a real required-pattern cut
        F.when(ck % 3 != 0, F.concat(F.lit("gnd-"), ck.cast("string")))
         .alias("gnd"),
        # per-language Wikipedia sitelink titles for PERSONS
        # (get_wiki_sitelinks_removena.rq runs the 4-language OPTIONAL
        # chain over the whole P131 collection) — same null-semantics
        # as the supplier titles: different moduli so every OPTIONAL
        # has both bound and unbound rows
        # skos:altLabel aliases (label-service ?xAltLabel): one for %4,
        # a second for %8 so the comma-join has multi-alias rows
        F.when(ck % 4 == 0, F.concat(F.lit("alias-"), F.col("c_name")))
         .alias("calias1"),
        F.when(ck % 8 == 0, F.concat(F.lit("aka-"), F.col("c_name")))
         .alias("calias2"),
        F.when(ck % 3 == 0, F.concat(F.lit("de-"), F.col("c_name")))
         .alias("cdewiki"),
        F.when(ck % 4 == 0, F.concat(F.lit("en-"), F.col("c_name")))
         .alias("cenwiki"),
        F.when(ck % 5 == 0, F.concat(F.lit("fr-"), F.col("c_name")))
         .alias("cfrwiki"),
        F.when(ck % 7 == 0, F.concat(F.lit("es-"), F.col("c_name")))
         .alias("ceswiki"),
        "c_custkey",
    )
    k = F.col("s_suppkey")
    supp = t(spark, sf_dir, "supplier").select(
        "s_name",
        F.concat(F.lit("Adresse "), k.cast("string")).alias("s_address"),
        (F.lit(600000) + k).alias("fg_id"),
        # nullable columns → the materializer drops the triple (R2RML
        # null semantics), giving every OPTIONAL branch real null cases
        F.when(k % 2 == 0, F.lit(700000) + k).alias("addr_id"),
        (F.lit(800000) + k).alias("wd_id"),
        F.element_at(
            F.array(*[F.lit(a) for a in _AUDIENCES]),
            (k % 5 + 1).cast("int"),
        ).alias("aud_qid"),
        F.when(k % 3 == 0, F.concat(F.lit("start-"), k.cast("string")))
         .alias("start_ts"),
        F.when(k % 4 == 0, F.concat(F.lit("end-"), k.cast("string")))
         .alias("end_ts"),
        F.when(k % 6 == 0, F.concat(F.lit("datum-"), k.cast("string")))
         .alias("datum_ts"),
        F.when(k % 2 == 1, F.concat(F.lit("zielgruppe-"), k.cast("string")))
         .alias("ziel"),
        F.concat(F.lit("@48."), k.cast("string"), F.lit("/11."),
                 k.cast("string")).alias("geo"),
        # per-language Wikipedia sitelink titles (get_wiki_sitelinks.rq
        # OPTIONAL chain) — different moduli so every OPTIONAL has both
        # bound and unbound rows
        F.when(k % 3 == 0, F.concat(F.lit("de-"), F.col("s_name")))
         .alias("dewiki"),
        F.when(k % 4 == 0, F.concat(F.lit("en-"), F.col("s_name")))
         .alias("enwiki"),
        F.when(k % 5 == 0, F.concat(F.lit("fr-"), F.col("s_name")))
         .alias("frwiki"),
        F.when(k % 7 == 0, F.concat(F.lit("es-"), F.col("s_name")))
         .alias("eswiki"),
        "s_suppkey",
    )
    return {
        "cust": cust,
        "cust_even": cust.filter(F.col("c_custkey") % 2 == 0),
        "supp": supp,
        "supp_even": supp.filter(F.col("s_suppkey") % 2 == 0),
        "nation": t(spark, sf_dir, "nation").select(
            "n_name",
            (F.lit(225300) + F.col("n_nationkey")).alias("nat_id"),
            (F.lit(300000) + F.col("n_regionkey")).alias("reg_id"),
        ),
        "region": t(spark, sf_dir, "region").select(
            "r_name",
            (F.lit(300000) + F.col("r_regionkey")).alias("reg_id"),
        ),
    }


def factgrid_maps() -> list[TriplesMap]:
    """R2RML maps for the FactGrid-shaped KG (incl. lang-tagged labels —
    same label text in ``de`` and ``en`` so label-service language
    preference cannot destabilize oracle values)."""
    q = lambda col: Template(FG + "Q", col)  # noqa: E731
    return [
        TriplesMap("cust", q("fg_id"), [
            (FGT + "P131", ("const", FG + "Q400012")),
            (FGT + "P83", q("nat_id")),
            (FGT + "P2", ("const", FG + "Q7")),
            (FGT + "P76", "gnd"),
            (RDFS_LABEL, "c_name", "de"),
            (RDFS_LABEL, "c_name", "en"),
            (SKOS_ALT_LABEL, "calias1", "en"),
            (SKOS_ALT_LABEL, "calias2", "en"),
        ]),
        # Wikidata sitelinks for even customer keys only — the odd ones
        # are the "items missing from Wikidata" the reference query hunts
        TriplesMap("cust_even", Template("https://www.wikidata.org/wiki/Q", "wd_id"), [
            (SCHEMA + "about", q("fg_id")),
            (SCHEMA + "isPartOf", ("const", "https://www.wikidata.org/")),
            (SCHEMA + "name", Template("Q", "wd_id")),
        ]),
        # suppliers as "Lokale" venues (lokale-from-factgrid.rq fixture):
        # type, audience, optional address/dates/target group
        TriplesMap("supp", q("fg_id"), [
            (FGT + "P2", ("const", FG + "Q40454")),
            (FGT + "P726", Template(FG, "aud_qid")),
            (FGT + "P208", q("addr_id")),
            (FGT + "P49", "start_ts"),
            (FGT + "P50", "end_ts"),
            (FGT + "P106", "datum_ts"),
            (FGT + "P573", "ziel"),
            (RDFS_LABEL, "s_name", "de"),
            (RDFS_LABEL, "s_name", "en"),
        ]),
        TriplesMap("supp_even", q("addr_id"), [
            (FGT + "P48", "geo"),
            (RDFS_LABEL, "s_address", "de"),
            (RDFS_LABEL, "s_address", "en"),
        ]),
        TriplesMap("supp_even", Template("https://www.wikidata.org/wiki/Q", "wd_id"), [
            (SCHEMA + "about", q("fg_id")),
            (SCHEMA + "isPartOf", ("const", "https://www.wikidata.org/")),
            (SCHEMA + "name", Template("Q", "wd_id")),
        ]),
        # per-language Wikipedia sitelinks (get_wiki_sitelinks.rq): the
        # schema:name triple exists only where the title column is
        # non-null, so each OPTIONAL block has real misses
        *[
            TriplesMap("supp", Template(f"https://{wiki}.wikipedia.org/wiki/S",
                                        "fg_id"), [
                (SCHEMA + "about", q("fg_id")),
                (SCHEMA + "isPartOf",
                 ("const", f"https://{wiki}.wikipedia.org/")),
                (SCHEMA + "name", col),
            ])
            for wiki, col in (("de", "dewiki"), ("en", "enwiki"),
                              ("fr", "frwiki"), ("es", "eswiki"))
        ],
        # the customer-side (person) twin of the supplier wiki maps
        *[
            TriplesMap("cust", Template(f"https://{wiki}.wikipedia.org/wiki/C",
                                        "fg_id"), [
                (SCHEMA + "about", q("fg_id")),
                (SCHEMA + "isPartOf",
                 ("const", f"https://{wiki}.wikipedia.org/")),
                (SCHEMA + "name", col),
            ])
            for wiki, col in (("de", "cdewiki"), ("en", "cenwiki"),
                              ("fr", "cfrwiki"), ("es", "ceswiki"))
        ],
        TriplesMap("nation", q("nat_id"), [
            (FGT + "P47", q("reg_id")),
            (FGT + "P2", ("const", FG + "Q6256")),
            (RDFS_LABEL, "n_name", "de"),
            (RDFS_LABEL, "n_name", "en"),
        ]),
        TriplesMap("region", q("reg_id"), [
            (FGT + "P131", ("const", FG + "Q400012")),
            (FGT + "P2", ("const", FG + "Q82794")),
            (RDFS_LABEL, "r_name", "de"),
            (RDFS_LABEL, "r_name", "en"),
        ]),
    ]


def _static_triples(spark: SparkSession) -> DataFrame:
    rows: list[tuple] = []
    for p, lbl in _PROP_LABELS.items():
        rows.append((FG + p, WIKIBASE_DC, FGT + p, None, None))
        rows.append((FG + p, RDFS_LABEL, lbl, "de", None))
        rows.append((FG + p, RDFS_LABEL, lbl, "en", None))
    for qid, lbl in _CONST_LABELS.items():
        rows.append((FG + qid, RDFS_LABEL, lbl, "de", None))
        rows.append((FG + qid, RDFS_LABEL, lbl, "en", None))
    for sub, sup in _SUBCLASS_EDGES:
        rows.append((FG + sub, FGT + "P3", FG + sup, None, None))
    return spark.createDataFrame(
        rows, "subject string, predicate string, object string, "
              "lang string, dtype string")


# key: (applicationId, sf_dir, fixture name, source mtimes)
_KG_MEMO: dict[tuple, DataFrame] = {}


class EmptyPredicateError(ValueError):
    """A triples frame holds a null or empty-string predicate.  The
    predicate-partitioned store cannot keep either: both land in the
    ``__HIVE_DEFAULT_PARTITION__`` directory and read back as null, so
    an empty predicate would silently turn into an unbound one."""


def _write_store(df: DataFrame, d: str) -> DataFrame:
    """Write ``df`` to a parquet store at ``d`` and return the frame
    that scans it.

    A triples frame (``subject``/``predicate``/``object`` columns) is
    vertically partitioned: one ``predicate=<iri>`` directory per
    predicate, one zstd file per directory, rows sorted by subject.  A
    bound-predicate pattern filters ``predicate == <iri>``, which
    Catalyst turns into a ``PartitionFilters`` prune, so each pattern
    scan lists and reads one directory instead of every file of the
    store.  The read passes the frame's own schema, so nothing is
    inferred (partition values stay strings, an IRI is never parsed as
    a number or date), and re-selects its columns, because a partition
    column is read back last: consumers see the same names, order and
    types as the frame that was written.

    Any other frame keeps the flat write."""
    spark = df.sparkSession
    if not {"subject", "predicate", "object"} <= set(df.columns):
        df.write.mode("overwrite").parquet(d)
        return spark.read.parquet(d)
    (df.repartition("predicate")
       .sortWithinPartitions("predicate", "subject")
       .write.mode("overwrite").option("compression", "zstd")
       .partitionBy("predicate").parquet(d))
    # Hive-style partitioning writes null AND "" values to this directory
    if os.path.isdir(os.path.join(d, "predicate=__HIVE_DEFAULT_PARTITION__")):
        raise EmptyPredicateError(
            f"triples store {d} has null or empty-string predicates")
    return spark.read.schema(df.schema).parquet(d).select(*df.columns)


def kg_memo(key: str, spark: SparkSession, sf_dir: str, build,
            store: bool = True) -> DataFrame:
    """Session-scoped memo for materialized KG fixtures: the triples a
    SPARQL query scans are identical for every query in a session, so
    re-running the R2RML materialize per query (the localCheckpoint is
    per-DataFrame) is pure waste — in the oracle gate and bench that is
    dozens of rebuilds.  Keyed by (session, sf_dir, source mtimes) —
    like spec.t's table memo, regenerated testdata invalidates the
    checkpointed fixture instead of serving it stale.

    ``store=True`` memoizes the frame that reads back a parquet store
    of the built frame (``_write_store``: partitioned by predicate for
    triples frames, flat otherwise).

    ``store=False`` memoizes the built frame WITHOUT writing it to a
    parquet store — for derived fixtures that are unions of frames
    already materialized themselves (base KG store ∪ checkpointed
    additions): re-serializing the whole base KG into a third copy per
    derived fixture is wasted write + storage, and the memo still
    provides the stable object identity compile_sparql's
    prepared-statement memo keys on."""
    import glob as _glob

    try:
        mtimes = tuple(sorted(
            (os.path.basename(p), os.path.getmtime(p))
            for p in _glob.glob(os.path.join(sf_dir, "*.parquet"))
        ))
    except OSError:
        mtimes = ()
    # applicationId, not id(spark): id() can be reused after a stopped
    # session is collected (same rule as spec._TABLE_MEMO)
    k = (spark.sparkContext.applicationId, sf_dir, key, mtimes)

    def build_store() -> DataFrame:
        # Materialize the fixture as a PARQUET table, not a
        # localCheckpoint: checkpoint blocks deserialize the ENTIRE
        # row set on every scan, and a BGP compiles to one scan per
        # triple pattern — companions_and_relations.rq reads the KG 69
        # times per run, ~0.5 s of pure deserialization each.  A
        # parquet-backed store gives each pattern scan partition
        # pruning, column pruning and whole-stage codegen (measured
        # 2.5 s → 1.4 s on the flagship query).  This is also the
        # reference's own shape — its KG materializes to a file
        # (create-rdf.py) before any query runs.
        df = build()
        if store:
            df = _write_store(df, os.path.join(scratch_dir(f"kg_{key}_"), "t"))
        return df

    # bounded across sessions/mtimes
    return memo_get(_KG_MEMO, k, build_store, cap=256)


def factgrid_kg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FactGrid-shaped KG, materialized once per session+sf into a
    predicate-partitioned parquet store (``kg_memo``): a BGP scans the
    KG once per triple pattern, and each bound-predicate scan reads
    only its predicate's directory.  Without a store every pattern
    would re-run the full union of source scans.  The store's file
    count follows its predicates (one file each), not a fixed
    partition count."""
    # no _cache around the build: kg_memo consumes it exactly once (the
    # parquet write IS the materialization); a localCheckpoint first
    # would be a redundant extra pass
    return kg_memo("factgrid", spark, sf_dir, lambda: (
        materialize(_factgrid_tables(spark, sf_dir), factgrid_maps())
        .unionByName(_static_triples(spark))
    ))


def wikidata_service(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mock of the remote Wikidata endpoint (G10 — federation is a
    pluggable DataFrame source, per BASELINE): every third customer has a
    Wikidata item carrying the FactGrid-ID property ``wdt:P8168``; every
    fourth carries a GND id ``wdt:P227``
    (``get_gnd_from_fg_and_wd.rq:44-48``).

    kg_memo'd: compile_sparql's prepared-statement memo keys on the
    service frame's identity, so a fresh DataFrame per call would
    defeat it (full recompile per invocation) and leak memo entries —
    the same rule every other mock endpoint follows."""
    def build() -> DataFrame:
        c = t(spark, sf_dir, "customer")
        ck = F.col("c_custkey")
        subj = F.concat(F.lit(WD + "Q"), (F.lit(900000) + ck).cast("string"))
        fg_ids = c.filter(ck % 3 == 0).select(
            subj.alias("subject"),
            F.lit(WDT + "P8168").alias("predicate"),
            F.concat(F.lit("Q"), (F.lit(500000) + ck).cast("string"))
             .alias("object"),
        )
        gnds = c.filter(ck % 4 == 0).select(
            subj.alias("subject"),
            F.lit(WDT + "P227").alias("predicate"),
            F.concat(F.lit("wd-gnd-"), ck.cast("string")).alias("object"),
        )
        return fg_ids.unionByName(gnds)

    return kg_memo("wikidata_service", spark, sf_dir, build)


# ---------------------------------------------------------------------------
# Verbatim reference query texts
# ---------------------------------------------------------------------------

# /root/reference/data-publishing/factgrid/queries/network-00-starting-point.rq
_NETWORK_00_RQ = """\
# select root item and get next two nodes of each statement

PREFIX fg: <https://database.factgrid.de/entity/>
PREFIX fgt: <https://database.factgrid.de/prop/direct/>
PREFIX wikibase: <http://wikiba.se/ontology#>
PREFIX bd: <http://www.bigdata.com/rdf#>

SELECT ?root ?rootLabel ?property1Label ?item1 ?item1Label ?property2Label ?item2 ?item2Label WHERE {
  BIND(fg:Q225307 AS ?root)
  ?root ?fgt1 ?item1.
  ?item1 ?fgt2 ?item2.
  ?property1 wikibase:directClaim ?fgt1.
  ?property2 wikibase:directClaim ?fgt2.
  SERVICE wikibase:label { bd:serviceParam wikibase:language "[AUTO_LANGUAGE],en". }
}"""

# /root/reference/data-publishing/factgrid/queries/network-01-remove-na.rq
_NETWORK_01_RQ = """\
# select root item and get next two nodes of each statement

# Factgrid
PREFIX fg: <https://database.factgrid.de/entity/>
PREFIX fgt: <https://database.factgrid.de/prop/direct/>
# DBpedia
PREFIX dbo: <http://dbpedia.org/ontology/>
PREFIX dbr: <http://dbpedia.org/resource/>
# Wikidata
PREFIX wdt: <http://www.wikidata.org/prop/direct/>
PREFIX wd: <http://www.wikidata.org/entity/>
# misc
PREFIX owl: <http://www.w3.org/2002/07/owl#>
PREFIX dct:  <http://purl.org/dc/terms/>
PREFIX wikibase: <http://wikiba.se/ontology#>
PREFIX bd: <http://www.bigdata.com/rdf#>
PREFIX schema: <http://schema.org/>
prefix foaf:  <http://xmlns.com/foaf/0.1/>

SELECT ?root ?rootLabel ?property1Label ?item1 ?item1Label ?property2Label ?item2 ?item2Label WHERE {
  ?root fgt:P131 fg:Q400012.
  ?root ?fgt1 ?item1.
  ?item1 ?fgt2 ?item2.
  ?property1 wikibase:directClaim ?fgt1.
  ?property2 wikibase:directClaim ?fgt2.
  SERVICE wikibase:label { bd:serviceParam wikibase:language "[AUTO_LANGUAGE],en". }
}"""

# /root/reference/data-publishing/factgrid/queries/get_factgrid_ids_from_wikidata.rq
_MISSING_WD_RQ = """\
#defaultView:Table

  # Prefixes
  PREFIX fg: <https://database.factgrid.de/entity/>
  PREFIX fgt: <https://database.factgrid.de/prop/direct/>
  PREFIX wdt: <http://www.wikidata.org/prop/direct/>
  PREFIX wd: <http://www.wikidata.org/entity/>
  PREFIX wikibase: <http://wikiba.se/ontology#>
  PREFIX bd: <http://www.bigdata.com/rdf#>
  PREFIX schema: <http://schema.org/>

  SELECT DISTINCT ?fg_item ?fg_itemLabel ?fg_item_as_string ?wd_item where {

    # labels from Factgrid
    SERVICE wikibase:label { bd:serviceParam wikibase:language "[AUTO_LANGUAGE],en". }
    ?fg_item fgt:P131 fg:Q400012.
    # get those Factgrid IDs that don't have a Wikidata QID
    FILTER NOT EXISTS {
      ?link schema:about ?fg_item .
      ?link schema:isPartOf <https://www.wikidata.org/> . #Targeting Wikipedia language where subjects has no article.
    }
    # Convert Factgrid ID from IRI to string
    BIND(REPLACE(STR(?fg_item), "https://database.factgrid.de/entity/", "") as ?fg_item_as_string)
    # get those Items from Wikidata that have that corresponding Factgrid ID
    SERVICE <https://query.wikidata.org/sparql> {
      ?wd_item wdt:P8168 ?fg_item_as_string
    }
  }"""

# /root/reference/data-publishing/factgrid/queries/lokale-from-factgrid.rq
_LOKALE_RQ = """\
#defaultView:Table
PREFIX wd: <https://database.factgrid.de/entity/>
PREFIX wdt: <https://database.factgrid.de/prop/direct/>
SELECT ?fg_item ?fg_itemLabel ?fg_itemDescription ?fg_itemAltLabel ?Address ?AddressLabel ?Geo ?Notiz ?Anfangszeitpunkt ?Endzeitpunkt ?Datum ?wd_item ?Treffpunkt ?TreffpunktLabel ?Zielgruppe WHERE {
  SERVICE wikibase:label { bd:serviceParam wikibase:language "de". }
  ?fg_item wdt:P2 wd:Q40454.
  { ?fg_item wdt:P726 wd:Q399989. }
  UNION
  {
    ?fg_item wdt:P2 wd:Q40454;
      wdt:P726 wd:Q399990.
  }
  UNION
  {
    ?fg_item wdt:P2 wd:Q40454;
      wdt:P726 wd:Q399988.
  }
  UNION
  {
    ?fg_item wdt:P2 wd:Q40454;
      wdt:P726 wd:Q400014.
  }
  UNION
  {
    ?fg_item wdt:P2 wd:Q40454;
      wdt:P726 wd:Q137530.
  }
  OPTIONAL {
    ?fg_item wdt:P208 ?Address.
    ?Address wdt:P48 ?Geo.
  }
  #OPTIONAL { ?fg_item wdt:P73 ?Notiz. }
  OPTIONAL { ?fg_item wdt:P49 ?Anfangszeitpunkt. }
  OPTIONAL { ?fg_item wdt:P50 ?Endzeitpunkt. }
  OPTIONAL { ?fg_item wdt:P106 ?Datum. }
  OPTIONAL { ?fg_item wdt:P726 ?Treffpunkt. }
  OPTIONAL { ?fg_item wdt:P573 ?Zielgruppe.}
    OPTIONAL {
    # transform wikidata qid in factgrid to wikidata entity iri
    ?link schema:about ?fg_item .
    ?link schema:isPartOf <https://www.wikidata.org/> .
    ?link schema:name ?qid.
    BIND(IRI(CONCAT(STR(wd:), ?qid)) AS ?wd_item)
  }
}"""

# Engine-authored, reference-shaped (the `(fgt:P2/fgt:P3*)` property
# path of persons_factgrid_wikidata.rq:28 / orgs_factgrid_wikidata.rq:27)
_PATH_RQ = """\
PREFIX fg: <https://database.factgrid.de/entity/>
PREFIX fgt: <https://database.factgrid.de/prop/direct/>
SELECT ?item WHERE {
  ?item (fgt:P2/fgt:P3*) fg:Q2 .
}"""

# Engine-authored, reference-shaped (FILTER(LANG(...)) per
# companions_and_relations.rq:76-79 — G4 over lang-tagged literals)
_LANG_FILTER_RQ = """\
PREFIX fg: <https://database.factgrid.de/entity/>
PREFIX fgt: <https://database.factgrid.de/prop/direct/>
PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
SELECT ?item ?label WHERE {
  ?item fgt:P2 fg:Q7 .
  ?item rdfs:label ?label .
  FILTER(LANG(?label) = "de") .
}"""


# ---------------------------------------------------------------------------
# Registry queries + oracles
# ---------------------------------------------------------------------------

def sparql_network_root(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1/G8 + label service from verbatim
    ``network-00-starting-point.rq``: bound root, two variable-predicate
    hops, directClaim property resolution."""
    return compile_sparql(_NETWORK_00_RQ, factgrid_kg(spark, sf_dir))


_NETWORK_00_SQL = f"""
SELECT '{FG}Q225307' AS root,
       n.n_name AS "rootLabel",
       'located in' AS "property1Label",
       '{FG}Q' || CAST(300000 + n.n_regionkey AS VARCHAR) AS item1,
       r.r_name AS "item1Label",
       b.p2label AS "property2Label",
       b.item2 AS item2,
       b.item2label AS "item2Label"
FROM nation n
JOIN region r ON n.n_regionkey = r.r_regionkey
CROSS JOIN (VALUES
  ('part of project', '{FG}Q400012', 'Remove NA'),
  ('instance of', '{FG}Q82794', 'geographical region')
) AS b(p2label, item2, item2label)
WHERE n.n_nationkey = 7
"""


def sparql_network_remove_na(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ``network-01-remove-na.rq``: every project item
    (``fgt:P131 fg:Q400012``) with its 2-hop statement neighborhood."""
    return compile_sparql(_NETWORK_01_RQ, factgrid_kg(spark, sf_dir))


_NETWORK_01_SQL = f"""
SELECT '{FG}Q' || CAST(500000 + c.c_custkey AS VARCHAR) AS root,
       c.c_name AS "rootLabel",
       'residence' AS "property1Label",
       '{FG}Q' || CAST(225300 + n.n_nationkey AS VARCHAR) AS item1,
       n.n_name AS "item1Label",
       'located in' AS "property2Label",
       '{FG}Q' || CAST(300000 + n.n_regionkey AS VARCHAR) AS item2,
       r.r_name AS "item2Label"
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
UNION ALL
SELECT '{FG}Q' || CAST(500000 + c.c_custkey AS VARCHAR),
       c.c_name, 'residence',
       '{FG}Q' || CAST(225300 + n.n_nationkey AS VARCHAR),
       n.n_name, 'instance of', '{FG}Q6256', 'country'
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
"""


def sparql_missing_wikidata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ``get_factgrid_ids_from_wikidata.rq``: FILTER NOT EXISTS
    over sitelinks + BIND(REPLACE(STR(...))) + SERVICE federation to the
    (mocked) Wikidata endpoint."""
    return compile_sparql(
        _MISSING_WD_RQ,
        factgrid_kg(spark, sf_dir),
        services={"https://query.wikidata.org/sparql":
                  wikidata_service(spark, sf_dir)},
    )


_MISSING_WD_SQL = f"""
SELECT '{FG}Q' || CAST(500000 + c_custkey AS VARCHAR) AS fg_item,
       c_name AS "fg_itemLabel",
       'Q' || CAST(500000 + c_custkey AS VARCHAR) AS fg_item_as_string,
       '{WD}Q' || CAST(900000 + c_custkey AS VARCHAR) AS wd_item
FROM customer
WHERE c_custkey % 2 = 1 AND c_custkey % 3 = 0
"""


def sparql_lang_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4 over lang-tagged literals: ``FILTER(LANG(?label) = "de")``
    (the `companions_and_relations.rq:76-79` idiom) — selects exactly
    the German label of every human item."""
    return compile_sparql(_LANG_FILTER_RQ, factgrid_kg(spark, sf_dir))


_LANG_FILTER_SQL = f"""
SELECT '{FG}Q' || CAST(500000 + c_custkey AS VARCHAR) AS item,
       c_name AS label
FROM customer
"""


def sparql_lokale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ``lokale-from-factgrid.rq``: the 5-branch audience
    UNION, chained OPTIONALs (address→geo 2-pattern group, dates,
    target group), the sitelink→``BIND(IRI(CONCAT(STR(wd:), ?qid)))``
    rewrite, and unbound Description/AltLabel projections — over the
    venue-shaped supplier triples."""
    return compile_sparql(_LOKALE_RQ, factgrid_kg(spark, sf_dir))


_AUD_CASE = (
    "CASE s_suppkey % 5 WHEN 0 THEN 'Q399989' WHEN 1 THEN 'Q399990' "
    "WHEN 2 THEN 'Q399988' WHEN 3 THEN 'Q400014' ELSE 'Q137530' END"
)
_AUD_LABEL_CASE = (
    "CASE s_suppkey % 5 WHEN 0 THEN 'Gaststätte' WHEN 1 THEN 'Bar' "
    "WHEN 2 THEN 'Café' WHEN 3 THEN 'Club' ELSE 'Treffpunkt' END"
)

_LOKALE_SQL = f"""
SELECT '{FG}Q' || CAST(600000 + s_suppkey AS VARCHAR) AS fg_item,
       s_name AS "fg_itemLabel",
       CAST(NULL AS VARCHAR) AS "fg_itemDescription",
       CAST(NULL AS VARCHAR) AS "fg_itemAltLabel",
       CASE WHEN s_suppkey % 2 = 0
            THEN '{FG}Q' || CAST(700000 + s_suppkey AS VARCHAR) END AS "Address",
       CASE WHEN s_suppkey % 2 = 0
            THEN 'Adresse ' || CAST(s_suppkey AS VARCHAR) END AS "AddressLabel",
       CASE WHEN s_suppkey % 2 = 0
            THEN '@48.' || CAST(s_suppkey AS VARCHAR)
                 || '/11.' || CAST(s_suppkey AS VARCHAR) END AS "Geo",
       CAST(NULL AS VARCHAR) AS "Notiz",
       CASE WHEN s_suppkey % 3 = 0
            THEN 'start-' || CAST(s_suppkey AS VARCHAR) END AS "Anfangszeitpunkt",
       CASE WHEN s_suppkey % 4 = 0
            THEN 'end-' || CAST(s_suppkey AS VARCHAR) END AS "Endzeitpunkt",
       CASE WHEN s_suppkey % 6 = 0
            THEN 'datum-' || CAST(s_suppkey AS VARCHAR) END AS "Datum",
       CASE WHEN s_suppkey % 2 = 0
            THEN '{FG}Q' || CAST(800000 + s_suppkey AS VARCHAR) END AS wd_item,
       '{FG}' || {_AUD_CASE} AS "Treffpunkt",
       {_AUD_LABEL_CASE} AS "TreffpunktLabel",
       CASE WHEN s_suppkey % 2 = 1
            THEN 'zielgruppe-' || CAST(s_suppkey AS VARCHAR) END AS "Zielgruppe"
FROM supplier
"""


def sparql_path_instances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G9 from SPARQL text: ``(fgt:P2/fgt:P3*)`` — instance-of followed
    by the subclass-of closure (`persons_factgrid_wikidata.rq:28`).
    Humans reach ``fg:Q2`` (agent) through the Q7→Q2 subclass edge."""
    return compile_sparql(_PATH_RQ, factgrid_kg(spark, sf_dir))


_PATH_SQL = f"""
SELECT '{FG}Q' || CAST(500000 + c_custkey AS VARCHAR) AS item
FROM customer
"""


def sparql_inverse_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G9 extension (round 7): inverse (`^p`) and zero-or-one (`p?`)
    property paths — the two SPARQL 1.1 path forms every Wikidata
    tutorial uses that the reference's own queries happen not to.
    ``?nation ^fgt:P83 ?member`` walks citizenship backwards (members
    per nation item); ``?member fgt:P2? fg:Q7`` keeps rows whose member
    is a human item (one P2 step) or fg:Q7 itself (zero-length) — only
    customers carry P2→Q7, so the oracle is the customer table."""
    return compile_sparql(_INVERSE_RQ, factgrid_kg(spark, sf_dir))


_INVERSE_RQ = """\
PREFIX fg: <https://database.factgrid.de/entity/>
PREFIX fgt: <https://database.factgrid.de/prop/direct/>
SELECT ?nation ?member WHERE {
  ?nation ^fgt:P83 ?member .
  ?member fgt:P2? fg:Q7 .
}
"""

_INVERSE_SQL = f"""
SELECT '{FG}Q' || CAST(225300 + c_nationkey AS VARCHAR) AS nation,
       '{FG}Q' || CAST(500000 + c_custkey AS VARCHAR) AS member
FROM customer
"""


def sparql_langmatches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4 extension (round 8): ``LANGMATCHES(LANG(?l), range)`` — RFC
    4647 basic filtering over the hidden lang companion column (the
    portable form of the ``LANG(?l) = "de"`` equality every Wikidata
    query writes), here keeping the German venue labels."""
    return compile_sparql(_LANGMATCHES_RQ, factgrid_kg(spark, sf_dir))


_LANGMATCHES_RQ = """\
PREFIX fg: <https://database.factgrid.de/entity/>
PREFIX fgt: <https://database.factgrid.de/prop/direct/>
PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
SELECT ?venue ?label WHERE {
  ?venue fgt:P2 fg:Q40454 .
  ?venue rdfs:label ?label .
  FILTER(LANGMATCHES(LANG(?label), "de"))
}
"""

_LANGMATCHES_SQL = f"""
SELECT '{FG}Q' || CAST(600000 + s_suppkey AS VARCHAR) AS venue,
       s_name AS label
FROM supplier
"""


def sparql_ask_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§16.3 ASK query form (round 8): one boolean row, lazily planned
    — limit(1) stops the scan at the first solution."""
    return compile_sparql("""\
PREFIX fg: <https://database.factgrid.de/entity/>
PREFIX fgt: <https://database.factgrid.de/prop/direct/>
ASK { ?x fgt:P2 fg:Q7 . }
""", factgrid_kg(spark, sf_dir))


_ASK_SQL = "SELECT (count(*) > 0) AS ask FROM customer"


def sparql_construct_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§16.2 CONSTRUCT query form (round 8): instantiate a template
    graph from the solution sequence — here inverting residence into a
    hasResident edge set, the graph-to-graph rewrite shape the
    reference's R2RML materializer produces relationally."""
    return compile_sparql("""\
PREFIX fgt: <https://database.factgrid.de/prop/direct/>
PREFIX ex: <http://example.org/>
CONSTRUCT { ?nation ex:hasResident ?member . }
WHERE { ?member fgt:P83 ?nation . }
""", factgrid_kg(spark, sf_dir))


_CONSTRUCT_SQL = f"""
SELECT '{FG}Q' || CAST(225300 + c_nationkey AS VARCHAR) AS subject,
       'http://example.org/hasResident' AS predicate,
       '{FG}Q' || CAST(500000 + c_custkey AS VARCHAR) AS object,
       CAST(NULL AS VARCHAR) AS lang
FROM customer
"""


def sparql_describe_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§16.4 DESCRIBE query form (round 8): subject-expansion of every
    nation item bound by the WHERE pattern — a left-semi join of the
    triples scan against the broadcast described-resource set."""
    return compile_sparql("""\
PREFIX fg: <https://database.factgrid.de/entity/>
PREFIX fgt: <https://database.factgrid.de/prop/direct/>
DESCRIBE ?nation WHERE { ?nation fgt:P2 fg:Q6256 . }
""", factgrid_kg(spark, sf_dir))


_DESCRIBE_SQL = f"""
WITH n AS (
  SELECT '{FG}Q' || CAST(225300 + n_nationkey AS VARCHAR) AS s,
         '{FG}Q' || CAST(300000 + n_regionkey AS VARCHAR) AS reg,
         n_name
  FROM nation
)
SELECT s AS subject, '{FGT}P47' AS predicate, reg AS object,
       CAST(NULL AS VARCHAR) AS lang, CAST(NULL AS VARCHAR) AS dtype
FROM n
UNION ALL
SELECT s, '{FGT}P2', '{FG}Q6256', NULL, NULL FROM n
UNION ALL
SELECT s, 'http://www.w3.org/2000/01/rdf-schema#label', n_name, 'de', NULL
FROM n
UNION ALL
SELECT s, 'http://www.w3.org/2000/01/rdf-schema#label', n_name, 'en', NULL
FROM n
"""


def sparql_alt_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G9 extension (round 8): property-path alternation ``p1|p2``
    (SPARQL 1.1 §18.4 ``alt`` — bag union of the branch relations).
    ``?item fgt:P83|fgt:P131 ?target`` finds every residence OR
    project-membership edge: customers carry both (two rows each),
    regions carry only the P131 membership."""
    return compile_sparql(_ALT_RQ, factgrid_kg(spark, sf_dir))


_ALT_RQ = """\
PREFIX fgt: <https://database.factgrid.de/prop/direct/>
SELECT ?item ?target WHERE {
  ?item fgt:P83|fgt:P131 ?target .
}
"""

_ALT_SQL = f"""
SELECT '{FG}Q' || CAST(500000 + c_custkey AS VARCHAR) AS item,
       '{FG}Q' || CAST(225300 + c_nationkey AS VARCHAR) AS target
FROM customer
UNION ALL
SELECT '{FG}Q' || CAST(500000 + c_custkey AS VARCHAR), '{FG}Q400012'
FROM customer
UNION ALL
SELECT '{FG}Q' || CAST(300000 + r_regionkey AS VARCHAR), '{FG}Q400012'
FROM region
"""


def sparql_negated_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G9 extension (round 8): negated property sets
    ``!(p1|p2|^p3)`` (SPARQL 1.1 §18.4 NPS — a NOT-IN predicate scan,
    forward and reverse parts).  On nation items the non-label,
    non-type remainder is exactly the ``fgt:P47`` located-in edge; the
    ``^fgt:P83`` member exercises the reverse part (nations have no
    non-P83 incoming edges, so it adds nothing — by construction)."""
    return compile_sparql(_NPS_RQ, factgrid_kg(spark, sf_dir))


_NPS_RQ = """\
PREFIX fg: <https://database.factgrid.de/entity/>
PREFIX fgt: <https://database.factgrid.de/prop/direct/>
PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
SELECT ?nation ?region WHERE {
  ?nation fgt:P2 fg:Q6256 .
  ?nation !(rdfs:label|fgt:P2|^fgt:P83) ?region .
}
"""

_NPS_SQL = f"""
SELECT '{FG}Q' || CAST(225300 + n_nationkey AS VARCHAR) AS nation,
       '{FG}Q' || CAST(300000 + n_regionkey AS VARCHAR) AS region
FROM nation
"""


def sparql_group_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G9 extension (round 8): closure over a GROUPED path —
    ``(fgt:P2/fgt:P3)+`` builds the instance-of∘subclass-of relation
    once, then closes it (transitive_closure over the composed pair
    relation).  Only customers reach fg:Q2 (agent): P2→Q7, Q7 P3→Q2;
    venues' group lands on Q12, and Q2 itself has no outgoing P2, so
    a second application finds nothing."""
    return compile_sparql(_GROUP_CLOSURE_RQ, factgrid_kg(spark, sf_dir))


_GROUP_CLOSURE_RQ = """\
PREFIX fg: <https://database.factgrid.de/entity/>
PREFIX fgt: <https://database.factgrid.de/prop/direct/>
SELECT ?item WHERE {
  ?item (fgt:P2/fgt:P3)+ fg:Q2 .
}
"""

_GROUP_CLOSURE_SQL = f"""
SELECT '{FG}Q' || CAST(500000 + c_custkey AS VARCHAR) AS item
FROM customer
"""


def sparql_alt_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G9 extension (round 8): closure over an ALTERNATION —
    ``(fgt:P47|fgt:P131)+``: customers and regions reach the project
    item in one step (P131), nations in two (P47 to their region, then
    its P131) — the mixed-predicate reachability a single-predicate
    closure cannot express."""
    return compile_sparql(_ALT_CLOSURE_RQ, factgrid_kg(spark, sf_dir))


def sparql_values_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§10.2 VALUES over language-tagged literals (round 13): each cell
    matches on the FULL RDF term (lexical form, language tag) — the
    ``"EUROPE"@de`` cell binds only the de-tagged label row,
    ``"ASIA"@en`` only the en row, and the plain ``"AFRICA"`` cell
    matches NOTHING because every stored region label is tagged
    (replaces the round-12 fail-loud NotImplementedError)."""
    return compile_sparql("""\
PREFIX fg: <https://database.factgrid.de/entity/>
PREFIX fgt: <https://database.factgrid.de/prop/direct/>
PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
SELECT ?region ?label (LANG(?label) AS ?tag) WHERE {
  ?region fgt:P2 fg:Q82794 .
  ?region rdfs:label ?label .
  VALUES ?label { "EUROPE"@de "ASIA"@en "AFRICA" }
}
""", factgrid_kg(spark, sf_dir))


_VALUES_LANG_SQL = f"""
SELECT '{FG}Q' || CAST(300000 + r_regionkey AS VARCHAR) AS region,
       r_name AS label,
       CASE r_name WHEN 'EUROPE' THEN 'de' ELSE 'en' END AS tag
FROM region
WHERE r_name IN ('EUROPE', 'ASIA')
"""


_ALT_CLOSURE_RQ = """\
PREFIX fg: <https://database.factgrid.de/entity/>
PREFIX fgt: <https://database.factgrid.de/prop/direct/>
SELECT ?start WHERE {
  ?start (fgt:P47|fgt:P131)+ fg:Q400012 .
}
"""

_ALT_CLOSURE_SQL = f"""
SELECT '{FG}Q' || CAST(500000 + c_custkey AS VARCHAR) AS start
FROM customer
UNION ALL
SELECT '{FG}Q' || CAST(225300 + n_nationkey AS VARCHAR) FROM nation
UNION ALL
SELECT '{FG}Q' || CAST(300000 + r_regionkey AS VARCHAR) FROM region
"""


SPECS: dict[str, QuerySpec] = {
    "sparql_network_root": QuerySpec(
        sparql_network_root, _NETWORK_00_SQL,
        "verbatim network-00-starting-point.rq via the SPARQL front-end"),
    "sparql_network_remove_na": QuerySpec(
        sparql_network_remove_na, _NETWORK_01_SQL,
        "verbatim network-01-remove-na.rq via the SPARQL front-end"),
    "sparql_missing_wikidata": QuerySpec(
        sparql_missing_wikidata, _MISSING_WD_SQL,
        "verbatim get_factgrid_ids_from_wikidata.rq incl. SERVICE "
        "federation to a mocked Wikidata source"),
    "sparql_lang_filter": QuerySpec(
        sparql_lang_filter, _LANG_FILTER_SQL,
        "LANG()-filtered BGP over lang-tagged labels"),
    "sparql_path_instances": QuerySpec(
        sparql_path_instances, _PATH_SQL,
        "(p1/p2*) property path from SPARQL text"),
    "sparql_inverse_path": QuerySpec(
        sparql_inverse_path, _INVERSE_SQL,
        "inverse (^p) and zero-or-one (p?) property paths"),
    "sparql_describe_nations": QuerySpec(
        sparql_describe_nations, _DESCRIBE_SQL,
        "DESCRIBE query form (§16.4) — subject-expansion via semi join"),
    "sparql_ask_members": QuerySpec(
        sparql_ask_members, _ASK_SQL,
        "ASK query form (§16.3) — lazy one-row boolean"),
    "sparql_construct_members": QuerySpec(
        sparql_construct_members, _CONSTRUCT_SQL,
        "CONSTRUCT query form (§16.2) — template graph instantiation"),
    "sparql_langmatches": QuerySpec(
        sparql_langmatches, _LANGMATCHES_SQL,
        "LANGMATCHES(LANG(?l), range) RFC 4647 basic filtering"),
    "sparql_alt_path": QuerySpec(
        sparql_alt_path, _ALT_SQL,
        "property-path alternation p1|p2 (bag union)"),
    "sparql_negated_path": QuerySpec(
        sparql_negated_path, _NPS_SQL,
        "negated property set !(p1|p2|^p3) as NOT-IN predicate scans"),
    "sparql_group_closure": QuerySpec(
        sparql_group_closure, _GROUP_CLOSURE_SQL,
        "closure over a grouped path (p/q)+"),
    "sparql_alt_closure": QuerySpec(
        sparql_alt_closure, _ALT_CLOSURE_SQL,
        "closure over an alternation (p|q)+"),
    "sparql_lokale": QuerySpec(
        sparql_lokale, _LOKALE_SQL,
        "verbatim lokale-from-factgrid.rq (5-way UNION + OPTIONAL chain)"),
    "sparql_values_lang": QuerySpec(
        sparql_values_lang, _VALUES_LANG_SQL,
        "VALUES with language-tagged literals — full (lexical, tag) "
        "term equality; plain cells never match tagged bindings"),
}
