"""SPARQL front-end tests: tokenizer/parser edge cases and compiler
semantics not exercised by the registry queries (UNION, VALUES, MINUS,
ORDER BY/LIMIT, predicate lists, object lists), plus a parse-only smoke
over a big verbatim reference query."""

from __future__ import annotations

import pytest

from remove_na_lgbtiq_queer_knowledge_graph_spark.plans.sparql import (
    RDF_TYPE,
    compile_sparql,
    parse,
)

_PFX = """\
PREFIX ex: <http://ex.org/>
PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
"""


@pytest.fixture(scope="module")
def triples(spark):
    rows = [
        ("ex:a", "http://ex.org/knows", "ex:b", None, None),
        ("ex:b", "http://ex.org/knows", "ex:c", None, None),
        ("ex:c", "http://ex.org/knows", "ex:d", None, None),
        ("ex:a", RDF_TYPE, "ex:Person", None, None),
        ("ex:b", RDF_TYPE, "ex:Person", None, None),
        ("ex:c", RDF_TYPE, "ex:Robot", None, None),
        ("ex:a", "http://www.w3.org/2000/01/rdf-schema#label", "Alice", "en", None),
        ("ex:a", "http://www.w3.org/2000/01/rdf-schema#label", "Alix", "de", None),
        ("ex:b", "http://www.w3.org/2000/01/rdf-schema#label", "Bob", "en", None),
    ]
    rows = [(s.replace("ex:", "http://ex.org/"), p,
             o.replace("ex:", "http://ex.org/") if o.startswith("ex:") else o,
             lg, dt) for s, p, o, lg, dt in rows]
    return spark.createDataFrame(
        rows, "subject string, predicate string, object string, "
              "lang string, dtype string")


def _vals(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_trailing_dot_not_part_of_pname(triples):
    # `ex:b.` must parse as term ex:b + statement terminator
    df = compile_sparql(_PFX + """
SELECT ?s WHERE { ?s ex:knows ex:b. }""", triples)
    assert _vals(df, "s") == [("http://ex.org/a",)]


def test_predicate_and_object_lists(triples):
    # `;` shares the subject, `,` shares subject+predicate
    df = compile_sparql(_PFX + """
SELECT ?s WHERE { ?s a ex:Person ; ex:knows ex:b , ?other . }""", triples)
    assert _vals(df, "s") == [("http://ex.org/a",)]


def test_union_and_bind_branch_tag(triples):
    df = compile_sparql(_PFX + """
SELECT ?s ?kind WHERE {
  { ?s a ex:Person . BIND("p" AS ?kind) }
  UNION
  { ?s a ex:Robot . BIND("r" AS ?kind) }
}""", triples)
    assert _vals(df, "s", "kind") == [
        ("http://ex.org/a", "p"), ("http://ex.org/b", "p"),
        ("http://ex.org/c", "r")]


def test_values_restricts_bindings(triples):
    df = compile_sparql(_PFX + """
SELECT ?s WHERE { ?s a ?t . VALUES ?t { ex:Robot } }""", triples)
    assert _vals(df, "s") == [("http://ex.org/c",)]


def test_minus_removes_matching(triples):
    df = compile_sparql(_PFX + """
SELECT ?s WHERE { ?s a ex:Person . MINUS { ?s ex:knows ex:b } }""", triples)
    assert _vals(df, "s") == [("http://ex.org/b",)]


def test_string_numeric_builtins(triples):
    # the SPARQL 1.1 §17.4 builtins a ported query hits first:
    # CONTAINS/STRENDS/STRLEN/SUBSTR/UCASE/LCASE/STRBEFORE/STRAFTER/
    # COALESCE/ABS — BIND-computed and FILTER-used
    df = compile_sparql(_PFX + """
SELECT ?s ?up ?pre ?post ?ln WHERE {
  ?s rdfs:label ?l .
  FILTER(CONTAINS(?l, "li") && STRENDS(STR(?s), "/a"))
  BIND(UCASE(?l) AS ?up)
  BIND(STRBEFORE(?l, "li") AS ?pre)
  BIND(STRAFTER(?l, "zzz") AS ?post)
  BIND(STRLEN(SUBSTR(?l, 2)) AS ?ln)
}""", triples)
    rows = {(r.s, r.up, r.pre, r.post, r.ln) for r in df.collect()}
    # labels of ex:a: "Alice"(en), "Alix"(de) — both contain "li"
    assert rows == {
        ("http://ex.org/a", "ALICE", "A", "", 4),
        ("http://ex.org/a", "ALIX", "A", "", 3),
    }


def test_filter_exists_keeps_matching(triples):
    # dual of MINUS/NOT EXISTS: left-semi on the shared var
    df = compile_sparql(_PFX + """
SELECT ?s WHERE { ?s a ex:Person . FILTER EXISTS { ?s ex:knows ex:b } }""",
                        triples)
    assert _vals(df, "s") == [("http://ex.org/a",)]


def test_filter_exists_no_shared_vars(triples):
    # no shared vars: EXISTS is a global guard — all rows survive when
    # the sub-pattern matches anywhere, none when it matches nowhere
    kept = compile_sparql(_PFX + """
SELECT ?s WHERE { ?s a ex:Person . FILTER EXISTS { ?x a ex:Robot } }""",
                          triples)
    assert _vals(kept, "s") == [("http://ex.org/a",), ("http://ex.org/b",)]
    cut = compile_sparql(_PFX + """
SELECT ?s WHERE { ?s a ex:Person . FILTER EXISTS { ?x a ex:Spaceship } }""",
                        triples)
    assert _vals(cut, "s") == []


def test_optional_keeps_unmatched(triples):
    df = compile_sparql(_PFX + """
SELECT ?s ?o WHERE { ?s a ex:Robot . OPTIONAL { ?s ex:missing ?o } }""",
                        triples)
    assert _vals(df, "s", "o") == [("http://ex.org/c", None)]


def test_order_by_desc_and_limit(triples):
    df = compile_sparql(_PFX + """
SELECT ?s WHERE { ?s ex:knows ?o . } ORDER BY DESC(?s) LIMIT 2""", triples)
    assert [r["s"] for r in df.collect()] == [
        "http://ex.org/c", "http://ex.org/b"]


def test_transitive_path_plus_and_star(triples):
    plus = compile_sparql(_PFX + """
SELECT ?o WHERE { ex:a ex:knows+ ?o . }""", triples)
    assert _vals(plus, "o") == [("http://ex.org/b",), ("http://ex.org/c",),
                                ("http://ex.org/d",)]


def test_lang_filter_picks_tagged_literal(triples):
    df = compile_sparql(_PFX + """
SELECT ?l WHERE { ex:a rdfs:label ?l . FILTER(LANG(?l) = "de") }""", triples)
    assert _vals(df, "l") == [("Alix",)]


def test_lang_tag_is_part_of_term_equality(triples):
    # two patterns binding the same literal var must agree on the tag
    df = compile_sparql(_PFX + """
SELECT ?x ?y WHERE { ?x rdfs:label ?l . ?y rdfs:label ?l .
FILTER(?x != ?y) }""", triples)
    assert _vals(df, "x", "y") == []


def test_parse_only_smoke_lokale_verbatim():
    """The 5-branch UNION + OPTIONAL + IRI(CONCAT(STR(...))) query from
    the reference parses into the AST (execution needs the full sitelink
    fixture; covered piecewise by the registry queries)."""
    with open("/root/reference/data-publishing/factgrid/queries/"
              "lokale-from-factgrid.rq") as f:
        q = parse(f.read())
    assert q.select[0] == "fg_item"
    assert len(q.where.items) >= 5


def test_parse_only_smoke_companions_verbatim():
    """The hardest reference query — nested SERVICE inside OPTIONAL
    inside UNION, grouped property path (fgt:P2/fgt:P3*), MINUS{FILTER},
    `a` predicate, `dbo:thumbnail?image` token adjacency — parses."""
    with open("/root/reference/data-publishing/factgrid/queries/"
              "companions_and_relations.rq") as f:
        q = parse(f.read())
    assert q.distinct
    assert "fg_item" in q.select and "relation_stringLabel" in q.select


def test_unknown_service_endpoint_raises(triples):
    with pytest.raises(KeyError):
        compile_sparql(_PFX + """
SELECT ?s WHERE { SERVICE <http://nowhere/sparql> { ?s ?p ?o } }""",
                       triples).collect()


def test_every_reference_rq_parses():
    """Completeness sweep: EVERY .rq file the reference ships (22 under
    data-publishing/factgrid/queries) parses into the AST — incl.
    single-quoted strings (get_gnd_from_fg_and_wd.rq), nested blank-node
    property lists `[ a wikibase:BestRank ; psv [ ... ] ]`
    (time-items.rq:42), and `ORDER BY (?var)`
    (get_all_properties_person_with_corresponding_prop.rq)."""
    import glob

    files = sorted(glob.glob("/root/reference/**/*.rq", recursive=True))
    assert len(files) >= 22
    for path in files:
        with open(path) as f:
            q = parse(f.read())
        assert q.select, path


def test_blank_node_property_list_compiles(triples):
    """Bnode → anonymous join variable: `?s ?p [ rdfs:label "x" ]`
    constrains via the generated triple patterns, bnode vars never
    reach SELECT *."""
    df = compile_sparql(_PFX + """
SELECT * WHERE { ?s ex:knows [ rdfs:label ?l ] . }""", triples)
    assert set(df.columns) == {"s", "l"}


def test_r_template_extraction_all_app_builders():
    """Every paste0 query builder in the reference Shiny apps extracts
    to a renderable template whose rendered text parses — the app's
    actual query strings, parameterized the same way the apps do
    (`apps/companions/queries.R:3`, `apps/compare-factgrid-wikidata/
    queries.R:5,75,139`)."""
    from remove_na_lgbtiq_queer_knowledge_graph_spark.plans.rtemplate import (
        load_r_query_template, render)

    apps = "/root/reference/apps/"
    cases = [
        (apps + "companions/queries.R", "query_companions",
         {"fg_item": "Q223420"}),
        (apps + "compare-factgrid-wikidata/queries.R", "query_items",
         {"input_items_filter": "?fg_item fgt:P131 fg:Q400012 .",
          "fg_property_id": "P83"}),
        (apps + "compare-factgrid-wikidata/queries.R", "query_non_items",
         {"input_items_filter": "", "fg_property_id": "P76"}),
        (apps + "compare-factgrid-wikidata/queries.R", "query_time_items",
         {"input_items_filter": "", "fg_property_id": "P49"}),
    ]
    for path, func, params in cases:
        template = load_r_query_template(path, func)
        text = render(template, **params)
        q = parse(text)
        assert q.select, (path, func)
        for name, value in params.items():
            assert "{" + name + "}" in template
            if value:
                assert value in text


def test_r_template_missing_param_raises():
    from remove_na_lgbtiq_queer_knowledge_graph_spark.plans.rtemplate import (
        load_r_query_template, render)

    t = load_r_query_template(
        "/root/reference/apps/companions/queries.R", "query_companions")
    with pytest.raises(ValueError):
        render(t)


def test_companions_union_distribution_plan(spark, sf_dir):
    """Plan lock for the per-branch UNION join distribution: the
    companions flagship must stay free of single-partition exchanges,
    and its only cartesians are the 1-row constant-BIND seeds Catalyst
    leaves after folding the root equi-join into pushed point filters."""
    from remove_na_lgbtiq_queer_knowledge_graph_spark.queries_sparql2 import (
        sparql_companions)

    plan = sparql_companions(spark, sf_dir)._jdf \
        .queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan
    assert plan.count("CartesianProduct") <= 3


def test_group_by_count_distinct(triples):
    """G12: SPARQL-text aggregation — COUNT(DISTINCT) per group key,
    partial-aggregated groupBy."""
    df = compile_sparql(_PFX + """
SELECT ?type (COUNT(DISTINCT ?s) AS ?n) WHERE {
  ?s a ?type .
}
GROUP BY ?type""", triples)
    assert _vals(df, "type", "n") == [
        ("http://ex.org/Person", 2), ("http://ex.org/Robot", 1)]


def test_global_aggregate_without_group_by(triples):
    df = compile_sparql(_PFX + """
SELECT (COUNT(*) AS ?n) WHERE { ?s ex:knows ?o . }""", triples)
    assert _vals(df, "n") == [(3,)]


def test_year_bind_and_endpoint_default_prefixes(spark):
    """YEAR() over date lexical forms + endpoint-injected wd:/wdt:
    defaults (the plot-full-network.qmd query declares no prefixes)."""
    rows = [
        ("http://f.org/e1", "http://f.org/p/date", "2023-05-01", None, None),
        ("http://f.org/e2", "http://f.org/p/date", "2023-11-30", None, None),
        ("http://f.org/e3", "http://f.org/p/date", "2024-01-02", None, None),
    ]
    tr = spark.createDataFrame(
        rows, "subject string, predicate string, object string, "
              "lang string, dtype string")
    df = compile_sparql("""
SELECT ?year (COUNT(DISTINCT ?s) AS ?count) WHERE {
  ?s wdt:date ?d .
  bind(str(YEAR(?d)) AS ?year)
}
GROUP BY ?year""", tr, prefixes={"wdt": "http://f.org/p/"})
    assert _vals(df, "year", "count") == [("2023", 2), ("2024", 1)]


def test_subselect_aggregation_joins_outer(triples):
    """SPARQL 1.1 §12 subquery: the aggregated sub-SELECT joins the
    outer group on its projected vars."""
    df = compile_sparql(_PFX + """
SELECT ?type ?n WHERE {
  {
    SELECT ?type (COUNT(DISTINCT ?s) AS ?n) WHERE {
      ?s a ?type .
    } GROUP BY ?type
  } .
  ?other a ?type .
  FILTER(STRSTARTS(STR(?type), "http://ex.org/P"))
}""", triples)
    # Person has 2 instances (a, b) → the outer ?other re-join yields
    # one row per instance, all carrying n=2; Robot is cut by STRSTARTS
    assert _vals(df, "type", "n") == [
        ("http://ex.org/Person", 2), ("http://ex.org/Person", 2)]


def test_bind_on_bound_var_is_prebinding_filter(triples):
    """Blazegraph semantics for BIND on an in-scope variable (the
    status-update instances query): constrain, don't overwrite."""
    df = compile_sparql(_PFX + """
SELECT ?s ?p WHERE {
  ?s ?p ?o .
  BIND(ex:knows AS ?p)
}""", triples)
    got = _vals(df, "s", "p")
    assert len(got) == 3
    assert all(p == "http://ex.org/knows" for _, p in got)


def test_alt_label_service(spark):
    """?xAltLabel: comma-joined skos:altLabel aliases in the BEST
    preference language that has any; unbound (NULL) when an item has
    no aliases; plain ?xLabel unaffected."""
    from remove_na_lgbtiq_queer_knowledge_graph_spark.plans.sparql import (
        compile_sparql,
    )

    RL = "http://www.w3.org/2000/01/rdf-schema#label"
    AL = "http://www.w3.org/2004/02/skos/core#altLabel"
    triples = spark.createDataFrame(
        [
            ("urn:a", "urn:p", "urn:x", None, None),
            ("urn:b", "urn:p", "urn:x", None, None),
            ("urn:a", RL, "Item A", "en", None),
            ("urn:b", RL, "Item B", "en", None),
            # a: de aliases win over en (pref order de,en); two de
            # aliases comma-join sorted
            ("urn:a", AL, "zwei", "de", None),
            ("urn:a", AL, "eins", "de", None),
            ("urn:a", AL, "english-alias", "en", None),
            # b: no aliases → NULL
        ],
        "subject string, predicate string, object string, "
        "lang string, dtype string",
    )
    q = """
    PREFIX wikibase: <http://wikiba.se/ontology#>
    PREFIX bd: <http://www.bigdata.com/rdf#>
    SELECT ?s ?sLabel ?sAltLabel WHERE {
      SERVICE wikibase:label { bd:serviceParam wikibase:language "de,en". }
      ?s <urn:p> <urn:x> .
    }
    """
    got = {r["s"]: (r["sLabel"], r["sAltLabel"])
           for r in compile_sparql(q, triples).collect()}
    assert got["urn:a"] == ("Item A", "eins, zwei")
    assert got["urn:b"] == ("Item B", None)


def test_network03_empty_at_the_closure_not_the_prelude(spark, sf_dir):
    """network-03-federated.rq returns nothing AS SHIPPED because its
    ``(fgps:P2/(wdt:P3*))`` closure targets a VALUES whitelist in the
    WIKIDATA namespace that FactGrid statement values never reach.
    Guard against a vacuously-empty fixture: rewriting ONLY the VALUES
    set into the FactGrid namespace makes the same walk non-empty, so
    every pattern up to the closure genuinely binds."""
    from remove_na_lgbtiq_queer_knowledge_graph_spark.queries_sparql2 import (
        _network03_kg,
        _ref_rq,
    )

    kg = _network03_kg(spark, sf_dir)
    rq = _ref_rq("network-03-federated.rq")
    assert compile_sparql(rq, kg).count() == 0
    fg_values = rq.replace("VALUES ?entities { wd:Q7 wd:Q12 wd:Q11214}",
                           "VALUES ?entities { fg:Q7 fg:Q12 fg:Q11214}")
    assert fg_values != rq
    assert compile_sparql(fg_values, kg).count() > 0


def test_leading_star_zero_length_over_unbound_domain(spark):
    """A path starting with p* (no preceding step, unbound subject)
    includes the zero-length identity over every term of the graph
    (SPARQL 1.1 ZeroOrMorePath), not just p+ reachability."""
    triples = spark.createDataFrame(
        [
            ("urn:a", "urn:p", "urn:b", None, None),
            ("urn:b", "urn:p", "urn:c", None, None),
            ("urn:x", "urn:q", "urn:y", None, None),  # no urn:p edges
        ],
        "subject string, predicate string, object string, "
        "lang string, dtype string",
    )
    q = """
    SELECT ?s ?o WHERE { ?s <urn:p>* ?o }
    """
    got = {(r.s, r.o) for r in compile_sparql(q, triples).collect()}
    # identity over ALL graph terms (a,b,c,x,y) + p-reachability
    want = {(t, t) for t in ["urn:a", "urn:b", "urn:c", "urn:x", "urn:y"]} | {
        ("urn:a", "urn:b"), ("urn:a", "urn:c"), ("urn:b", "urn:c"),
    }
    assert got == want


def test_group_concat_sample_having(spark):
    """Round-6 aggregate surface: GROUP_CONCAT keeps duplicates unless
    DISTINCT, pins ascending element order (SPARQL leaves it
    unspecified — determinism is the contract here), honors SEPARATOR
    and the SPARQL 1.1 default separator (single space); SAMPLE is
    deterministic (min); HAVING filters on aggregates, including ones
    not projected; and a shared aggregate is hoisted once."""
    t = spark.createDataFrame(
        [("s1", "http://ex.org/cat", "a", None, None),
         ("s1", "http://ex.org/tag", "x", None, None),
         ("s2", "http://ex.org/cat", "a", None, None),
         ("s2", "http://ex.org/tag", "x", None, None),
         ("s3", "http://ex.org/cat", "a", None, None),
         ("s3", "http://ex.org/tag", "y", None, None),
         ("s4", "http://ex.org/cat", "b", None, None),
         ("s4", "http://ex.org/tag", "z", None, None)],
        "subject string, predicate string, object string, "
        "lang string, dtype string")
    df = compile_sparql(_PFX + """
    SELECT ?cat (GROUP_CONCAT(?tag; SEPARATOR=",") AS ?all_tags)
           (GROUP_CONCAT(DISTINCT ?tag; SEPARATOR=",") AS ?tags)
           (GROUP_CONCAT(?tag) AS ?default_sep)
           (SAMPLE(?tag) AS ?one)
    WHERE { ?s ex:cat ?cat . ?s ex:tag ?tag . }
    GROUP BY ?cat
    HAVING (COUNT(?s) > 1)
    """, t)
    rows = {r.cat: r for r in df.collect()}
    assert set(rows) == {"a"}  # HAVING cut 'b' via an unprojected COUNT
    assert rows["a"].all_tags == "x,x,y"       # duplicates kept, sorted
    assert rows["a"].tags == "x,y"             # DISTINCT collapses
    assert rows["a"].default_sep == "x x y"    # SPARQL default " "
    assert rows["a"].one == "x"                # deterministic SAMPLE


def test_having_multiple_constraints_and_agg_arithmetic(spark):
    t = spark.createDataFrame(
        [("s1", "http://ex.org/cat", "a", None, None),
         ("s2", "http://ex.org/cat", "a", None, None),
         ("s3", "http://ex.org/cat", "b", None, None),
         ("s4", "http://ex.org/cat", "b", None, None),
         ("s5", "http://ex.org/cat", "b", None, None),
         ("s6", "http://ex.org/cat", "c", None, None)],
        "subject string, predicate string, object string, "
        "lang string, dtype string")
    df = compile_sparql(_PFX + """
    SELECT ?cat (COUNT(?s) AS ?n)
    WHERE { ?s ex:cat ?cat . }
    GROUP BY ?cat
    HAVING (COUNT(?s) > 1) (COUNT(?s) < 3)
    """, t)
    assert _vals(df, "cat", "n") == [("a", 2)]


def test_grouped_projection_of_nonkey_still_raises(spark):
    t = spark.createDataFrame(
        [("s1", "http://ex.org/cat", "a", None, None)],
        "subject string, predicate string, object string, "
        "lang string, dtype string")
    with pytest.raises(NotImplementedError, match="GROUP BY key"):
        compile_sparql(_PFX + """
        SELECT ?s (COUNT(?cat) AS ?n)
        WHERE { ?s ex:cat ?cat . }
        GROUP BY ?cat
        """, t).collect()


def test_aggregate_surface_differential_vs_duckdb(spark):
    """Randomized differential check of the round-6 aggregate surface:
    GROUP_CONCAT (with and without DISTINCT, separators including
    regex-special and multi-char strings), SAMPLE, HAVING — engine
    output must equal DuckDB computing the same contract
    (string_agg ORDER BY element, min, HAVING) over the same rows."""
    import random

    import duckdb

    rng = random.Random(20260814)
    cats = ["a", "b", "c"]
    tags = ["t1", "t2", "t3", "t4"]
    for sep, min_n in ((",", 1), ("|;|", 2), ("$^", 1)):
        rows = [(f"s{i}", rng.choice(cats), rng.choice(tags))
                for i in range(30)]
        t = spark.createDataFrame(
            [(s, "http://ex.org/cat", c, None, None) for s, c, _ in rows]
            + [(s, "http://ex.org/tag", g, None, None) for s, _, g in rows],
            "subject string, predicate string, object string, "
            "lang string, dtype string")
        df = compile_sparql(_PFX + f"""
        SELECT ?cat (GROUP_CONCAT(DISTINCT ?tag; SEPARATOR="{sep}") AS ?tags)
               (GROUP_CONCAT(?tag; SEPARATOR="{sep}") AS ?all_tags)
               (SAMPLE(?tag) AS ?one) (COUNT(?s) AS ?n)
        WHERE {{ ?s ex:cat ?cat . ?s ex:tag ?tag . }}
        GROUP BY ?cat
        HAVING (COUNT(?s) >= {min_n})
        """, t)
        got = sorted(tuple(r) for r in
                     df.select("cat", "tags", "all_tags", "one", "n").collect())
        con = duckdb.connect()
        con.sql("CREATE TABLE r(s VARCHAR, cat VARCHAR, tag VARCHAR)")
        con.executemany("INSERT INTO r VALUES (?, ?, ?)", rows)
        want = sorted(tuple(r) for r in con.sql(f"""
            SELECT cat,
                   string_agg(DISTINCT tag, '{sep}' ORDER BY tag) AS tags,
                   string_agg(tag, '{sep}' ORDER BY tag) AS all_tags,
                   min(tag) AS one,
                   CAST(count(s) AS BIGINT) AS n
            FROM r GROUP BY cat HAVING count(s) >= {min_n}
        """).fetchall())
        assert got == want, (sep, got, want)


def test_group_concat_over_label_service_var(spark):
    """The FactGrid pattern GROUP_CONCAT(DISTINCT ?memberLabel): a
    label-service variable used as an AGGREGATE argument attaches
    before the groupBy (the projection-time attach runs too late)."""
    t = spark.createDataFrame(
        [("http://ex.org/i1", "http://ex.org/cat", "g", None, None),
         ("http://ex.org/i2", "http://ex.org/cat", "g", None, None),
         ("http://ex.org/i1",
          "http://www.w3.org/2000/01/rdf-schema#label", "Alpha", "en", None),
         ("http://ex.org/i2",
          "http://www.w3.org/2000/01/rdf-schema#label", "Beta", "en", None)],
        "subject string, predicate string, object string, "
        "lang string, dtype string")
    df = compile_sparql(_PFX + """
    SELECT ?cat (GROUP_CONCAT(DISTINCT ?mLabel; SEPARATOR=", ") AS ?members)
    WHERE {
      ?m ex:cat ?cat .
      SERVICE <http://wikiba.se/ontology#label> { }
    }
    GROUP BY ?cat
    """, t)
    rows = df.collect()
    assert len(rows) == 1 and rows[0].members == "Alpha, Beta"


def test_having_inside_subquery(spark):
    t = spark.createDataFrame(
        [("s1", "http://ex.org/cat", "a", None, None),
         ("s2", "http://ex.org/cat", "a", None, None),
         ("s3", "http://ex.org/cat", "b", None, None)],
        "subject string, predicate string, object string, "
        "lang string, dtype string")
    df = compile_sparql(_PFX + """
    SELECT ?cat ?n WHERE {
      { SELECT ?cat (COUNT(?s) AS ?n)
        WHERE { ?s ex:cat ?cat . }
        GROUP BY ?cat
        HAVING (COUNT(?s) > 1) }
    }
    """, t)
    assert _vals(df, "cat", "n") == [("a", 2)]


def test_having_without_grouping_fails_loudly(spark):
    """A HAVING on an ungrouped query must raise, not silently drop
    the constraint (fail-loud policy, round-6 review finding)."""
    t = spark.createDataFrame(
        [("s1", "http://ex.org/cat", "a", None, None)],
        "subject string, predicate string, object string, "
        "lang string, dtype string")
    with pytest.raises(NotImplementedError, match="HAVING"):
        compile_sparql(_PFX + """
        SELECT ?s WHERE { ?s ex:cat ?c . } HAVING (?s = "zzz")
        """, t).collect()


def _num_triples(spark):
    return spark.createDataFrame(
        [("http://ex.org/i1", "http://ex.org/cat", "g", None, None),
         ("http://ex.org/i2", "http://ex.org/cat", "g", None, None),
         ("http://ex.org/i3", "http://ex.org/cat", "h", None, None),
         ("http://ex.org/i1", "http://ex.org/val", "4", None, None),
         ("http://ex.org/i2", "http://ex.org/val", "5", None, None),
         ("http://ex.org/i3", "http://ex.org/val", "10", None, None),
         ("http://ex.org/i1",
          "http://www.w3.org/2000/01/rdf-schema#label", "Alpha", "en", None),
         ("http://ex.org/i2",
          "http://www.w3.org/2000/01/rdf-schema#label", "Beta", "en", None),
         ("http://ex.org/i3",
          "http://www.w3.org/2000/01/rdf-schema#label", "Gamma", "en", None)],
        "subject string, predicate string, object string, "
        "lang string, dtype string")


def test_arithmetic_over_aggregates(spark):
    """(SUM(?v) / COUNT(?v) AS ?avg) — the FactGrid avg-ratio pattern —
    plus +,-,* in projections and HAVING.  Arithmetic evaluates in
    double (SPARQL's integer/integer = xsd:decimal; ANSI Spark rejects
    string operands without the cast)."""
    df = compile_sparql(_PFX + """
    SELECT ?cat (SUM(?v) / COUNT(?v) AS ?avg) (SUM(?v) - COUNT(?v) AS ?d)
    WHERE { ?m ex:cat ?cat . ?m ex:val ?v . }
    GROUP BY ?cat
    HAVING (SUM(?v) * 2 > 5)
    """, _num_triples(spark))
    assert sorted(tuple(r) for r in df.collect()) == [
        ("g", 4.5, 7.0), ("h", 10.0, 9.0)]


def test_arithmetic_in_bind_and_filter(spark):
    """+,-,*,/ and unary minus in BIND and FILTER expressions."""
    t = _num_triples(spark)
    df = compile_sparql(_PFX + """
    SELECT ?m ?w WHERE { ?m ex:val ?v . BIND(-1 * (?v + 2) AS ?w) }
    """, t)
    assert sorted((r.m, r.w) for r in df.collect()) == [
        ("http://ex.org/i1", -6.0), ("http://ex.org/i2", -7.0),
        ("http://ex.org/i3", -12.0)]
    df = compile_sparql(
        _PFX + "SELECT ?m WHERE { ?m ex:val ?v . FILTER(?v - 3 > 1) }", t)
    assert sorted(r.m for r in df.collect()) == [
        "http://ex.org/i2", "http://ex.org/i3"]


def test_group_by_without_aggregates_is_distinct(spark):
    """GROUP BY with no aggregates = grouping-as-distinct (SPARQL dedup
    idiom); used to die in pyspark internals with a bare
    AssertionError (round-6 review finding)."""
    df = compile_sparql(
        _PFX + "SELECT ?cat WHERE { ?m ex:cat ?cat . } GROUP BY ?cat",
        _num_triples(spark))
    assert sorted(r.cat for r in df.collect()) == ["g", "h"]


def test_group_by_label_service_var(spark):
    """GROUP BY ?xLabel — the other half of the FactGrid dashboard
    pattern: a label-service variable as the GROUP KEY (not just as an
    aggregate argument) attaches before the groupBy."""
    df = compile_sparql(_PFX + """
    SELECT ?mLabel (COUNT(?m) AS ?n)
    WHERE { ?m ex:cat ?cat . SERVICE <http://wikiba.se/ontology#label> { } }
    GROUP BY ?mLabel
    """, _num_triples(spark))
    assert sorted(tuple(r) for r in df.collect()) == [
        ("Alpha", 1), ("Beta", 1), ("Gamma", 1)]


def test_inverse_path_single_step(triples):
    # `x ^p y` ≡ `y p x`: who knows ex:b
    df = compile_sparql(_PFX + """
SELECT ?s WHERE { ex:b ^ex:knows ?s . }""", triples)
    assert _vals(df, "s") == [("http://ex.org/a",)]


def test_inverse_path_in_sequence(triples):
    # two backwards steps from d: c then b
    df = compile_sparql(_PFX + """
SELECT ?o WHERE { ex:d ^ex:knows/^ex:knows ?o . }""", triples)
    assert _vals(df, "o") == [("http://ex.org/b",)]


def test_inverse_of_grouped_sequence(triples):
    # ^(p/q) ≡ ^q/^p — reversal + per-step inversion
    df = compile_sparql(_PFX + """
SELECT ?o WHERE { ex:d ^(ex:knows/ex:knows) ?o . }""", triples)
    assert _vals(df, "o") == [("http://ex.org/b",)]


def test_inverse_path_closure(triples):
    # ^p+ = transitive closure over reversed edges
    df = compile_sparql(_PFX + """
SELECT ?o WHERE { ex:d ^ex:knows+ ?o . }""", triples)
    assert _vals(df, "o") == [("http://ex.org/a",), ("http://ex.org/b",),
                              ("http://ex.org/c",)]


def test_zero_or_one_path_leading(triples):
    # p? from a constant: the zero-length binding (a itself) plus one step
    df = compile_sparql(_PFX + """
SELECT ?o WHERE { ex:a ex:knows? ?o . }""", triples)
    assert _vals(df, "o") == [("http://ex.org/a",), ("http://ex.org/b",)]


def test_zero_or_one_path_in_sequence(triples):
    # knows/knows?: exactly-one (b) plus one-more (c)
    df = compile_sparql(_PFX + """
SELECT ?o WHERE { ex:a ex:knows/ex:knows? ?o . }""", triples)
    assert _vals(df, "o") == [("http://ex.org/b",), ("http://ex.org/c",)]


def test_inverse_zero_or_one_combined(triples):
    # ^p? from b: b itself (zero) plus its knower a (one inverse step)
    df = compile_sparql(_PFX + """
SELECT ?o WHERE { ex:b ^ex:knows? ?o . }""", triples)
    assert _vals(df, "o") == [("http://ex.org/a",), ("http://ex.org/b",)]


def test_zero_length_path_from_constant_absent_from_graph(triples):
    """SPARQL 1.1 §18.4: ALP evaluation of a zero-admitting path starts
    from the constant anchor itself, whether or not it occurs in the
    graph — `ex:ghost p? ?o` yields the zero-length solution
    ?o = ex:ghost (round-7 ADVICE: the graph-term identity seed missed
    absent anchors and returned empty)."""
    for path in ("ex:knows?", "ex:knows*"):
        df = compile_sparql(_PFX + f"""
SELECT ?o WHERE {{ ex:ghost {path} ?o . }}""", triples)
        assert _vals(df, "o") == [("http://ex.org/ghost",)], path


def test_zero_length_path_to_constant_absent_from_graph(triples):
    # object-side anchor: `?s p? ex:ghost` has the zero solution
    # ?s = ex:ghost even though ghost never occurs in the graph
    for path in ("ex:knows?", "ex:knows*"):
        df = compile_sparql(_PFX + f"""
SELECT ?s WHERE {{ ?s {path} ex:ghost . }}""", triples)
        assert _vals(df, "s") == [("http://ex.org/ghost",)], path


def test_absent_object_anchor_multi_step_zero_path(triples):
    """Round 9: `?s p?/q? <c>` with c absent from the graph has the
    whole-path zero-length solution ?s = c (every step admits zero
    from the anchor); a multi-step path whose tail does NOT admit zero
    gains nothing from the seed."""
    g = "http://ex.org/ghost"
    df = compile_sparql(_PFX + """
SELECT ?s WHERE { ?s ex:knows?/ex:knows? ex:ghost . }""", triples)
    assert _vals(df, "s") == [(g,)]
    df = compile_sparql(_PFX + """
SELECT ?s WHERE { ?s ex:knows?/ex:knows ex:ghost . }""", triples)
    assert _vals(df, "s") == []
    # present anchor: zero (d), one step (c — TWICE: zero/one and
    # one/zero are distinct derivations, the sequence join multiplies
    # multiplicities), two steps (b)
    df = compile_sparql(_PFX + """
SELECT ?s WHERE { ?s ex:knows?/ex:knows? ex:d . }""", triples)
    assert _vals(df, "s") == [("http://ex.org/b",), ("http://ex.org/c",),
                              ("http://ex.org/c",), ("http://ex.org/d",)]


def test_absent_anchor_zero_in_alternation_branch(triples):
    """Round-8 ADVICE: a zero-admitting step NESTED in a modifier-free
    alternation must still seed the absent constant anchor's self-pair
    (§18.4 evaluates each branch from the anchor term, graph membership
    notwithstanding) — `ex:ghost (ex:knows?|ex:likes) ?o` yields
    ?o = ex:ghost."""
    g = "http://ex.org/ghost"
    df = compile_sparql(_PFX + """
SELECT ?o WHERE { ex:ghost (ex:knows?|ex:likes) ?o . }""", triples)
    assert _vals(df, "o") == [(g,)]
    # both branches admit zero → bag union yields the solution twice
    df = compile_sparql(_PFX + """
SELECT ?o WHERE { ex:ghost (ex:knows?|ex:likes?) ?o . }""", triples)
    assert _vals(df, "o") == [(g,), (g,)]
    # multi-step branch whose every step admits zero
    df = compile_sparql(_PFX + """
SELECT ?o WHERE { ex:ghost (ex:knows?/ex:knows?|ex:likes) ?o . }""",
                        triples)
    assert _vals(df, "o") == [(g,)]
    # inverted composite: the subject anchor rides the nested dst side
    df = compile_sparql(_PFX + """
SELECT ?o WHERE { ex:ghost ^(ex:knows?|ex:likes) ?o . }""", triples)
    assert _vals(df, "o") == [(g,)]
    # object-side anchor through an alternation branch
    df = compile_sparql(_PFX + """
SELECT ?s WHERE { ?s (ex:knows?|ex:likes) ex:ghost . }""", triples)
    assert _vals(df, "s") == [(g,)]
    # present anchors keep exact per-branch multiplicity:
    # knows?|knows? from a yields {a (zero), b (one step)} per branch
    df = compile_sparql(_PFX + """
SELECT ?o WHERE { ex:a (ex:knows?|ex:knows?) ?o . }""", triples)
    assert _vals(df, "o") == sorted(
        [("http://ex.org/a",)] * 2 + [("http://ex.org/b",)] * 2)


def test_zero_admitting_step_preserves_prefix_bag_semantics(spark):
    """Round-7 ADVICE: a ?/* step after plain sequence steps used to
    distinct() the whole accumulated pair set, collapsing duplicate
    solutions the plain prefix legitimately produces under SPARQL bag
    semantics.  Two distinct p/p routes a→b must each survive the q?
    suffix: bag = {b×2 (zero), c×2 (one step)}."""
    rows = [
        ("ex:a", "http://ex.org/p", "ex:m1", None, None),
        ("ex:a", "http://ex.org/p", "ex:m2", None, None),
        ("ex:m1", "http://ex.org/p", "ex:b", None, None),
        ("ex:m2", "http://ex.org/p", "ex:b", None, None),
        ("ex:b", "http://ex.org/q", "ex:c", None, None),
    ]
    rows = [(s.replace("ex:", "http://ex.org/"), p,
             o.replace("ex:", "http://ex.org/"), lg, dt)
            for s, p, o, lg, dt in rows]
    t = spark.createDataFrame(
        rows, "subject string, predicate string, object string, "
              "lang string, dtype string")
    df = compile_sparql(_PFX + """
SELECT ?o WHERE { ex:a ex:p/ex:p/ex:q? ?o . }""", t)
    assert _vals(df, "o") == [
        ("http://ex.org/b",), ("http://ex.org/b",),
        ("http://ex.org/c",), ("http://ex.org/c",)]
    # and the closure variant keeps the step relation itself a set:
    # q+ from b reaches only c, twice (once per prefix route)
    df2 = compile_sparql(_PFX + """
SELECT ?o WHERE { ex:a ex:p/ex:p/ex:q+ ?o . }""", t)
    assert _vals(df2, "o") == [
        ("http://ex.org/c",), ("http://ex.org/c",)]


# -- round 8: alternation, negated property sets, grouped closure ----------


def test_alternation_basic(triples):
    # p|q: bag union of branch relations
    df = compile_sparql(_PFX + """
SELECT ?o WHERE { ex:a ex:knows|a ?o . }""", triples)
    assert _vals(df, "o") == [
        ("http://ex.org/Person",), ("http://ex.org/b",)]


def test_alternation_bag_semantics(triples):
    # both branches matching the same pair yield BOTH solutions
    # (§18.4 alt is a bag union, not a set union)
    df = compile_sparql(_PFX + """
SELECT ?s ?o WHERE { ?s ex:knows|ex:knows ?o . }""", triples)
    assert len(df.collect()) == 6  # 3 knows edges × 2 branches


def test_alternation_of_sequences(triples):
    # '/' binds tighter than '|': ex:knows/ex:knows | a
    df = compile_sparql(_PFX + """
SELECT ?o WHERE { ex:a ex:knows/ex:knows|a ?o . }""", triples)
    assert _vals(df, "o") == [
        ("http://ex.org/Person",), ("http://ex.org/c",)]


def test_negated_property_set_single(triples):
    # !p: every edge whose predicate is NOT p
    df = compile_sparql(_PFX + """
SELECT ?o WHERE { ex:a !ex:knows ?o . }""", triples)
    assert _vals(df, "o") == [
        ("Alice",), ("Alix",), ("http://ex.org/Person",)]


def test_negated_property_set_list(triples):
    # !(p|a): list form, incl. the 'a' keyword
    df = compile_sparql(_PFX + """
SELECT ?o WHERE { ex:a !(ex:knows|a) ?o . }""", triples)
    assert _vals(df, "o") == [("Alice",), ("Alix",)]


def test_negated_property_set_inverse_only(triples):
    # !(^p): ONLY reverse edges (pred ≠ p) — no forward part at all
    # (§18.4: the forward NPS part exists only when there are forward
    # members), so ex:Person's own forward edges (none) don't matter
    # and its incoming rdf:type edges walk backwards
    df = compile_sparql(_PFX + """
SELECT ?o WHERE { ex:Person !(^ex:knows) ?o . }""", triples)
    assert _vals(df, "o") == [
        ("http://ex.org/a",), ("http://ex.org/b",)]


def test_negated_property_set_mixed(triples):
    # !(p|^q): forward remainder ∪ reversed remainder
    df = compile_sparql(_PFX + """
SELECT ?o WHERE { ex:b !(ex:knows|^a) ?o . }""", triples)
    assert _vals(df, "o") == [
        ("Bob",), ("http://ex.org/Person",), ("http://ex.org/a",)]


def test_group_closure_star(triples):
    # (p/q)* — closure over a grouped sequence, constant-anchored:
    # zero-length gives the anchor itself, one application a→c,
    # a second application finds nothing (knows² from c is empty)
    df = compile_sparql(_PFX + """
SELECT ?o WHERE { ex:a (ex:knows/ex:knows)* ?o . }""", triples)
    assert _vals(df, "o") == [
        ("http://ex.org/a",), ("http://ex.org/c",)]


def test_group_closure_plus(triples):
    df = compile_sparql(_PFX + """
SELECT ?o WHERE { ex:a (ex:knows/ex:knows)+ ?o . }""", triples)
    assert _vals(df, "o") == [("http://ex.org/c",)]


def test_alternation_closure(triples):
    # (p|a)+ — closure over an alternation's union relation
    df = compile_sparql(_PFX + """
SELECT ?o WHERE { ex:a (ex:knows|a)+ ?o . }""", triples)
    assert _vals(df, "o") == [
        ("http://ex.org/Person",), ("http://ex.org/Robot",),
        ("http://ex.org/b",), ("http://ex.org/c",), ("http://ex.org/d",)]


def test_inverse_group_with_optional(triples):
    # ^(p/p)? — inverse of a grouped sequence under zero-or-one:
    # zero gives c itself, one inverse application gives a (a knows² c)
    df = compile_sparql(_PFX + """
SELECT ?o WHERE { ex:c ^(ex:knows/ex:knows)? ?o . }""", triples)
    assert _vals(df, "o") == [
        ("http://ex.org/a",), ("http://ex.org/c",)]


def test_negated_property_set_closure(triples):
    # (!a)* — closure over an NPS relation (knows edges + label edges),
    # constant-anchored so zero-length is just ex:a
    df = compile_sparql(_PFX + """
SELECT ?o WHERE { ex:a !a* ?o . }""", triples)
    assert _vals(df, "o") == [
        ("Alice",), ("Alix",), ("Bob",), ("http://ex.org/a",),
        ("http://ex.org/b",), ("http://ex.org/c",), ("http://ex.org/d",)]


def test_avg_distinct_differential_vs_duckdb(spark):
    """Round 8: AVG(DISTINCT) — §18.5.1.5 Sum/Count over the distinct
    multiset (Spark has no avg_distinct builtin), checked against
    DuckDB's native avg(DISTINCT) on the same rows."""
    import random

    import duckdb

    rng = random.Random(20260815)
    rows = [(f"s{i}", rng.choice(["a", "b"]), str(rng.choice([1, 2, 2, 5, 10])))
            for i in range(40)]
    t = spark.createDataFrame(
        [(s, "http://ex.org/cat", c, None, None) for s, c, _ in rows]
        + [(s, "http://ex.org/val", v, None, None) for s, _, v in rows],
        "subject string, predicate string, object string, "
        "lang string, dtype string")
    df = compile_sparql(_PFX + """
    SELECT ?cat (AVG(DISTINCT ?v) AS ?m) (AVG(?v) AS ?m_all)
    WHERE { ?s ex:cat ?cat . ?s ex:val ?v . }
    GROUP BY ?cat
    """, t)
    got = sorted((r.cat, round(r.m, 9), round(r.m_all, 9))
                 for r in df.collect())
    con = duckdb.connect()
    con.sql("CREATE TABLE r(s VARCHAR, cat VARCHAR, v DOUBLE)")
    con.executemany("INSERT INTO r VALUES (?, ?, ?)", rows)
    want = sorted((c, round(m, 9), round(ma, 9)) for c, m, ma in con.sql(
        "SELECT cat, avg(DISTINCT v), avg(v) FROM r GROUP BY cat"
    ).fetchall())
    assert got == want


def test_langmatches(triples):
    df = compile_sparql(_PFX + """
SELECT ?l WHERE { ?s rdfs:label ?l . FILTER(LANGMATCHES(LANG(?l), "en")) }
""", triples)
    assert _vals(df, "l") == [("Alice",), ("Bob",)]
    df = compile_sparql(_PFX + """
SELECT ?l WHERE { ?s rdfs:label ?l . FILTER(LANGMATCHES(LANG(?l), "*")) }
""", triples)
    assert _vals(df, "l") == [("Alice",), ("Alix",), ("Bob",)]


def test_langmatches_subtag_prefix(spark):
    # RFC 4647 basic filtering: "en" matches "en-GB" at the subtag
    # boundary but never "enx"
    t = spark.createDataFrame(
        [("s1", "http://ex.org/p", "colour", "en-GB", None),
         ("s2", "http://ex.org/p", "color", "en", None),
         ("s3", "http://ex.org/p", "kleur", "enx", None)],
        "subject string, predicate string, object string, "
        "lang string, dtype string")
    df = compile_sparql(_PFX + """
SELECT ?l WHERE { ?s ex:p ?l . FILTER(LANGMATCHES(LANG(?l), "en")) }
""", t)
    assert _vals(df, "l") == [("color",), ("colour",)]


def test_encode_for_uri_and_hashes(triples):
    df = compile_sparql(_PFX + """
SELECT ?e ?m ?h1 ?h2 WHERE {
  ?s a ex:Robot .
  BIND(ENCODE_FOR_URI("a b*~/ü") AS ?e)
  BIND(MD5("abc") AS ?m)
  BIND(SHA1("abc") AS ?h1)
  BIND(SHA256("abc") AS ?h2)
}""", triples)
    r = df.collect()[0]
    assert r.e == "a%20b%2A~%2F%C3%BC"
    assert r.m == "900150983cd24fb0d6963f7d28e17f72"
    assert r.h1 == "a9993e364706816aba3e25717850c26c9cd0d89d"
    assert r.h2 == ("ba7816bf8f01cfea414140de5dae2223"
                    "b00361a396177a9cb410ff61f20015ad")


def test_time_accessors(triples):
    df = compile_sparql(_PFX + """
SELECT ?h ?mi ?sec WHERE {
  ?s a ex:Robot .
  BIND(HOURS("2011-01-10T14:45:13.815") AS ?h)
  BIND(MINUTES("2011-01-10T14:45:13.815") AS ?mi)
  BIND(SECONDS("2011-01-10T14:45:13.815") AS ?sec)
}""", triples)
    r = df.collect()[0]
    assert (r.h, r.mi) == (14, 45)
    assert abs(r.sec - 13.815) < 1e-9


def test_in_and_not_in(triples):
    df = compile_sparql(_PFX + """
SELECT ?s WHERE { ?s a ?t . FILTER(?t IN (ex:Robot, ex:Alien)) }""",
                        triples)
    assert _vals(df, "s") == [("http://ex.org/c",)]
    df = compile_sparql(_PFX + """
SELECT ?s WHERE { ?s a ?t . FILTER(?t NOT IN (ex:Robot)) }""", triples)
    assert _vals(df, "s") == [("http://ex.org/a",), ("http://ex.org/b",)]
    # numeric list elements and expressions: STRLEN("abc") IN (2, 3)
    df = compile_sparql(_PFX + """
SELECT ?s WHERE { ?s a ex:Robot . FILTER(STRLEN("abc") IN (2, 3)) }""",
                        triples)
    assert _vals(df, "s") == [("http://ex.org/c",)]


def test_in_with_variable_element(triples):
    # list elements are full expressions — a variable element compiles
    # to a column operand of the IN predicate
    df = compile_sparql(_PFX + """
SELECT ?s WHERE { ?s a ?t . ?s ex:knows ?o . FILTER(?o IN (?t, ex:b)) }
""", triples)
    assert _vals(df, "s") == [("http://ex.org/a",)]


# -- round 8: ASK / CONSTRUCT query forms -----------------------------------


def test_ask_true_and_false(triples):
    df = compile_sparql(_PFX + """
ASK { ?s a ex:Robot . }""", triples)
    assert [tuple(r) for r in df.collect()] == [(True,)]
    df = compile_sparql(_PFX + """
ASK WHERE { ?s a ex:Starship . }""", triples)
    assert [tuple(r) for r in df.collect()] == [(False,)]


def test_construct_basic(triples):
    # rewrite knows-edges under a new predicate, tag each subject
    df = compile_sparql(_PFX + """
CONSTRUCT { ?b ex:knownBy ?a . ?a a ex:Subject . }
WHERE { ?a ex:knows ?b . }""", triples)
    got = sorted(tuple(r) for r in df.collect())
    E = "http://ex.org/"
    want = sorted(
        [(E + y, E + "knownBy", E + x, None)
         for x, y in (("a", "b"), ("b", "c"), ("c", "d"))]
        + [(E + x, RDF_TYPE, E + "Subject", None)
           for x in ("a", "b", "c")])
    assert got == want


def test_construct_is_a_set_and_drops_unbound(triples):
    # same constant triple from every solution → ONE output triple;
    # a template triple using a never-bound var drops entirely
    df = compile_sparql(_PFX + """
CONSTRUCT { ex:g ex:hasEdge ex:yes . ?a ex:also ?nope . }
WHERE { ?a ex:knows ?b . }""", triples)
    got = [tuple(r) for r in df.collect()]
    assert got == [
        ("http://ex.org/g", "http://ex.org/hasEdge", "http://ex.org/yes",
         None)]


def test_construct_keeps_literal_lang(triples):
    # an object var bound from a lang-tagged literal carries its tag
    # into the output graph's lang column
    df = compile_sparql(_PFX + """
CONSTRUCT { ?s ex:name ?l . }
WHERE { ?s rdfs:label ?l . FILTER(LANGMATCHES(LANG(?l), "de")) }""",
                        triples)
    got = [tuple(r) for r in df.collect()]
    assert got == [
        ("http://ex.org/a", "http://ex.org/name", "Alix", "de")]


def test_construct_limit_and_template_validation(triples):
    df = compile_sparql(_PFX + """
CONSTRUCT { ?a ex:e ?b . } WHERE { ?a ex:knows ?b . } LIMIT 1""",
                        triples)
    assert df.count() == 1
    with pytest.raises(SyntaxError, match="plain triple"):
        compile_sparql(_PFX + """
CONSTRUCT { ?a ex:p/ex:q ?b . } WHERE { ?a ex:knows ?b . }""", triples)


def test_construct_attaches_label_service_var(spark):
    t = spark.createDataFrame(
        [("http://ex.org/i1", "http://ex.org/cat", "g", None, None),
         ("http://ex.org/i1",
          "http://www.w3.org/2000/01/rdf-schema#label", "Alpha", "en", None)],
        "subject string, predicate string, object string, "
        "lang string, dtype string")
    df = compile_sparql(_PFX + """
CONSTRUCT { ?m ex:display ?mLabel . }
WHERE { ?m ex:cat ?cat .
        SERVICE <http://wikiba.se/ontology#label> { } }""", t)
    got = [tuple(r) for r in df.collect()]
    assert got == [("http://ex.org/i1", "http://ex.org/display",
                    "Alpha", None)]


def test_describe_constant_and_var(triples):
    # constant: all of ex:a's triples (type + 2 labels + knows)
    df = compile_sparql(_PFX + """
DESCRIBE ex:a""", triples)
    assert df.count() == 4
    assert {r.subject for r in df.collect()} == {"http://ex.org/a"}
    # variable: describe every Person → a's 4 triples + b's 3
    df = compile_sparql(_PFX + """
DESCRIBE ?s WHERE { ?s a ex:Person . }""", triples)
    assert df.count() == 7
    # mixed + overlap stays a set: ex:a via both routes counted once
    df = compile_sparql(_PFX + """
DESCRIBE ex:a ?s WHERE { ?s a ex:Person . }""", triples)
    assert df.count() == 7
    # unbound describe var fails loud
    with pytest.raises(SyntaxError, match="WHERE pattern"):
        compile_sparql(_PFX + "DESCRIBE ?nope", triples)


def test_offset_and_limit(triples):
    df = compile_sparql(_PFX + """
SELECT ?s WHERE { ?s ex:knows ?o . } ORDER BY ?s OFFSET 1 LIMIT 1""",
                        triples)
    assert _vals(df, "s") == [("http://ex.org/b",)]
    # OFFSET past the end → empty, OFFSET alone (no LIMIT) works
    df = compile_sparql(_PFX + """
SELECT ?s WHERE { ?s ex:knows ?o . } ORDER BY ?s OFFSET 2""", triples)
    assert _vals(df, "s") == [("http://ex.org/c",)]


def test_values_undef_compatibility_join(triples):
    # §10.2.2: an UNDEF cell is compatible with ANY binding; duplicate
    # compatibility contributes multiplicity (bag semantics)
    df = compile_sparql(_PFX + """
      SELECT ?s ?t ?status WHERE {
        ?s a ?t .
        VALUES (?t ?status) { (ex:Person "known") (UNDEF "any") }
      }""", triples)
    assert _vals(df, "s", "t", "status") == [
        ("http://ex.org/a", "http://ex.org/Person", "any"),
        ("http://ex.org/a", "http://ex.org/Person", "known"),
        ("http://ex.org/b", "http://ex.org/Person", "any"),
        ("http://ex.org/b", "http://ex.org/Person", "known"),
        ("http://ex.org/c", "http://ex.org/Robot", "any"),
    ]


def test_values_undef_single_var_keeps_all(triples):
    # a single-var VALUES containing UNDEF matches every solution once
    # via the UNDEF row, plus once more where the bound row matches
    df = compile_sparql(_PFX + """
      SELECT ?s ?t WHERE { ?s a ?t . VALUES ?t { ex:Robot UNDEF } }
      """, triples)
    out = _vals(df, "s", "t")
    assert out.count(("http://ex.org/c", "http://ex.org/Robot")) == 2
    assert len(out) == 4


def test_values_duplicate_row_keeps_bag_multiplicity(triples):
    """Round-8 ADVICE: a VALUES block listing the same row twice must
    duplicate matching solutions (§10.2.2 multiset join) — the single-
    var isin fast path only applies to distinct-row blocks."""
    df = compile_sparql(_PFX + """
      SELECT ?s ?t WHERE { ?s a ?t . VALUES ?t { ex:Robot ex:Robot } }
      """, triples)
    assert _vals(df, "s", "t") == [
        ("http://ex.org/c", "http://ex.org/Robot")] * 2
    # distinct rows through the same compatibility join: one solution
    # per match (the isin fast path is gone — round-9 review)
    df = compile_sparql(_PFX + """
      SELECT ?s ?t WHERE { ?s a ?t . VALUES ?t { ex:Robot ex:Person } }
      """, triples)
    assert len(_vals(df, "s", "t")) == 3


def test_truncated_expr_raises_syntax_error(triples):
    """Round-8 ADVICE: EOF inside an IN list / call arg list / expression
    must surface as SyntaxError, not AttributeError on a None peek."""
    for q in ("SELECT ?s WHERE { ?s a ?t . FILTER(?t IN (",
              "SELECT ?s WHERE { ?s a ?t . FILTER(BOUND(",
              "SELECT ?s WHERE { ?s a ?t . FILTER(?t NOT IN (ex:a,"):
        with pytest.raises(SyntaxError):
            compile_sparql(_PFX + q, triples)


def test_values_undef_standalone_stays_unbound(triples):
    df = compile_sparql(_PFX + """
      SELECT ?x ?y WHERE { VALUES (?x ?y) { ("p" UNDEF) (UNDEF "q") } }
      """, triples)
    got = sorted(((r["x"], r["y"]) for r in df.collect()),
                 key=lambda t: (t[0] or "", t[1] or ""))
    assert got == [(None, "q"), ("p", None)]


def test_values_joins_env_side_unbound(triples):
    """Round-9 review: §10.2.2 compatibility also applies to ENV-side
    unbound variables — an OPTIONAL-produced NULL must be compatible
    with every VALUES row and take the row's binding, not be dropped
    (the former isin fast path filtered such rows out)."""
    df = compile_sparql(_PFX + """
      SELECT ?s ?t WHERE {
        ?s a ex:Robot .
        OPTIONAL { ?s ex:name ?t . FILTER(?t = "nobody") }
        VALUES ?t { "x" }
      }""", triples)
    assert _vals(df, "s", "t") == [("http://ex.org/c", "x")]


def test_values_chained_undef_then_constrained(triples):
    """{ VALUES (?x ?y) { ("p" UNDEF) } VALUES ?y { "q" } } — the
    NULL ?y produced by the first block is compatible with the second
    and takes its binding."""
    df = compile_sparql(_PFX + """
      SELECT ?x ?y WHERE {
        VALUES (?x ?y) { ("p" UNDEF) }
        VALUES ?y { "q" }
      }""", triples)
    assert [(r["x"], r["y"]) for r in df.collect()] == [("p", "q")]


def test_group_leading_filter_applies(triples):
    """§18.2.2.2: a FILTER written BEFORE its group's patterns scopes
    to the whole group (it used to be silently dropped when no
    bindings had accumulated yet)."""
    df = compile_sparql(_PFX + """
SELECT ?s WHERE { FILTER(?o = ex:b) ?s ex:knows ?o }""", triples)
    assert _vals(df, "s") == [("http://ex.org/a",)]
    # filter-only group stays a no-op (the MINUS {FILTER} shape)
    df2 = compile_sparql(_PFX + """
SELECT ?s WHERE { ?s ex:knows ex:b MINUS { FILTER(1 = 2) } }""", triples)
    assert _vals(df2, "s") == [("http://ex.org/a",)]


def test_disjoint_not_exists_vs_minus(triples):
    """FILTER NOT EXISTS with NO shared vars is all-or-nothing;
    MINUS with disjoint domains removes NOTHING (§8.3.3)."""
    ne = compile_sparql(_PFX + """
SELECT ?s WHERE { ?s a ex:Robot
  FILTER NOT EXISTS { ex:a ex:knows ex:b } }""", triples)
    assert _vals(ne, "s") == []  # the sub-pattern matches → all die
    ne2 = compile_sparql(_PFX + """
SELECT ?s WHERE { ?s a ex:Robot
  FILTER NOT EXISTS { ex:a ex:knows ex:zzz } }""", triples)
    assert _vals(ne2, "s") == [("http://ex.org/c",)]  # no match → keep
    mi = compile_sparql(_PFX + """
SELECT ?s WHERE { ?s a ex:Robot MINUS { ex:a ex:knows ex:b } }""", triples)
    assert _vals(mi, "s") == [("http://ex.org/c",)]  # disjoint → no-op


def test_regex_flags_and_nonliteral_pattern(triples):
    df = compile_sparql(_PFX + """
SELECT ?s WHERE { ?s rdfs:label ?l FILTER(REGEX(?l, "alice", "i")) }""",
                        triples)
    assert _vals(df, "s") == [("http://ex.org/a",)]
    with pytest.raises(NotImplementedError, match="literal patterns"):
        compile_sparql(_PFX + """
SELECT ?s WHERE { ?s rdfs:label ?l FILTER(REGEX(?l, ?l)) }""",
                       triples).collect()
    with pytest.raises(NotImplementedError, match="unsupported regex"):
        compile_sparql(_PFX + """
SELECT ?s WHERE { ?s rdfs:label ?l FILTER(REGEX(?l, "a", "x")) }""",
                       triples).collect()


def test_typed_literal_tokenizes_before_paren(triples):
    """The datatype tail must not swallow an adjacent ')' — this query
    used to die with SyntaxError on the structural paren."""
    df = compile_sparql(_PFX + """
SELECT ?s WHERE { ?s rdfs:label ?l
  FILTER(?l != "zzz"^^<http://www.w3.org/2001/XMLSchema#string>) }""",
                        triples)
    assert len(_vals(df, "s")) == 3
    df2 = compile_sparql(_PFX + """
SELECT ?s WHERE { ?s rdfs:label ?l FILTER(?l != "zzz"^^xsd:string) }""",
                        triples)
    assert len(_vals(df2, "s")) == 3


def test_plain_literal_does_not_match_tagged(triples):
    """RDF term equality: a constant plain literal matches only
    untagged objects — "Alice" must NOT match "Alice"@en."""
    df = compile_sparql(_PFX + """
SELECT ?s WHERE { ?s rdfs:label "Alice" }""", triples)
    assert _vals(df, "s") == []
    tagged = compile_sparql(_PFX + """
SELECT ?s WHERE { ?s rdfs:label "Alice"@en }""", triples)
    assert _vals(tagged, "s") == [("http://ex.org/a",)]


def test_filter_exists_on_lang_bearing_frame(triples):
    """FILTER EXISTS sharing a lang-carrying variable compiles through
    the null-safe companion join (the left_semi path used to crash
    re-selecting right-side columns a semi join doesn't produce)."""
    df = compile_sparql(_PFX + """
SELECT ?s WHERE { ?s rdfs:label ?l
  FILTER EXISTS { ex:a rdfs:label ?l } }""", triples)
    assert _vals(df, "s") == [("http://ex.org/a",), ("http://ex.org/a",)]


def test_order_by_non_projected_variable(triples):
    """ORDER BY on a WHERE-bound but non-projected var must actually
    sort (it used to be silently dropped with the truly-unbound keys)."""
    df = compile_sparql(_PFX + """
SELECT ?l WHERE { ?s rdfs:label ?l . ?s ex:knows ?o }
ORDER BY DESC(?o) ?l""", triples)
    rows = [r.l for r in df.collect()]
    # a knows b (labels Alice/Alix), b knows c (label Bob):
    # DESC(?o) puts ?o = ex:c (Bob) first, then ex:b (Alice, Alix asc)
    assert rows == ["Bob", "Alice", "Alix"]
    assert df.columns == ["l"]  # the carried sort key is dropped


def test_numeric_comparison_not_lexicographic(spark):
    """FILTER(?v > 99) must compare numerically: "100" > "99" is true
    as numbers, false lexicographically (review fix)."""
    tr = spark.createDataFrame(
        [("http://ex.org/a", "http://ex.org/v", "100", None, None),
         ("http://ex.org/b", "http://ex.org/v", "99", None, None),
         ("http://ex.org/c", "http://ex.org/v", "98", None, None),
         ("http://ex.org/d", "http://ex.org/v", "oops", None, None)],
        "subject string, predicate string, object string,"
        " lang string, dtype string")
    df = compile_sparql(_PFX + """
SELECT ?s WHERE { ?s ex:v ?val FILTER(?val > 98.5) }""", tr)
    # numeric: 100 and 99 pass; "oops" is a type error -> row dropped
    assert _vals(df, "s") == [("http://ex.org/a",), ("http://ex.org/b",)]


def test_projection_expr_over_group_key(triples):
    df = compile_sparql(_PFX + """
SELECT ?t (UCASE(STR(?t)) AS ?u) (COUNT(*) AS ?n)
WHERE { ?s a ?t } GROUP BY ?t""", triples)
    got = {r.t: (r.u, r.n) for r in df.collect()}
    assert got == {
        "http://ex.org/Person": ("HTTP://EX.ORG/PERSON", 2),
        "http://ex.org/Robot": ("HTTP://EX.ORG/ROBOT", 1),
    }


def test_numeric_equality_promotion(spark):
    """§17.3 promotion covers =/!= too: FILTER(?v = 30) must match a
    value stored as "30.0" (numeric VALUE equality, not lexical term
    equality), and a non-numeric lexical form is a type error that
    drops the row for BOTH = and != (advice fix)."""
    tr = spark.createDataFrame(
        [("http://ex.org/a", "http://ex.org/v", "30.0", None,
          "http://www.w3.org/2001/XMLSchema#decimal"),
         ("http://ex.org/b", "http://ex.org/v", "30", None, None),
         ("http://ex.org/c", "http://ex.org/v", "31", None, None),
         ("http://ex.org/d", "http://ex.org/v", "oops", None, None)],
        "subject string, predicate string, object string,"
        " lang string, dtype string")
    eq = compile_sparql(_PFX + """
SELECT ?s WHERE { ?s ex:v ?val FILTER(?val = 30) }""", tr)
    assert _vals(eq, "s") == [("http://ex.org/a",), ("http://ex.org/b",)]
    ne = compile_sparql(_PFX + """
SELECT ?s WHERE { ?s ex:v ?val FILTER(?val != 30) }""", tr)
    # "31" != 30 numerically; "oops" is a type error → dropped, NOT kept
    assert _vals(ne, "s") == [("http://ex.org/c",)]


def test_group_leading_filter_never_bound_var(triples):
    """§17.2: a deferred group-leading FILTER whose variable is never
    bound anywhere in the group evaluates the var as unbound — the
    comparison errors to NULL and removes every solution (it used to
    raise AnalysisException on the missing column), while !BOUND keeps
    them all."""
    df = compile_sparql(_PFX + """
SELECT ?s WHERE { FILTER(?nope = ex:b) ?s ex:knows ?o }""", triples)
    assert _vals(df, "s") == []
    kept = compile_sparql(_PFX + """
SELECT ?s WHERE { FILTER(!BOUND(?nope)) ?s ex:knows ?o }""", triples)
    assert len(_vals(kept, "s")) == 3


def test_values_tagged_literal_term_equality(triples):
    """VALUES with language-tagged literals matches on the full RDF
    term (lexical, tag): same-tag matches, cross-tag does NOT, and a
    plain literal does not match a tagged binding (round-13 feature —
    replaced the fail-loud NotImplementedError)."""
    same = compile_sparql(_PFX + """
SELECT ?s WHERE { ?s rdfs:label ?l VALUES ?l { "Alice"@en } }""",
                          triples)
    assert _vals(same, "s") == [("http://ex.org/a",)]
    cross = compile_sparql(_PFX + """
SELECT ?s WHERE { ?s rdfs:label ?l VALUES ?l { "Alice"@de } }""",
                           triples)
    assert _vals(cross, "s") == []
    plain = compile_sparql(_PFX + """
SELECT ?s WHERE { ?s rdfs:label ?l VALUES ?l { "Alice" } }""",
                           triples)
    assert _vals(plain, "s") == []  # every stored label is tagged
    # mixed tags in one VALUES list: each cell matches only its tag
    mixed = compile_sparql(_PFX + """
SELECT ?s ?l WHERE { ?s rdfs:label ?l
  VALUES ?l { "Alice"@en "Alix"@de "Bob"@de } }""", triples)
    assert _vals(mixed, "s", "l") == [
        ("http://ex.org/a", "Alice"), ("http://ex.org/a", "Alix")]


def test_values_tagged_leading_and_lang_visible(triples):
    """A group-LEADING tagged VALUES binds the __lang__ companion so
    the later triple join enforces the tag (null-safe term equality),
    and LANG(?l) sees the VALUES-supplied tag."""
    df = compile_sparql(_PFX + """
SELECT ?s WHERE { VALUES ?l { "Alice"@en "Bob"@de } ?s rdfs:label ?l }""",
                        triples)
    assert _vals(df, "s") == [("http://ex.org/a",)]
    lang = compile_sparql(_PFX + """
SELECT ?s ?tag WHERE { ?s rdfs:label ?l VALUES ?l { "Bob"@en }
  BIND(LANG(?l) AS ?tag) }""", triples)
    assert _vals(lang, "s", "tag") == [("http://ex.org/b", "en")]


def test_values_tagged_multi_var_with_undef(triples):
    """Tagged cells coexist with UNDEF compatibility: the UNDEF cell's
    row matches any binding; the tagged cell constrains its own row."""
    df = compile_sparql(_PFX + """
SELECT ?s ?kind WHERE { ?s rdfs:label ?l
  VALUES (?l ?kind) { ("Alix"@de "german") (UNDEF "any") } }""",
                        triples)
    assert _vals(df, "s", "kind") == [
        ("http://ex.org/a", "any"), ("http://ex.org/a", "any"),
        ("http://ex.org/a", "german"), ("http://ex.org/b", "any")]


# ---------------------------------------------------------------------------
# round-13 continuation review batch: compatibility joins, term equality
# in FILTER, deferred EXISTS guards, escapes, label-service reach
# ---------------------------------------------------------------------------


def test_union_null_var_rejoins_compatibly(triples):
    """§8.3 join compatibility: a var NULL-filled by a UNION branch must
    MERGE with (not veto) a later pattern's binding — plain equi-join
    keys silently dropped every second-branch solution (review batch)."""
    df = compile_sparql(_PFX + """
SELECT ?s ?t WHERE {
  { ?s ex:knows ex:b . ?s a ?t }
  UNION
  { ?s ex:knows ex:c }
  ?s a ?t .
}""", triples)
    # branch 1: a (knows b, type Person); branch 2: b (knows c) with ?t
    # unbound -> must still merge with `?s a ?t` and take t=Person
    assert _vals(df, "s", "t") == [
        ("http://ex.org/a", "http://ex.org/Person"),
        ("http://ex.org/b", "http://ex.org/Person"),
    ]


def test_optional_var_rejoins_compatibly(triples):
    """An OPTIONAL-introduced var left NULL must not veto a later
    pattern that binds it (same §8.3 class as the UNION case)."""
    df = compile_sparql(_PFX + """
SELECT ?s ?t WHERE {
  ?s ex:knows ?o .
  OPTIONAL { ?s a ?t . FILTER(?t = ex:Robot) }
  ?s a ?t .
}""", triples)
    # c: optional binds t=Robot (matches); a, b: optional leaves t NULL,
    # later pattern binds Person — compatibility merge keeps them
    assert _vals(df, "s", "t") == [
        ("http://ex.org/a", "http://ex.org/Person"),
        ("http://ex.org/b", "http://ex.org/Person"),
        ("http://ex.org/c", "http://ex.org/Robot"),
    ]


def test_filter_term_equality_includes_lang(triples):
    """§17.4.1.7 RDFterm-equal: FILTER(?l = "Alice"@en) must not pass
    "Alix"@de or a hypothetical plain "Alice" (review batch — the
    FILTER path compared lexical forms only)."""
    q = _PFX + """
SELECT ?s WHERE { ?s rdfs:label ?l . FILTER(?l = "Alice"@en) }"""
    df = compile_sparql(q, triples)
    assert _vals(df, "s") == [("http://ex.org/a",)]
    # cross-tag comparison finds nothing
    df2 = compile_sparql(_PFX + """
SELECT ?s WHERE { ?s rdfs:label ?l . FILTER(?l = "Alice"@de) }""", triples)
    assert df2.count() == 0
    # != is the negation of term equality: Alice@en differs from
    # "Alice"@de by TAG alone and must pass
    df3 = compile_sparql(_PFX + """
SELECT ?l WHERE { ex:a rdfs:label ?l . FILTER(?l != "Alice"@de) }""",
                         triples)
    assert _vals(df3, "l") == [("Alice",), ("Alix",)]
    # IN honors tags per element
    df4 = compile_sparql(_PFX + """
SELECT ?l WHERE { ex:a rdfs:label ?l .
                  FILTER(?l IN ("Alice"@de, "Alix"@de)) }""", triples)
    assert _vals(df4, "l") == [("Alix",)]
    # SAMETERM includes the tag
    df5 = compile_sparql(_PFX + """
SELECT ?s WHERE { ?s rdfs:label ?l . FILTER(SAMETERM(?l, "Alix"@de)) }""",
                         triples)
    assert _vals(df5, "s") == [("http://ex.org/a",)]


def test_leading_filter_not_exists_applies(triples):
    """A group-LEADING FILTER NOT EXISTS was silently dropped (env was
    None); §18.2.2.2 scopes it to the whole group (review batch)."""
    df = compile_sparql(_PFX + """
SELECT ?s WHERE {
  FILTER NOT EXISTS { ?s ex:knows ex:b }
  ?s a ex:Person .
}""", triples)
    assert _vals(df, "s") == [("http://ex.org/b",)]
    df2 = compile_sparql(_PFX + """
SELECT ?s WHERE {
  FILTER EXISTS { ?s ex:knows ex:b }
  ?s a ex:Person .
}""", triples)
    assert _vals(df2, "s") == [("http://ex.org/a",)]


def test_positional_filter_on_later_bound_var(triples):
    """A filter placed BEFORE the pattern that binds its variable must
    still see the binding (§18.2.2.2) — it used to raise
    AnalysisException on the missing column (review batch)."""
    df = compile_sparql(_PFX + """
SELECT ?s WHERE {
  ?s ex:knows ?o .
  FILTER(?t = ex:Person)
  ?s a ?t .
}""", triples)
    assert _vals(df, "s") == [("http://ex.org/a",), ("http://ex.org/b",)]


def test_string_escapes_unescape(triples):
    """SPARQL ECHAR + \\uXXXX escapes evaluate to their characters —
    they used to stay as literal backslash pairs (review batch)."""
    df = compile_sparql(_PFX + r"""
SELECT ?x WHERE { BIND(CONCAT("a\nb", "A", "\t") AS ?x) }""", triples)
    assert [r.x for r in df.collect()] == ["a\nbA\t"]


def test_count_distinct_star(triples):
    """COUNT(DISTINCT *) counts DISTINCT solutions — DISTINCT was
    silently ignored for * (review batch)."""
    # ?s bound to knowers: a,b,c each once; join against type makes
    # duplicates: use labels of ex:a (2 rows) paired with type (1) -> 2
    df = compile_sparql(_PFX + """
SELECT (COUNT(DISTINCT *) AS ?n) WHERE {
  ?s ex:knows ?o . ?s ex:knows ?o .
}""", triples)
    assert [r.n for r in df.collect()] == [3]


def test_lang_fn_literal_and_unsupported(triples):
    """LANG of a tagged literal is its tag; non-term arguments are
    refused loudly instead of silently compiling to '' (review batch:
    LANG(COALESCE(...)) indexed into the string \"COALESCE\")."""
    df = compile_sparql(_PFX + """
SELECT ?x WHERE { BIND(LANG("hi"@de) AS ?x) }""", triples)
    assert [r.x for r in df.collect()] == ["de"]
    with pytest.raises(NotImplementedError, match="LANG"):
        compile_sparql(_PFX + """
SELECT ?s WHERE { ?s rdfs:label ?l .
                  FILTER(LANG(COALESCE(?l, ?l)) = "de") }""", triples)


def test_union_all_filter_only_branches_fails_loud(triples):
    with pytest.raises(NotImplementedError, match="UNION"):
        compile_sparql(_PFX + """
SELECT ?x WHERE {
  ?x a ex:Person .
  { FILTER(?x > 1) } UNION { FILTER(?x < 1) }
}""", triples)


_WB = """\
PREFIX ex: <http://ex.org/>
PREFIX wikibase: <http://wikiba.se/ontology#>
PREFIX bd: <http://www.bigdata.com/rdf#>
"""


def test_label_var_in_computed_projection(triples):
    """A label-service var referenced INSIDE a computed projection
    (UCASE(?sLabel)) must trigger the label attach — it used to raise
    on the missing column (review batch)."""
    df = compile_sparql(_WB + """
SELECT ?s (UCASE(?sLabel) AS ?u) WHERE {
  ?s ex:knows ex:b .
  SERVICE wikibase:label { bd:serviceParam wikibase:language "en". }
}""", triples)
    assert _vals(df, "s", "u") == [("http://ex.org/a", "ALICE")]


def test_order_by_unprojected_label_var(triples):
    """ORDER BY on a non-projected label-service var must attach the
    label and sort — it was silently dropped (review batch)."""
    df = compile_sparql(_WB + """
SELECT ?s WHERE {
  ?s ex:knows ?o .
  SERVICE wikibase:label { bd:serviceParam wikibase:language "en". }
} ORDER BY DESC(?sLabel)""", triples)
    rows = [r.s for r in df.collect()]
    # labels: a->Alice, b->Bob, c falls back to its local name "c" (the
    # label service's QID fallback) -> DESC is "c" > "Bob" > "Alice"
    assert rows == ["http://ex.org/c", "http://ex.org/b", "http://ex.org/a"]
    assert set(df.columns) == {"s"}


# -- predicate-partitioned KG store (queries_sparql.kg_memo) ------------------

# predicates a Hive-style partition path must escape or carry raw; "0042"
# would be read back as an integer if partition types were inferred
_ODD_PREDICATES = (
    "http://ex.org/p#frag",
    "http://ex.org/100%25done",
    "http://ex.org/a/b/c",
    "urn:ex:colon",
    "http://ex.org/k=v",
    "http://ex.org/with space",
    "http://ex.org/straße/名前",
    "0042",
)
_TRIPLE_DDL = ("subject string, predicate string, object string, "
               "lang string, dtype string")


def _stored(spark, tmp_path, key, build):
    """A kg_memo store of ``build()`` under a key no other test uses."""
    from remove_na_lgbtiq_queer_knowledge_graph_spark.queries_sparql import (
        kg_memo,
    )

    return kg_memo(key, spark, str(tmp_path), build)


def _fields(df):
    return [(f.name, f.dataType) for f in df.schema.fields]


def test_kg_store_round_trips_schema_and_rows(spark, tmp_path):
    from collections import Counter

    rows = [
        (f"http://ex.org/s{i}", p, f"o{i}", lang, dtype)
        for i, p in enumerate(_ODD_PREDICATES)
        for lang, dtype in ((None, None), ("de", None),
                            (None, "http://www.w3.org/2001/XMLSchema#date"))
    ]
    rows.append(rows[0])  # a duplicate triple stays a duplicate
    frame = spark.createDataFrame(rows, _TRIPLE_DDL)
    store = _stored(spark, tmp_path, "odd_predicates", lambda: frame)

    assert store.columns == frame.columns
    assert _fields(store) == _fields(frame)
    assert (Counter(tuple(r) for r in store.collect())
            == Counter(tuple(r) for r in frame.collect()))
    # one predicate=<iri> directory and one file per predicate
    files = store.inputFiles()
    assert len(files) == len(_ODD_PREDICATES)
    assert all("/predicate=" in f for f in files)


@pytest.mark.parametrize("predicate", ["", None])
def test_kg_store_rejects_empty_predicate(spark, tmp_path, predicate):
    """Hive-style partitioning writes "" and null to the same default
    partition and reads both back as null: an empty predicate cannot
    round-trip, so the store build fails with a named error."""
    from remove_na_lgbtiq_queer_knowledge_graph_spark.queries_sparql import (
        EmptyPredicateError,
    )

    frame = spark.createDataFrame(
        [("http://ex.org/s", "http://ex.org/p", "o", None, None),
         ("http://ex.org/s", predicate, "o", None, None)], _TRIPLE_DDL)
    with pytest.raises(EmptyPredicateError):
        _stored(spark, tmp_path, f"empty_predicate_{predicate!r}",
                lambda: frame)


def test_kg_store_without_predicate_stays_flat(spark, tmp_path):
    frame = spark.createDataFrame(
        [("http://ex.org/s", "o", 1), ("http://ex.org/t", "p", 2)],
        "subject string, object string, n long")
    store = _stored(spark, tmp_path, "no_predicate", lambda: frame)

    assert _fields(store) == _fields(frame)
    assert sorted(store.collect()) == sorted(frame.collect())
    assert not any("=" in f.rsplit("/", 2)[1] for f in store.inputFiles())


def test_bound_predicate_scan_prunes_partitions(spark, sf_dir):
    from remove_na_lgbtiq_queer_knowledge_graph_spark.queries_sparql import (
        factgrid_kg,
    )

    df = compile_sparql("""
PREFIX fg: <https://database.factgrid.de/entity/>
PREFIX fgt: <https://database.factgrid.de/prop/direct/>
SELECT ?x WHERE { ?x fgt:P83 fg:Q225307 . }""", factgrid_kg(spark, sf_dir))
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    pruned = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert len(pruned) == 1, plan
    assert "https://database.factgrid.de/prop/direct/P83" in pruned[0], plan
    assert "predicate#" in pruned[0], plan


def test_variable_predicate_matches_flat_store(spark, sf_dir, tmp_path):
    """``?p`` patterns scan every predicate directory and must see the
    same triples as a flat, unpartitioned store."""
    from remove_na_lgbtiq_queer_knowledge_graph_spark.queries_sparql import (
        factgrid_kg,
    )

    kg = factgrid_kg(spark, sf_dir)
    flat_dir = str(tmp_path / "flat")
    kg.write.parquet(flat_dir)
    flat = spark.read.parquet(flat_dir)
    assert _fields(flat) == _fields(kg)
    text = """
PREFIX fg: <https://database.factgrid.de/entity/>
SELECT ?p1 ?x ?p2 ?y WHERE {
  fg:Q225307 ?p1 ?x .
  OPTIONAL { ?x ?p2 ?y . }
}"""
    got = compile_sparql(text, kg).collect()
    assert got
    assert sorted(got) == sorted(compile_sparql(text, flat).collect())
