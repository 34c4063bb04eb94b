"""Seeded SPARQL op texts for the ``kg_query`` workload, each with a
DuckDB SQL twin over the relational source tables.

Six templates mirror the shapes of the engine's reference queries over
the FactGrid-shaped KG (``queries_sparql.factgrid_kg``):

- ``root2hop``: bound root, two variable-predicate hops, directClaim
  property resolution and the Wikibase label service
  (``network-00-starting-point.rq``), rooted at one person;
- ``members_lang``: members of one nation with a ``LANG`` filter;
- ``venue_optional``: venues of one audience with an OPTIONAL chain
  (``lokale-from-factgrid.rq``);
- ``inverse_path``: ``^p`` and ``p?`` paths from one nation;
- ``closure``: the ``(fgt:P2/fgt:P3*)`` path to the agent class,
  restricted to the residents of one nation and labelled;
- ``group_count``: ``GROUP BY``/``COUNT``/``HAVING`` per region.

Each twin derives the same rows straight from the star schema with no
triples, so a wrong answer from the parser, planner or KG store shows as
a row-count or value-hash mismatch.

The op sequence is a pure function of the seed: op ``i`` uses template
``i % 6``; two ops in every six repeat an earlier text of their template
(a prepared-statement memo hit) and the rest draw fresh constants.  The
template mix and the new/repeat pattern are the same for every seed;
only the constants change.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

FG = "https://database.factgrid.de/entity/"
PREFIXES = """\
PREFIX fg: <https://database.factgrid.de/entity/>
PREFIX fgt: <https://database.factgrid.de/prop/direct/>
PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
PREFIX wikibase: <http://wikiba.se/ontology#>
PREFIX bd: <http://www.bigdata.com/rdf#>
"""

N_NATIONS = 25
N_REGIONS = 5
AUDIENCES = ("Q399989", "Q399990", "Q399988", "Q400014", "Q137530")
# venue property -> (supplier-key predicate that binds it, value prefix)
VENUE_PROPS = {
    "P49": ("s_suppkey % 3 = 0", "start-"),
    "P50": ("s_suppkey % 4 = 0", "end-"),
    "P106": ("s_suppkey % 6 = 0", "datum-"),
    "P573": ("s_suppkey % 2 = 1", "zielgruppe-"),
}
LANGS = ("de", "en")
REPEAT_EVERY = 3
# warm texts per template, run unmeasured before the measured phase
WARM_PER_TEMPLATE = 1


def _iri(offset: int, key_sql: str) -> str:
    return f"'{FG}Q' || CAST({offset} + {key_sql} AS VARCHAR)"


def root2hop(cust: int) -> tuple[str, str]:
    rq = PREFIXES + f"""\
SELECT ?root ?rootLabel ?property1Label ?item1 ?item1Label ?property2Label ?item2 ?item2Label WHERE {{
  BIND(fg:Q{500000 + cust} AS ?root)
  ?root ?fgt1 ?item1.
  ?item1 ?fgt2 ?item2.
  ?property1 wikibase:directClaim ?fgt1.
  ?property2 wikibase:directClaim ?fgt2.
  SERVICE wikibase:label {{ bd:serviceParam wikibase:language "[AUTO_LANGUAGE],en". }}
}}"""
    sql = f"""
SELECT '{FG}Q{500000 + cust}' AS "root", c.c_name AS "rootLabel",
       'residence' AS "property1Label",
       {_iri(225300, 'n.n_nationkey')} AS "item1", n.n_name AS "item1Label",
       b."property2Label", b."item2", b."item2Label"
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
CROSS JOIN LATERAL (VALUES
  ('located in', {_iri(300000, 'r.r_regionkey')}, r.r_name),
  ('instance of', '{FG}Q6256', 'country')
) AS b("property2Label", "item2", "item2Label")
WHERE c.c_custkey = {cust}"""
    return rq, sql


def members_lang(nation: int, lang: str) -> tuple[str, str]:
    rq = PREFIXES + f"""\
SELECT ?member ?label WHERE {{
  ?member fgt:P83 fg:Q{225300 + nation} .
  ?member rdfs:label ?label .
  FILTER(LANG(?label) = "{lang}")
}}"""
    sql = f"""
SELECT {_iri(500000, 'c_custkey')} AS "member", c_name AS "label"
FROM customer WHERE c_nationkey = {nation}"""
    return rq, sql


def venue_optional(audience: str, prop: str) -> tuple[str, str]:
    rq = PREFIXES + f"""\
SELECT ?venue ?venueLabel ?address ?geo ?extra WHERE {{
  ?venue fgt:P2 fg:Q40454 ;
         fgt:P726 fg:{audience} .
  OPTIONAL {{
    ?venue fgt:P208 ?address .
    ?address fgt:P48 ?geo .
  }}
  OPTIONAL {{ ?venue fgt:{prop} ?extra . }}
  SERVICE wikibase:label {{ bd:serviceParam wikibase:language "de". }}
}}"""
    bound, prefix = VENUE_PROPS[prop]
    even = "s_suppkey % 2 = 0"
    sql = f"""
SELECT {_iri(600000, 's_suppkey')} AS "venue", s_name AS "venueLabel",
       CASE WHEN {even} THEN {_iri(700000, 's_suppkey')} END AS "address",
       CASE WHEN {even} THEN '@48.' || CAST(s_suppkey AS VARCHAR)
            || '/11.' || CAST(s_suppkey AS VARCHAR) END AS "geo",
       CASE WHEN {bound} THEN '{prefix}' || CAST(s_suppkey AS VARCHAR)
            END AS "extra"
FROM supplier WHERE s_suppkey % 5 = {AUDIENCES.index(audience)}"""
    return rq, sql


def inverse_path(nation: int, step: str) -> tuple[str, str]:
    target = {"P2": "Q7", "P131": "Q400012"}[step]
    rq = PREFIXES + f"""\
SELECT ?member WHERE {{
  fg:Q{225300 + nation} ^fgt:P83 ?member .
  ?member fgt:{step}? fg:{target} .
}}"""
    sql = f"""
SELECT {_iri(500000, 'c_custkey')} AS "member"
FROM customer WHERE c_nationkey = {nation}"""
    return rq, sql


def closure(nation: int, lang: str) -> tuple[str, str]:
    rq = PREFIXES + f"""\
SELECT ?item ?label WHERE {{
  ?item (fgt:P2/fgt:P3*) fg:Q2 .
  ?item fgt:P83 fg:Q{225300 + nation} .
  ?item rdfs:label ?label .
  FILTER(LANG(?label) = "{lang}")
}}"""
    sql = f"""
SELECT {_iri(500000, 'c_custkey')} AS "item", c_name AS "label"
FROM customer WHERE c_nationkey = {nation}"""
    return rq, sql


def group_count(region: int, more_than: int) -> tuple[str, str]:
    rq = PREFIXES + f"""\
SELECT ?nation (COUNT(?member) AS ?members) WHERE {{
  ?member fgt:P83 ?nation .
  ?nation fgt:P47 fg:Q{300000 + region} .
}}
GROUP BY ?nation
HAVING (COUNT(?member) > {more_than})"""
    sql = f"""
SELECT {_iri(225300, 'n.n_nationkey')} AS "nation",
       CAST(COUNT(*) AS BIGINT) AS "members"
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE n.n_regionkey = {region}
GROUP BY n.n_nationkey
HAVING COUNT(*) > {more_than}"""
    return rq, sql


TEMPLATES = {
    "root2hop": root2hop,
    "members_lang": members_lang,
    "venue_optional": venue_optional,
    "inverse_path": inverse_path,
    "closure": closure,
    "group_count": group_count,
}


def constant_space(template: str, n_customers: int) -> list[tuple]:
    """Every constant tuple a template can draw."""
    if template == "root2hop":
        return [(c,) for c in range(n_customers)]
    if template == "members_lang":
        return [(n, lang) for n in range(N_NATIONS) for lang in LANGS]
    if template == "venue_optional":
        return [(a, p) for a in AUDIENCES for p in VENUE_PROPS]
    if template == "inverse_path":
        return [(n, s) for n in range(N_NATIONS) for s in ("P2", "P131")]
    if template == "closure":
        return [(n, lang) for n in range(N_NATIONS) for lang in LANGS]
    if template == "group_count":
        # thresholds within 10% of the mean nation size, so about half
        # the nations of a region pass the HAVING filter
        mean = n_customers // N_NATIONS
        return [(r, k) for r in range(N_REGIONS)
                for k in range(mean - mean // 10, mean + mean // 10 + 1)]
    raise KeyError(template)


@dataclass(frozen=True)
class Op:
    template: str
    args: tuple
    repeat: bool

    def texts(self) -> tuple[str, str]:
        """(SPARQL text, DuckDB twin SQL)."""
        return TEMPLATES[self.template](*self.args)

    def label(self) -> str:
        """Names the text; equal labels mean equal texts."""
        return f"{self.template}{self.args}"


def _spaces(rng: random.Random, n_customers: int) -> dict[str, list]:
    spaces = {}
    for name in TEMPLATES:
        space = constant_space(name, n_customers)
        rng.shuffle(space)
        spaces[name] = space
    return spaces


def warm_ops(seed: int, n_customers: int) -> list[Op]:
    """:data:`WARM_PER_TEMPLATE` ops per template, run unmeasured before
    the measured phase.  Their texts are the "earlier texts" the first
    repeat ops reuse."""
    spaces = _spaces(random.Random(seed), n_customers)
    return [Op(name, spaces[name][j], False)
            for name in TEMPLATES for j in range(WARM_PER_TEMPLATE)]


def is_repeat(i: int) -> bool:
    """Two ops of every six repeat an earlier text; which templates
    repeat rotates from one round of six to the next."""
    n = len(TEMPLATES)
    return (i + i // n) % REPEAT_EVERY == REPEAT_EVERY - 1


def op_sequence(seed: int, n_ops: int, n_customers: int) -> list[Op]:
    """The first ``n_ops`` measured ops for ``seed``.  A new op draws the
    next constant of a seeded permutation of the template's constant
    space (so new texts never collide until the space is used up); a
    repeat op reuses a seeded pick among that template's earlier texts,
    the warm op's included."""
    rng = random.Random(seed)
    spaces = _spaces(rng, n_customers)
    names = list(TEMPLATES)
    drawn = {name: spaces[name][:WARM_PER_TEMPLATE] for name in names}
    ops = []
    for i in range(n_ops):
        name = names[i % len(names)]
        if is_repeat(i):
            args = drawn[name][rng.randrange(len(drawn[name]))]
        else:
            space = spaces[name]
            args = space[len(drawn[name]) % len(space)]
            drawn[name].append(args)
        ops.append(Op(name, args, is_repeat(i)))
    return ops
