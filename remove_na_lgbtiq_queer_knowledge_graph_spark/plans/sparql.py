"""SPARQL text front-end (SURVEY.md §2.11 G1-G13, §3.2).

The reference's graph entry point is SPARQL *text* — 20+ ``.rq`` files
(e.g. ``data-publishing/factgrid/queries/network-00-starting-point.rq``,
``get_factgrid_ids_from_wikidata.rq:18-21``) plus string-interpolated
queries in the Shiny apps (``apps/companions/queries.R:3-174``).  This
module parses the subset those queries actually use and compiles it onto
a triples DataFrame ``(subject, predicate, object, lang, dtype)``:

- PREFIX declarations, ``SELECT [DISTINCT]``, ``WHERE`` groups,
  ``;`` predicate lists, ``,`` object lists, comments;
- OPTIONAL → left join; ``{...} UNION {...}`` → unionByName;
  FILTER (incl. ``LANG()``, ``REGEX()``, comparisons, ``&&``/``||``);
  FILTER NOT EXISTS / MINUS → left_anti; VALUES → semi join / isin;
  BIND(expr AS ?v) → withColumn;
- property paths: sequence ``p1/p2`` (chained joins), closure
  ``p*``/``p+`` (iterative fixpoint via
  :func:`plans.bgp.transitive_closure`) incl. over grouped paths
  ``(p/q)*``, zero-or-one ``p?``, inverse ``^p``, alternation ``p|q``
  (bag union of branch relations), and negated property sets
  ``!p`` / ``!(p1|^p2)`` (NOT-IN predicate scans) — e.g.
  ``(fgt:P2/fgt:P3*)`` from ``persons_factgrid_wikidata.rq:28``;
- ``SERVICE wikibase:label {...}`` → in-engine label join implementing
  the Wikibase label service (per-row language preference, QID-localname
  fallback) — the reference leans on it in every query;
- ``SERVICE <endpoint> {...}`` → pluggable triples source: the caller
  passes ``services={endpoint_iri: DataFrame}`` and the inner group is
  planned against that frame and joined on shared variables (G10 —
  federation stays external per BASELINE, the engine sees a DataFrame);
- ORDER BY / LIMIT.

Scale notes: every triple pattern is a filtered scan of the triples DF
(bound terms → pushed equality predicates); patterns in a contiguous run
are planned most-bound-first; everything else is ordinary Catalyst joins
— no driver-side iteration except the bounded ``p*`` fixpoint.

Language-tagged literals: when the triples frame carries a ``lang``
column, each object variable ``?v`` gets a hidden companion column
``__lang__v`` so ``LANG(?v)`` filters compile to column predicates and
term equality in joins includes the tag (RDF terms ``"x"@de`` and
``"x"@en`` differ).  Companions are dropped at SELECT.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field, replace

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..spec import memo_get
from .bgp import transitive_closure

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
RDFS_LABEL = "http://www.w3.org/2000/01/rdf-schema#label"
SKOS_ALT_LABEL = "http://www.w3.org/2004/02/skos/core#altLabel"
_XSD = "http://www.w3.org/2001/XMLSchema#"
XSD_INTEGER = _XSD + "integer"
XSD_DECIMAL = _XSD + "decimal"
# datatypes whose comparisons are NUMERIC per §17.3 (operand promotion)
_NUMERIC_DTYPES = frozenset(
    _XSD + t for t in ("integer", "decimal", "double", "float", "int",
                       "long", "short", "byte", "nonNegativeInteger",
                       "positiveInteger", "unsignedInt", "unsignedLong"))
WIKIBASE_LABEL_SERVICE = "http://wikiba.se/ontology#label"


# ---------------------------------------------------------------------------
# Tokenizer
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""(?P<ws>\s+)
      | (?P<comment>\#[^\n]*)
      | (?P<iri><[^<>\s]*>)
      | (?P<string>"(?:[^"\\]|\\.)*"(?:@[A-Za-z][A-Za-z0-9-]*|\^\^(?:<[^<>\s]*>|[A-Za-z_][\w-]*:[\w.-]*[\w-]|[A-Za-z_][\w-]*:?))?)
      | (?P<sstring>'(?:[^'\\]|\\.)*'(?:@[A-Za-z][A-Za-z0-9-]*|\^\^(?:<[^<>\s]*>|[A-Za-z_][\w-]*:[\w.-]*[\w-]|[A-Za-z_][\w-]*:?))?)
      | (?P<var>\?[A-Za-z_][A-Za-z0-9_]*)
      | (?P<pname>[A-Za-z_][A-Za-z0-9_-]*:(?:[A-Za-z0-9_.-]*[A-Za-z0-9_-])?)
        # local name may contain dots but never ends with one — the
        # trailing '.' is the triple terminator (SPARQL PN_LOCAL rule)
      | (?P<word>[A-Za-z_][A-Za-z0-9_]*)
      | (?P<num>\d+(?:\.\d+)?)
      | (?P<op>&&|\|\||!=|<=|>=|[{}()\[\].;,/|*+=!<>^?-])
    """,
    re.X,
)


@dataclass(frozen=True)
class Tok:
    kind: str
    text: str


def _tokenize(text: str) -> list[Tok]:
    toks: list[Tok] = []
    pos = 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m:
            raise SyntaxError(f"SPARQL tokenizer stuck at: {text[pos:pos+40]!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind in ("ws", "comment"):
            continue
        toks.append(Tok(kind, m.group()))
    return toks


# ---------------------------------------------------------------------------
# AST
# ---------------------------------------------------------------------------

# Term = ("var", name) | ("iri", absolute_iri) | ("lit", value, lang, dtype)
Term = tuple


@dataclass(frozen=True)
class PathStep:
    """One element of a path sequence (SPARQL 1.1 §18.2 PathElt).

    Exactly one of three shapes:
    - plain link: ``pred`` set (("iri", ...) or — in predicate position
      of a plain triple pattern — ("var", ...));
    - alternation / grouped path: ``alts`` set — a tuple of branch
      sequences (``p|q`` has two one-step branches; a modified group
      ``(p/q)*`` is a single-branch alternation carrying the modifier);
    - negated property set: ``neg`` set — ``(iri, inverted)`` members of
      ``!(p1|^p2|...)``.
    ``inv`` swaps src/dst of the step's whole pair relation, so the
    inverse of ANY step is the same step with ``inv`` toggled.
    """
    pred: Term | None = None  # plain link; None for alts/neg steps
    star: bool = False        # p*  (reflexive-transitive)
    plus: bool = False        # p+  (transitive)
    opt: bool = False         # p?  (zero-or-one)
    inv: bool = False         # ^p  (inverse)
    alts: tuple[tuple["PathStep", ...], ...] = ()  # alternation branches
    neg: tuple[tuple[str, bool], ...] = ()         # NPS (iri, inverted)


@dataclass(frozen=True)
class TriplePat:
    s: Term
    path: tuple[PathStep, ...]
    o: Term


@dataclass(frozen=True)
class OptionalPat:
    group: "GroupPat"


@dataclass(frozen=True)
class UnionPat:
    branches: tuple["GroupPat", ...]


@dataclass(frozen=True)
class FilterPat:
    expr: tuple


@dataclass(frozen=True)
class NotExistsPat:          # FILTER NOT EXISTS and MINUS
    group: "GroupPat"
    # the two differ EXACTLY when the sub-group shares no variables
    # with the outer bindings: MINUS removes nothing (SPARQL 1.1
    # §8.3.3), NOT EXISTS is all-or-nothing (it tests pattern
    # existence, not binding compatibility) — review fix, both used
    # to take the MINUS no-op
    is_minus: bool = False


@dataclass(frozen=True)
class ExistsPat:             # FILTER EXISTS
    group: "GroupPat"


@dataclass(frozen=True)
class BindPat:
    expr: tuple
    var: str


@dataclass(frozen=True)
class ValuesPat:
    vars: tuple[str, ...]
    rows: tuple[tuple, ...]


@dataclass(frozen=True)
class ServicePat:
    endpoint: str            # absolute IRI; label service is special-cased
    group: "GroupPat"


@dataclass(frozen=True)
class SubSelectPat:
    """Nested ``{ SELECT ... GROUP BY ... }`` subquery (SPARQL 1.1 §12)
    — the status-update analysis wraps its aggregations this way so the
    outer label service can fill ``?valueLabel``
    (`analysis/2022-05-31-status-update/index.qmd:99-152`)."""
    query: "Query"


@dataclass
class GroupPat:
    items: list = field(default_factory=list)


@dataclass(frozen=True)
class SelectExpr:
    """A computed SELECT item ``(EXPR AS ?var)`` — aggregate
    (``(COUNT(DISTINCT ?item) AS ?count)``, G12) or plain expression."""
    expr: tuple
    var: str


@dataclass
class Query:
    select: list  # str | SelectExpr
    distinct: bool
    where: GroupPat
    order_by: list[tuple[str, bool]] = field(default_factory=list)  # (var, desc)
    limit: int | None = None
    offset: int | None = None
    label_langs: list[str] = field(default_factory=list)
    group_by: list[str] = field(default_factory=list)
    having: list[tuple] = field(default_factory=list)  # constraint exprs
    form: str = "select"          # "select" | "ask" | "construct"
    template: tuple = ()          # CONSTRUCT template TriplePats


# ---------------------------------------------------------------------------
# Parser (recursive descent)
# ---------------------------------------------------------------------------

class _Parser:
    # Well-known prefixes the WDQS/Blazegraph endpoints inject — several
    # reference queries use them without declaring (lokale-from-factgrid
    # uses schema:/wikibase: undeclared).  Explicit PREFIX decls override.
    _BUILTIN_PREFIXES = {
        "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
        "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
        "xsd": "http://www.w3.org/2001/XMLSchema#",
        "owl": "http://www.w3.org/2002/07/owl#",
        "schema": "http://schema.org/",
        "wikibase": "http://wikiba.se/ontology#",
        "bd": "http://www.bigdata.com/rdf#",
    }

    def __init__(self, toks: list[Tok],
                 extra_prefixes: dict[str, str] | None = None):
        self.toks = toks
        self.i = 0
        # extra_prefixes model endpoint-injected defaults (a Wikibase
        # endpoint resolves undeclared wd:/wdt: to its OWN namespaces —
        # the reference's year-histogram query leans on that,
        # `analysis/plot-full-network.qmd:171-177`).  Explicit PREFIX
        # declarations in the query text still override.
        self.prefixes: dict[str, str] = dict(self._BUILTIN_PREFIXES)
        if extra_prefixes:
            self.prefixes.update(extra_prefixes)
        self._bnode_n = 0

    def peek(self, ahead: int = 0) -> Tok | None:
        j = self.i + ahead
        return self.toks[j] if j < len(self.toks) else None

    def next(self) -> Tok:
        t = self.peek()
        if t is None:
            raise SyntaxError("unexpected end of SPARQL query")
        self.i += 1
        return t

    def accept(self, kind: str, text: str | None = None) -> Tok | None:
        t = self.peek()
        if t and t.kind == kind and (text is None or t.text.lower() == text.lower()):
            return self.next()
        return None

    def expect(self, kind: str, text: str | None = None) -> Tok:
        t = self.accept(kind, text)
        if t is None:
            raise SyntaxError(f"expected {text or kind}, got {self.peek()}")
        return t

    # -- terms --------------------------------------------------------------

    def _expand(self, pname: str) -> str:
        pfx, local = pname.split(":", 1)
        if pfx not in self.prefixes:
            raise SyntaxError(f"undeclared prefix {pfx!r}")
        return self.prefixes[pfx] + local

    def parse_term(self) -> Term:
        t = self.next()
        if t.kind == "var":
            return ("var", t.text[1:])
        if t.kind == "iri":
            return ("iri", t.text[1:-1])
        if t.kind == "pname":
            return ("iri", self._expand(t.text))
        if t.kind in ("string", "sstring"):
            return self._parse_string(t.text)
        if t.kind == "word" and t.text == "a":
            return ("iri", RDF_TYPE)
        if t.kind == "num":
            # carry the numeric datatype so comparisons can tell 30
            # apart from "30" (a bare number IS xsd:integer/decimal per
            # the SPARQL grammar) — scans ignore the dtype slot, so
            # triple-pattern matching is unchanged
            dt = (XSD_DECIMAL if "." in t.text else XSD_INTEGER)
            return ("lit", t.text, None, dt)
        raise SyntaxError(f"unexpected term token {t}")

    # SPARQL ECHAR escapes (§19.8 grammar rule [160]) — the first
    # version unescaped only the quote char and backslash, so "a\nb"
    # compiled the two-character backslash+n into comparisons and
    # CONSTRUCT output (review batch: the tokenizer admits every ECHAR,
    # so they parsed and then silently mis-evaluated).
    _ECHAR = {"t": "\t", "b": "\b", "n": "\n", "r": "\r", "f": "\f",
              '"': '"', "'": "'", "\\": "\\"}

    @classmethod
    def _unescape(cls, s: str) -> str:
        def sub(m: "re.Match[str]") -> str:
            g = m.group(0)
            if g[1] in ("u", "U"):
                return chr(int(g[2:], 16))
            if g[1] not in cls._ECHAR:
                raise SyntaxError(f"unsupported string escape {g!r}")
            return cls._ECHAR[g[1]]

        return re.sub(r"\\u[0-9A-Fa-f]{4}|\\U[0-9A-Fa-f]{8}|\\.", sub, s)

    def _parse_string(self, raw: str) -> Term:
        qc = raw[0]  # '"' or "'" — SPARQL allows both quote styles
        m = re.match(
            qc + r"((?:[^" + qc + r"\\]|\\.)*)" + qc
            + r"(?:@([A-Za-z][A-Za-z0-9-]*)|\^\^(\S+))?$",
            raw,
        )
        value = self._unescape(m.group(1))
        lang = m.group(2)
        dtype = m.group(3)
        if dtype and dtype.startswith("<"):
            dtype = dtype[1:-1]
        elif dtype and ":" in dtype:
            dtype = self._expand(dtype)
        return ("lit", value, lang, dtype)

    # -- paths --------------------------------------------------------------

    def parse_path(self) -> tuple[PathStep, ...]:
        # PathAlternative ::= PathSequence ('|' PathSequence)*  (§18.2);
        # a lone sequence stays a flat tuple (the common shape, and what
        # the compiler's chained-join fast path consumes); 2+ branches
        # become ONE alternation step whose relation is the bag union of
        # its branch relations.
        branches = [self._path_sequence()]
        while self.accept("op", "|"):
            branches.append(self._path_sequence())
        if len(branches) == 1:
            return branches[0]
        return (PathStep(alts=tuple(branches)),)

    def _path_sequence(self) -> tuple[PathStep, ...]:
        steps = list(self._path_primary())
        while self.accept("op", "/"):
            steps.extend(self._path_primary())
        return tuple(steps)

    def _path_mod(self) -> tuple[bool, bool, bool]:
        """Optional trailing * / + / ? (PathMod).  Only a path modifier
        when in predicate position — parse_path is only called there
        (`?` cannot be a variable: the var token requires a name
        character after it, so a lone `?` lexes as an op)."""
        nxt = self.peek()
        if nxt and nxt.kind == "op" and nxt.text in ("*", "+", "?"):
            self.next()
            return nxt.text == "*", nxt.text == "+", nxt.text == "?"
        return False, False, False

    def _nps_member(self) -> tuple[str, bool]:
        """PathOneInPropertySet ::= iri | 'a' | '^' (iri | 'a')."""
        m_inv = bool(self.accept("op", "^"))
        term = self.parse_term()
        if term[0] != "iri":
            raise SyntaxError(
                "negated property set admits only IRIs (§18.2 "
                "PathOneInPropertySet)")
        return (term[1], m_inv)

    def _path_primary(self) -> tuple[PathStep, ...]:
        inv = bool(self.accept("op", "^"))  # PathEltOrInverse
        if self.accept("op", "!"):
            # negated property set: !iri or !(iri1|^iri2|...)
            members = []
            if self.accept("op", "("):
                members.append(self._nps_member())
                while self.accept("op", "|"):
                    members.append(self._nps_member())
                self.expect("op", ")")
            else:
                members.append(self._nps_member())
            star, plus, opt = self._path_mod()
            return (PathStep(neg=tuple(members), star=star, plus=plus,
                             opt=opt, inv=inv),)
        if self.accept("op", "("):
            inner = self.parse_path()
            self.expect("op", ")")
            star, plus, opt = self._path_mod()
            if star or plus or opt:
                # closure/optional over a grouped path — (p/q)*, (p|q)+:
                # wrap the group as an alternation step so the compiler
                # builds its one-application relation, then closes it.
                # A bare alternation's branches are flattened so the
                # step doesn't nest a modifier-free alt inside an alt.
                if len(inner) == 1 and inner[0].alts and not (
                        inner[0].star or inner[0].plus or inner[0].opt
                        or inner[0].inv):
                    branches = inner[0].alts
                else:
                    branches = (inner,)
                return (PathStep(alts=branches, star=star, plus=plus,
                                 opt=opt, inv=inv),)
            if inv:
                # ^(p/q) ≡ ^q/^p: reverse the sequence and flip each
                # step (inverse distributes over sequence; a step's
                # inverse is itself with inv toggled, whatever its kind)
                inner = tuple(replace(st, inv=not st.inv)
                              for st in reversed(inner))
            return tuple(inner)
        term = self.parse_term()
        star, plus, opt = self._path_mod()
        return (PathStep(term, star=star, plus=plus, opt=opt, inv=inv),)

    # -- expressions --------------------------------------------------------

    def parse_expr(self) -> tuple:
        return self._expr_or()

    def _expr_or(self) -> tuple:
        e = self._expr_and()
        while self.accept("op", "||"):
            e = ("or", e, self._expr_and())
        return e

    def _expr_and(self) -> tuple:
        e = self._expr_cmp()
        while self.accept("op", "&&"):
            e = ("and", e, self._expr_cmp())
        return e

    def _expr_cmp(self) -> tuple:
        e = self._expr_add()
        nxt = self.peek()
        if nxt and nxt.kind == "op" and nxt.text in ("=", "!=", "<", ">", "<=", ">="):
            op = self.next().text
            return ("cmp", op, e, self._expr_add())
        if nxt and nxt.kind == "word":
            # §17.4.1.9-10: `expr IN (e1, e2, ...)` / `expr NOT IN (...)`
            # — the NOT branch only claims the token when IN follows, so
            # other keyword operators stay parseable here
            up = nxt.text.upper()
            neg = up == "NOT" and self.peek(1) is not None \
                and self.peek(1).kind == "word" \
                and self.peek(1).text.upper() == "IN"
            if up == "IN" or neg:
                self.next()
                if neg:
                    self.next()
                self.expect("op", "(")
                items = []
                # EOF here must surface as the SyntaxError from expect()
                # below, not an AttributeError on a None peek
                head = self.peek()
                if head is not None and not (head.kind == "op"
                                             and head.text == ")"):
                    items.append(self.parse_expr())
                    while self.accept("op", ","):
                        items.append(self.parse_expr())
                self.expect("op", ")")
                return ("inlist", neg, e, tuple(items))
        return e

    def _expr_add(self) -> tuple:
        e = self._expr_mul()
        while True:
            t = self.peek()
            if t and t.kind == "op" and t.text in ("+", "-"):
                self.next()
                e = ("arith", t.text, e, self._expr_mul())
            else:
                return e

    def _expr_mul(self) -> tuple:
        e = self._expr_unary()
        while True:
            t = self.peek()
            if t and t.kind == "op" and t.text in ("*", "/"):
                self.next()
                e = ("arith", t.text, e, self._expr_unary())
            else:
                return e

    def _expr_unary(self) -> tuple:
        if self.accept("op", "!"):
            return ("not", self._expr_unary())
        if self.accept("op", "-"):
            return ("neg", self._expr_unary())
        return self._expr_primary()

    def _expr_primary(self) -> tuple:
        t = self.peek()
        if t is None:
            raise SyntaxError("unexpected end of input in expression")
        if t.kind == "op" and t.text == "(":
            self.next()
            e = self.parse_expr()
            self.expect("op", ")")
            return e
        if t.kind == "word" and self.peek(1) and self.peek(1).text == "(":
            name = self.next().text.upper()
            self.next()  # (
            if name in self._AGG_FUNCS:
                # aggregates are ordinary expression atoms, so HAVING
                # (COUNT(?x) > 2) and (SUM(?a) / COUNT(?a) AS ?m) parse;
                # the compiler hoists ("agg", ...) subnodes into the
                # groupBy.agg and substitutes their result columns
                return self._parse_agg_call(name)
            args = []
            head = self.peek()
            if head is not None and not (head.kind == "op"
                                         and head.text == ")"):
                args.append(self.parse_expr())
                while self.accept("op", ","):
                    args.append(self.parse_expr())
            self.expect("op", ")")
            return ("call", name, tuple(args))
        return ("term", self.parse_term())

    # -- group graph pattern -------------------------------------------------

    def parse_group(self) -> GroupPat:
        self.expect("op", "{")
        g = GroupPat()
        while True:
            t = self.peek()
            if t is None:
                raise SyntaxError("unterminated group")
            if t.kind == "op" and t.text == "}":
                self.next()
                return g
            if t.kind == "op" and t.text == ".":
                self.next()
                continue
            if t.kind == "word" and t.text.upper() == "OPTIONAL":
                self.next()
                g.items.append(OptionalPat(self.parse_group()))
                continue
            if t.kind == "word" and t.text.upper() == "MINUS":
                self.next()
                g.items.append(NotExistsPat(self.parse_group(),
                                            is_minus=True))
                continue
            if t.kind == "word" and t.text.upper() == "FILTER":
                self.next()
                if (self.peek() and self.peek().kind == "word"
                        and self.peek().text.upper() == "NOT"):
                    self.next()
                    self.expect("word", "EXISTS")
                    g.items.append(NotExistsPat(self.parse_group()))
                elif (self.peek() and self.peek().kind == "word"
                        and self.peek().text.upper() == "EXISTS"):
                    self.next()
                    g.items.append(ExistsPat(self.parse_group()))
                else:
                    self.expect("op", "(")
                    e = self.parse_expr()
                    self.expect("op", ")")
                    g.items.append(FilterPat(e))
                continue
            if t.kind == "word" and t.text.upper() == "BIND":
                self.next()
                self.expect("op", "(")
                e = self.parse_expr()
                self.expect("word", "AS")
                v = self.expect("var").text[1:]
                self.expect("op", ")")
                g.items.append(BindPat(e, v))
                continue
            if t.kind == "word" and t.text.upper() == "VALUES":
                self.next()
                g.items.append(self._parse_values())
                continue
            if t.kind == "word" and t.text.upper() == "SERVICE":
                self.next()
                ep = self.parse_term()[1]
                g.items.append(ServicePat(ep, self.parse_group()))
                continue
            if t.kind == "op" and t.text == "{" and \
                    (nxt := self.peek(1)) and nxt.kind == "word" and \
                    nxt.text.upper() == "SELECT":
                self.next()  # {
                g.items.append(SubSelectPat(self._parse_select_query()))
                self.expect("op", "}")
                continue
            if t.kind == "op" and t.text == "{":
                branches = [self.parse_group()]
                while self.accept("word", "UNION"):
                    branches.append(self.parse_group())
                g.items.append(
                    UnionPat(tuple(branches)) if len(branches) > 1
                    else branches[0]
                )
                continue
            # triple pattern with ; predicate lists and , object lists
            s = self._term_or_bnode(g)
            while True:
                path = self.parse_path()
                o = self._term_or_bnode(g)
                g.items.append(TriplePat(s, path, o))
                while self.accept("op", ","):
                    o = self._term_or_bnode(g)
                    g.items.append(TriplePat(s, path, o))
                if self.accept("op", ";"):
                    if self.peek() and self.peek().kind == "op" and \
                            self.peek().text in (".", "}"):
                        break  # dangling ';'
                    continue
                break

    def _term_or_bnode(self, g: GroupPat) -> Term:
        """A term, or a blank-node property list ``[ p o ; p2 o2 ]``
        (``time-items.rq:42`` nests them two deep).  The bnode becomes a
        fresh anonymous variable and its property list is emitted as
        ordinary triple patterns on the enclosing group — SPARQL bnode
        semantics are exactly a non-projectable variable."""
        t = self.peek()
        if not (t and t.kind == "op" and t.text == "["):
            return self.parse_term()
        self.next()
        self._bnode_n += 1
        var: Term = ("var", f"__bnode{self._bnode_n}")
        while True:
            if self.accept("op", "]"):
                break
            path = self.parse_path()
            o = self._term_or_bnode(g)
            g.items.append(TriplePat(var, path, o))
            while self.accept("op", ","):
                o = self._term_or_bnode(g)
                g.items.append(TriplePat(var, path, o))
            if not self.accept("op", ";"):
                self.expect("op", "]")
                break
        return var

    def _parse_values(self) -> ValuesPat:
        vars_: list[str] = []
        if self.accept("op", "("):
            while not self.accept("op", ")"):
                vars_.append(self.expect("var").text[1:])
        else:
            vars_.append(self.expect("var").text[1:])
        rows: list[tuple] = []
        self.expect("op", "{")

        def cell() -> Term:
            # §10.2.2: UNDEF marks an unbound cell — the row is
            # compatible with ANY binding of that variable
            if self.accept("word", "UNDEF"):
                return ("undef", None)
            return self.parse_term()

        while not self.accept("op", "}"):
            if len(vars_) == 1:
                rows.append((cell(),))
            else:
                self.expect("op", "(")
                row = []
                while not self.accept("op", ")"):
                    row.append(cell())
                rows.append(tuple(row))
        return ValuesPat(tuple(vars_), tuple(rows))

    # -- query ---------------------------------------------------------------

    def parse_query(self) -> Query:
        while True:
            t = self.peek()
            if t and t.kind == "word" and t.text.upper() == "PREFIX":
                self.next()
                pname = self.expect("pname").text
                iri = self.expect("iri").text
                self.prefixes[pname[:-1] if pname.endswith(":")
                              else pname.split(":")[0]] = iri[1:-1]
                continue
            break
        t = self.peek()
        if t and t.kind == "word" and t.text.upper() == "DESCRIBE":
            # DESCRIBE term|?var... [WHERE { ... }] (§16.4).  The spec
            # leaves the result SHAPE implementation-defined; this
            # engine returns the subject-expansion (the common Concise
            # Bounded Description approximation without bnode chasing —
            # the triples frame has no bnodes): every triple whose
            # subject is a described resource.
            self.next()
            described: list[Term] = []
            while True:
                nt = self.peek()
                if nt and nt.kind == "var":
                    described.append(("var", self.next().text[1:]))
                elif nt and nt.kind in ("iri", "pname"):
                    described.append(self.parse_term())
                else:
                    break
            if not described:
                raise SyntaxError("DESCRIBE needs at least one term")
            where = GroupPat()
            if self.peek() is not None:
                self.accept("word", "WHERE")
                where = self.parse_group()
            if any(d[0] == "var" for d in described) and not where.items:
                raise SyntaxError(
                    "DESCRIBE with a variable requires a WHERE pattern "
                    "binding it")
            q = Query(select=[], distinct=False, where=where,
                      form="describe", template=tuple(described))
        elif t and t.kind == "word" and t.text.upper() == "ASK":
            # ASK [WHERE] { ... } — boolean query form (§16.3)
            self.next()
            self.accept("word", "WHERE")
            q = Query(select=[], distinct=False, where=self.parse_group(),
                      form="ask")
        elif t and t.kind == "word" and t.text.upper() == "CONSTRUCT":
            # CONSTRUCT { template } WHERE { ... } [LIMIT n] (§16.2).
            # The template group reuses parse_group but admits ONLY
            # plain triple patterns — paths/filters there are syntax
            # errors on any engine.
            self.next()
            tmpl_group = self.parse_group()
            tmpl = []
            for item in tmpl_group.items:
                if not isinstance(item, TriplePat) or len(item.path) != 1 \
                        or item.path[0] != PathStep(item.path[0].pred):
                    raise SyntaxError(
                        "CONSTRUCT template admits only plain triple "
                        f"patterns, got {item}")
                tmpl.append(item)
            self.expect("word", "WHERE")
            q = Query(select=[], distinct=False, where=self.parse_group(),
                      form="construct", template=tuple(tmpl))
            if self.accept("word", "LIMIT"):
                q.limit = int(self.expect("num").text)
        else:
            q = self._parse_select_query()
        if self.peek() is not None:
            raise SyntaxError(f"unexpected trailing token {self.peek()}")
        return q

    def _parse_select_query(self) -> Query:
        """``SELECT ... WHERE {...} [GROUP BY|ORDER BY|LIMIT]*`` — the
        shared core of the top-level query and ``{ SELECT ... }``
        subqueries; stops (without consuming) at any token it does not
        own, e.g. the subquery's closing ``}``."""
        self.expect("word", "SELECT")
        distinct = bool(self.accept("word", "DISTINCT"))
        select: list = []
        while True:
            t = self.peek()
            if t.kind == "var":
                select.append(self.next().text[1:])
            elif t.kind == "op" and t.text == "*":
                self.next()
                select = ["*"]
            elif t.kind == "op" and t.text == "(":
                # (EXPR AS ?var) — aggregate or computed projection
                self.next()
                e = self._parse_agg_or_expr()
                self.expect("word", "AS")
                v = self.expect("var").text[1:]
                self.expect("op", ")")
                select.append(SelectExpr(e, v))
            else:
                break
        self.expect("word", "WHERE")
        where = self.parse_group()
        order_by: list[tuple[str, bool]] = []
        group_by: list[str] = []
        having: list[tuple] = []
        limit = None
        offset = None
        while self.peek() is not None:
            t = self.peek()
            if t.kind == "word" and t.text.upper() == "GROUP":
                self.next()
                self.expect("word", "BY")
                while self.peek() and self.peek().kind == "var":
                    group_by.append(self.next().text[1:])
                continue
            if t.kind == "word" and t.text.upper() == "HAVING":
                # HAVING (constraint) [(constraint) ...] — each
                # parenthesized constraint may contain aggregate calls
                # (they parse to ("agg", ...) nodes via _expr_primary)
                self.next()
                self.expect("op", "(")
                having.append(self.parse_expr())
                self.expect("op", ")")
                while (self.peek() and self.peek().kind == "op"
                        and self.peek().text == "("):
                    self.next()
                    having.append(self.parse_expr())
                    self.expect("op", ")")
                continue
            if t.kind == "word" and t.text.upper() == "ORDER":
                self.next()
                self.expect("word", "BY")
                while True:
                    t = self.peek()
                    if t and t.kind == "word" and t.text.upper() in ("ASC", "DESC"):
                        desc = self.next().text.upper() == "DESC"
                        self.expect("op", "(")
                        v = self.expect("var").text[1:]
                        self.expect("op", ")")
                        order_by.append((v, desc))
                    elif t and t.kind == "op" and t.text == "(":
                        # ORDER BY (?var) — parenthesized bare variable
                        # (get_all_properties_person_with_corresponding_prop.rq)
                        self.next()
                        order_by.append((self.expect("var").text[1:], False))
                        self.expect("op", ")")
                    elif t and t.kind == "var":
                        order_by.append((self.next().text[1:], False))
                    else:
                        break
                continue
            if t.kind == "word" and t.text.upper() == "LIMIT":
                self.next()
                limit = int(self.expect("num").text)
                continue
            if t.kind == "word" and t.text.upper() == "OFFSET":
                self.next()
                offset = int(self.expect("num").text)
                continue
            break
        return Query(select, distinct, where, order_by, limit,
                     offset=offset, group_by=group_by, having=having)

    _AGG_FUNCS = ("COUNT", "SUM", "MIN", "MAX", "AVG",
                  "GROUP_CONCAT", "SAMPLE")

    def _parse_agg_or_expr(self) -> tuple:
        """Aggregate call ``COUNT([DISTINCT] ?v | *)`` etc., or a plain
        expression (``(STR(?x) AS ?y)``).  Since round 6 aggregates
        parse anywhere inside an expression (see :meth:`_expr_primary`),
        so HAVING constraints and arithmetic over aggregates work."""
        return self.parse_expr()

    def _parse_agg_call(self, name: str) -> tuple:
        """Body of an aggregate call after ``NAME(`` is consumed:
        ``[DISTINCT] (?v | *) [; SEPARATOR = "..."]``.  Returns
        ("agg", name, distinct, arg, separator)."""
        distinct = bool(self.accept("word", "DISTINCT"))
        if self.accept("op", "*"):
            arg = None
        else:
            arg = self.parse_expr()
        sep = " "  # the SPARQL 1.1 default separator (§18.5.1.7)
        if self.accept("op", ";"):
            self.expect("word", "SEPARATOR")
            self.expect("op", "=")
            t = self.next()
            if t.kind not in ("string", "sstring"):
                raise SyntaxError(f"SEPARATOR expects a string, got {t}")
            sep = self._parse_string(t.text)[1]
        self.expect("op", ")")
        return ("agg", name, distinct, arg, sep)


def parse(text: str, prefixes: dict[str, str] | None = None) -> Query:
    """Parse SPARQL text into the engine's AST.  ``prefixes`` seeds
    endpoint-default prefix expansions (overridable by PREFIX decls)."""
    return _Parser(_tokenize(text), prefixes).parse_query()


# ---------------------------------------------------------------------------
# Compiler: AST → DataFrame plan
# ---------------------------------------------------------------------------

def _lang_col(var: str) -> str:
    return f"__lang__{var}"


def _self_pair(spark, term: Term) -> DataFrame:
    """The one-row (term, term) pair relation: a path's zero-length
    solution at a constant anchor."""
    return spark.range(1).select(F.lit(term[1]).alias("src"),
                                 F.lit(term[1]).alias("dst"))


# Relations derived from one triples frame, independent of any query's
# constants: (session id, triples frame id, what) → (triples frame,
# relation), where ``what`` is a label-service preference tuple (label
# and altLabel dims) or a ("closure", step, anchors, reflexive) path
# closure.  KG frames are session-memoized (queries_sparql.kg_memo), so
# their ids are stable for the session and every query over the store
# shares the relation; the value pins the frame so a recycled id() can
# never alias a different one, and memo_get's cap bounds the pinned
# frames across sessions.
_STORE_MEMO: dict[tuple, tuple] = {}


class _Compiler:
    def __init__(self, triples: DataFrame,
                 services: dict[str, DataFrame] | None,
                 auto_language: str):
        self.triples = triples
        self.services = services or {}
        self.auto_language = auto_language
        self.has_lang = "lang" in triples.columns
        self.label_langs: list[str] = []
        # Variables that may be UNBOUND (NULL) in some solution: filled
        # by the two structural NULL sources — OPTIONAL-introduced vars
        # and vars missing from some UNION branch.  _join switches those
        # shared keys from plain equality to the §8.3 compatibility
        # form (equal OR either side unbound, merged by coalesce) — a
        # plain equi-join key silently DROPPED every solution whose
        # binding arrived NULL from the other branch (review batch).
        # Over-approximation is safe: the compatibility form equals the
        # equi-join whenever no NULLs actually occur; bound shared vars
        # keep the hash-join backbone.
        self._maybe_unbound: set[str] = set()

    # -- single pattern scan -------------------------------------------------

    def _scan(self, triples: DataFrame, pat: TriplePat) -> DataFrame:
        st0 = pat.path[0]
        if len(pat.path) > 1 or st0.star or st0.plus or st0.opt \
                or st0.alts or st0.neg:
            return self._scan_path(triples, pat)
        if st0.inv:
            # `?a ^p ?b` ≡ `?b p ?a`: one swapped plain scan.  The
            # original subject var binds the OBJECT column, so the
            # lang-column attach below follows it correctly.
            return self._scan(triples, TriplePat(
                pat.o, (PathStep(st0.pred),), pat.s))
        has_lang = "lang" in triples.columns
        sel: dict[str, str] = {}
        pred = pat.path[0].pred
        # accumulate every bound-term predicate into ONE filter call —
        # each DataFrame op is a py4j round trip, and a 36-pattern BGP
        # pays it per pattern (measured ~40% of compile wall time on the
        # companions flagship); Catalyst sees the same conjunction either
        # way and still pushes each equality to the scan
        cond: Column | None = None

        def add(p: Column) -> None:
            nonlocal cond
            cond = p if cond is None else cond & p

        for term, col in ((pat.s, "subject"), (pred, "predicate"),
                          (pat.o, "object")):
            if term[0] == "iri":
                add(F.col(col) == term[1])
            elif term[0] == "lit":
                add(F.col(col) == term[1])
                if has_lang and col == "object":
                    if term[2]:
                        add(F.col("lang") == term[2])
                    else:
                        # RDF term equality: a PLAIN literal is a
                        # different term from any tagged one — without
                        # this a constant "Berlin" silently matched
                        # "Berlin"@de too (review fix; the tagged and
                        # shared-variable cases already constrained)
                        add(F.col("lang").isNull())
            elif term[1] in sel:
                add(F.col(col) == F.col(sel[term[1]]))
            else:
                sel[term[1]] = col
        df = triples.filter(cond) if cond is not None else triples
        cols = [F.col(c).alias(v) for v, c in sel.items()]
        if has_lang and pat.o[0] == "var" and pat.o[1] in sel \
                and sel[pat.o[1]] == "object":
            cols.append(F.col("lang").alias(_lang_col(pat.o[1])))
        return df.select(*cols)

    def _step_edges(self, triples: DataFrame, st: PathStep,
                    s_term: Term | None = None,
                    o_term: Term | None = None) -> DataFrame:
        """ONE application of a path step as a (src, dst) pair relation
        (before any closure): a plain predicate-filtered scan, the bag
        union of alternation branch relations (§18.4 ``alt`` — both
        solutions survive when two branches match the same pair), or the
        forward / reverse remainder scans of a negated property set
        (§18.4: ``!(p1|..|^q1|..)`` ≡ ``alt(NPS{p..}, inv(NPS{q..}))``,
        each part present only when its member set is non-empty — so
        ``!(^q)`` matches NO forward edge).  NPS compiles to a NOT-IN
        predicate on the predicate column — still one pushed-down scan
        of the triples source, no join."""
        if st.alts:
            # The enclosing triple's constant anchors thread into each
            # branch so a branch-leading zero-admitting step (`a (p?|q)
            # ?o` with `a` absent from the graph) can seed the §18.4
            # anchor self-pair.  An inverted composite (`^(p?|q)`)
            # swaps the roles: the outer subject anchors the nested
            # relation's dst side and vice versa.
            bs, bo = (o_term, s_term) if st.inv else (s_term, o_term)
            rel: DataFrame | None = None
            for branch in st.alts:
                bp = self._seq_pairs(triples, branch, bs, bo)
                rel = bp if rel is None else rel.unionByName(bp)
        elif st.neg:
            fwd = [iri for iri, m_inv in st.neg if not m_inv]
            rev = [iri for iri, m_inv in st.neg if m_inv]
            parts: list[DataFrame] = []
            if fwd:
                parts.append(
                    triples.filter(~F.col("predicate").isin(fwd)).select(
                        F.col("subject").alias("src"),
                        F.col("object").alias("dst")))
            if rev:
                parts.append(
                    triples.filter(~F.col("predicate").isin(rev)).select(
                        F.col("object").alias("src"),
                        F.col("subject").alias("dst")))
            rel = parts[0]
            for extra in parts[1:]:
                rel = rel.unionByName(extra)
        else:
            if st.pred[0] != "iri":
                # not a subset gap: the SPARQL 1.1 grammar (§18.2,
                # PathPrimary) only admits IRIs inside property paths —
                # a variable here is a syntax error on any engine
                raise NotImplementedError(
                    "variable predicate inside a property path is not "
                    "valid SPARQL (PathPrimary admits only IRIs); bind "
                    "the predicate in a plain triple pattern instead")
            src_col, dst_col = ("object", "subject") if st.inv else \
                ("subject", "object")  # ^p walks the edge backwards
            return triples.filter(F.col("predicate") == st.pred[1]).select(
                F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        if st.inv:
            # inverse of a composite step: swap the whole relation —
            # a zero-cost projection Catalyst collapses into the scan
            rel = rel.select(F.col("dst").alias("src"),
                             F.col("src").alias("dst"))
        return rel

    def _seq_pairs(self, triples: DataFrame,
                   steps: tuple[PathStep, ...],
                   s_term: Term | None = None,
                   o_term: Term | None = None) -> DataFrame:
        """Pair relation of a NESTED branch sequence (inside an
        alternation or a modified group).  The outer triple's constant
        anchors thread into the LEADING step only: a branch-leading
        zero-admitting step seeds the anchor self-pair (§18.4 starts
        ALP from the anchor term, graph membership notwithstanding), so
        ``ghost (p?|q?) ?o`` yields the zero-length solution even when
        ``ghost`` never occurs in the graph.  Seeding the object anchor
        at the leading step is safe for multi-step branches too: the
        seed pair only survives the remaining steps when they all admit
        zero from the anchor — exactly when the whole-branch zero-length
        solution exists — and for anchors present in the graph the
        distinct over the identity union dedups it.  Non-leading
        zero-admitting steps need no seed: their zero relates each
        incoming dst to itself, anchor rows included."""
        pairs: DataFrame | None = None
        for i, st in enumerate(steps):
            pairs = self._fold_step(
                triples, pairs, st,
                s_term if i == 0 else None,
                o_term if i == 0 else None,
                i == 0 and o_term is not None)
        return pairs

    def _scan_path(self, triples: DataFrame, pat: TriplePat) -> DataFrame:
        """G9: sequence / closure / alternation / NPS path →
        (src, dst) pair plan."""
        pairs: DataFrame | None = None
        for i, st in enumerate(pat.path):
            # the object anchor seeds the LEADING zero-admitting step
            # even on multi-step paths (round 9): the seed pair only
            # survives the remaining steps when they all admit zero
            # from the anchor — exactly the whole-path zero-length
            # case (`?x p?/q? <c>` with c absent from the graph) —
            # and is dedup'd by the identity-union distinct otherwise
            pairs = self._fold_step(
                triples, pairs, st,
                pat.s if i == 0 else None,
                pat.o, i == 0, len(pat.path) == 1)
        df = pairs
        out: list[Column] = []
        for term, col in ((pat.s, "src"), (pat.o, "dst")):
            if term[0] == "var":
                out.append(F.col(col).alias(term[1]))
            else:
                df = df.filter(F.col(col) == term[1])
        return df.select(*out) if out else df.select()

    def _closure(self, triples: DataFrame, st: PathStep, edges: DataFrame,
                 s_term: Term | None, o_term: Term | None,
                 reflexive: bool) -> DataFrame:
        """``transitive_closure`` of one step's pair relation, memoized
        per (session, triples frame, step, reflexive) in
        :data:`_STORE_MEMO`.  The closure of a fixed step over a
        session-memoized store does not depend on the query's
        constants, so only the first text per store pays its eager
        jobs (the ``localCheckpoint`` and the driver fast-path probe).
        Alternation steps thread the enclosing triple's constant anchors
        into their branches (:meth:`_step_edges`), so their key carries
        the anchors too."""
        anchors = (s_term, o_term) if st.alts else None
        key = (id(triples.sparkSession), id(triples),
               ("closure", st, anchors, reflexive))
        return memo_get(_STORE_MEMO, key, lambda: (
            triples, transitive_closure(edges, reflexive=reflexive)))[1]

    def _fold_step(self, triples: DataFrame, pairs: DataFrame | None,
                   st: PathStep, s_term: Term | None, o_term: Term | None,
                   o_seedable: bool, o_final: bool = False) -> DataFrame:
        """Fold one path step into the accumulated pair relation.
        ``s_term`` is the enclosing triple's subject term when this is
        the OUTER leading step (None otherwise); ``o_seedable`` marks a
        leading step whose object constant can seed the zero-length
        solution; ``o_final`` marks the ONLY step of an outer path,
        whose dst the pattern filters to a constant ``o_term``."""
        edges = self._step_edges(triples, st, s_term, o_term)
        if st.star or st.plus or st.opt:
            has_zero = st.star or st.opt
            if pairs is None:
                # p? composes exactly like p* with the closure replaced
                # by the single-step edges: zero-length identity ∪ one
                # application (SPARQL 1.1 §18.4 ZeroOrOnePath)
                plus = edges if st.opt else self._closure(
                    triples, st, edges, s_term, o_term, reflexive=False)
                if has_zero:
                    # leading p* / p?: the zero-length path (SPARQL
                    # 1.1 §18.4 ZeroOrMorePath / ZeroOrOnePath).
                    spark = triples.sparkSession
                    if s_term is not None and s_term[0] != "var":
                        # Constant-anchored: §18.4's ALP evaluation
                        # starts from the anchor TERM itself, graph
                        # membership notwithstanding — `fg:Qx p* ?y`
                        # yields (Qx, Qx) even when Qx never occurs
                        # in the graph.  Seeding just the anchor's
                        # self-pair is both the correctness fix and
                        # the scale plan: every whole-graph identity
                        # row with src ≠ anchor would die at the
                        # final src filter anyway, so the unbounded
                        # term scan is skipped entirely.
                        zero = _self_pair(spark, s_term)
                    elif o_final and o_term[0] != "var":
                        # `?x p? <c>` / `?x p* <c>`: the mirror case —
                        # every identity row with dst ≠ c dies at the
                        # final dst filter, and (c, c) is a solution
                        # even when c is absent from the graph
                        zero = _self_pair(spark, o_term)
                    else:
                        # Var subject (or nested position): zero-length
                        # relates every term of the graph to itself —
                        # identity over all subjects ∪ objects.  One
                        # distinct over the two term columns; at scale
                        # this is the price of an unbounded-domain star.
                        terms = (
                            triples.select(
                                F.col("subject").alias("src"))
                            .union(triples.select(F.col("object")))
                            .distinct()
                        )
                        zero = terms.select(
                            "src", F.col("src").alias("dst"))
                        if o_seedable and o_term is not None \
                                and o_term[0] != "var":
                            # an object anchor absent from the graph
                            # still has its zero-length solution
                            zero = zero.unionByName(
                                _self_pair(spark, o_term))
                    pairs = zero.unionByName(plus).distinct()
                else:
                    pairs = plus
            elif st.star:
                # Non-leading p*: ONE left join of the prefix pairs
                # against the memoized reflexive closure (a distinct
                # pair set, so prefix multiplicities ride through
                # untouched — the bag semantics of any plain steps
                # before this one).  A prefix dst the closure has no
                # row for is not a node of the step's edges: its only
                # solution is the zero-length one, dst itself —
                # detected on the join key (b.src IS NULL), so a
                # matched NULL dst stays NULL.  A NULL prefix dst
                # joins nothing, as in the inner join it replaces.
                refl = self._closure(triples, st, edges, s_term, o_term,
                                     reflexive=True)
                pairs = (
                    pairs.filter(F.col("dst").isNotNull()).alias("a")
                    .join(refl.alias("b"), F.col("a.dst") == F.col("b.src"),
                          "left")
                    .select(F.col("a.src").alias("src"),
                            F.when(F.col("b.src").isNull(), F.col("a.dst"))
                            .otherwise(F.col("b.dst")).alias("dst"))
                )
            else:
                # Non-leading p+ / p?: build the step's pair relation
                # as a SET (§18.4 path evaluation yields distinct term
                # pairs) and join the accumulated prefix against it —
                # prefix multiplicities ride through the join
                # untouched.  (A whole-accumulated-set distinct here
                # would collapse duplicate solutions a plain `p/p`
                # prefix legitimately produces.)
                if st.plus:
                    step = self._closure(triples, st, edges, s_term,
                                         o_term, reflexive=False)
                else:
                    # zero-length at this position relates each
                    # incoming dst to itself; union it into the step
                    # relation BEFORE the join so an edge (m, m) and
                    # the zero-length (m, m) count once, not twice
                    ids = pairs.select(
                        F.col("dst").alias("src"),
                        F.col("dst").alias("dst")).distinct()
                    step = ids.unionByName(edges).distinct()
                pairs = (
                    pairs.alias("a")
                    .join(step.alias("b"), F.col("a.dst") == F.col("b.src"))
                    .select(F.col("a.src").alias("src"),
                            F.col("b.dst").alias("dst"))
                )
        else:
            if pairs is None:
                pairs = edges
            else:
                pairs = (
                    pairs.alias("a")
                    .join(edges.alias("b"), F.col("a.dst") == F.col("b.src"))
                    .select(F.col("a.src").alias("src"),
                            F.col("b.dst").alias("dst"))
                )
        return pairs

    # -- joins ---------------------------------------------------------------

    @staticmethod
    def _shared(a: DataFrame, b: DataFrame) -> list[str]:
        return [c for c in a.columns if c in b.columns]

    # Outer-env fan-out probe bound: a UNION distributes Join(env, b_i)
    # over its branches, and Spark shares no identical subplans — each
    # branch join re-executes env's whole subtree.  ≤ this many rows and
    # env gets a broadcast hint, making the N per-branch
    # BroadcastExchanges canonically identical so exchange reuse
    # executes env ONCE per run.
    _ENV_BCAST_ROWS = 10_000

    def _hint_small(self, env: DataFrame) -> DataFrame:
        """CBO-style plan-time statistics probe before fanning a shared
        outer env over N union branches.  The probe runs once per
        compile (compiles are memoized per (query, kg) — prepared
        statements collecting stats, the ANALYZE idiom); the count is
        LocalLimit-gated so a huge env costs one early-exiting partial
        scan and simply doesn't get the hint, keeping the plain
        per-branch equi-joins that are right at scale.

        It fires only when a UNION follows earlier patterns of its
        group, so an outer env fans out over its branches; no
        ``kg_query`` template has that shape, so it costs that workload
        nothing.  It cannot join the per-store memo: env depends on the
        query's constants, and its size is what the hint decides on."""
        try:
            n = env.limit(self._ENV_BCAST_ROWS + 1).count()
        except Exception:  # noqa: BLE001 — probe must never break compile
            return env
        return F.broadcast(env) if n <= self._ENV_BCAST_ROWS else env

    def _join(self, env: DataFrame | None, df: DataFrame,
              how: str = "inner") -> DataFrame:
        if env is None:
            return df
        on = self._shared(env, df)
        if not on:
            if how == "inner":
                return env.crossJoin(df)
            # disjoint-vars OPTIONAL must keep every env row when the
            # group is empty; crossJoin discarded `how`.  Disjoint
            # FILTER NOT EXISTS and MINUS never get here:
            # _apply_not_exists makes the former all-or-nothing and
            # keeps the latter a no-op (§8.3.3).
            return env.join(df, F.lit(True), how)
        langs = [c for c in on if c.startswith("__lang__")]
        nullable = [c for c in on if c in self._maybe_unbound
                    and c not in langs]
        if not langs and not nullable:
            return env.join(df, on, how)
        # Shared ``__lang__`` companions need NULL-SAFE equality: RDF
        # term equality includes the language tag, but two IRI/plain
        # bindings both carry lang NULL — a plain equi-join key would
        # turn NULL = NULL into no-match and silently empty every later
        # OPTIONAL that re-binds the same variable
        # (get_wiki_sitelinks.rq's five sitelink blocks all re-bind
        # ?fg_item as an object).
        #
        # Shared MAYBE-UNBOUND vars (OPTIONAL/UNION provenance — see
        # __init__) use the §8.3 COMPATIBILITY form instead: solutions
        # merge when the bindings are equal OR either side is unbound,
        # and the merged binding is coalesce(left, right).  Their lang
        # companions escape the same way (an unbound var's companion is
        # NULL but must not veto a merge with a tagged binding).  Bound
        # shared vars stay plain equi-keys, so the join keeps a hash
        # backbone whenever at least one shared var is always-bound.
        norm = [c for c in on if c not in langs and c not in nullable]
        left, right = env.alias("__jl"), df.alias("__jr")

        def lcol(c):  # noqa: E306
            return F.col(f"__jl.{c}")

        def rcol(c):
            return F.col(f"__jr.{c}")

        cond = None
        for c in norm:
            p = lcol(c) == rcol(c)
            cond = p if cond is None else cond & p
        for c in nullable:
            p = (lcol(c).eqNullSafe(rcol(c))
                 | lcol(c).isNull() | rcol(c).isNull())
            cond = p if cond is None else cond & p
        for c in langs:
            base = c[len("__lang__"):]
            p = lcol(c).eqNullSafe(rcol(c))
            if base in nullable:
                p = p | lcol(base).isNull() | rcol(base).isNull()
            cond = p if cond is None else cond & p
        if how == "left_anti" and not norm and nullable:
            # §8.3.3 MINUS (and the NOT EXISTS this engine maps to it):
            # removal requires ≥1 shared var bound on BOTH sides —
            # all-unbound overlap removes nothing
            dom = None
            for c in nullable:
                p = lcol(c).isNotNull() & rcol(c).isNotNull()
                dom = p if dom is None else dom | p
            cond = cond & dom
        out = left.join(right, cond, how)
        if how in ("left_anti", "left_semi"):
            # semi/anti joins produce LEFT columns only — the __jr
            # re-select below would crash on them (review fix: the
            # lang-companion FILTER EXISTS path hit exactly that)
            return out
        cols = []
        for c in env.columns:
            if c in nullable:
                cols.append(F.coalesce(lcol(c), rcol(c)).alias(c))
            elif (c in langs
                  and c[len("__lang__"):] in nullable
                  and c in df.columns):
                base = c[len("__lang__"):]
                cols.append(F.when(lcol(base).isNull(), rcol(c))
                             .otherwise(lcol(c)).alias(c))
            else:
                cols.append(lcol(c).alias(c))
        cols += [rcol(c).alias(c) for c in df.columns
                 if c not in env.columns]
        return out.select(*cols)

    # -- expressions ---------------------------------------------------------

    @staticmethod
    def _numeric_node(node: tuple) -> bool:
        """True when an expression node is statically numeric: an
        arithmetic expression, a unary minus, or a literal carrying a
        numeric datatype (bare numbers parse with xsd:integer/decimal;
        typed literals keep their ^^dtype)."""
        if node[0] in ("arith", "neg"):
            return True
        if node[0] == "term" and node[1][0] == "lit":
            dt = node[1][3] if len(node[1]) > 3 else None
            return dt in _NUMERIC_DTYPES
        return False

    def _lang_expr(self, node: tuple, env: DataFrame | None) -> Column:
        """The language tag of an expression operand, as a Column —
        '' for untagged (plain literal / IRI / any computed value, since
        every implemented operator returns a simple or typed literal;
        STRLANG is not implemented).  Used by the term-equality forms
        (=/!=/IN/SAMETERM): §17.4.1.7 RDFterm-equal includes the tag,
        so FILTER(?l = "Berlin"@de) must NOT pass "Berlin"@en or plain
        "Berlin" — the scan and VALUES paths already enforced this; the
        FILTER path compared lexical forms only (review batch)."""
        if node[0] == "term":
            t = node[1]
            if t[0] == "var":
                col = _lang_col(t[1])
                if env is not None and col in env.columns:
                    return F.coalesce(F.col(col), F.lit(""))
                return F.lit("")
            if t[0] == "lit":
                return F.lit((t[2] if len(t) > 2 else None) or "")
        return F.lit("")

    @staticmethod
    def _statically_tagged(node: tuple) -> bool:
        """True when the operand can carry a language tag at all: a
        variable (runtime companion) or a tagged literal.  Everything
        else is tag-free, letting the comparison fast-path skip the
        companion conjunct."""
        if node[0] != "term":
            return False
        t = node[1]
        return t[0] == "var" or (t[0] == "lit"
                                 and len(t) > 2 and bool(t[2]))

    def _expr(self, node: tuple, env: DataFrame | None) -> Column:
        kind = node[0]
        if kind == "aggref":
            # an ("agg", ...) subnode already computed by the groupBy
            # (see _project_query's hoist) — read its result column
            return F.col(node[1])
        if kind == "term":
            term = node[1]
            if term[0] == "var":
                return F.col(term[1])
            if term[0] == "lit" and term[1] == "[AUTO_LANGUAGE]":
                return F.lit(self.auto_language)
            return F.lit(term[1])
        if kind == "cmp":
            op = node[1]
            a, b = self._expr(node[2], env), self._expr(node[3], env)
            if self._numeric_node(node[2]) or self._numeric_node(node[3]):
                # §17.3 operand promotion: comparison against a NUMBER
                # is numeric, not lexicographic ("99" > "100" was
                # wrongly true; "30.0"^^xsd:decimal = 30 was wrongly
                # false — review fixes; promotion covers =/!= too since
                # numeric equality is value equality, not term
                # equality).  try_cast: a non-numeric lexical form is a
                # type error, and an errored comparison drops the row
                # (NULL) per §17.2 — never kills the job.
                a, b = a.try_cast("double"), b.try_cast("double")
            elif op in ("=", "!=") and (self._statically_tagged(node[2])
                                        or self._statically_tagged(node[3])):
                # §17.4.1.7 RDFterm-equal includes the language tag —
                # term (in)equality conjoins the companion comparison
                # (both sides '' when untagged, so plain comparisons
                # are unchanged); ordering ops stay lexical (review
                # batch)
                la = self._lang_expr(node[2], env)
                lb = self._lang_expr(node[3], env)
                if op == "=":
                    return (a == b) & (la == lb)
                return (a != b) | (la != lb)
            return {"=": a == b, "!=": a != b, "<": a < b, ">": a > b,
                    "<=": a <= b, ">=": a >= b}[op]
        if kind == "inlist":
            # §17.4.1.9-10: IN = any-equal over the list (empty list →
            # false), NOT IN its negation — SQL three-valued semantics
            # ride through isin (NULL test value → NULL → row dropped)
            neg, items = node[1], node[3]
            if not items:
                return F.lit(bool(neg))
            e = self._expr(node[2], env)
            if self._statically_tagged(node[2]) \
                    or any(self._statically_tagged(i) for i in items):
                # term equality per element (tag included) — the isin
                # fast path below compares lexical forms only
                el = self._lang_expr(node[2], env)
                mem = None
                for i in items:
                    p = ((e == self._expr(i, env))
                         & (el == self._lang_expr(i, env)))
                    mem = p if mem is None else mem | p
            else:
                mem = e.isin(*[self._expr(i, env) for i in items])
            return ~mem if neg else mem
        if kind == "arith":
            # arithmetic evaluates in double: RDF objects are lexical
            # forms (strings), and ANSI mode (Spark 4 default) rejects
            # string operands outright — and SPARQL 1.1 §17.3 makes
            # integer ÷ integer xsd:decimal anyway (DuckDB's `/`
            # agrees).  Oracles should CAST(... AS DOUBLE) to match.
            op = node[1]
            a = self._expr(node[2], env).cast("double")
            b = self._expr(node[3], env).cast("double")
            return {"+": a + b, "-": a - b, "*": a * b, "/": a / b}[op]
        if kind == "neg":
            return -self._expr(node[1], env).cast("double")
        if kind == "and":
            return self._expr(node[1], env) & self._expr(node[2], env)
        if kind == "or":
            return self._expr(node[1], env) | self._expr(node[2], env)
        if kind == "not":
            return ~self._expr(node[1], env)
        if kind == "call":
            name, args = node[1], node[2]
            if name == "LANG":
                a0 = args[0]
                if a0[0] == "term" and a0[1][0] in ("var", "lit"):
                    # variable → runtime companion; literal → its
                    # static tag.  Anything else used to index into the
                    # inner node blindly (LANG(COALESCE(?a, ?b)) read
                    # the string "O" out of "COALESCE" and silently
                    # compiled to '' — review batch); computed operands
                    # are simple literals per the implemented function
                    # set, but refusing is safer than guessing.
                    return self._lang_expr(a0, env)
                raise NotImplementedError(
                    "LANG: only variable or literal arguments supported")
            if name == "STR":
                # xsd casts to string — numeric BIND results (YEAR)
                # become plain literals, string inputs pass through
                return self._expr(args[0], env).cast("string")
            if name == "IRI":
                return self._expr(args[0], env)
            if name == "CONCAT":
                return F.concat(*[self._expr(a, env) for a in args])
            if name in ("REPLACE", "REGEX"):
                # pattern (and flags) must be LITERALS: grabbing
                # args[1][1][1] from a variable node would silently use
                # the variable NAME as the regex — fail loud instead
                # (review fix), and honor the optional flags argument
                # ('i'/'s'/'m' map onto Java embedded flags; anything
                # else is refused, not dropped)
                def _lit_arg(a, what):
                    if a[0] == "term" and a[1][0] == "lit":
                        return a[1][1]
                    raise NotImplementedError(
                        f"{name}: only literal {what} supported")
                pat = _lit_arg(args[1], "patterns")
                flag_idx = 3 if name == "REPLACE" else 2
                if len(args) > flag_idx:
                    flags = _lit_arg(args[flag_idx], "flags")
                    if flags and not set(flags) <= set("ism"):
                        raise NotImplementedError(
                            f"{name}: unsupported regex flags {flags!r}")
                    if flags:
                        pat = f"(?{flags})" + pat
                if name == "REPLACE":
                    rep = _lit_arg(args[2], "replacements")
                    return F.regexp_replace(
                        self._expr(args[0], env), pat, rep)
                return self._expr(args[0], env).rlike(pat)
            if name == "STRSTARTS":
                return self._expr(args[0], env).startswith(
                    self._expr(args[1], env))
            if name == "BOUND":
                return self._expr(args[0], env).isNotNull()
            if name in ("YEAR", "MONTH", "DAY"):
                # xsd:dateTime accessors.  Objects are stored as RDF
                # lexical forms (strings); the ISO date prefix is
                # authoritative for all three accessors.
                d = F.to_date(F.substring(
                    self._expr(args[0], env).cast("string"), 1, 10))
                return {"YEAR": F.year, "MONTH": F.month,
                        "DAY": F.dayofmonth}[name](d)
            if name == "IF":
                return F.when(self._expr(args[0], env),
                              self._expr(args[1], env)) \
                        .otherwise(self._expr(args[2], env))
            if name == "CONTAINS":
                return self._expr(args[0], env).contains(
                    self._expr(args[1], env))
            if name == "STRENDS":
                return self._expr(args[0], env).endswith(
                    self._expr(args[1], env))
            if name == "STRLEN":
                return F.length(self._expr(args[0], env))
            if name == "SUBSTR":
                # SPARQL SUBSTR is 1-based with optional length — same
                # convention as Spark's substr
                s = self._expr(args[0], env)
                start = self._expr(args[1], env)
                if len(args) > 2:
                    return s.substr(start, self._expr(args[2], env))
                return s.substr(start, F.length(s))
            if name == "UCASE":
                return F.upper(self._expr(args[0], env))
            if name == "LCASE":
                return F.lower(self._expr(args[0], env))
            if name in ("STRBEFORE", "STRAFTER"):
                # "" when the separator does not occur (SPARQL 1.1
                # §17.4.3.7-8) — substring_index alone would return the
                # whole string.  Spark's substring_index takes a plain
                # string delimiter; SPARQL queries pass a literal here.
                if args[1][0] != "term" or args[1][1][0] != "lit":
                    raise NotImplementedError(
                        f"{name} requires a literal separator")
                s = self._expr(args[0], env)
                sep = args[1][1][1]
                part = (F.substring_index(s, sep, 1) if name == "STRBEFORE"
                        else F.substring_index(s, sep, -1))
                return F.when(s.contains(F.lit(sep)), part).otherwise(F.lit(""))
            if name == "COALESCE":
                return F.coalesce(*[self._expr(a, env) for a in args])
            if name == "SAMETERM":
                # same TERM = same lexical form AND same language tag
                # (SAMETERM("x"@de, "x"@en) was true — review batch);
                # per-binding datatypes aren't tracked, documented gap
                return ((self._expr(args[0], env)
                         == self._expr(args[1], env))
                        & (self._lang_expr(args[0], env)
                           == self._lang_expr(args[1], env)))
            if name in ("ABS", "CEIL", "FLOOR", "ROUND"):
                fn = {"ABS": F.abs, "CEIL": F.ceil, "FLOOR": F.floor,
                      "ROUND": F.round}[name]
                return fn(self._expr(args[0], env).cast("double"))
            if name == "LANGMATCHES":
                # RFC 4647 basic filtering (§17.4.3.2): "*" matches any
                # non-empty tag; otherwise case-insensitive equality or
                # a prefix ending at a '-' subtag boundary.  The range
                # is a literal in every query shape the spec's own
                # examples use — fail loud on anything else.
                if args[1][0] != "term" or args[1][1][0] != "lit":
                    raise NotImplementedError(
                        "LANGMATCHES requires a literal language range")
                tag = self._expr(args[0], env)
                rng = args[1][1][1].lower()
                if rng == "*":
                    return tag.isNotNull() & (tag != "")
                low = F.lower(tag)
                return (low == rng) | low.startswith(rng + "-")
            if name == "ENCODE_FOR_URI":
                # §17.4.3.18: percent-encode everything outside RFC 3986
                # unreserved [A-Za-z0-9._~-].  Spark's url_encode is the
                # form-urlencoded variant; three deterministic rewrites
                # close the gap: space ('+' there, %20 here), '*' (kept
                # there, %2A here), '~' (%7E there, unreserved here).
                enc = F.url_encode(self._expr(args[0], env).cast("string"))
                enc = F.replace(enc, F.lit("+"), F.lit("%20"))
                enc = F.replace(enc, F.lit("*"), F.lit("%2A"))
                return F.replace(enc, F.lit("%7E"), F.lit("~"))
            if name == "MD5":
                return F.md5(F.encode(
                    self._expr(args[0], env).cast("string"), "UTF-8"))
            if name in ("SHA1", "SHA256", "SHA384", "SHA512"):
                b = F.encode(
                    self._expr(args[0], env).cast("string"), "UTF-8")
                if name == "SHA1":
                    return F.sha1(b)
                return F.sha2(b, int(name[3:]))
            if name in ("HOURS", "MINUTES", "SECONDS"):
                # xsd:dateTime accessors over the stored lexical form,
                # same convention as YEAR/MONTH/DAY above.  SECONDS is
                # xsd:decimal in the spec (fractional seconds ride
                # through); HOURS/MINUTES are integers.
                ts = F.to_timestamp(self._expr(args[0], env).cast("string"))
                if name == "SECONDS":
                    # integer second + sub-second micros (pmod keeps
                    # pre-epoch timestamps correct)
                    return F.second(ts) + \
                        F.pmod(F.unix_micros(ts), F.lit(1_000_000)) \
                        / 1_000_000.0
                return {"HOURS": F.hour, "MINUTES": F.minute}[name](ts)
            raise NotImplementedError(f"SPARQL function {name}")
        raise NotImplementedError(f"expression node {kind}")

    # -- aggregates ----------------------------------------------------------

    def _agg(self, node: tuple, env: DataFrame) -> Column:
        """Compile an ("agg", name, distinct, arg) node (G12).  COUNT
        returns BIGINT on every engine; partial (map-side) aggregation
        is free — Catalyst plans HashAggregate(partial) → shuffle on the
        group keys → HashAggregate(final), which is the plan you want
        for a year histogram over any corpus size."""
        name, distinct, arg = node[1], node[2], node[3]
        if name == "COUNT":
            if arg is None:
                if distinct:
                    # COUNT(DISTINCT *) = number of DISTINCT solutions
                    # (§18.5.1.1) — DISTINCT was silently ignored for *
                    # (review batch).  Struct-wrapped: a bare
                    # multi-column count_distinct skips any-NULL rows,
                    # but unbound variables are legal in solutions.
                    return F.count_distinct(F.struct(
                        *[F.col(c) for c in env.columns])).cast("long")
                return F.count(F.lit(1)).cast("long")
            col = self._expr(arg, env)
            return (F.countDistinct(col) if distinct
                    else F.count(col)).cast("long")
        col = self._expr(arg, env)
        if name == "GROUP_CONCAT":
            # SPARQL leaves GROUP_CONCAT's element order unspecified;
            # this engine pins it to ascending element order so results
            # are deterministic across partitionings and oracle-
            # comparable (DuckDB twin: string_agg([DISTINCT] x, sep
            # ORDER BY x)).  collect_list/collect_set are partial-agg
            # (map-side combinable); the sort is per-group, post-agg.
            sep = node[4] if len(node) > 4 else " "
            coll = F.collect_set(col) if distinct else F.collect_list(col)
            return F.concat_ws(sep, F.array_sort(coll))
        if name == "SAMPLE":
            # any element satisfies SAMPLE's contract; MIN makes the
            # choice deterministic and oracle-matchable
            return F.min(col)
        if distinct:
            if name == "SUM":
                return F.sum_distinct(col)
            if name == "AVG":
                # Spark has no avg_distinct builtin; §18.5.1.5 defines
                # Avg(M) = Sum(M)/Count(M) over the distinct multiset —
                # both partial-aggregable, same one-shuffle plan
                return (F.sum_distinct(col)
                        / F.count_distinct(col)).cast("double")
            # DISTINCT is a no-op on min/max
        return {"SUM": F.sum, "MIN": F.min, "MAX": F.max,
                "AVG": F.avg}[name](col)

    # -- group compilation ---------------------------------------------------

    def _compile_group(self, g: GroupPat,
                       triples: DataFrame | None = None,
                       env: DataFrame | None = None) -> DataFrame | None:
        """Compile a group against ``triples``, optionally seeded with
        outer bindings ``env`` (used by SERVICE: the inner group scans
        the remote frame but must join — and left-join for OPTIONAL —
        against the bindings accumulated so far, else an OPTIONAL inside
        SERVICE would degrade to a required join,
        ``get_gnd_from_fg_and_wd.rq:44-48``)."""
        triples = triples if triples is not None else self.triples
        run: list[TriplePat] = []
        deferred_filters: list[tuple] = []
        # group-LEADING FILTER (NOT) EXISTS deferred like plain filters
        # (§18.2.2.2 scopes filters to the whole group regardless of
        # position; these were silently DROPPED when env was None —
        # review batch).  Leading MINUS stays a no-op: §8.3.3's
        # disjoint-domain rule makes {μ0} MINUS anything = {μ0}.
        deferred_guards: list[tuple[str, object]] = []

        def flush(env: DataFrame | None) -> DataFrame | None:
            if not run:
                return env
            # Join order within a contiguous pattern run (§4 rewrite 3):
            # most-bound-first as the base priority (selective patterns
            # become point filters early), but always prefer a pattern
            # sharing a variable with the bindings so far — otherwise
            # two disconnected selective patterns would cross join.
            def bound(p: TriplePat) -> int:
                n = sum(1 for t in (p.s, p.o) if t[0] != "var")
                n += sum(1 for st in p.path
                         if st.pred is None or st.pred[0] != "var")
                return -n

            def pat_vars(p: TriplePat) -> set[str]:
                vs = {t[1] for t in (p.s, p.o) if t[0] == "var"}
                vs |= {st.pred[1] for st in p.path
                       if st.pred is not None and st.pred[0] == "var"}
                return vs

            remaining = sorted(run, key=bound)
            env_vars = set() if env is None else {
                c for c in env.columns if not c.startswith("__lang__")}
            while remaining:
                idx = 0
                if env_vars:
                    idx = next((i for i, p in enumerate(remaining)
                                if pat_vars(p) & env_vars), 0)
                pat = remaining.pop(idx)
                env = self._join(env, self._scan(triples, pat))
                env_vars |= pat_vars(pat)
            run.clear()
            return env

        for item in g.items:
            if isinstance(item, TriplePat):
                run.append(item)
                continue
            env = flush(env)
            if isinstance(item, OptionalPat):
                sub = self._compile_group(item.group, triples)
                if sub is not None:
                    if env is not None:
                        self._maybe_unbound |= {
                            c for c in sub.columns
                            if c not in env.columns
                            and not c.startswith("__")}
                    env = self._join(env, sub, "left")
            elif isinstance(item, GroupPat):
                # nested `{ ... }` scope (companions_and_relations.rq:48
                # wraps the person block in an extra group) — compile
                # independently, join on shared vars
                sub = self._compile_group(item, triples)
                if sub is not None:
                    env = self._join(env, sub)
            elif isinstance(item, UnionPat):
                parts = [self._compile_group(b, triples)
                         for b in item.branches]
                parts = [p for p in parts if p is not None]
                # Distribute the outer-bindings join over the branches:
                # Join(env, Union(b_i)) = Union(Join(env, b_i)).  Joining
                # after the union would equi-join on the union of every
                # branch's shared columns, and a branch that binds only a
                # subset (companions_and_relations.rq: factgrid branches
                # bind ?fg_item, federated branches ?wd_item) leaves the
                # others NULL-filled — plain equality would then drop
                # every row.  Per-branch joins also stay simple
                # equi-joins on each branch's actually-bound keys, not a
                # SPARQL-compatibility theta-join, which is the plan you
                # want at scale.
                if not parts:
                    # every branch compiled to no bindings (filter-only
                    # branches): per spec each branch is one empty
                    # solution restricted by its filter — unsupported
                    # shape; fail loud instead of IndexError (review
                    # batch)
                    raise NotImplementedError(
                        "UNION: every branch is binding-free "
                        "(filter-only branches are not supported)")
                if len(parts) > 1:
                    allc = set().union(*(set(p.columns) for p in parts))
                    common = set(parts[0].columns)
                    for p in parts[1:]:
                        common &= set(p.columns)
                    self._maybe_unbound |= {
                        c for c in allc - common
                        if not c.startswith("__")}
                if env is not None and len(parts) > 1:
                    env = self._hint_small(env)
                joined = [self._join(env, p) for p in parts] \
                    if env is not None else parts
                u = joined[0]
                for p in joined[1:]:
                    u = u.unionByName(p, allowMissingColumns=True)
                env = u
            elif isinstance(item, NotExistsPat):
                sub = self._compile_group(item.group, triples)
                if env is None:
                    if not item.is_minus and sub is not None:
                        deferred_guards.append(("not_exists", sub))
                    continue
                env = self._apply_not_exists(env, sub, item.is_minus)
            elif isinstance(item, ExistsPat):
                # dual of NOT EXISTS: keep solutions with ≥1 compatible
                # binding in the sub-group → left-semi join on shared
                # vars (SPARQL 1.1 §8.1.1)
                sub = self._compile_group(item.group, triples)
                if env is None:
                    deferred_guards.append(("exists", sub))
                    continue
                env = self._apply_exists(env, sub)
            elif isinstance(item, FilterPat):
                if env is None or any(
                        v not in env.columns
                        for v in self._expr_free_vars(item.expr)):
                    # §18.2.2.2 scopes filters to the WHOLE group
                    # regardless of position: defer when there are no
                    # bindings yet (review fix: leading filters were
                    # dropped) OR when the filter references a variable
                    # a LATER pattern binds — applying it now would
                    # either crash on the missing column or wrongly
                    # treat a later-bound var as unbound (review
                    # batch).  A filter-only group still no-ops:
                    # deferred filters die with env == None at the end.
                    deferred_filters.append(item.expr)
                    continue
                env = env.filter(self._expr(item.expr, env))
            elif isinstance(item, BindPat):
                col = self._expr(item.expr, env)
                if env is None:
                    # one-row inline table, not range(1): it plans as a
                    # LocalRelation, whose broadcast into the next
                    # pattern's join runs no Spark job
                    env = self.triples.sparkSession.sql("VALUES (0)").select(
                        col.alias(item.var))
                elif item.var in env.columns:
                    # BIND on an in-scope variable is a SPARQL syntax
                    # error, but Blazegraph (the endpoint the reference
                    # runs) treats it as a pre-binding — the solutions
                    # are filtered to those where the variable equals
                    # the expression (index.qmd:142-145 binds ?prop
                    # AFTER using it in a pattern).  withColumn would
                    # silently overwrite instead of constraining.
                    env = env.filter(F.col(item.var) == col)
                else:
                    env = env.withColumn(item.var, col)
            elif isinstance(item, ValuesPat):
                has_undef = any(t[0] == "undef" for r in item.rows
                                for t in r)
                rows = [tuple(None if t[0] == "undef" else t[1]
                              for t in r) for r in item.rows]
                # RDF term equality includes the language tag: carry a
                # per-cell lang alongside the lexical value so a tagged
                # VALUES literal matches ONLY same-tag bindings and a
                # plain one only lang-NULL ones (review fix: this
                # replaced a fail-loud NotImplementedError; before that
                # the bare lexical match crossed tags silently).  A
                # var needs lang-aware matching when any of its cells
                # is tagged, the env tracks a __lang__ companion for it,
                # or the store has a lang column — a later pattern may
                # bind the var as a tagged object, and a companion-less
                # VALUES binding would then join on the lexical value
                # alone (a plain "Alice" matched "Alice"@en).  Otherwise
                # the bare-value paths below are exact.
                row_langs = [
                    tuple(t[2] if (t[0] == "lit" and len(t) > 2)
                          else None for t in r)
                    for r in item.rows]
                lang_vars = {
                    v for i, v in enumerate(item.vars)
                    if self.has_lang
                    or any(r[i] is not None for r in row_langs)
                    or (env is not None and _lang_col(v) in env.columns)
                }
                shared = ([v for v in item.vars if v in env.columns]
                          if env is not None else [])
                tagged = any(lg is not None for r in row_langs for lg in r)
                if env is not None and not has_undef \
                        and len(item.vars) == 1 and shared \
                        and not tagged \
                        and len(set(rows)) == len(rows):
                    # single-var distinct-row fast path, NULL-CORRECT
                    # (round-9 review: a bare isin dropped env rows
                    # whose shared variable was unbound, violating
                    # §10.2.2 — an unbound is compatible with EVERY
                    # row and takes its binding).  ONE codegen pass:
                    # the filter keeps the bound rows whose value is a
                    # cell (a plain predicate Catalyst pushes into the
                    # scan) and the unbound rows, which then explode to
                    # every VALUES cell (the compatibility expansion).
                    # No join and no second evaluation of the solution
                    # subtree — a filter+union split was measured 3×
                    # slower on the big network frames because both
                    # branches recomputed the statement walk, and the
                    # compat join's nested loop costs the same again.
                    # Every cell is untagged, so a bound value's
                    # __lang__ companion must be NULL (a tagged binding
                    # is a different RDF term); an unbound row's
                    # companion is NULL already.
                    v = item.vars[0]
                    vals = [r[0] for r in rows]
                    match = F.col(v).isin(vals)
                    if _lang_col(v) in env.columns:
                        match = match & F.col(_lang_col(v)).isNull()
                    env = env.filter(F.col(v).isNull() | match).withColumn(
                        v,
                        F.explode(
                            F.when(
                                F.col(v).isNull(),
                                F.array(*[F.lit(x) for x in vals]),
                            ).otherwise(F.array(F.col(v)))
                        ),
                    )
                elif shared:
                    # §10.2.2 compatibility join: a row's UNDEF cell is
                    # compatible with any binding, AND an env-side
                    # unbound (NULL from OPTIONAL / an upstream UNDEF)
                    # is compatible with any row; the merged binding
                    # takes whichever side is bound.  Every other
                    # shared-var VALUES takes this path (the former
                    # equi-join fallback dropped env-side unbounds —
                    # round-9 review catch).  The VALUES frame is tiny
                    # by definition, so the nested-loop join broadcasts
                    # it.
                    schema = [f"`__val_{v}` string" for v in item.vars]
                    data = list(rows)
                    if lang_vars:
                        # append one lang column per lang-aware var
                        schema += [f"`__vallang_{v}` string"
                                   for v in item.vars if v in lang_vars]
                        data = [
                            r + tuple(
                                lr[i] for i, v in enumerate(item.vars)
                                if v in lang_vars)
                            for r, lr in zip(rows, row_langs)]
                    lit = self.triples.sparkSession.createDataFrame(
                        data, ", ".join(schema))
                    cond = None
                    for v in shared:
                        m = F.col(f"__val_{v}") == F.col(v)
                        if v in lang_vars:
                            # term equality: the tag must match too; an
                            # env binding with no companion column is an
                            # IRI/plain term = lang NULL
                            envlang = (F.col(_lang_col(v))
                                       if _lang_col(v) in env.columns
                                       else F.lit(None).cast("string"))
                            m = m & F.col(f"__vallang_{v}") \
                                     .eqNullSafe(envlang)
                        c = (F.col(f"__val_{v}").isNull()
                             | F.col(v).isNull()
                             | m)
                        cond = c if cond is None else cond & c
                    # explicit broadcast: without the hint Spark's
                    # join selection degrades this non-equi inner
                    # join to a CartesianProduct once the solution
                    # side outgrows the auto-broadcast threshold —
                    # the VALUES frame is literal rows by definition,
                    # so the nested loop must build on IT (caught by
                    # tools/lint_plans.py at sf0.01+, round 9)
                    env = env.join(F.broadcast(lit), cond)
                    for v in item.vars:
                        if v in env.columns and v in shared:
                            if v in lang_vars:
                                # an unbound env row takes the cell's
                                # tag with its value — BEFORE v itself
                                # is coalesced, so "was unbound" is
                                # still observable
                                prev = (F.col(_lang_col(v))
                                        if _lang_col(v) in env.columns
                                        else F.lit(None).cast("string"))
                                env = env.withColumn(
                                    _lang_col(v),
                                    F.when(F.col(v).isNull(),
                                           F.col(f"__vallang_{v}"))
                                    .otherwise(prev))
                            env = env.withColumn(
                                v, F.coalesce(F.col(v),
                                              F.col(f"__val_{v}")))
                        else:
                            env = env.withColumn(v, F.col(f"__val_{v}"))
                            if v in lang_vars:
                                env = env.withColumn(
                                    _lang_col(v), F.col(f"__vallang_{v}"))
                    env = env.drop(*[f"__val_{v}" for v in item.vars])
                    env = env.drop(*[f"__vallang_{v}" for v in item.vars
                                     if v in lang_vars])
                else:
                    # no overlap with prior bindings (or no env yet):
                    # the inline table joins in as-is; UNDEF cells ride
                    # through as nulls = unbound (explicit string
                    # schema — an all-UNDEF column defeats inference).
                    # Lang-aware vars bind their __lang__ companion
                    # directly so later term-equality joins see the tag.
                    schema = [f"`{v}` string" for v in item.vars]
                    data = list(rows)
                    if lang_vars:
                        schema += [f"`{_lang_col(v)}` string"
                                   for v in item.vars if v in lang_vars]
                        data = [
                            r + tuple(
                                lr[i] for i, v in enumerate(item.vars)
                                if v in lang_vars)
                            for r, lr in zip(rows, row_langs)]
                    lit = self.triples.sparkSession.createDataFrame(
                        data, ", ".join(schema))
                    # broadcast for the same reason as the UNDEF
                    # path: a disjoint-domain VALUES cross must build
                    # its nested loop on the literal frame
                    env = self._join(env, F.broadcast(lit))
            elif isinstance(item, SubSelectPat):
                senv = self._compile_group(item.query.where, triples)
                if senv is None:
                    continue
                sub = _project_query(self, senv, item.query)
                env = self._join(env, sub)
            elif isinstance(item, ServicePat):
                if item.endpoint == WIKIBASE_LABEL_SERVICE:
                    self._register_label_service(item.group)
                    continue
                if item.endpoint not in self.services:
                    raise KeyError(
                        f"no DataFrame source registered for SERVICE "
                        f"<{item.endpoint}> — pass services={{iri: df}}")
                env = self._compile_group(item.group,
                                          self.services[item.endpoint],
                                          env)
            else:
                raise NotImplementedError(f"pattern {item}")
        env = flush(env)
        # group-leading guards/filters deferred above: §18.2.2.2 scopes
        # them to the whole group, so apply them over the final
        # bindings (env still None == filter-only group == no-op,
        # unchanged)
        if env is not None:
            for kind, sub in deferred_guards:
                if kind == "not_exists":
                    env = self._apply_not_exists(env, sub, False)
                else:
                    env = self._apply_exists(env, sub)
            for expr in deferred_filters:
                # a variable never bound ANYWHERE in the group is
                # unbound for every solution (§17.2: evaluating it is
                # a type error → NULL → the filter drops the row, or
                # keeps it for !BOUND) — bind it as NULL instead of
                # letting F.col raise AnalysisException on a missing
                # column (review fix: the crash replaced the old
                # silent no-op, but spec wants empty-result semantics)
                missing = [v for v in sorted(self._expr_free_vars(expr))
                           if v not in env.columns]
                if missing:
                    tmp = env
                    for v in missing:
                        tmp = tmp.withColumn(v, F.lit(None).cast("string"))
                    env = tmp.filter(self._expr(expr, tmp)) \
                             .select(*env.columns)
                else:
                    env = env.filter(self._expr(expr, env))
        return env

    def _apply_not_exists(self, env: DataFrame, sub: DataFrame | None,
                          is_minus: bool) -> DataFrame:
        """Apply FILTER NOT EXISTS / MINUS over accumulated bindings
        (factored so group-LEADING forms can defer to group end)."""
        if sub is None:
            return env  # empty sub-pattern never matches; MINUS: noop
        if self._shared(env, sub):
            return self._join(env, sub, "left_anti")
        if not is_minus:
            # FILTER NOT EXISTS with disjoint vars: every solution dies
            # iff the sub-pattern matches at all (dual of the EXISTS
            # cross below); MINUS with disjoint domains removes NOTHING
            # (§8.3.3) and stays the no-op
            return env.join(
                F.broadcast(sub.limit(1).select(F.lit(1).alias("__ne"))),
                F.lit(True), "left_anti")
        return env

    def _apply_exists(self, env: DataFrame,
                      sub: DataFrame | None) -> DataFrame:
        """Apply FILTER EXISTS over accumulated bindings (factored so
        group-LEADING forms can defer to group end)."""
        if sub is None:
            # sub-group yields no bindings → EXISTS is false everywhere
            return env.filter(F.lit(False))
        if self._shared(env, sub):
            return self._join(env, sub, "left_semi")
        # no shared vars: keep all solutions iff the sub-pattern has
        # any match at all — a 1-row broadcast cross join (empty sub →
        # empty result)
        return env.crossJoin(
            F.broadcast(sub.limit(1).select(F.lit(1).alias("__exists")))
        ).drop("__exists")

    @staticmethod
    def _expr_free_vars(node) -> set[str]:
        """All variable names mentioned in an expression tree — the
        parser encodes a variable reference as a ``("var", name)``
        tuple wherever it appears (term nodes, LANG/BOUND args)."""
        out: set[str] = set()

        def walk(n):
            if isinstance(n, tuple):
                if (len(n) == 2 and n[0] == "var"
                        and isinstance(n[1], str)):
                    out.add(n[1])
                for c in n:
                    walk(c)
            elif isinstance(n, list):
                for c in n:
                    walk(c)

        walk(node)
        return out

    def _register_label_service(self, group: GroupPat) -> None:
        """``SERVICE wikibase:label { bd:serviceParam wikibase:language
        "de,[AUTO_LANGUAGE],en". }`` → record the language preference
        list; labels are joined at SELECT time."""
        langs: list[str] = []
        for item in group.items:
            if isinstance(item, TriplePat) and item.o[0] == "lit":
                for part in item.o[1].split(","):
                    part = part.strip()
                    if part == "[AUTO_LANGUAGE]":
                        part = self.auto_language
                    if part and part not in langs:
                        langs.append(part)
        self.label_langs = langs or [self.auto_language]

    # -- label service -------------------------------------------------------

    def _label_dim(self, prefs: tuple[str, ...]) -> DataFrame:
        """The (subject, best-label) dimension for a preference list —
        aggregated once per (triples frame, prefs) and memoized at
        module level: a query with two ``?xLabel`` vars (and every other
        query over the same session-memoized KG) reuses the materialized
        dim instead of re-aggregating the label triples per attach."""
        key = (id(self.triples.sparkSession), id(self.triples), prefs)

        def build() -> tuple:
            rank = F.when(F.col("lang") == prefs[0], F.lit(0))
            for i, lg in enumerate(prefs[1:], start=1):
                rank = rank.when(F.col("lang") == lg, F.lit(i))
            dim = (
                self.triples
                .filter((F.col("predicate") == RDFS_LABEL)
                        & F.col("lang").isin(list(prefs)))
                .withColumn("__rank", rank)
                .groupBy(F.col("subject").alias("__lbl_subject"))
                .agg(F.min_by("object", F.struct("__rank", "object"))
                     .alias("__lbl"))
                .localCheckpoint(eager=True)
            )
            # the memo pins the triples frame too: the key uses
            # id(triples), and a GC'd frame could otherwise hand its id
            # to a new object
            return self.triples, dim

        return memo_get(_STORE_MEMO, key, build)[1]

    def _alt_label_dim(self, prefs: tuple[str, ...]) -> DataFrame:
        """The (subject, aliases) dimension for ``?xAltLabel``:
        ``skos:altLabel`` values in the best-preference language that
        has any, sorted and comma-joined (WDQS joins multiple aliases
        with ", ").  Memoized like the label dim."""
        key = (id(self.triples.sparkSession), id(self.triples),
               ("alt",) + prefs)

        def build() -> tuple:
            rank = F.when(F.col("lang") == prefs[0], F.lit(0))
            for i, lg in enumerate(prefs[1:], start=1):
                rank = rank.when(F.col("lang") == lg, F.lit(i))
            best = F.min("__rank")
            rows = F.sort_array(
                F.collect_list(F.struct("__rank", "object")))
            dim = (
                self.triples
                .filter((F.col("predicate") == SKOS_ALT_LABEL)
                        & F.col("lang").isin(list(prefs)))
                .withColumn("__rank", rank)
                .groupBy(F.col("subject").alias("__alt_subject"))
                .agg(best.alias("__best"), rows.alias("__rows"))
                .select(
                    "__alt_subject",
                    F.array_join(
                        F.transform(
                            F.filter("__rows",
                                     lambda x: x["__rank"] == F.col("__best")),
                            lambda x: x["object"],
                        ),
                        ", ",
                    ).alias("__alt"),
                )
                .localCheckpoint(eager=True)
            )
            return self.triples, dim

        return memo_get(_STORE_MEMO, key, build)[1]

    def _attach_alt_label(self, env: DataFrame, base_var: str,
                          alt_var: str) -> DataFrame:
        """``?xAltLabel`` service semantics: comma-joined aliases in the
        best available language; NO fallback — the service leaves the
        var unbound when the item has no aliases."""
        prefs = tuple(self.label_langs or [self.auto_language])
        alts = self._alt_label_dim(prefs).withColumnRenamed(
            "__alt_subject", base_var)
        return (
            env.join(alts, base_var, "left")
            .withColumn(alt_var, F.col("__alt"))
            .drop("__alt")
        )

    def _attach_label(self, env: DataFrame, base_var: str,
                      label_var: str) -> DataFrame:
        """Wikibase label service semantics for one ``?xLabel`` var:
        per-row first available language from the preference list,
        falling back to the IRI local name (the service falls back to
        the QID).  The label dimension is aggregated per subject first
        (one tiny min_by dim), then left-joined — broadcastable at any
        corpus scale."""
        prefs = tuple(self.label_langs or [self.auto_language])
        labels = self._label_dim(prefs).withColumnRenamed(
            "__lbl_subject", base_var)
        out = env.join(labels, base_var, "left")
        # IRI → local-name fallback (the service falls back to the QID);
        # a literal binding (e.g. a date or external id) labels as
        # itself — local-name extraction would truncate it at '/'
        fallback = F.when(
            F.col(base_var).contains("://"),
            F.regexp_extract(F.col(base_var), r"([^/#]*)$", 1),
        ).otherwise(F.col(base_var))
        filled = F.coalesce(F.col("__lbl"), fallback)
        if label_var in env.columns:
            # Partially-bound label var (companions_and_relations.rq:
            # federated branches bind ?valueLabel from the remote
            # rdfs:label scan, factgrid branches leave it for the label
            # service) — an explicit binding wins, the service fills the
            # unbound rows.
            filled = F.coalesce(F.col(label_var), filled)
        return out.withColumn(label_var, filled).drop("__lbl")


def compile_sparql(
    text: str,
    triples: DataFrame,
    services: dict[str, DataFrame] | None = None,
    auto_language: str = "en",
    prefixes: dict[str, str] | None = None,
) -> DataFrame:
    """Parse SPARQL text and compile it to a DataFrame plan over
    ``triples`` (columns subject/predicate/object[/lang/dtype]).

    ``services`` maps SERVICE endpoint IRIs to triples DataFrames (G10:
    federation as pluggable sources); ``auto_language`` substitutes
    ``[AUTO_LANGUAGE]`` in the Wikibase label service; ``prefixes``
    seeds endpoint-default prefix expansions (a Wikibase endpoint
    resolves undeclared wd:/wdt: to its own namespaces — explicit
    PREFIX declarations override).
    """
    # Prepared-statement memo: compiling a 30+-pattern query costs
    # ~1-3 s of parser + per-pattern Catalyst analysis, and the KG
    # frames are session-memoized objects — same (session, text, KG
    # identity, services, prefixes) always yields the same immutable
    # plan.  The memo value pins the KG/service frames so a recycled
    # id() can never alias a different frame.
    memo_key = (
        id(triples.sparkSession), text, id(triples),
        tuple(sorted((k, id(v)) for k, v in (services or {}).items())),
        auto_language, tuple(sorted((prefixes or {}).items())),
    )
    return memo_get(_COMPILE_MEMO, memo_key, lambda: (
        triples, services,
        _compile(text, triples, services, auto_language, prefixes)))[-1]


# (session id, text, KG id, service ids, language, prefixes) →
# (KG frame, services, plan).  memo_get's cap bounds how many KG frames
# the pins hold across sessions.
_COMPILE_MEMO: dict[tuple, tuple] = {}


def _compile(text: str, triples: DataFrame,
             services: dict[str, DataFrame] | None, auto_language: str,
             prefixes: dict[str, str] | None) -> DataFrame:
    """:func:`compile_sparql` without the memo."""
    q = parse(text, prefixes)
    c = _Compiler(triples, services, auto_language)
    if q.form == "describe":
        env = c._compile_group(q.where) if q.where.items else None
        return _describe_triples(env, q, triples)
    env = c._compile_group(q.where)
    if env is None:
        raise ValueError("query has no bindings")
    if q.form == "ask":
        # §16.3: one boolean row.  Lazy — limit(1) stops the scan at
        # the first solution, the agg over the (possibly empty) frame
        # yields exactly one row either way.
        out = (env.select(F.lit(1).alias("__x")).limit(1)
               .agg((F.count("__x") > 0).alias("ask")))
    elif q.form == "construct":
        # label-service vars used in the template attach exactly as
        # SELECT projections do — without this a ?xLabel template term
        # would silently drop its triple instead of joining the label
        for pat in q.template:
            for term in (pat.s, pat.path[0].pred, pat.o):
                if term[0] != "var" or term[1] in env.columns:
                    continue
                v = term[1]
                if v.endswith("AltLabel") and v[:-8] in env.columns:
                    env = c._attach_alt_label(env, v[:-8], v)
                elif v.endswith("Label") and v[:-5] in env.columns:
                    env = c._attach_label(env, v[:-5], v)
        out = _construct_triples(env, q)
    else:
        out = _project_query(c, env, q)
    return out


def _describe_triples(env: DataFrame | None, q: Query,
                      triples: DataFrame) -> DataFrame:
    """§16.4 DESCRIBE: the subject-expansion of the described resource
    set — constants become one pushed-down IN filter on the scan;
    variables become a left-semi join against the distinct bindings
    (broadcastable: a DESCRIBE's subject set is query-shaped, not
    corpus-shaped).  Output keeps the full triples schema."""
    consts = [t[1] for t in q.template if t[0] == "iri"]
    var_names = [t[1] for t in q.template if t[0] == "var"]
    out: DataFrame | None = None
    if consts:
        out = triples.filter(F.col("subject").isin(consts))
    if var_names:
        if env is None:
            raise ValueError("DESCRIBE variable with no bindings")
        missing = [v for v in var_names if v not in env.columns]
        if missing:
            raise NotImplementedError(
                f"DESCRIBE variable(s) {missing} are unbound in the "
                "WHERE pattern")
        subj = None
        for v in var_names:
            part = env.select(F.col(v).alias("subject"))
            subj = part if subj is None else subj.unionByName(part)
        semi = triples.join(F.broadcast(subj.distinct()),
                            "subject", "left_semi")
        out = semi if out is None else out.unionByName(semi)
    # the description is a GRAPH — distinct even when one resource is
    # described through both a constant and a variable
    return out.distinct()


def _construct_triples(env: DataFrame, q: Query) -> DataFrame:
    """§16.2 CONSTRUCT: instantiate the template against each solution
    and union the results into one (subject, predicate, object, lang)
    graph frame.  Solutions with an unbound template variable drop that
    template triple (the spec's partial-instantiation rule — the
    isNotNull filter); the output is a GRAPH, i.e. a distinct triple
    set.  One Union over per-template projections of the same solution
    frame — Spark shares the scan; the distinct is the only shuffle."""
    if q.limit is not None:
        env = env.limit(q.limit)

    def term_col(term: Term, kind: str):
        if term[0] == "var":
            if term[1].startswith("__bnode"):
                raise NotImplementedError(
                    "blank nodes in a CONSTRUCT template (fresh bnode "
                    "per solution) are not supported — use a BIND(IRI("
                    "CONCAT(...))) skolem IRI instead")
            if term[1] not in env.columns:
                return None  # never bound: whole template triple drops
            return F.col(term[1])
        # iri or literal constant
        return F.lit(term[1])

    parts = []
    for pat in q.template:
        s = term_col(pat.s, "s")
        p = term_col(pat.path[0].pred, "p")
        o = term_col(pat.o, "o")
        if s is None or p is None or o is None:
            continue
        lang = None
        if pat.o[0] == "lit" and pat.o[2]:
            lang = pat.o[2]
        elif pat.o[0] == "var" and _lang_col(pat.o[1]) in env.columns:
            lang = F.col(_lang_col(pat.o[1]))
        part = env.select(
            s.cast("string").alias("subject"),
            p.cast("string").alias("predicate"),
            o.cast("string").alias("object"),
            (F.lit(lang) if lang is None or isinstance(lang, str)
             else lang).cast("string").alias("lang"),
        ).filter(F.col("subject").isNotNull()
                 & F.col("predicate").isNotNull()
                 & F.col("object").isNotNull())
        parts.append(part)
    if not parts:
        spark = env.sparkSession
        return spark.createDataFrame(
            [], "subject string, predicate string, object string, "
                "lang string")
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    return out.distinct()


def _project_query(c: "_Compiler", env: DataFrame, q: Query) -> DataFrame:
    """SELECT-clause semantics shared by the top-level query and
    ``{ SELECT ... }`` subqueries: computed projections, aggregation
    (G12), label attach, projection, DISTINCT, ORDER BY, LIMIT."""
    def collect_aggs(node, acc):
        """All ("agg", ...) subnodes of an expression tree, in order."""
        if isinstance(node, tuple):
            if node and node[0] == "agg":
                if node not in acc:
                    acc.append(node)
            else:
                for x in node:
                    collect_aggs(x, acc)

    def subst_aggs(node, names):
        """Expression tree with agg subnodes replaced by ("aggref",
        column) so it can evaluate over the aggregated frame."""
        if isinstance(node, tuple):
            if node and node[0] == "agg":
                return ("aggref", names[node])
            return tuple(subst_aggs(x, names) for x in node)
        return node

    agg_nodes: list[tuple] = []
    for s in q.select:
        if isinstance(s, SelectExpr):
            collect_aggs(s.expr, agg_nodes)
    for h in q.having:
        collect_aggs(h, agg_nodes)

    def term_vars(node, acc):
        if isinstance(node, tuple):
            if node and node[0] == "term" and node[1][0] == "var":
                acc.append(node[1][1])
            else:
                for x in node:
                    term_vars(x, acc)

    # label-service vars consumed BY the grouping machinery — aggregate
    # arguments (the FactGrid `GROUP_CONCAT(DISTINCT ?authorLabel; ...)`
    # pattern), GROUP BY keys (`GROUP BY ?catLabel`), and HAVING
    # expressions: the projection-time attach below runs after the
    # groupBy, too late for any of these — attach before aggregation
    pre_group_vars: list[str] = []
    for nd in agg_nodes:
        if nd[3] is not None:
            term_vars(nd[3], pre_group_vars)
    pre_group_vars.extend(q.group_by)
    for h in q.having:
        term_vars(h, pre_group_vars)
    for s in q.select:
        # label-service vars referenced INSIDE computed projections
        # (SELECT (UCASE(?itemLabel) AS ?u)) need the same pre-attach
        # as bare select items — c._expr would otherwise raise on the
        # missing column (review batch)
        if isinstance(s, SelectExpr):
            term_vars(s.expr, pre_group_vars)
    for v in pre_group_vars:
        if v in env.columns:
            continue
        if v.endswith("AltLabel") and v[:-8] in env.columns:
            env = c._attach_alt_label(env, v[:-8], v)
        elif v.endswith("Label") and v[:-5] in env.columns:
            env = c._attach_label(env, v[:-5], v)
    # plain computed projections evaluate BEFORE any grouping (they may
    # be group keys); aggregate-bearing ones evaluate after the agg
    for s in q.select:
        if isinstance(s, SelectExpr):
            has_agg: list[tuple] = []
            collect_aggs(s.expr, has_agg)
            if not has_agg:
                env = env.withColumn(s.var, c._expr(s.expr, env))
    grouped = bool(agg_nodes or q.group_by)
    if q.having and not grouped:
        # same fail-loud policy as the unbound-GROUP-BY-var check: a
        # HAVING on an ungrouped query would otherwise be silently
        # dropped and return unfiltered rows
        raise NotImplementedError(
            "HAVING requires a grouped query (GROUP BY or aggregates)")
    if grouped:
        # hoist every distinct agg subnode into ONE groupBy.agg —
        # shared subaggregates (a COUNT used in both the projection and
        # HAVING) compute once
        agg_names = {nd: f"__agg{i}" for i, nd in enumerate(agg_nodes)}
        aggcols = [c._agg(nd, env).alias(nm) for nd, nm in agg_names.items()]
        missing = [k for k in q.group_by if k not in env.columns]
        if missing:
            # a typoed/unbound group var would silently degrade to a
            # coarser (or global) aggregation — fail instead
            raise NotImplementedError(
                f"GROUP BY variable(s) {missing} are unbound in the "
                "group pattern")
        keys = list(q.group_by)
        if aggcols:
            env = env.groupBy(*keys).agg(*aggcols) if keys else env.agg(*aggcols)
        else:
            # GROUP BY with no aggregates = grouping-as-distinct (the
            # SPARQL dedup idiom); .agg() with zero exprs would raise a
            # bare AssertionError from pyspark internals
            env = env.select(*keys).distinct()
        for h in q.having:
            env = env.filter(c._expr(subst_aggs(h, agg_names), env))
        for s in q.select:
            if isinstance(s, SelectExpr):
                has_agg = []
                collect_aggs(s.expr, has_agg)
                if has_agg:
                    env = env.withColumn(
                        s.var, c._expr(subst_aggs(s.expr, agg_names), env))
                else:
                    # a non-aggregate projection over GROUP BY keys
                    # (SELECT ?k (UCASE(?k) AS ?u) ... GROUP BY ?k) is
                    # legal SPARQL: compute it AFTER grouping, where
                    # the keys live (review fix — it was computed
                    # pre-group, dropped by the agg, then rejected by
                    # the projection loop's fail-loud)
                    env = env.withColumn(s.var, c._expr(s.expr, env))
        env = env.drop(*agg_names.values())
    select = [s.var if isinstance(s, SelectExpr) else s for s in q.select]
    if select == ["*"]:
        select = [col for col in env.columns
                  if not col.startswith(("__lang__", "__bnode"))]
    cols: list[Column] = []
    for v in select:
        # AltLabel must be tested before Label — "xAltLabel" ends with
        # "Label" too, but its base var is x, not xAlt
        if v.endswith("AltLabel") and v[:-8] in env.columns:
            env = c._attach_alt_label(env, v[:-8], v)
            cols.append(F.col(v))
        elif v.endswith("Label") and v[:-5] in env.columns:
            # base var bound → label service applies even when the label
            # var itself is already (partially) bound by an explicit
            # rdfs:label pattern in some UNION branch
            env = c._attach_label(env, v[:-5], v)
            cols.append(F.col(v))
        elif v in env.columns:
            cols.append(F.col(v))
        elif grouped:
            # SPARQL engines reject projecting a variable that is
            # neither a GROUP BY key nor an aggregate alias; the
            # unbound-NULL fallback below would return silently wrong
            # results for such a query
            raise NotImplementedError(
                f"cannot project ?{v}: not a GROUP BY key or aggregate "
                "alias")
        else:
            # unbound projection (SPARQL allows it), incl. Description
            # service vars we don't model (AltLabel IS modeled above)
            cols.append(F.lit(None).cast("string").alias(v))
    # ORDER BY may sort on a variable bound in WHERE but not projected
    # (§15.1; review fix — such keys were silently dropped like the
    # truly-unbound ones): carry it through the projection under its
    # own name, sort, then drop.  With DISTINCT the spec itself forbids
    # ordering by non-projected vars, so there is nothing to carry.
    sort_extras = []
    if q.order_by and not q.distinct:
        # a label-service sort key is bindable even when not projected
        # (ORDER BY ?itemLabel with only ?item selected) — attach it
        # before the in-env test silently drops it (review batch)
        for v, _ in q.order_by:
            if v not in env.columns:
                if v.endswith("AltLabel") and v[:-8] in env.columns:
                    env = c._attach_alt_label(env, v[:-8], v)
                elif v.endswith("Label") and v[:-5] in env.columns:
                    env = c._attach_label(env, v[:-5], v)
        sort_extras = list(dict.fromkeys(
            v for v, _ in q.order_by
            if v not in select and v in env.columns))
        cols += [F.col(v) for v in sort_extras]
    out = env.select(*cols)
    if q.distinct:
        out = out.distinct()
    if q.order_by:
        # A sort var that is bound NOWHERE (SPARQL allows it — the
        # reference's ORDER BY (?PropertyLabel) misspells a select var)
        # compares all-equal, so it is simply dropped.
        keys = [F.col(v).desc() if d else F.col(v)
                for v, d in q.order_by if v in out.columns]
        if keys:
            out = out.orderBy(*keys)
    if sort_extras:
        out = out.drop(*sort_extras)
    if q.offset is not None:
        # §15.4: OFFSET skips from the (ordered) solution sequence
        # BEFORE LIMIT takes — DataFrame.offset composes the same way
        out = out.offset(q.offset)
    if q.limit is not None:
        out = out.limit(q.limit)
    return out
