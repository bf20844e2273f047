"""SPARQL text front-end — parse the query strings the reference's
users actually write and compile them onto the BGP compiler.

The reference accepts raw SPARQL over HTTP (api/api.py:81-97 routes a
user-supplied query string into graph.py:194-244, which splices it into
a Virtuoso SELECT).  SparkHunter so far exposed the same power
programmatically (``h.match(patterns, optional=..., filters=...)``);
this module closes the last parity gap at the TEXT level: a reference
user can paste their query string unchanged (modulo the federation
seam, below) and get the same bindings from the Spark triple table.

Supported subset — exactly the shapes the reference emits/accepts
(graph.py:153-244, knowledge_graphs.py:16-151):

* ``PREFIX`` declarations (plus the reference's namespaces pre-seeded);
* ``SELECT [DISTINCT] ?a ?b | *  WHERE { ... }`` with ``ORDER BY``
  (``ASC``/``DESC``), ``LIMIT``, ``OFFSET``;
* ``ASK { ... }`` / ``DESCRIBE <node>`` /
  ``CONSTRUCT { template } WHERE { ... }`` — the WHERE clause takes
  the full solution algebra (UNION, OPTIONAL, negation, VALUES/BIND,
  SERVICE snapshots, subqueries); the template instantiates once over
  the combined binding rows, casting non-string bindings to their
  lexical form;
* triple blocks with ``;`` predicate lists, ``,`` object lists and the
  ``a`` = rdf:type keyword — the reference's house style
  (``?scene a video:Scene ; foaf:depicts ?e ; ...``);
* ``OPTIONAL { ... }`` groups (knowledge_graphs.py:103,123);
* ``GRAPH <iri> { ... }`` wrappers — collapsed additively into the
  enclosing group (the store is ONE graph; same rule as the UPDATE
  forms' GRAPH wrappers); ``GRAPH ?g { ... }`` likewise collapses and
  binds ``?g`` to the store's single graph URI in every solution
  (``execute(graph_uri=...)`` / ``SparkHunter(graph_uri=...)``) —
  the single-graph-dataset reading of the spec's graph-variable
  iteration; unconfigured stores raise;
* ``{ A } UNION { B }`` blocks — evaluated distributively
  (outer ⋈ (A ∪ B) = (outer ⋈ A) ∪ (outer ⋈ B) under bag semantics),
  with variables absent from a branch coming back NULL/unbound;
* property paths over the full SPARQL 1.1 path grammar — ``pred+`` /
  ``pred*`` / ``pred?`` closures (transitive closure via
  operators/graph.py path-doubling materialized as synthetic triples,
  then matched like any constant predicate; the zero-length component
  of ``*``/``?`` is the anchored constant's reflexive row, or —
  unanchored — one reflexive row per term in the graph, SPARQL 1.1
  §18.4's ZeroLengthPath over G's subjects and objects),
  ``^pred`` inverse (subject/object swap; ``^``
  distributes through groups and closures), ``p1/p2/...`` sequences
  (fresh join variables, hidden from SELECT * per the spec's
  no-intermediate-bindings rule, closure steps allowed mid-sequence),
  ``p1|p2|...`` alternatives (compiled to a UNION block),
  parenthesized groups ``(p1|p2)/p3`` (normalized to
  alternatives-of-sequences, distributing ``|`` over ``/``), and
  negated property sets ``!p`` / ``!(p1|^p2|...)`` (a hidden
  predicate variable plus a NOT IN filter; ^-members constrain
  REVERSED edges per §9.1's two-branch union, and ``^!(...)`` folds
  in by swapping the member lists) — all pure pattern rewrites — and
  composite-relation closures ``(a/b)+`` / ``(a|^b)*`` (the group's
  edge relation is materialized once as a union of slice
  compositions, then path-doubling-closed like a single predicate;
  negated sets may appear inside closed groups and take closure
  modifiers themselves — ``!(p|^q)+`` closes the set's one union
  relation; closure steps INSIDE a closed group (``(a/b+)+``,
  ``(a?/b)+``, ``((a/b)+/c)+``) ride as nested-closure atoms whose
  inner relation is closed first, with '*'/'?' steps expanded to
  presence/absence branches and an all-ε branch upgrading the outer
  '+' to '*');
* negation: ``FILTER [NOT] EXISTS { ... }`` (left-semi/left-anti hash
  join on the shared variables; a group sharing NO variable is
  constant over the outer solutions and evaluates as a LIMIT-1
  broadcast existence marker) and ``MINUS { ... }`` (left-anti; a
  group sharing no variable removes nothing, per spec); both accept
  group-local ``FILTER`` expressions (applied to the group's bindings
  BEFORE the semi/anti join), negated property sets, ``OPTIONAL``
  groups, ``UNION`` blocks, alternative paths, ``BIND`` / ``VALUES``,
  and nested ``[NOT] EXISTS`` / ``MINUS`` to any depth (the group
  evaluates through the same _group_bindings assembler as every
  sub-group; SERVICE / subqueries inside stay loud);
* ``VALUES ?x { ... }`` / ``VALUES (?x ?y) { (a b) ... }`` inline
  binding tables (broadcast inner join; UNDEF binds NULL and does not
  wildcard-match) and ``BIND (expr AS ?v)`` computed variables over
  the FILTER expression subset;
* non-aggregate SELECT expressions ``(expr AS ?x)`` over the FILTER
  builtin subset — SPARQL 1.1's projection-scope Extend, applied
  after aggregation so an expression may reference group keys or
  aggregate aliases — and ORDER BY expression sort keys
  (``DESC(STRLEN(?n))``, bare ``STRLEN(?n)``) alongside plain vars;
* aggregates ``(COUNT([DISTINCT] ?v | *) AS ?n)`` / MIN / MAX / SUM /
  AVG / SAMPLE / ``GROUP_CONCAT(?v; SEPARATOR="...")`` with
  ``GROUP BY`` and ``HAVING`` — one hash aggregation with map-side
  partial combine; SAMPLE evaluates as MIN and GROUP_CONCAT sorts its
  values so results stay deterministic at any partitioning (the spec
  leaves both unspecified); SUM/AVG try_cast the lexical form to
  DOUBLE, dropping unparseable values per SPARQL's
  ignore-errors-in-aggregation rule;
* ``FILTER ( expr )`` with ``&&  ||  !  = != < > <= >=``,
  ``IN``/``NOT IN`` lists, arithmetic ``+ - * /`` (try_cast to DOUBLE
  per side — a non-numeric lexical form yields NULL and the row
  drops, SPARQL's type-error semantics; comparing a variable against
  a bare NUMBER literal try_casts the variable side the same way),
  and the builtins ``BOUND``, ``REGEX(STR(?v), "pat"[, "i"])``,
  ``CONTAINS``, ``STRSTARTS``, ``STRENDS``, ``STR``, ``STRLEN``,
  ``UCASE``/``LCASE``, ``SUBSTR``, ``REPLACE`` (with the ``"i"``
  flag), ``CONCAT``, ``COALESCE``, ``STRBEFORE``/``STRAFTER``,
  ``IF``, ``ABS``/``CEIL``/``FLOOR``/``ROUND`` — all compiled to
  Spark SQL expressions over the bound variables (the reference's
  filter shape: graph.py:217 ``regex(str(?w), ...) &&
  (?sex = "male"@en) && ?date < "..."^^xsd:date``); the same
  expression subset powers ``BIND``, and a group FILTER referencing a
  BIND/subquery/SERVICE-bound variable evaluates after those clauses.

* subqueries ``{ SELECT ... WHERE { ... } }`` as a group element —
  evaluated bottom-up to a DataFrame of their projected variables
  (their own aggregates/DISTINCT/ORDER/LIMIT apply inside, per the
  SPARQL 1.1 evaluation order) and hash-joined onto the outer
  bindings on the shared variables; only the projected variables are
  visible outside, as the spec requires.  Group FILTERs referencing
  subquery-projected variables evaluate after the join (Catalyst
  still pushes main-side predicates below it).  An uncorrelated
  subquery is a cross product and needs ``allow_cartesian``.

Group elements compose broadly as of round 5: OPTIONAL groups carry
UNION / BIND / VALUES / alternative paths / nested OPTIONAL / nested
negation / subqueries (each such group assembles standalone and
left-joins as a unit — LeftJoin(P1, Group, F)); UNION branches carry
BIND / VALUES / nested negation / subqueries (complex branches
assemble standalone and join the variant's plain part; a subquery may
BE a whole branch); negation groups carry all of those plus deeper
negation; a LONE nested group ``{ { A } B }`` evaluates as
Join(Group(A), B) with A's FILTERs scoped to A.  The one deliberate
seam, raised loudly rather than silently mis-answered: ``SERVICE
<endpoint> { ... }`` naming an endpoint with no registered offline
snapshot (live federation — the offline analogue is a broadcast
attribute join, see query.get_videos_with_filters).  One scoping
approximation: an EXISTS nested inside a sub-group correlates on the
variables its group binds — an outer-group variable the sub-group
never binds does not correlate into the nested EXISTS (the spec's
per-solution substitution would); such vars read as uncorrelated.

Literal matching: the triple table stores a literal's LEXICAL form in
``obj`` (datatype/lang live in obj_datatype / obj_is_literal —
operators/triples.py), so ``"male"@en`` and ``"0:00:05"^^xsd:dateTime``
compare by their lexical text, and ``STR(?v)`` is the identity.  This
matches the reference's own store, which compares Virtuoso-side lexical
values the same way for its date/label filters.

Scale shape: the parser is driver-side string work on a query a human
typed; everything data-sized compiles to operators/bgp.py (pushed
constant filters, hash equi-joins most-constrained-first, LIMIT-1 ASK).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from . import bgp
from .shacl import RDF_TYPE

__all__ = ["parse", "execute", "ParsedQuery", "DEFAULT_PREFIXES", "Lit"]

# the reference's own PREFIX block (graph.py:226-230, example_graph
# header) plus the W3C core; user PREFIX declarations override.
DEFAULT_PREFIXES: dict[str, str] = {
    "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
    "xsd": "http://www.w3.org/2001/XMLSchema#",
    "owl": "http://www.w3.org/2002/07/owl#",
    "foaf": "http://xmlns.com/foaf/0.1/",
    "dc": "http://purl.org/dc/elements/1.1/",
    "video": "http://purl.org/ontology/video/",
    "mpeg7": "http://purl.org/ontology/mpeg7/",
    # no trailing separator — concatenation reproduces the reference's
    # 'temporal.owlhasStartTime' URIs (graph.py:26, quirk kept as-is)
    "temporal": "http://swrl.stanford.edu/ontologies/builtins/3.3/temporal.owl",
    "sdo": "https://schema.org/",
    "schema": "https://schema.org/",
    "hunter": "http://face-hunter.org/ontology/",
    "dbr": "http://dbpedia.org/resource/",
    "dbo": "http://dbpedia.org/ontology/",
}

_XSD = DEFAULT_PREFIXES["xsd"]

_TOKEN_RE = re.compile(
    r"""
      (?P<WS>\s+)
    | (?P<COMMENT>\#[^\n]*)
    | (?P<IRI><[^<>\s{}|^`\\]*>)
    | (?P<STRING>"{3}(?:[^"\\]|\\.|"(?!"{2}))*"{3}
        |'{3}(?:[^'\\]|\\.|'(?!'{2}))*'{3}
        |"(?:[^"\\]|\\.)*"
        |'(?:[^'\\]|\\.)*')
    | (?P<LANGTAG>@[A-Za-z][A-Za-z0-9-]*)
    | (?P<DTSEP>\^\^)
    | (?P<VAR>[?$][A-Za-z_][A-Za-z0-9_]*)
    | (?P<NUMBER>[+-]?(?:\d+\.\d*|\.\d+|\d+)(?:[eE][+-]?\d+)?)
    | (?P<PNAME>(?:[A-Za-z_][A-Za-z0-9_.-]*?)?:[A-Za-z0-9_#-]*)
    | (?P<NAME>[A-Za-z_][A-Za-z0-9_]*)
    | (?P<OP>&&|\|\||!=|<=|>=|[{}().;,=<>!*+\[\]/|^?])
    """,
    re.X,
)

_KEYWORDS = {
    "prefix", "select", "ask", "describe", "construct", "where",
    "distinct", "optional", "filter", "order", "by", "limit", "offset",
    "asc", "desc", "union", "service", "a",
}


class Lit(str):
    """A parsed literal term: joins/compares as its lexical form (str),
    but carries the is-literal flag + datatype/lang so (a) downstream
    consumers that materialize rows (the UPDATE path) keep the shape,
    and (b) a literal whose lexical form starts with '?' is never
    mistaken for a variable (bgp._is_var requires an exact str)."""

    datatype: str | None
    lang: str | None

    def __new__(cls, lex: str, datatype: str | None = None,
                lang: str | None = None):
        o = super().__new__(cls, lex)
        o.datatype = datatype
        o.lang = lang
        return o


@dataclass
class _Tok:
    kind: str
    text: str
    pos: int


def _tokenize(text: str) -> list[_Tok]:
    toks, i = [], 0
    while i < len(text):
        m = _TOKEN_RE.match(text, i)
        if not m:
            raise ValueError(
                f"SPARQL syntax error at offset {i}: {text[i:i+20]!r}"
            )
        kind = m.lastgroup
        if kind not in ("WS", "COMMENT"):
            txt = m.group()
            if kind == "STRING" and not (
                txt.startswith('"') and not txt.startswith('"""')
            ):
                txt = _canonical_string(txt)
            toks.append(_Tok(kind, txt, i))
        i = m.end()
    return toks


def _canonical_string(txt: str) -> str:
    """Rewrite any SPARQL string form ('...', '''...''', \"\"\"...\"\"\")
    to the canonical short double-quoted form every consumer slices
    with ``text[1:-1]``.  Only the QUOTE escaping is adjusted — other
    escape sequences (\\n, \\t, ...) pass through verbatim so the
    downstream ``_unescape`` sites keep their exact behavior; bare
    newlines inside long forms stay as literal characters."""
    if txt[:3] in ('"""', "'''"):
        inner, q = txt[3:-3], txt[0]
    else:
        inner, q = txt[1:-1], txt[0]
    out, i = [], 0
    while i < len(inner):
        c = inner[i]
        if c == "\\" and i + 1 < len(inner):
            nxt = inner[i + 1]
            if nxt == "'":
                out.append("'")  # \' only needs escaping in '-forms
            else:
                out.append(c)
                out.append(nxt)
            i += 2
        elif c == '"':
            out.append('\\"')  # bare " is legal in '- and long forms
            i += 1
        else:
            out.append(c)
            i += 1
    return '"' + "".join(out) + '"'


@dataclass
class ParsedQuery:
    """The compiled form handed to the BGP compiler."""

    form: str  # 'select' | 'ask' | 'describe' | 'construct'
    patterns: list = field(default_factory=list)
    optional: list = field(default_factory=list)  # list of pattern lists
    # per-OPTIONAL-group FILTER SQL lists, aligned with ``optional``:
    # SPARQL's LeftJoin(P1, P2, F) folds the filter into the left-join
    # CONDITION (a left row whose every extension fails F is kept
    # unextended), distinct from the group-level post-join filters
    optional_filters: list = field(default_factory=list)
    filters: list = field(default_factory=list)  # Spark SQL strings
    # each element is one UNION block: a list of >= 2 branches, each a
    # (patterns, optional, optional_filters, filters) 4-tuple
    unions: list = field(default_factory=list)
    # FILTER [NOT] EXISTS {...}: (positive:bool, patterns) — semi/anti
    # join on the shared variables
    exists_clauses: list = field(default_factory=list)
    # MINUS {...}: pattern lists; anti join on shared vars, no-op when
    # no variable is shared (per spec)
    minus_clauses: list = field(default_factory=list)
    # VALUES (?a ?b) { (x y) ... }: (vars, rows) inline binding tables,
    # joined onto the group's bindings (cross product if uncorrelated)
    values_clauses: list = field(default_factory=list)
    # trailing VALUES clause (§10.2.2): joins the WHOLE query's
    # solutions after grouping/HAVING and before projection (§18.2.4.3)
    post_values: list = field(default_factory=list)
    # BIND (expr AS ?v): (sql_expr, var) applied in document order
    # after all joins
    binds: list = field(default_factory=list)
    # EXISTS {...} used in expression position (inside a BIND):
    # (group ParsedQuery, hidden alias) — a left marker join computes
    # the alias as a boolean before the binds apply, and it drops
    # after (operators/sparql.py::_apply_solution_clauses)
    exists_binds: list = field(default_factory=list)
    # SERVICE <endpoint> {...}: (endpoint_iri, group ParsedQuery —
    # patterns, FILTERs, OPTIONAL groups, UNION blocks) — evaluated
    # against a REGISTERED OFFLINE SNAPSHOT of that endpoint's triples
    # (execute(services={iri: df}) / hunter.register_service_snapshot)
    # and inner-joined on the shared variables; unregistered endpoints
    # raise at execute (live federation stays out of scope)
    services: list = field(default_factory=list)
    # { SELECT ... WHERE {...} } subqueries: each a full ParsedQuery
    # evaluated bottom-up and joined on its projected variables
    subqueries: list = field(default_factory=list)
    # GRAPH ?g {...} wrapper variables: each binds to the store's
    # single graph URI at execute (graph_uri=) — the group's contents
    # collapse into the enclosing group exactly like GRAPH <iri>
    graph_vars: list = field(default_factory=list)
    select: list | None = None  # None = SELECT *
    # (sql_expr, alias) for each non-aggregate (expr AS ?x) in the
    # SELECT list — applied at projection time, after aggregation, so
    # an expression may reference group keys or aggregate aliases
    select_exprs: list = field(default_factory=list)
    # (func, arg_var|None, distinct, alias) for each (AGG(?v) AS ?a)
    # in the SELECT list; non-empty => grouped query
    aggregates: list = field(default_factory=list)
    group_by: list = field(default_factory=list)  # plain var names
    having: list = field(default_factory=list)  # SQL exprs
    distinct: bool = False
    template: list | None = None  # CONSTRUCT template triples
    describe_node: str | None = None
    order_by: list = field(default_factory=list)  # (var, ascending)
    limit: int | None = None
    offset: int | None = None


class _Parser:
    def __init__(self, text: str):
        self.toks = _tokenize(text)
        self.i = 0
        self.prefixes = dict(DEFAULT_PREFIXES)

    # --- token plumbing -------------------------------------------------
    def _peek(self) -> _Tok | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def _next(self) -> _Tok:
        t = self._peek()
        if t is None:
            raise ValueError("SPARQL syntax error: unexpected end of query")
        self.i += 1
        return t

    def _at_kw(self, *kws: str) -> bool:
        t = self._peek()
        return (
            t is not None and t.kind == "NAME" and t.text.lower() in kws
        )

    def _expect_kw(self, kw: str) -> None:
        if not self._at_kw(kw):
            t = self._peek()
            raise ValueError(
                f"SPARQL syntax error: expected {kw.upper()}, got "
                f"{t.text if t else 'end of query'!r}"
            )
        self._next()

    def _expect_op(self, op: str) -> None:
        t = self._peek()
        if t is None or t.kind != "OP" or t.text != op:
            raise ValueError(
                f"SPARQL syntax error: expected {op!r}, got "
                f"{t.text if t else 'end of query'!r}"
            )
        self._next()

    def _at_op(self, *ops: str) -> bool:
        t = self._peek()
        return t is not None and t.kind == "OP" and t.text in ops

    # --- prologue + query forms -----------------------------------------
    def _parse_prologue(self) -> None:
        while self._at_kw("prefix"):
            self._next()
            self._prefix_decl()

    def _prefix_decl(self) -> None:
        """``name: <iri>`` after a PREFIX (or Turtle ``@prefix``)."""
        pn = self._next()
        if pn.kind != "PNAME" or not pn.text.endswith(":"):
            raise ValueError(
                f"bad PREFIX declaration near {pn.text!r} "
                "(expected 'name:')"
            )
        iri = self._next()
        if iri.kind != "IRI":
            raise ValueError(
                f"bad PREFIX declaration: expected <iri>, got {iri.text!r}"
            )
        self.prefixes[pn.text[:-1]] = iri.text[1:-1]

    def parse(self) -> ParsedQuery:
        self._parse_prologue()
        if self._at_kw("select"):
            q = self._parse_select()
        elif self._at_kw("ask"):
            self._next()
            q = ParsedQuery(form="ask")
            self._parse_group(q)
        elif self._at_kw("describe"):
            self._next()
            q = ParsedQuery(form="describe")
            t = self._peek()
            if t is not None and t.kind == "VAR":
                # DESCRIBE ?v WHERE { ... }: describe every resource
                # ?v binds to in the group's solutions
                q.describe_node = "?" + self._next().text[1:]
                if self._at_kw("where"):
                    self._next()
                if not self._at_op("{"):
                    raise ValueError(
                        "DESCRIBE ?var needs a WHERE { ... } group to "
                        "bind the variable"
                    )
                self._parse_group(q)
            else:
                q.describe_node = self._term(allow_var=False)
        elif self._at_kw("construct"):
            q = self._parse_construct()
        else:
            t = self._peek()
            raise ValueError(
                "query must start with SELECT/ASK/DESCRIBE/CONSTRUCT "
                f"(after any PREFIX block); got {t.text if t else 'nothing'!r}"
            )
        if self._at_kw("values"):
            # trailing VALUES clause (§10.2.2): joins the whole
            # query's solutions after grouping/HAVING, before
            # projection (§18.2.4.3)
            self._next()
            q.post_values.append(self._parse_values())
        t = self._peek()
        if t is not None:
            raise ValueError(
                f"trailing content after query at offset {t.pos}: {t.text!r}"
            )
        _check_optional_exists_scope(q)
        return q

    def _parse_select(self) -> ParsedQuery:
        self._next()  # SELECT
        q = ParsedQuery(form="select")
        if self._at_kw("distinct"):
            self._next()
            q.distinct = True
        elif self._at_kw("reduced"):
            # REDUCED permits eliminating any subset of duplicates
            # (§9.3.2); eliminating ALL of them is a conforming — and
            # the only deterministic — implementation, so it shares
            # the DISTINCT path
            self._next()
            q.distinct = True
        if self._at_op("*"):
            self._next()
            q.select = None
        else:
            names = []
            while True:
                t = self._peek()
                if t is not None and t.kind == "VAR":
                    names.append(self._next().text[1:])
                elif t is not None and t.kind == "OP" and t.text == "(":
                    # '( AGG(...) AS ?a )' when the head is an
                    # aggregate function, else a non-aggregate SELECT
                    # expression '( expr AS ?a )' (SPARQL 1.1 §18.2.4
                    # Extend at projection scope)
                    nxt = (
                        self.toks[self.i + 1]
                        if self.i + 1 < len(self.toks)
                        else None
                    )
                    if (
                        nxt is not None
                        and nxt.kind == "NAME"
                        and nxt.text.lower() in self._AGG_FUNCS
                    ):
                        names.append(self._parse_select_agg(q))
                    else:
                        self._expect_op("(")
                        # EXISTS {...} in a SELECT expression registers
                        # a marker like BIND's (computed in the
                        # solution clauses, dropped after projection)
                        prev_sink = self._exists_sink
                        self._exists_sink = q
                        try:
                            expr = self._filter_expr()
                        finally:
                            self._exists_sink = prev_sink
                        self._expect_kw("as")
                        v = self._next()
                        if v.kind != "VAR":
                            raise ValueError(
                                "SELECT expression needs '... AS ?var'"
                            )
                        self._expect_op(")")
                        q.select_exprs.append((expr, v.text[1:]))
                        names.append(v.text[1:])
                else:
                    break
            if not names:
                raise ValueError("SELECT needs ?vars or *")
            q.select = names
        if self._at_kw("where"):
            self._next()
        self._parse_group(q)
        self._parse_modifiers(q)
        if self._at_kw("values"):
            # trailing VALUES clause (§10.2.2): SelectQuery AND
            # SubSelect both end "SolutionModifier ValuesClause", so
            # it parses here — a subquery's table joins that
            # subquery's solutions before its projection
            self._next()
            q.post_values.append(self._parse_values())
        if q.aggregates:
            if q.select is None:
                raise ValueError(
                    "SELECT * cannot combine with aggregation — name "
                    "the group keys and aggregates explicitly"
                )
            computed = {a[3] for a in q.aggregates} | {
                a for _, a in q.select_exprs
            }
            plain = [v for v in q.select if v not in computed]
            bad = [v for v in plain if v not in q.group_by]
            if bad:
                raise ValueError(
                    f"non-aggregate SELECT vars must be in GROUP BY: "
                    f"{bad}"
                )
        elif q.group_by or q.having:
            raise ValueError(
                "GROUP BY / HAVING need at least one aggregate in the "
                "SELECT list"
            )
        return q

    _AGG_FUNCS = {
        "count", "min", "max", "sample", "sum", "avg", "group_concat",
    }

    def _parse_select_agg(self, q: ParsedQuery) -> str:
        """'( AGG([DISTINCT] ?v | *) AS ?alias )' -> alias; records the
        aggregate on q as (func, arg, distinct, alias, extra) where
        extra is GROUP_CONCAT's separator (None otherwise).  The
        GROUP_CONCAT tail accepts the standard '; SEPARATOR="..."'."""
        self._expect_op("(")
        fn = self._next()
        if fn.kind != "NAME" or fn.text.lower() not in self._AGG_FUNCS:
            raise NotImplementedError(
                f"aggregate {fn.text!r} is not in the supported subset "
                "(COUNT, MIN, MAX, SUM, AVG, SAMPLE, GROUP_CONCAT)"
            )
        func = fn.text.lower()
        self._expect_op("(")
        distinct = False
        if self._at_kw("distinct"):
            self._next()
            distinct = True
        arg = None
        if self._at_op("*"):
            if func != "count":
                raise ValueError(f"{func.upper()}(*) is not valid SPARQL")
            self._next()
        else:
            # full expression arguments: SUM(?a * ?b),
            # COUNT(DISTINCT strbefore(?x, "#")) etc. — a bare ?var
            # parses to its plain name, an expression to its compiled
            # SQL (evaluated via F.expr at aggregation)
            arg = self._value_expr()
        extra = None
        if func == "group_concat":
            extra = " "  # the SPARQL spec's default separator
            if self._at_op(";"):
                self._next()
                sep_kw = self._next()
                if (
                    sep_kw.kind != "NAME"
                    or sep_kw.text.lower() != "separator"
                ):
                    raise ValueError(
                        "GROUP_CONCAT modifier must be SEPARATOR=\"...\""
                    )
                self._expect_op("=")
                s = self._next()
                if s.kind != "STRING":
                    raise ValueError("SEPARATOR needs a string")
                extra = _unescape(s.text[1:-1])
        self._expect_op(")")
        self._expect_kw("as")
        alias = self._next()
        if alias.kind != "VAR":
            raise ValueError("aggregate needs '... AS ?alias'")
        self._expect_op(")")
        q.aggregates.append((func, arg, distinct, alias.text[1:], extra))
        return alias.text[1:]

    def _parse_construct(self) -> ParsedQuery:
        self._next()  # CONSTRUCT
        q = ParsedQuery(form="construct")
        if self._at_kw("where"):
            # CONSTRUCT WHERE { BGP } short form (SPARQL 1.1 §10.2.3):
            # the pattern doubles as the template, so only plain triple
            # patterns are allowed — no FILTER/OPTIONAL/paths
            self._next()
            self._parse_group(q)
            if (
                q.optional or q.filters or q.unions or q.minus_clauses
                or q.exists_clauses or q.values_clauses or q.binds
                or q.services or q.subqueries or q.graph_vars
                or any(
                    isinstance(x, tuple) for tpl in q.patterns for x in tpl
                )
            ):
                raise ValueError(
                    "CONSTRUCT WHERE {...} allows only plain triple "
                    "patterns — use the explicit template form for "
                    "anything else"
                )
            q.template = [list(p) for p in q.patterns]
            return q
        tq = ParsedQuery(form="template")
        self._parse_group(tq, template_mode=True)
        for tpl in tq.patterns:
            if any(isinstance(x, tuple) for x in tpl):
                raise ValueError(
                    "property-path modifiers are not allowed in a "
                    "CONSTRUCT template"
                )
        q.template = tq.patterns
        self._expect_kw("where")
        self._parse_group(q)
        return q

    def _parse_modifiers(self, q: ParsedQuery) -> None:
        if self._at_kw("group"):
            self._next()
            self._expect_kw("by")
            while self._peek() is not None and self._peek().kind == "VAR":
                q.group_by.append(self._next().text[1:])
            if not q.group_by:
                raise ValueError("GROUP BY needs at least one ?var")
        if self._at_kw("having"):
            self._next()
            # aggregate calls inside the HAVING expression (the spec's
            # usual form: HAVING (COUNT(?s) > 1)) resolve through
            # _function -> _having_aggregate while this sink is set
            self._agg_sink = q
            try:
                while self._at_op("("):
                    self._next()
                    q.having.append(self._filter_expr())
                    self._expect_op(")")
            finally:
                self._agg_sink = None
            if not q.having:
                raise ValueError("HAVING needs (expr)")
        if self._at_kw("order"):
            self._next()
            self._expect_kw("by")
            saw = False
            # aggregate calls in sort keys (ORDER BY DESC(COUNT(?s)))
            # resolve like HAVING's: hidden aggregates ride along and
            # drop after the sort (see the execute() tail)
            self._agg_sink = q
            while True:
                asc = True
                t = self._peek()
                if self._at_kw("asc", "desc"):
                    # ASC(?v) / DESC(expr): the parenthesized sort key
                    # is any FILTER-subset expression, a bare ?var
                    # being the common case
                    asc = self._next().text.lower() == "asc"
                    self._expect_op("(")
                    q.order_by.append((self._filter_expr(), asc))
                    self._expect_op(")")
                    saw = True
                elif t is not None and t.kind == "VAR":
                    q.order_by.append((self._next().text[1:], True))
                    saw = True
                elif (
                    t is not None
                    and t.kind == "NAME"
                    and t.text.lower() != "values"
                    and self.i + 1 < len(self.toks)
                    and self.toks[self.i + 1].kind == "OP"
                    and self.toks[self.i + 1].text == "("
                ):
                    # bare expression sort condition: ORDER BY
                    # STRLEN(?n) — ascending per the spec's default.
                    # 'values' is excluded: a tuple-form trailing
                    # VALUES clause ("VALUES (?a ?b) { ... }") follows
                    # the modifiers and is never a sort function
                    q.order_by.append((self._filter_expr(), True))
                    saw = True
                else:
                    break
            self._agg_sink = None
            if not saw:
                raise ValueError("ORDER BY needs at least one ?var")
        for kw in ("limit", "offset"):
            if self._at_kw(kw):
                self._next()
                n = self._next()
                if n.kind != "NUMBER" or any(c in n.text for c in ".eE"):
                    raise ValueError(f"{kw.upper()} needs an integer")
                setattr(q, kw, int(n.text))

    # --- group / triple blocks ------------------------------------------
    def _parse_group(self, q: ParsedQuery, template_mode: bool = False):
        self._expect_op("{")
        while not self._at_op("}"):
            if self._peek() is None:
                raise ValueError("SPARQL syntax error: unclosed '{'")
            if not template_mode and self._at_kw("optional"):
                self._next()
                sub = ParsedQuery(form="optional")
                self._parse_group(sub)
                has_alt = any(
                    isinstance(p, tuple)
                    and p[0] in ("__alt__", "__altseq__")
                    for _s, p, _o in sub.patterns
                )
                # EXISTS inside the group's FILTER expression: the
                # filter is the LeftJoin condition, so the hidden
                # marker columns compute on the GROUP's bindings frame
                # (_group_bindings keeps unconsumed markers), the
                # folded join condition references them, and
                # graph_pattern drops them after the join.  Scope
                # guard: _check_optional_exists_scope (post-parse)
                # refuses markers correlated on left-only variables.
                if (
                    sub.unions
                    or sub.optional
                    or sub.values_clauses
                    or sub.binds
                    or sub.exists_binds
                    or sub.exists_clauses
                    or sub.minus_clauses
                    or sub.subqueries
                    or sub.services
                    or sub.graph_vars
                    or has_alt
                ):
                    # a COMPLEX optional group (UNION / nested
                    # OPTIONAL / VALUES / BIND / nested negation
                    # inside OPTIONAL): LeftJoin(P1, Group, F).  The
                    # whole sub-GROUP becomes the optional entry — its
                    # bindings assemble through _group_bindings at
                    # evaluation time (BGP + its own left-joins,
                    # negations, VALUES, BINDs) and left-join as a
                    # unit.  The group-level FILTERs are the LeftJoin
                    # condition F (they may reference outer vars and a
                    # failing F keeps the left row), so they move to
                    # the aligned optional_filters slot, NOT inside
                    # the group.
                    q.optional_filters.append(sub.filters)
                    sub.filters = []
                    q.optional.append(sub)
                else:
                    q.optional.append(sub.patterns)
                    q.optional_filters.append(sub.filters)
                continue
            if not template_mode and self._at_kw("filter"):
                self._next()
                if self._at_kw("not", "exists"):
                    positive = True
                    if self._at_kw("not"):
                        self._next()
                        positive = False
                    self._expect_kw("exists")
                    q.exists_clauses.append(
                        (positive, self._parse_negation_group("EXISTS"))
                    )
                else:
                    self._expect_op("(")
                    # EXISTS {...} inside a parenthesized FILTER
                    # expression (FILTER(?x = 1 || EXISTS {...}))
                    # registers a marker on THIS group — scoping to q
                    # (not any enclosing BIND's sink) keeps nested
                    # groups' registrations on the right query
                    prev_sink = self._exists_sink
                    self._exists_sink = q
                    try:
                        q.filters.append(self._filter_expr())
                    finally:
                        self._exists_sink = prev_sink
                    self._expect_op(")")
                # a '.' after FILTER(...) is legal separator noise
                if self._at_op("."):
                    self._next()
                continue
            if not template_mode and self._at_kw("minus"):
                self._next()
                q.minus_clauses.append(self._parse_negation_group("MINUS"))
                continue
            if not template_mode and self._at_kw("values"):
                self._next()
                q.values_clauses.append(self._parse_values())
                continue
            if not template_mode and self._at_kw("bind"):
                self._next()
                self._expect_op("(")
                # EXISTS {...} in the expression resolves through
                # _operand -> the marker-join list while this sink is
                # set; SAVE/RESTORE (not clear) so a BIND inside the
                # EXISTS group scopes to ITS group and the outer
                # registration still lands after it closes
                prev_sink = self._exists_sink
                self._exists_sink = q
                try:
                    expr = self._filter_expr()
                finally:
                    self._exists_sink = prev_sink
                self._expect_kw("as")
                v = self._next()
                if v.kind != "VAR":
                    raise ValueError("BIND needs '... AS ?var'")
                self._expect_op(")")
                q.binds.append((expr, v.text[1:]))
                if self._at_op("."):
                    self._next()
                continue
            if not template_mode and self._at_kw("service"):
                self._next()
                if self._at_kw("silent"):
                    self._next()
                t = self._next()
                if t is None or t.kind != "IRI":
                    raise ValueError("SERVICE needs an <endpoint-iri>")
                endpoint = t.text[1:-1]
                sub = ParsedQuery(form="service")
                self._parse_group(sub)
                if sub.graph_vars:
                    raise NotImplementedError(
                        "GRAPH ?var inside a SERVICE{} group would "
                        "name the REMOTE dataset's graphs — the "
                        "single-graph collapse only applies to the "
                        "local store; use a constant GRAPH <iri> "
                        "wrapper or drop it"
                    )
                if not (
                    sub.patterns
                    or sub.unions
                    or sub.subqueries
                    or sub.services
                ):
                    raise ValueError(
                        "empty SERVICE group (needs at least one "
                        "triple pattern, UNION, subquery or nested "
                        "SERVICE)"
                    )
                q.services.append((endpoint, sub))
                if self._at_op("."):
                    self._next()
                continue
            if not template_mode and self._at_kw("graph"):
                # GRAPH <iri> { ... }: the store is ONE graph, so the
                # wrapper collapses additively — same rule as the
                # UPDATE forms' GRAPH wrappers (sparql_update.py) —
                # and the group's contents parse straight into the
                # enclosing group.  GRAPH ?g { ... } collapses the
                # same way and records ?g for execute() to bind to
                # the store's configured single graph URI (the only
                # graph the dataset's graph-variable iteration can
                # visit).
                self._next()
                t = self._next()
                if t.kind == "PNAME":
                    self._expand_pname(t)
                elif t.kind == "VAR":
                    q.graph_vars.append(t.text[1:])
                elif t.kind != "IRI":
                    raise ValueError(
                        "GRAPH needs an <iri>, a prefixed name or a "
                        "?variable"
                    )
                self._parse_group(q)
                if self._at_op("."):
                    self._next()
                continue
            if self._at_op("{"):
                if template_mode:
                    raise ValueError(
                        "nested groups are not allowed in a CONSTRUCT "
                        "template"
                    )
                nxt = (
                    self.toks[self.i + 1]
                    if self.i + 1 < len(self.toks)
                    else None
                )
                if (
                    nxt is not None
                    and nxt.kind == "NAME"
                    and nxt.text.lower() == "select"
                ):
                    # { SELECT ... } subquery: parse the full inner
                    # query (its own WHERE, aggregates and solution
                    # modifiers) and record it for bottom-up evaluation
                    self._next()  # '{'
                    sub = self._parse_select()
                    self._expect_op("}")
                    if self._at_kw("union"):
                        # { SELECT ... } UNION { ... }: the subquery
                        # is a whole UNION branch — wrap it as a
                        # complex sub-group branch (its bindings
                        # assemble bottom-up like any subquery, then
                        # union with the other branches)
                        branches = [(
                            "__q__",
                            ParsedQuery(
                                form="union-branch", subqueries=[sub]
                            ),
                        )]
                        while self._at_kw("union"):
                            self._next()
                            branches.extend(self._parse_union_branch())
                        q.unions.append(branches)
                        continue
                    q.subqueries.append(sub)
                    if self._at_op("."):
                        self._next()
                    continue
                branches = list(self._parse_union_branch())
                n_groups = 1
                while self._at_kw("union"):
                    self._next()
                    branches.extend(self._parse_union_branch())
                    n_groups += 1
                if n_groups < 2 and len(branches) < 2:
                    # a LONE nested group: Join(outer, Group(A)) with
                    # A's FILTERs scoped to A's own bindings (SPARQL
                    # group scoping — a filter inside the braces never
                    # sees outer-group bindings).  A 1-branch "union"
                    # block of a complex sub-group gives exactly that:
                    # the group assembles standalone through
                    # _group_bindings (its filters applying to its own
                    # variants) and inner-joins the enclosing group on
                    # the shared variables.
                    b = branches[0]
                    if b[0] != "__q__":
                        b = (
                            "__q__",
                            ParsedQuery(
                                form="union-branch",
                                patterns=b[0],
                                optional=b[1],
                                optional_filters=b[2],
                                filters=b[3],
                            ),
                        )
                    q.unions.append([b])
                    continue
                q.unions.append(branches)
                continue
            if self._at_kw("union"):
                raise ValueError(
                    "UNION must follow a '{...}' group"
                )
            self._triples_block(q)
        self._expect_op("}")

    def _parse_union_branch(self):
        """One '{...}' branch of a UNION block -> a LIST of
        (patterns, optional, optional_filters, filters) tuples —
        usually one.  A branch that is ITSELF a pure UNION block
        splices its branches into the parent (UNION is associative:
        { {A} UNION {B} } UNION {C} = A ∪ B ∪ C).  A branch that
        JOINS patterns/OPTIONAL/FILTER with nested UNION block(s)
        distributes at parse time — under SPARQL bag semantics
        σ_f(A ⋈ (B ∪ C)) = σ_f(A ⋈ B) ∪ σ_f(A ⋈ C), and multiple
        nested unions take the cross product of branch choices (the
        same expansion ``_variants`` applies at the top level) — so
        every flattened tuple evaluates as one plain BGP."""
        sub = ParsedQuery(form="union-branch")
        self._parse_group(sub)
        has_alt = any(
            isinstance(p, tuple) and p[0] in ("__alt__", "__altseq__")
            for _s, p, _o in sub.patterns
        )
        if (
            sub.binds or sub.exists_binds or sub.values_clauses
            or sub.exists_clauses or sub.minus_clauses
            or sub.subqueries or sub.services or sub.graph_vars
            or has_alt
        ):
            # a branch carrying BIND/VALUES/EXISTS/MINUS/subqueries
            # is a COMPLEX branch: it evaluates as its own sub-group
            # (BGP + subquery joins + nested negation joins + VALUES
            # join + BINDs via _group_bindings) and joins the
            # variant's plain part on the shared variables in
            # _bindings
            return [("__q__", sub)]
        if sub.unions:
            if not (
                sub.patterns or sub.optional or sub.filters
                or len(sub.unions) > 1
            ):
                return sub.unions[0]
            if any(
                b[0] == "__q__" for blk in sub.unions for b in blk
            ):
                # a nested complex branch cannot distribute by tuple
                # concatenation — keep the whole branch as one unit
                return [("__q__", sub)]
            from itertools import product

            out = []
            for combo in product(*sub.unions):
                pats, opts, optfs, filts = (
                    list(sub.patterns), list(sub.optional),
                    list(sub.optional_filters), list(sub.filters),
                )
                for p, o, of, f in combo:
                    pats += p
                    opts += o
                    optfs += of
                    filts += f
                out.append((pats, opts, optfs, filts))
            return out
        return [(sub.patterns, sub.optional, sub.optional_filters,
                 sub.filters)]

    def _parse_values(self):
        """VALUES ?x { ... } or VALUES (?x ?y) { (a b) ... } ->
        (var names, row tuples).  UNDEF parses to None; an UNDEF cell
        in a column shared with the solutions wildcard-matches per
        §10.2.2 (_join_values switches to a condition join), while a
        bound cell against a NULL (unbound) solution column does NOT
        match — the engine's uniform NULL-join convention across
        group joins."""
        if self._peek() is not None and self._peek().kind == "VAR":
            vars_ = [self._next().text[1:]]
            single = True
        else:
            self._expect_op("(")
            vars_ = []
            while self._peek() is not None and self._peek().kind == "VAR":
                vars_.append(self._next().text[1:])
            self._expect_op(")")
            single = False
        if not vars_:
            raise ValueError("VALUES needs at least one ?var")
        self._expect_op("{")
        rows = []
        while not self._at_op("}"):
            if self._peek() is None:
                raise ValueError("unclosed VALUES block")
            if single:
                rows.append((self._values_term(),))
            else:
                self._expect_op("(")
                rows.append(
                    tuple(self._values_term() for _ in vars_)
                )
                self._expect_op(")")
        self._next()  # '}'
        if not rows:
            raise ValueError("VALUES block is empty")
        return (vars_, rows)

    def _values_term(self):
        t = self._peek()
        if t is not None and t.kind == "NAME" and t.text.lower() == "undef":
            self._next()
            return None
        return self._term(allow_var=False)

    def _parse_negation_group(self, kw: str):
        """The pattern group of FILTER [NOT] EXISTS / MINUS -> a
        ParsedQuery holding the group's patterns, group-local FILTERs
        (applied to the group's bindings BEFORE the semi/anti join —
        they may reference outer variables the group shares, which
        resolve against the group's own binding columns), plus
        OPTIONAL groups, UNION blocks, VALUES tables, BINDs and nested
        [NOT] EXISTS / MINUS groups (the group evaluates through the
        same _group_bindings assembler as every other sub-group: BGP,
        then its own subquery and SERVICE-snapshot joins, then its
        negation semi/anti joins — recursively, to any depth — then
        its VALUES join and BINDs, all before the outer semi/anti
        join).  GRAPH ?var inside binds the store's single graph URI
        like every other group (``_inject_graph_binds`` recurses).
        One loud seam remains: a group FILTER referencing a group
        BIND target (filters apply at assembly, before the bind —
        Spark raises an unresolved column)."""
        sub = ParsedQuery(form="negation")
        self._parse_group(sub)
        if not (
            sub.patterns or sub.unions or sub.subqueries or sub.services
        ):
            raise ValueError(f"{kw} group is empty")
        return sub

    def _triples_block(self, q: ParsedQuery) -> None:
        subj = self._term()
        while True:
            pred = self._term(pred_pos=True)
            while True:
                obj = self._term()
                q.patterns.append((subj, pred, obj))
                if self._at_op(","):
                    self._next()
                    continue
                break
            if self._at_op(";"):
                self._next()
                # dangling ';' before '.' or '}' is legal
                if not self._at_op(".", "}"):
                    continue
            break
        if self._at_op("."):
            self._next()

    def _path_iri(self, t: "_Tok") -> str:
        if t.kind == "IRI":
            return t.text[1:-1]
        if t.kind == "PNAME":
            return self._expand_pname(t)
        if t.kind == "NAME" and t.text == "a":
            return RDF_TYPE
        raise ValueError(
            f"property path needs an IRI at offset {t.pos}: "
            f"unexpected {t.text!r}"
        )

    def _path_alt(self, t: "_Tok | None" = None) -> list:
        """Path -> disjunctive normal form: a list of SEQUENCES, each
        a list of atomic steps ('step', uri, inv, mod) or
        ('negset', (uris...)).  '|' concatenates alternatives; '/'
        cross-concatenates them (distributing '|' over '/')."""
        dnf = self._path_seq(t)
        while self._at_op("|"):
            self._next()
            dnf = dnf + self._path_seq()
        return dnf

    def _path_seq(self, t: "_Tok | None" = None) -> list:
        dnf = self._path_elt(t)
        while self._at_op("/"):
            self._next()
            rhs = self._path_elt()
            dnf = [a + b for a in dnf for b in rhs]
        return dnf

    def _path_elt(self, t: "_Tok | None" = None) -> list:
        """One path element (['^'] primary [mod]) -> its DNF."""
        if t is None:
            t = self._next()
        inv = False
        if t.kind == "OP" and t.text == "^":
            inv = True
            t = self._next()
        if t.kind == "OP" and t.text == "!":
            # negated property set: !iri / !^iri / !(iri|^iri|...) —
            # the spec's two-branch union: forward members constrain
            # forward edges, ^-members constrain reversed edges, each
            # branch a DNF alternative (§9.1 NegatedPropertySet)
            fwd, rev = self._parse_negset()
            if inv:
                # ^!(p|^q) == !(q|^p): inverting the set swaps which
                # member list constrains which edge direction
                fwd, rev = rev, fwd
            if self._at_op("+", "*", "?"):
                # closed NPS: the set's relation (the union of both
                # branches — closure of a union is NOT the union of
                # closures) becomes one composite-closure atom
                mod = self._next().text
                atom = ("!", tuple(fwd), tuple(rev))
                return [[("cstep", ((atom,),), mod)]]
            branches = []
            if fwd or not rev:
                branches.append([("negset", tuple(fwd))])
            if rev:
                branches.append([("invnegset", tuple(rev))])
            return branches
        if t.kind == "OP" and t.text == "(":
            inner = self._path_alt()
            self._expect_op(")")
            if self._at_op("+", "*", "?"):
                mod = self._next().text
                if (
                    len(inner) == 1
                    and len(inner[0]) == 1
                    and inner[0][0][0] == "step"
                    and inner[0][0][3] is None
                ):
                    _, uri, ginv, _ = inner[0][0]
                    return [[("step", uri, ginv != inv, mod)]]
                atoms_ = [
                    [_closure_atom(k) for k in s] for s in inner
                ]
                if all(a is not None for s in atoms_ for a in s):
                    # composite-relation closure, e.g. (a/b)+, (a|^b)*
                    # or (a/!b)+ : the group's relation is a union of
                    # step/NPS compositions; the materializer builds
                    # that edge set once and closes it.  '^(...)'
                    # folds in here — (R+)^-1 == (R^-1)+, so invert
                    # every branch instead of carrying a marker.
                    spec = tuple(tuple(s) for s in atoms_)
                    if inv:
                        spec = tuple(
                            tuple(
                                _invert_catom(a) for a in reversed(br)
                            )
                            for br in spec
                        )
                    return [[("cstep", spec, mod)]]
                # the group itself contains closure steps ((a/b+)+,
                # ((a/b)+/c)*, (a?/b)+ ...): expand each '*'/'?' step
                # into presence/absence alternatives (b* = b+ | ε,
                # b? = b | ε) and wrap '+' steps as NESTED-closure
                # atoms the materializer closes recursively.  A combo
                # where every step chose ε is the zero-length path:
                # it upgrades the outer '+' to '*' (R ∪ I closed =
                # reflexive-transitive) and is already covered by the
                # anchored zero row for outer '*'/'?'.
                expanded = _expand_closed_group(inner)
                if expanded is None:
                    raise NotImplementedError(
                        "'+'/'*'/'?' on a grouped path containing a "
                        "step outside the atomizable subset is not "
                        "supported; materialize the group as its own "
                        "predicate and close that"
                    )
                spec, has_empty = expanded
                if inv:
                    spec = tuple(
                        tuple(_invert_catom(a) for a in reversed(br))
                        for br in spec
                    )
                if has_empty and mod == "+":
                    mod = "*"
                return [[("cstep", spec, mod)]]
            if inv:
                inner = [_invert_path_seq(s) for s in inner]
            return inner
        uri = self._path_iri(t)
        mod = None
        if self._at_op("+", "*", "?"):
            mod = self._next().text
        return [[("step", uri, inv, mod)]]

    def _parse_negset(self):
        """``!iri`` / ``!^iri`` / ``!(iri|^iri|...)`` ->
        (forward_uris, inverse_uris).  Per SPARQL 1.1 §9.1 the set's
        plain members constrain FORWARD edges and its ^-members
        constrain REVERSED edges; a mixed set is the union of the two
        branches (the caller spawns one DNF alternative each)."""
        # caller has already consumed the '!'
        if self._at_op("("):
            self._next()
            fwd, rev = [], []
            while True:
                nt = self._next()
                if nt.kind == "OP" and nt.text == "^":
                    rev.append(self._path_iri(self._next()))
                else:
                    fwd.append(self._path_iri(nt))
                if self._at_op("|"):
                    self._next()
                    continue
                self._expect_op(")")
                return fwd, rev
        nt = self._next()
        if nt.kind == "OP" and nt.text == "^":
            return [], [self._path_iri(self._next())]
        return [self._path_iri(nt)], []

    def _path_expr(self, t: "_Tok"):
        """Predicate-position path expression: the SPARQL 1.1 path
        grammar with '^' inverse, '/' sequence, '|' alternative,
        '(...)' grouping and '!' negated property sets, normalized to
        alternatives-of-sequences (DNF) and mapped onto the pattern
        rewrites execute() already evaluates — fresh join variables
        for sequences, a UNION block for alternatives, synthetic
        closure triples for '+'/'*'/'?' steps, a not-in predicate
        filter for negated sets (inverse members spawn the spec's
        reversed-edge branch as a DNF alternative; a CLOSED negated
        set — '!(...)+' or one inside a closed group — becomes a
        composite-closure atom over the set's union relation, and a
        closure step inside a closed group becomes a NESTED-closure
        atom whose inner relation is closed before the outer
        closure)."""
        dnf = self._path_alt(t)
        if len(dnf) == 1:
            seq = dnf[0]
            if len(seq) == 1:
                k = seq[0]
                if k[0] == "negset":
                    return ("__seq__", [("__negset__", k[1])])
                if k[0] == "invnegset":
                    return ("__seq__", [("__invnegset__", k[1])])
                if k[0] == "cstep":
                    return ("__cpath__", k[1], k[2])
                _, uri, inv, mod = k
                if inv and mod:
                    # ^p+ between the pattern's own ends: emit as a
                    # 1-step sequence; the rewriter swaps the ends
                    return ("__seq__", [("__invpath__", uri, mod)])
                if mod:
                    return ("__path__", uri, mod)
                if inv:
                    return ("__inv__", uri)
                return uri
            return ("__seq__", [_path_part(k) for k in seq])
        if all(
            len(s) == 1 and s[0][0] == "step" and s[0][3] is None
            for s in dnf
        ):
            # plain single-pred alternatives: the compact legacy marker
            return ("__alt__", [
                ("__inv__", s[0][1]) if s[0][2] else s[0][1]
                for s in dnf
            ])
        return (
            "__altseq__",
            [[_path_part(k) for k in s] for s in dnf],
        )

    def _term(self, pred_pos: bool = False, allow_var: bool = True):
        t = self._next()
        if t.kind == "VAR":
            if not allow_var:
                raise ValueError(f"expected a node, got variable {t.text}")
            # normalize '$name' to '?name' — the bgp compiler's var syntax
            return "?" + t.text[1:]
        if pred_pos and t.kind == "OP" and t.text in ("^", "!", "("):
            return self._path_expr(t)
        if t.kind == "IRI":
            iri = t.text[1:-1]
            return self._path_expr(t) if pred_pos else iri
        if t.kind == "PNAME":
            iri = self._expand_pname(t)
            return self._path_expr(t) if pred_pos else iri
        if t.kind == "NAME" and t.text == "a":
            return self._path_expr(t) if pred_pos else RDF_TYPE
        if pred_pos and t.kind in ("STRING", "NUMBER"):
            raise ValueError(
                f"SPARQL syntax error at offset {t.pos}: a literal "
                f"({t.text}) cannot be a predicate"
            )
        if t.kind == "STRING":
            lex = _unescape(t.text[1:-1])
            # consume @lang / ^^datatype; the READ path matches on the
            # lexical form only (module docstring) — the default hooks
            # drop the annotations, the UPDATE parser overrides them to
            # keep is-literal/datatype for the rows it materializes
            lang = None
            dt_iri = None
            if self._peek() is not None and self._peek().kind == "LANGTAG":
                lang = self._next().text[1:]
            elif self._at_dtsep():
                self._next()
                dt = self._next()
                if dt.kind == "IRI":
                    dt_iri = dt.text[1:-1]
                elif dt.kind == "PNAME":
                    dt_iri = self._expand_pname(dt)
                else:
                    raise ValueError("^^ needs a datatype IRI")
            return self._string_term(lex, lang, dt_iri)
        if t.kind == "NUMBER":
            return self._literal_term(t.text, _XSD + (
                "double" if "e" in t.text.lower()
                else "decimal" if "." in t.text else "integer"
            ))
        if t.kind == "NAME" and t.text in ("true", "false") and not pred_pos:
            return self._literal_term(t.text, _XSD + "boolean")
        if t.kind == "OP" and t.text == "[" and not pred_pos:
            # '[]' anonymous blank node = wildcard
            self._expect_op("]")
            return None
        raise ValueError(
            f"SPARQL syntax error at offset {t.pos}: unexpected {t.text!r}"
        )

    def _at_dtsep(self) -> bool:
        t = self._peek()
        return t is not None and t.kind == "DTSEP"

    # literal-shape hooks: the read path matches lexically, but string
    # literals come back as Lit (str subclass) so a literal spelled
    # "?x" is not mistaken for a variable and the UPDATE parser keeps
    # datatype/lang for the rows it materializes.  Numbers and booleans
    # stay bare text on the read path; sparql_update overrides them to
    # typed literals.
    def _string_term(self, lex: str, lang, datatype_iri):
        return Lit(lex, datatype_iri, lang)

    def _literal_term(self, text: str, datatype_iri: str):
        return text

    def _expand_pname(self, t: _Tok) -> str:
        pfx, local = t.text.split(":", 1)
        if pfx not in self.prefixes:
            raise ValueError(
                f"unknown prefix {pfx!r} at offset {t.pos} — declare it "
                "with PREFIX"
            )
        return self.prefixes[pfx] + local

    # --- FILTER expressions -> Spark SQL ---------------------------------
    def _filter_expr(self) -> str:
        return self._or_expr()

    def _or_expr(self) -> str:
        parts = [self._and_expr()]
        while self._at_op("||"):
            self._next()
            parts.append(self._and_expr())
        return parts[0] if len(parts) == 1 else (
            "(" + " OR ".join(parts) + ")"
        )

    def _and_expr(self) -> str:
        parts = [self._unary_expr()]
        while self._at_op("&&"):
            self._next()
            parts.append(self._unary_expr())
        return parts[0] if len(parts) == 1 else (
            "(" + " AND ".join(parts) + ")"
        )

    def _unary_expr(self) -> str:
        if self._at_op("!"):
            self._next()
            return f"(NOT {self._unary_expr()})"
        if self._at_op("("):
            self._next()
            inner = self._filter_expr()
            self._expect_op(")")
            return self._maybe_cmp(f"({inner})")
        return self._maybe_cmp(self._value_expr())

    _CMP = {"=": "=", "!=": "<>", "<": "<", ">": ">", "<=": "<=", ">=": ">="}

    _NUM_LIT = re.compile(r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$")

    def _maybe_cmp(self, left: str) -> str:
        t = self._peek()
        if t is not None and t.kind == "OP" and t.text in self._CMP:
            op = self._CMP[self._next().text]
            right = self._value_expr()
            # SPARQL numeric comparison over the all-lexical model:
            # comparing a variable to a NUMBER literal try_casts the
            # variable side (ANSI string->int cast would ERROR on
            # non-integer lexical forms; try_cast yields NULL, which
            # the comparison rejects — the spec's type-error-drops-row)
            if self._NUM_LIT.match(right) and not self._NUM_LIT.match(
                left
            ):
                left = f"try_cast({left} AS DOUBLE)"
            elif self._NUM_LIT.match(left) and not self._NUM_LIT.match(
                right
            ):
                right = f"try_cast({right} AS DOUBLE)"
            return f"({left} {op} {right})"
        if t is not None and t.kind == "NAME" and t.text.lower() in (
            "in", "not"
        ):
            neg = t.text.lower() == "not"
            if neg:
                nxt = (
                    self.toks[self.i + 1]
                    if self.i + 1 < len(self.toks)
                    else None
                )
                if not (
                    nxt is not None
                    and nxt.kind == "NAME"
                    and nxt.text.lower() == "in"
                ):
                    return left
                self._next()  # NOT
            self._next()  # IN
            self._expect_op("(")
            items = [self._value_expr()]
            while self._at_op(","):
                self._next()
                items.append(self._value_expr())
            self._expect_op(")")
            # the comparison try_cast rule applies to IN lists too: a
            # variable tested against numeric literals casts the
            # lexical side (NULL never matches IN, dropping the row)
            if (
                items
                and all(self._NUM_LIT.match(i) for i in items)
                and not self._NUM_LIT.match(left)
            ):
                left = f"try_cast({left} AS DOUBLE)"
            return (
                f"({left} {'NOT ' if neg else ''}IN "
                f"({', '.join(items)}))"
            )
        return left

    def _value_expr(self) -> str:
        """Operand with SPARQL arithmetic ('*'/'/' bind tighter than
        '+'/'-', per the grammar): the all-lexical triple model makes
        numeric ops a try_cast to DOUBLE on each side (non-numeric
        lexical forms yield NULL, which comparisons then reject —
        SPARQL's type-error-drops-row semantics)."""
        left = self._mul_expr()
        while self._at_op("+", "-"):
            op = self._next().text
            right = self._mul_expr()
            left = (
                f"(try_cast({left} AS DOUBLE) {op} "
                f"try_cast({right} AS DOUBLE))"
            )
        return left

    def _mul_expr(self) -> str:
        left = self._operand()
        while self._at_op("*", "/"):
            op = self._next().text
            right = self._operand()
            left = (
                f"(try_cast({left} AS DOUBLE) {op} "
                f"try_cast({right} AS DOUBLE))"
            )
        return left

    def _operand(self) -> str:
        t = self._next()
        if t.kind == "VAR":
            return t.text[1:]
        if t.kind == "NUMBER":
            return t.text
        if t.kind == "STRING":
            lex = _unescape(t.text[1:-1])
            if self._peek() is not None and self._peek().kind == "LANGTAG":
                self._next()
            elif self._at_dtsep():
                self._next()
                dt = self._next()
                if dt.kind not in ("IRI", "PNAME"):
                    raise ValueError("^^ needs a datatype IRI")
            return _sql_str(lex)
        if t.kind in ("IRI", "PNAME"):
            iri = (
                t.text[1:-1] if t.kind == "IRI" else self._expand_pname(t)
            )
            return _sql_str(iri)
        if (
            t.kind == "NAME"
            and t.text.lower() == "exists"
            and self._exists_sink is not None
            and self._at_op("{")
        ):
            # EXISTS {...} in expression position (inside BIND): the
            # group joins as a hidden boolean marker; NOT is spelled !
            sub = self._parse_negation_group("EXISTS")
            alias = f"__exists_{len(self._exists_sink.exists_binds)}"
            self._exists_sink.exists_binds.append((sub, alias))
            return f"`{alias}`"
        if t.kind == "NAME":
            return self._function(t)
        raise ValueError(
            f"FILTER syntax error at offset {t.pos}: unexpected {t.text!r}"
        )

    _agg_sink = None  # ParsedQuery while parsing HAVING expressions
    _exists_sink = None  # ParsedQuery while parsing BIND expressions

    def _having_aggregate(self, func: str) -> str:
        """Aggregate call in expression position (inside HAVING):
        reuse a matching SELECT-list aggregate's alias, else register
        a hidden one computed alongside and dropped after the HAVING
        filters run."""
        q = self._agg_sink
        distinct = False
        if self._at_kw("distinct"):
            self._next()
            distinct = True
        arg = None
        if self._at_op("*"):
            if func != "count":
                raise ValueError(f"{func.upper()}(*) is not valid SPARQL")
            self._next()
        else:
            arg = self._value_expr()
        extra = " " if func == "group_concat" else None
        self._expect_op(")")
        for f2, a2, d2, alias, e2 in q.aggregates:
            if (f2, a2, d2, e2) == (func, arg, distinct, extra):
                return f"`{alias}`"
        alias = f"__having_{len(q.aggregates)}"
        q.aggregates.append((func, arg, distinct, alias, extra))
        return f"`{alias}`"

    def _function(self, t: _Tok) -> str:
        name = t.text.lower()
        self._expect_op("(")
        if name in self._AGG_FUNCS and self._agg_sink is not None:
            return self._having_aggregate(name)
        if name == "str":
            # lexical-form cast = identity over our representation
            arg = self._operand()
            self._expect_op(")")
            return arg
        if name == "bound":
            v = self._next()
            if v.kind != "VAR":
                raise ValueError("BOUND() needs a ?var")
            self._expect_op(")")
            return f"({v.text[1:]} IS NOT NULL)"
        if name == "regex":
            arg = self._operand()
            self._expect_op(",")
            pat = self._next()
            if pat.kind != "STRING":
                raise ValueError("REGEX needs a string pattern")
            pattern = _unescape(pat.text[1:-1])
            if self._at_op(","):
                self._next()
                flags = self._next()
                if flags.kind != "STRING":
                    raise ValueError("REGEX flags must be a string")
                if "i" in flags.text.lower():
                    pattern = "(?i)" + pattern
            self._expect_op(")")
            return f"({arg} RLIKE {_sql_str(pattern)})"
        if name in ("contains", "strstarts", "strends"):
            a = self._operand()
            self._expect_op(",")
            b = self._operand()
            self._expect_op(")")
            fn = {
                "contains": "contains",
                "strstarts": "startswith",
                "strends": "endswith",
            }[name]
            return f"{fn}({a}, {b})"
        if name in ("ucase", "lcase", "strlen"):
            a = self._value_expr()
            self._expect_op(")")
            fn = {
                "ucase": "upper", "lcase": "lower", "strlen": "length",
            }[name]
            return f"{fn}({a})"
        if name in ("abs", "ceil", "floor", "round"):
            a = self._value_expr()
            self._expect_op(")")
            return f"{name}(try_cast({a} AS DOUBLE))"
        if name in ("concat", "coalesce"):
            args = [self._value_expr()]
            while self._at_op(","):
                self._next()
                args.append(self._value_expr())
            self._expect_op(")")
            return f"{name}({', '.join(args)})"
        if name == "substr":
            # SPARQL and Spark substring are both 1-based
            a = self._value_expr()
            self._expect_op(",")
            start = self._value_expr()
            length = None
            if self._at_op(","):
                self._next()
                length = self._value_expr()
            self._expect_op(")")
            if length is None:
                return f"substring({a}, {start})"
            return f"substring({a}, {start}, {length})"
        if name == "replace":
            a = self._value_expr()
            self._expect_op(",")
            pat = self._next()
            if pat.kind != "STRING":
                raise ValueError("REPLACE needs a string pattern")
            pattern = _unescape(pat.text[1:-1])
            self._expect_op(",")
            rep = self._next()
            if rep.kind != "STRING":
                raise ValueError("REPLACE needs a string replacement")
            if self._at_op(","):
                self._next()
                flags = self._next()
                if flags.kind != "STRING":
                    raise ValueError("REPLACE flags must be a string")
                if "i" in flags.text.lower():
                    pattern = "(?i)" + pattern
            self._expect_op(")")
            return (
                f"regexp_replace({a}, {_sql_str(pattern)}, "
                f"{_sql_str(_unescape(rep.text[1:-1]))})"
            )
        if name in ("strbefore", "strafter"):
            a = self._value_expr()
            self._expect_op(",")
            b = self._value_expr()
            self._expect_op(")")
            # per spec: "" when the needle does not occur
            if name == "strbefore":
                return (
                    f"(CASE WHEN instr({a}, {b}) > 0 THEN "
                    f"substring({a}, 1, instr({a}, {b}) - 1) "
                    f"ELSE '' END)"
                )
            return (
                f"(CASE WHEN instr({a}, {b}) > 0 THEN "
                f"substring({a}, instr({a}, {b}) + length({b})) "
                f"ELSE '' END)"
            )
        if name == "encode_for_uri":
            # RFC 3986 percent-encoding (spec §17.4.2.8): Spark's
            # url_encode is form-encoding; patch its three deviations
            # (space→'+', '~'→%7E, '*' left bare) — none of the three
            # replacement patterns can arise from any other input byte
            a = self._value_expr()
            self._expect_op(")")
            return (
                f"replace(replace(replace(url_encode({a}), "
                f"'+', '%20'), '%7E', '~'), '*', '%2A')"
            )
        if name == "sameterm":
            # all-lexical triple model: term identity == lexical
            # equality (unbound args yield NULL → effective false,
            # the spec's type-error rule)
            a = self._operand()
            self._expect_op(",")
            b = self._operand()
            self._expect_op(")")
            return f"({a} = {b})"
        if name == "isnumeric":
            # the one type-test builtin the all-lexical model answers
            # soundly: a binding is numeric iff its lexical form
            # parses as a number (try_cast NULL-probes; unbound stays
            # NULL → effective false, the spec's type-error rule)
            a = self._value_expr()
            self._expect_op(")")
            return f"(try_cast({a} AS DOUBLE) IS NOT NULL)"
        if name in ("md5", "sha1", "sha256", "sha512"):
            a = self._value_expr()
            self._expect_op(")")
            if name in ("md5", "sha1"):
                return f"{name}({a})"
            return f"sha2({a}, {name[3:]})"
        if name in (
            "year", "month", "day", "hours", "minutes", "seconds",
        ):
            # xsd:dateTime accessors over the lexical form: try_cast
            # to TIMESTAMP (NULL for unparseable forms — the row then
            # drops in comparisons, SPARQL's type-error rule)
            a = self._value_expr()
            self._expect_op(")")
            fn = {
                "year": "year", "month": "month", "day": "day",
                "hours": "hour", "minutes": "minute",
                "seconds": "second",
            }[name]
            return f"{fn}(try_cast({a} AS TIMESTAMP))"
        if name == "if":
            c = self._filter_expr()
            self._expect_op(",")
            yes = self._filter_expr()
            self._expect_op(",")
            no = self._filter_expr()
            self._expect_op(")")
            return f"IF({c}, {yes}, {no})"
        raise NotImplementedError(
            f"FILTER function {t.text!r} is not in the supported subset "
            "(STR, BOUND, REGEX, CONTAINS, STRSTARTS, STRENDS, UCASE, "
            "LCASE, STRLEN, SUBSTR, REPLACE, CONCAT, COALESCE, "
            "STRBEFORE, STRAFTER, IF, ABS, CEIL, FLOOR, ROUND, MD5, SHA1, "
            "SHA256, SHA512, YEAR, MONTH, DAY, HOURS, MINUTES, SECONDS, "
            "ENCODE_FOR_URI, SAMETERM, ISNUMERIC)"
        )


# the full SPARQL ECHAR set (\t \b \n \r \f \" \' \\)
_ECHAR = {"t": "\t", "b": "\b", "n": "\n", "r": "\r", "f": "\f",
          '"': '"', "'": "'", "\\": "\\"}


def _unescape(s: str) -> str:
    # one left-to-right pass, so an escaped backslash never starts a
    # second escape; any other backslash pair passes through verbatim
    return re.sub(
        r"\\(.)", lambda m: _ECHAR.get(m.group(1), m.group(0)), s,
        flags=re.S,
    )


def _sql_str(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def parse(text: str) -> ParsedQuery:
    """Parse a SPARQL query string into its compiled form (patterns /
    optional groups / filter SQL / modifiers) without executing it."""
    return _Parser(text).parse()


def _closure_atom(k: tuple):
    """DNF step -> a composite-closure atom, or None if the step
    cannot live inside a closed group.  Atoms are either ``(uri,
    inverted)`` predicate slices or ``("!", fwd_uris, rev_uris)``
    negated-set relations (the union of the set's forward and
    reversed branches — one relation, since closure of a union is not
    the union of closures)."""
    if k[0] == "step":
        return (k[1], k[2]) if k[3] is None else None
    if k[0] == "negset":
        return ("!", k[1], ())
    if k[0] == "invnegset":
        return ("!", (), k[1])
    return None


def _catom_alts(k: tuple):
    """DNF step -> a list of alternatives for the closed-group
    expansion, each alternative a (possibly empty) list of
    composite-closure atoms; None if the step is out of subset.
    '+' steps become NESTED-closure atoms ``("+", spec)`` (closed
    recursively by the materializer); '*' is ``+ | ε`` and '?' is
    ``step | ε`` — the ε alternative drops the step from the
    branch."""
    if k[0] == "step":
        _, uri, inv, mod = k
        base = (uri, inv)
        if mod is None:
            return [[base]]
        if mod == "+":
            return [[("+", ((base,),))]]
        if mod == "*":
            return [[("+", ((base,),))], []]
        if mod == "?":
            return [[base], []]
    if k[0] == "negset":
        return [[("!", k[1], ())]]
    if k[0] == "invnegset":
        return [[("!", (), k[1])]]
    if k[0] == "cstep":
        _, spec, mod = k
        if mod == "+":
            return [[("+", spec)]]
        if mod == "*":
            return [[("+", spec)], []]
        if mod == "?":
            return [[("rel", spec)], []]
    return None


def _expand_closed_group(dnf: list):
    """DNF of a closed group whose steps may themselves carry
    '+'/'*'/'?' -> (spec branches, has_empty_branch), or None if a
    step cannot be atomized.  Each branch is one choice combination
    across the steps' alternatives; an all-ε combination marks the
    zero-length path (has_empty) instead of emitting a branch."""
    from itertools import product

    branches: list = []
    has_empty = False
    for seq in dnf:
        step_alts = []
        for k in seq:
            alts = _catom_alts(k)
            if alts is None:
                return None
            step_alts.append(alts)
        for combo in product(*step_alts):
            atoms = tuple(a for alt in combo for a in alt)
            if atoms:
                branches.append(atoms)
            else:
                has_empty = True
    return tuple(branches), has_empty


def _invert_catom(a: tuple) -> tuple:
    """Relational inverse of one composite-closure atom."""
    if a[0] == "!":
        # reversing an NPS swaps which member list constrains which
        # edge direction (same rule as ^!(...) at parse)
        return ("!", a[2], a[1])
    if a[0] in ("+", "rel"):
        # (R+)^-1 == (R^-1)+: invert the nested relation branchwise
        return (a[0], tuple(
            tuple(_invert_catom(x) for x in reversed(br))
            for br in a[1]
        ))
    u, i = a
    return (u, not i)


def _invert_path_seq(seq: list) -> list:
    """^(sequence): reverse the step order and flip each step's
    direction (the relational inverse of a composition)."""
    out = []
    for k in reversed(seq):
        if k[0] == "negset":
            # ^(NPS over forward edges) = the same NPS over reversed
            # edges, and vice versa
            out.append(("invnegset", k[1]))
            continue
        if k[0] == "invnegset":
            out.append(("negset", k[1]))
            continue
        if k[0] == "cstep":
            # invert the composite closure by inverting its relation
            _, spec, mod = k
            out.append(("cstep", tuple(
                tuple(_invert_catom(a) for a in reversed(br))
                for br in spec
            ), mod))
            continue
        _, uri, inv, mod = k
        out.append(("step", uri, not inv, mod))
    return out


def _path_part(k: tuple):
    """DNF step -> the sequence-part marker the rewriter emits."""
    if k[0] == "negset":
        return ("__negset__", k[1])
    if k[0] == "invnegset":
        return ("__invnegset__", k[1])
    if k[0] == "cstep":
        return ("__cpath__", k[1], k[2])
    _, uri, inv, mod = k
    if mod and inv:
        return ("__invpath__", uri, mod)
    if mod:
        return ("__path__", uri, mod)
    if inv:
        return ("__inv__", uri)
    return uri


def _rewrite_path_ops(q: ParsedQuery) -> ParsedQuery:
    """Compile the algebra-free path operators into plain patterns:

    * ``^pred``  — subject/object swap on the pattern;
    * ``p1/p2``  — chained patterns through fresh join variables
      (``__seqN`` — dropped from SELECT * output, per SPARQL's rule
      that path intermediates bind nothing); a ``+``/``*``/``?`` step
      inside a sequence emits a ``__path__`` pattern the closure
      materializer expands, and an inverted step swaps its pattern's
      ends;
    * ``p1|p2``  — a synthetic UNION block (one branch per
      alternative; an alternative that is itself a sequence chains
      inside its branch), evaluated by the existing distributive
      machinery; supported in the required top-level patterns and in
      the required patterns of EXISTS/MINUS groups (the block lands
      in the GROUP's own union list).  OPTIONAL groups and UNION
      branches whose patterns carry an alternative are promoted to
      COMPLEX sub-groups at parse time, so the alt rewrites into the
      sub-group's own union list there; the ``allow_alt=False``
      raise below is a defensive backstop for plain pattern lists,
      which should no longer carry alts;
    * ``!(...)`` — a fresh hidden predicate variable plus a
      ``NOT IN`` filter appended to the enclosing group's filter list
      (required group, OPTIONAL group, UNION branch, or a negation
      group's own filter slot).
    """
    counter = [0]

    def emit_step(cur, elt, nxt, out, fsink, where):
        if not isinstance(elt, tuple):
            out.append((cur, elt, nxt))
        elif elt[0] == "__inv__":
            out.append((nxt, elt[1], cur))
        elif elt[0] in ("__path__", "__cpath__"):
            out.append((cur, elt, nxt))
        elif elt[0] == "__invpath__":
            out.append((nxt, ("__path__", elt[1], elt[2]), cur))
        elif elt[0] in ("__negset__", "__invnegset__"):
            if fsink is None:
                raise NotImplementedError(
                    f"negated property sets inside {where} are not in "
                    "the supported subset — hoist the pattern to the "
                    "required group"
                )
            var = f"__seqneg{counter[0]}"
            counter[0] += 1
            # the inverse branch constrains REVERSED edges (§9.1):
            # same hidden-predicate NOT IN, pattern ends swapped
            if elt[0] == "__invnegset__":
                out.append((nxt, "?" + var, cur))
            else:
                out.append((cur, "?" + var, nxt))
            if elt[1]:
                fsink.append(
                    f"`{var}` NOT IN ("
                    + ", ".join(_sql_str(u) for u in elt[1])
                    + ")"
                )
        else:  # pragma: no cover — parser emits no other markers
            out.append((cur, elt, nxt))

    def emit_seq(s, parts, o, out, fsink, where):
        cur = s
        for i, elt in enumerate(parts):
            last = i == len(parts) - 1
            nxt = o if last else f"?__seq{counter[0]}"
            if not last:
                counter[0] += 1
            emit_step(cur, elt, nxt, out, fsink, where)
            cur = nxt

    def rewrite(patterns, allow_alt: bool, where: str, fsink,
                usink=None):
        out = []
        for s, p, o in patterns:
            if not isinstance(p, tuple) or p[0] in (
                "__path__", "__cpath__"
            ):
                out.append((s, p, o))
                continue
            kind = p[0]
            if kind == "__inv__":
                out.append((o, p[1], s))
            elif kind == "__invpath__":
                out.append((o, ("__path__", p[1], p[2]), s))
            elif kind == "__seq__":
                emit_seq(s, p[1], o, out, fsink, where)
            elif kind in ("__alt__", "__altseq__"):
                if not allow_alt:
                    raise NotImplementedError(
                        f"'|' alternative paths inside {where} are "
                        "not in the supported subset — hoist the "
                        "pattern to the required group"
                    )
                branches = []
                for alt in p[1]:
                    bp: list = []
                    bf: list = []
                    parts = alt if kind == "__altseq__" else [alt]
                    emit_seq(s, parts, o, bp, bf, where)
                    branches.append((bp, [], [], bf))
                (usink if usink is not None else q.unions).append(
                    branches
                )
            else:  # pragma: no cover — parser emits no other markers
                out.append((s, p, o))
        return out

    def rewrite_negation(sub: ParsedQuery, kw: str) -> ParsedQuery:
        # a negation group rewrites like a nested query: path
        # alternatives in its required patterns spawn UNION blocks
        # into the SUB's own union list (evaluated by _bindings over
        # the group), never the outer query's; the shared counter
        # keeps hidden __seqN vars globally unique so outer and group
        # bindings never alias a hidden column
        nu = []
        for branches in sub.unions:
            nb = []
            for br in branches:
                if br[0] == "__q__":
                    nb.append(
                        ("__q__", rewrite_negation(br[1], kw))
                    )
                    continue
                pp, oo, off, ff = br
                ff = list(ff)
                pp2 = rewrite(
                    pp, False, f"a UNION branch of {kw}", ff, nu
                )
                off = (
                    [list(g) for g in off]
                    if len(off) == len(oo)
                    else [[] for _ in oo]
                )
                oo2 = [
                    opt_entry(g, f"OPTIONAL of {kw}", off[j], nu)
                    for j, g in enumerate(oo)
                ]
                nb.append((pp2, oo2, off, ff))
            nu.append(nb)
        sub.unions = nu
        sub.patterns = rewrite(
            sub.patterns, True, kw, sub.filters, sub.unions
        )
        while len(sub.optional_filters) < len(sub.optional):
            sub.optional_filters.append([])
        sub.optional = [
            opt_entry(
                g, f"OPTIONAL of {kw}",
                sub.optional_filters[i], sub.unions,
            )
            for i, g in enumerate(sub.optional)
        ]
        # negation nests (EXISTS/MINUS inside a sub-group): each
        # nested group rewrites recursively with the shared counter
        sub.exists_clauses = [
            (pos, rewrite_negation(g, f"EXISTS of {kw}"))
            for pos, g in sub.exists_clauses
        ]
        sub.exists_binds = [
            (rewrite_negation(g, f"EXISTS-expr of {kw}"), a)
            for g, a in sub.exists_binds
        ]
        sub.minus_clauses = [
            rewrite_negation(g, f"MINUS of {kw}")
            for g in sub.minus_clauses
        ]
        return sub

    def opt_entry(g, where: str, fsink, usink=None):
        # an OPTIONAL entry that is a full sub-group (UNION inside
        # OPTIONAL) rewrites recursively like a negation group; its
        # LeftJoin-filter slot stays untouched
        if isinstance(g, ParsedQuery):
            return rewrite_negation(g, where)
        return rewrite(g, False, where, fsink, usink)

    # pre-existing union blocks first (appending alt blocks while
    # iterating would revisit them)
    new_unions = []
    for branches in q.unions:
        nb = []
        for br in branches:
            if br[0] == "__q__":
                nb.append(
                    ("__q__", rewrite_negation(br[1], "a UNION branch"))
                )
                continue
            pp, oo, off, ff = br
            ff = list(ff)
            pp2 = rewrite(pp, False, "a UNION branch", ff)
            off = (
                [list(g) for g in off]
                if len(off) == len(oo)
                else [[] for _ in oo]
            )
            oo2 = [
                opt_entry(g, "OPTIONAL", off[j])
                for j, g in enumerate(oo)
            ]
            nb.append((pp2, oo2, off, ff))
        new_unions.append(nb)
    q.unions = new_unions
    q.patterns = rewrite(
        q.patterns, True, "the required group", q.filters
    )
    while len(q.optional_filters) < len(q.optional):
        q.optional_filters.append([])
    q.optional = [
        opt_entry(g, "OPTIONAL", q.optional_filters[i])
        for i, g in enumerate(q.optional)
    ]
    q.exists_clauses = [
        (pos, rewrite_negation(sub, "FILTER EXISTS"))
        for pos, sub in q.exists_clauses
    ]
    q.exists_binds = [
        (rewrite_negation(sub, "EXISTS expression"), a)
        for sub, a in q.exists_binds
    ]
    q.minus_clauses = [
        rewrite_negation(sub, "MINUS") for sub in q.minus_clauses
    ]
    return q


def _expand_paths(
    triples: DataFrame, q: ParsedQuery
) -> tuple[DataFrame, ParsedQuery]:
    """Materialize property-path patterns: each ``pred+`` becomes the
    transitive closure of pred's edge slice appended as synthetic
    triples under a collision-proof name (pred + unit separator), so
    the pattern then matches like any other constant predicate.
    ``pred*`` and ``pred?`` additionally need the zero-length path:
    anchored on a constant it is that single reflexive row; unanchored
    it is one reflexive row per term in the graph (SPARQL 1.1 §18.4
    ZeroLengthPath ranges over G's subjects and objects, not the
    infinite term universe).  ``pred?`` is the plain edge slice plus
    the zero rows (no closure job).

    Composite-relation closures (``(a/b)+``, ``(a|^b)*``) ride the
    same scheme: the group's edge relation — a union over alternatives
    of equi-join compositions of the member predicates' slices — is
    built once per distinct group, then closed exactly like a
    single-predicate slice.

    Scale shape: one closure per distinct path predicate or group
    (path-doubling self-joins over that relation only —
    operators/graph.py), computed once even when the pattern appears
    in several UNION branches; the union with the base table is
    scan-stage."""
    specs: dict[str, tuple] = {}

    def rewrite(patterns):
        out = []
        for s, p, o in patterns:
            if not (
                isinstance(p, tuple)
                and p[0] in ("__path__", "__cpath__")
            ):
                out.append((s, p, o))
                continue
            if p[0] == "__path__":
                _, uri, mod = p
                kind, payload, name = "pred", uri, uri
            else:
                _, spec, mod = p
                kind, payload = "cpath", spec

                def atom_str(a):
                    if a[0] == "!":
                        return "!(" + "|".join(
                            list(a[1]) + ["^" + u for u in a[2]]
                        ) + ")"
                    if a[0] in ("+", "rel"):
                        return "(" + "|".join(
                            "/".join(atom_str(x) for x in br)
                            for br in a[1]
                        ) + ")" + ("+" if a[0] == "+" else "1")
                    return ("^" if a[1] else "") + a[0]

                name = bgp.PATH_SYNTH_SEP + "(" + "|".join(
                    "/".join(atom_str(a) for a in br) for br in spec
                ) + ")"
            if mod == "+":
                key = name + bgp.PATH_SYNTH_SEP + "+"
                specs[key] = (kind, payload, "+", None)
            else:
                const = None
                for end in (s, o):
                    if end is not None and not (
                        type(end) is str and end.startswith("?")
                    ):
                        const = end
                        break
                # const None = UNANCHORED '*'/'?': the zero-length
                # component relates every term IN THE GRAPH to itself
                # (SPARQL 1.1 §18.4 ZeroLengthPath — all subjects and
                # objects of G), so it stays tractable: |terms| zero
                # rows plus the same closure '+' already pays
                key = name + bgp.PATH_SYNTH_SEP + mod + (const or "")
                specs[key] = (kind, payload, mod, const)
            out.append((s, key, o))
        return out

    def rewrite_group(sub: ParsedQuery) -> ParsedQuery:
        # a full sub-group (negation group, a UNION-carrying OPTIONAL
        # group, or a complex UNION branch): rewrite its own patterns,
        # optionals and union branches recursively
        sub.patterns = rewrite(sub.patterns)
        sub.optional = [rewrite_opt(g) for g in sub.optional]
        sub.unions = [
            [rewrite_branch(b) for b in branches]
            for branches in sub.unions
        ]
        sub.exists_clauses = [
            (pos, rewrite_group(g)) for pos, g in sub.exists_clauses
        ]
        sub.exists_binds = [
            (rewrite_group(g), a) for g, a in sub.exists_binds
        ]
        sub.minus_clauses = [
            rewrite_group(g) for g in sub.minus_clauses
        ]
        return sub

    def rewrite_opt(g):
        return (
            rewrite_group(g) if isinstance(g, ParsedQuery)
            else rewrite(g)
        )

    def rewrite_branch(b):
        if b[0] == "__q__":
            return ("__q__", rewrite_group(b[1]))
        p, o, of, f = b
        return (rewrite(p), [rewrite_opt(g) for g in o], of, f)

    q.patterns = rewrite(q.patterns)
    q.optional = [rewrite_opt(g) for g in q.optional]
    q.unions = [
        [rewrite_branch(b) for b in branches]
        for branches in q.unions
    ]
    rewrite_negation = rewrite_group

    q.exists_clauses = [
        (pos, rewrite_negation(sub)) for pos, sub in q.exists_clauses
    ]
    q.exists_binds = [
        (rewrite_negation(sub), a) for sub, a in q.exists_binds
    ]
    q.minus_clauses = [
        rewrite_negation(sub) for sub in q.minus_clauses
    ]
    if not specs:
        return triples, q

    from .graph import transitive_closure

    base = triples.select("subj", "pred", "obj")

    def pred_edges(uri: str, inv: bool = False) -> DataFrame:
        sl = base.where(F.col("pred") == F.lit(uri))
        s, d = ("obj", "subj") if inv else ("subj", "obj")
        return sl.select(F.col(s).alias("src"), F.col(d).alias("dst"))

    def nps_edges(fwd: tuple, rev: tuple) -> DataFrame:
        # one NPS relation = union of its forward branch (edges with
        # pred not in fwd) and reversed branch (reversed edges with
        # pred not in rev); a branch exists iff its member list does.
        # Scale note: an NPS slice is most of the graph, so closing
        # one is a whole-graph transitive closure by semantics.
        rel = None
        if fwd or not rev:
            sl = base.where(~F.col("pred").isin(*fwd)) if fwd else base
            rel = sl.select(
                F.col("subj").alias("src"), F.col("obj").alias("dst")
            )
        if rev:
            sl = base.where(~F.col("pred").isin(*rev))
            e = sl.select(
                F.col("obj").alias("src"), F.col("subj").alias("dst")
            )
            rel = e if rel is None else rel.unionByName(e)
        return rel

    def atom_edges(a) -> DataFrame:
        if a[0] == "!":
            return nps_edges(a[1], a[2])
        if a[0] == "+":
            # nested-closure atom ((a/b+)+): close the inner relation
            # first, then compose like any other edge slice — its own
            # path-doubling job, recursive for deeper nesting
            return transitive_closure(composite_edges(a[1]))
        if a[0] == "rel":
            # exactly-one of a nested group ((a|b)? inside a closure)
            return composite_edges(a[1])
        return pred_edges(a[0], a[1])

    def composite_edges(spec) -> DataFrame:
        # unique column names per step instead of DataFrame aliases:
        # every slice derives from the same base scan, and Catalyst's
        # union constraint-rewrite chokes on alias()-ed self-join
        # attributes feeding a union
        rel = None
        for branch in spec:
            cur = None
            for step_no, atom in enumerate(branch):
                e = atom_edges(atom).select(
                    F.col("src").alias(f"__s{step_no}"),
                    F.col("dst").alias(f"__d{step_no}"),
                )
                if cur is None:
                    cur = e
                else:
                    cur = cur.join(
                        e,
                        F.col(f"__d{step_no - 1}")
                        == F.col(f"__s{step_no}"),
                    ).select("__s0", f"__d{step_no}")
            last = len(branch) - 1
            cur = cur.select(
                F.col("__s0").alias("src"),
                F.col(f"__d{last}").alias("dst"),
            )
            rel = cur if rel is None else rel.unionByName(cur)
        return rel

    out = base
    for key, (kind, payload, mod, const) in sorted(specs.items()):
        edges = (
            pred_edges(payload) if kind == "pred"
            else composite_edges(payload)
        )
        # '?' (zero-or-one) is the plain edge slice plus the anchored
        # zero-length row — no closure job at all; '+'/'*' need the
        # path-doubling transitive closure
        reach = edges if mod == "?" else transitive_closure(edges)
        rows = reach.select(
            F.col("src").alias("subj"),
            F.lit(key).alias("pred"),
            F.col("dst").alias("obj"),
        )
        if mod in ("*", "?"):
            if const is not None:
                rows = rows.where(
                    (F.col("subj") == F.lit(const))
                    | (F.col("obj") == F.lit(const))
                )
                zero = base.sparkSession.createDataFrame(
                    [(const, key, const)],
                    "subj string, pred string, obj string",
                )
            else:
                # unanchored: one reflexive zero row per graph term
                # (distinct subjects ∪ objects — scan-stage union,
                # one shuffle for the distinct)
                zero = (
                    base.select(F.col("subj").alias("t"))
                    .unionByName(base.select(F.col("obj").alias("t")))
                    .distinct()
                    .select(
                        F.col("t").alias("subj"),
                        F.lit(key).alias("pred"),
                        F.col("t").alias("obj"),
                    )
                )
            rows = rows.unionByName(zero).distinct()
        out = out.unionByName(rows)
    return out, q


def _variants(q: ParsedQuery) -> list:
    """Expand UNION blocks distributively: outer ⋈ (A ∪ B) =
    (outer ⋈ A) ∪ (outer ⋈ B) under SPARQL bag semantics, so each
    variant is one (patterns, optional, optional_filters, filters)
    evaluation and the results union.  Multiple UNION blocks take the
    cross product of their branch choices (the algebra's join of two
    unions).  A COMPLEX branch (("__q__", sub) — a branch carrying
    BIND/VALUES or a nested complex branch) cannot flatten by tuple
    concatenation; it rides in the variant's 5th slot and _bindings
    joins its separately-assembled bindings onto the plain part."""
    from itertools import product

    if not q.unions:
        return [
            (q.patterns, q.optional, q.optional_filters, q.filters, [])
        ]
    out = []
    for combo in product(*q.unions):
        pats, opts, optfs, filts = (
            list(q.patterns), list(q.optional),
            list(q.optional_filters), list(q.filters),
        )
        cplx = []
        for b in combo:
            if b[0] == "__q__":
                cplx.append(b[1])
                continue
            p, o, of, f = b
            pats += p
            opts += o
            optfs += of
            filts += f
        out.append((pats, opts, optfs, filts, cplx))
    return out


def _bindings(
    triples: DataFrame,
    q: ParsedQuery,
    allow_cartesian: bool,
    base_triples: DataFrame | None = None,
    services: dict | None = None,
) -> DataFrame:
    """All variable bindings for q's WHERE clause (bag semantics, no
    projection yet).  Variants missing a variable bind NULL — SPARQL's
    unbound — in the unioned result.  ``base_triples``/``services``
    ride along so sub-groups (complex OPTIONAL/UNION entries, nested
    negation) can evaluate their own ``{ SELECT ... }`` subqueries
    bottom-up against the pre-expansion graph."""
    # an OPTIONAL group that is a full sub-group (UNION / VALUES /
    # BIND / nested OPTIONAL / nested negation inside OPTIONAL)
    # evaluates its own bindings here — through the same
    # _group_bindings assembler complex UNION branches use — and
    # left-joins as a DataFrame; each distinct group materializes ONCE
    # even when the variant expansion repeats it
    group_cache: dict[int, DataFrame] = {}

    def _opt_entry(g):
        if not isinstance(g, ParsedQuery):
            return g
        if id(g) not in group_cache:
            group_cache[id(g)] = _group_bindings(
                triples, g, allow_cartesian, base_triples, services
            )
        return group_cache[id(g)]

    def _variant_df(p, o, of, f, cx):
        if not cx:
            return bgp.graph_pattern(
                triples,
                p,
                select=None,
                distinct=False,
                optional=[_opt_entry(g) for g in o] or None,
                optional_filters=of or None,
                filters=f or None,
                allow_cartesian=allow_cartesian,
            )
        # complex branches (BIND/VALUES-carrying): assemble the plain
        # part WITHOUT its filters, inner-join each complex branch's
        # own bindings (each cached once across variants) on the
        # shared variables, then apply the variant filters at group
        # scope — the SPARQL position of a group-level FILTER
        df0 = None
        if o and not p:
            raise ValueError(
                "OPTIONAL needs required patterns in its group"
            )
        if p:
            df0 = bgp.graph_pattern(
                triples,
                p,
                select=None,
                distinct=False,
                optional=[_opt_entry(g) for g in o] or None,
                optional_filters=of or None,
                filters=None,
                allow_cartesian=allow_cartesian,
            )
        for sub_q in cx:
            if id(sub_q) not in group_cache:
                group_cache[id(sub_q)] = _group_bindings(
                    triples, sub_q, allow_cartesian,
                    base_triples, services,
                )
            sd = group_cache[id(sub_q)]
            if df0 is None:
                df0 = sd
                continue
            shared = [c for c in sd.columns if c in df0.columns]
            if shared:
                df0 = df0.join(sd, on=shared, how="inner")
            elif allow_cartesian:
                df0 = df0.crossJoin(sd)
            else:
                raise ValueError(
                    "a BIND/VALUES-carrying UNION branch shares no "
                    "variable with the rest of its group (a cross "
                    "product) — correlate it or pass "
                    "allow_cartesian=True"
                )
        for e in f or []:
            df0 = df0.where(F.expr(e))
        return df0

    dfs = [
        _variant_df(p, o, of, f, cx)
        for p, o, of, f, cx in _variants(q)
    ]
    if len(dfs) == 1:
        return dfs[0]
    all_vars = sorted(set().union(*(set(d.columns) for d in dfs)))
    out = None
    for d in dfs:
        aligned = d.select(
            *[
                F.col(v)
                if v in d.columns
                else F.lit(None).cast("string").alias(v)
                for v in all_vars
            ]
        )
        out = aligned if out is None else out.unionByName(aligned)
    return out


def _join_values(
    df: DataFrame, vars_: list, rows: list, *, cross_ok: bool,
) -> DataFrame:
    """Join one VALUES inline table onto the bindings ``df``.

    UNDEF cells (parsed to None) wildcard-match per §10.2.2: a row's
    UNDEF in a shared column is compatible with ANY solution value,
    and the merged solution keeps the solution's value.  The fast
    path — no UNDEF in any shared column — is the plain broadcast
    hash equi-join; with UNDEF present the join becomes a broadcast
    condition join (tiny literal table, so the nested-loop is free).
    A bound VALUES cell against a NULL (unbound) solution column does
    NOT match — the engine's uniform NULL-join convention across
    group joins, documented in _parse_values.

    ``cross_ok`` mirrors the call sites' historical behavior for a
    table sharing no variable: in-group VALUES cross-joins freely
    (the group correlates later), the trailing clause requires
    allow_cartesian upstream."""
    spark = df.sparkSession
    vdf = F.broadcast(
        spark.createDataFrame(
            [list(r) for r in rows],
            ", ".join(f"`{v}` string" for v in vars_),
        )
    )
    shared = [v for v in vars_ if v in df.columns]
    if not shared:
        if not cross_ok:
            raise ValueError(
                "trailing VALUES shares no variable with the query's "
                "solutions (a cross product) — correlate it or pass "
                "allow_cartesian=True"
            )
        return df.crossJoin(vdf)
    idx = {v: i for i, v in enumerate(vars_)}
    has_undef = any(r[idx[v]] is None for r in rows for v in shared)
    if not has_undef:
        return df.join(vdf, on=shared, how="inner")
    ren = {v: f"__val__{v}" for v in shared}
    for v, r in ren.items():
        vdf = vdf.withColumnRenamed(v, r)
    cond = None
    for v in shared:
        c = F.col(ren[v]).isNull() | (F.col(ren[v]) == F.col(v))
        cond = c if cond is None else cond & c
    return df.join(vdf, on=cond, how="inner").drop(*ren.values())


def _group_bindings(
    triples: DataFrame,
    g: ParsedQuery,
    allow_cartesian: bool,
    base_triples: DataFrame | None = None,
    services: dict | None = None,
) -> DataFrame:
    """Bindings of a full sub-group (an EXISTS/MINUS group, a complex
    UNION branch, a complex OPTIONAL group, or a lone nested group):
    the BGP assembly plus the group's own ``{ SELECT ... }`` subquery
    joins, nested [NOT] EXISTS / MINUS joins, VALUES joins and BINDs —
    SPARQL algebra applies them inside the group, so their variables
    participate in the outer join's shared-column set and negation
    nests to any depth (each level is its own semi/anti join, same
    order as the top level).  Group FILTERs that reference
    EXISTS-expression markers defer until after the markers compute
    (the bind/marker step at the end), then the markers drop.  When
    the group carries BIND / VALUES / subqueries / SERVICE joins, its
    PLAIN filters defer past the inner assembly too (same rule as the
    top level): a filter may reference a late-bound variable, and as a
    conjunctive selection it commutes with the inner joins — Catalyst
    re-pushes the predicate as deep as legality allows."""
    marker_filters = [f for f in g.filters if "__exists_" in f]
    defer_plain = bool(
        g.binds or g.subqueries or g.services or g.values_clauses
    )
    plain_deferred = (
        [f for f in g.filters if "__exists_" not in f]
        if defer_plain else []
    )
    saved_filters = g.filters
    if marker_filters or plain_deferred:
        g.filters = [
            f for f in g.filters
            if f not in marker_filters and f not in plain_deferred
        ]
    try:
        sub = _group_bindings_inner(
            triples, g, allow_cartesian, base_triples, services
        )
    finally:
        g.filters = saved_filters
    for f in plain_deferred + marker_filters:
        sub = sub.where(F.expr(f))
    # markers consumed by this group's own filters drop here; markers
    # consumed NOWHERE inside the group stay as columns for the caller
    # — that is the OPTIONAL-with-EXISTS-filter case, where the filter
    # text moved to the aligned optional_filters slot (the LeftJoin
    # condition) and graph_pattern drops the columns after the join
    keep = {
        a for _g2, a in g.exists_binds
        if not any(f"`{a}`" in f for f in marker_filters)
        and not any(f"`{a}`" in sql for sql, _v in g.binds)
    }
    leftover = [
        c for c in sub.columns
        if c.startswith("__exists_") and c not in keep
    ]
    if leftover:
        sub = sub.drop(*leftover)
    return sub


def _group_bindings_inner(
    triples: DataFrame,
    g: ParsedQuery,
    allow_cartesian: bool,
    base_triples: DataFrame | None = None,
    services: dict | None = None,
) -> DataFrame:
    if g.patterns or g.unions or not (g.subqueries or g.services):
        sub = _bindings(
            triples, g, allow_cartesian, base_triples, services
        )
    else:
        sub = None  # subquery/SERVICE-only group: start from the first
    if g.subqueries:
        sub = _apply_subqueries(
            sub, g,
            base_triples if base_triples is not None else triples,
            allow_cartesian, services,
        )
    if g.services:
        # SERVICE inside a sub-group (OPTIONAL / UNION branch /
        # EXISTS / MINUS): the snapshot bindings join the group's own
        # bindings here, BEFORE the group's negations/VALUES/BINDs,
        # so the joined variables participate in the outer join's
        # shared-column set (SPARQL 1.1 Federated Query evaluates the
        # service pattern and joins within its group)
        sub = _apply_services(sub, g, services, allow_cartesian)
    if g.exists_clauses or g.minus_clauses:
        sub = _apply_negations(
            triples, sub, g, allow_cartesian, base_triples, services
        )
    for vars_, rows in g.values_clauses:
        sub = _join_values(sub, vars_, rows, cross_ok=True)
    sub = _apply_binds(
        triples, sub, g, allow_cartesian, base_triples, services
    )
    return sub


def _apply_negations(
    triples: DataFrame,
    df: DataFrame,
    q: ParsedQuery,
    allow_cartesian: bool,
    base_triples: DataFrame | None = None,
    services: dict | None = None,
) -> DataFrame:
    """FILTER [NOT] EXISTS -> left-semi/left-anti hash join of the
    outer bindings against the group's bindings on the shared
    variables; MINUS -> left-anti, and per the SPARQL spec a MINUS
    group sharing NO variable removes nothing (OPTIONAL-produced NULL
    keys never match a join key, so NOT EXISTS keeps them and EXISTS
    drops them — SPARQL's unbound-incompatible semantics).

    An EXISTS group sharing no variable is CONSTANT over the outer
    solutions (the spec evaluates EXISTS per solution, but every
    solution sees the same group): a LIMIT-1 broadcast marker keeps
    the check fully distributed — every outer row survives iff the
    group is [non-]empty, and the inner plan stops at its first row."""
    for positive, neg_q in q.exists_clauses:
        sub = _group_bindings(
            triples, neg_q, allow_cartesian, base_triples, services
        )
        shared = [c for c in sub.columns if c in df.columns]
        if not shared:
            marker = F.broadcast(
                sub.limit(1).select(F.lit(1).alias("__ex__"))
            )
            df = (
                df.withColumn("__ex__", F.lit(1))
                .join(
                    marker,
                    on="__ex__",
                    how="left_semi" if positive else "left_anti",
                )
                .drop("__ex__")
            )
            continue
        df = df.join(
            sub.select(*shared).distinct(),
            on=shared,
            how="left_semi" if positive else "left_anti",
        )
    for neg_q in q.minus_clauses:
        sub = _group_bindings(
            triples, neg_q, allow_cartesian, base_triples, services
        )
        shared = [c for c in sub.columns if c in df.columns]
        if shared:
            df = df.join(
                sub.select(*shared).distinct(), on=shared, how="left_anti"
            )
    return df


def _apply_solution_clauses(
    triples: DataFrame,
    df: DataFrame,
    q: ParsedQuery,
    allow_cartesian: bool,
    base_triples: DataFrame | None = None,
    services: dict | None = None,
) -> DataFrame:
    """Post-join solution clauses, in SPARQL-algebra order: negation
    joins (``_apply_negations``), then VALUES -> broadcast inner join
    of the inline binding table (cross product when uncorrelated),
    then BIND -> withColumn in document order, cast to string to match
    the all-lexical triple model."""
    df = _apply_negations(
        triples, df, q, allow_cartesian, base_triples, services
    )
    for vars_, rows in q.values_clauses:
        df = _join_values(df, vars_, rows, cross_ok=True)
    df = _apply_binds(
        triples, df, q, allow_cartesian, base_triples, services
    )
    return df


def _apply_binds(
    triples: DataFrame,
    df: DataFrame,
    q: ParsedQuery,
    allow_cartesian: bool,
    base_triples: DataFrame | None = None,
    services: dict | None = None,
) -> DataFrame:
    """The group's BINDs in document order, with EXISTS-expression
    markers (BIND(EXISTS {...} AS ?flag)) computed IMMEDIATELY before
    the bind that references each one — so a group correlated on an
    earlier BIND's variable sees that column in the shared set (SPARQL
    extends the solution sequentially).  Each marker is a left join on
    the shared variables; a no-shared-var group is constant over the
    outer rows (same LIMIT-1 broadcast trick as FILTER EXISTS).  The
    hidden aliases drop at the end."""
    markers = dict(
        (alias, sub) for sub, alias in q.exists_binds
    )

    def join_marker(df, alias, sub):
        subdf = _group_bindings(
            triples, sub, allow_cartesian, base_triples, services
        )
        shared = [c for c in subdf.columns if c in df.columns]
        if shared:
            mk = (
                subdf.select(*shared)
                .distinct()
                .withColumn(alias, F.lit(True))
            )
            df = df.join(mk, on=shared, how="left")
        else:
            mk = F.broadcast(
                subdf.limit(1).select(
                    F.lit(1).alias("__ex__"),
                    F.lit(True).alias(alias),
                )
            )
            df = (
                df.withColumn("__ex__", F.lit(1))
                .join(mk, on="__ex__", how="left")
                .drop("__ex__")
            )
        return df.withColumn(
            alias, F.coalesce(F.col(alias), F.lit(False))
        )

    computed: list = []
    for sql, var in q.binds:
        for alias, sub in markers.items():
            if alias in computed or f"`{alias}`" not in sql:
                continue
            df = join_marker(df, alias, sub)
            computed.append(alias)
        if var in df.columns:
            raise ValueError(f"BIND would rebind ?{var}")
        df = df.withColumn(var, F.expr(sql).cast("string"))
    if computed:
        df = df.drop(*computed)
    # markers registered by FILTER expressions (not by any BIND):
    # compute them LAST — filter-referencing markers stay as columns
    # for the caller's deferred filters, which drop them afterwards
    for alias, sub in markers.items():
        if alias not in computed:
            df = join_marker(df, alias, sub)
    return df


def _apply_services(
    df: DataFrame | None,
    q: ParsedQuery,
    services: dict | None,
    allow_cartesian: bool,
) -> DataFrame:
    """Join each SERVICE group's bindings — evaluated against its
    registered snapshot's (subj, pred, obj) triples — onto the outer
    bindings on the shared variables (SPARQL 1.1 Federated Query
    evaluates the service pattern remotely and joins; here 'remote' is
    the offline snapshot).  The group may carry FILTERs, OPTIONAL
    groups, UNION blocks, property paths and alternatives, [NOT]
    EXISTS / MINUS, VALUES, BIND, ``{ SELECT ... }`` subqueries and
    nested SERVICE blocks — all evaluated against the SNAPSHOT's graph
    through the shared rewrite/closure machinery and _group_bindings
    assembler (federation evaluates the whole pattern remotely, so
    every sub-clause sees the remote graph; a nested SERVICE joins its
    OWN snapshot).  Uncorrelated groups need allow_cartesian, same as
    every other cross-product seam.  ``df`` may be None (a
    SERVICE-only sub-group, e.g. ``OPTIONAL { SERVICE <e> {...} }``):
    the first service's bindings seed the frame."""
    for endpoint, group in q.services:
        if services is None or endpoint not in services:
            raise NotImplementedError(
                f"SERVICE <{endpoint}> names no registered offline "
                "snapshot; live federation needs a live endpoint — "
                "register one (execute(services={iri: df}) / "
                "hunter.register_service_snapshot)"
            )
        snap = services[endpoint].select("subj", "pred", "obj")
        # rewrite a COPY so a reused parse tree never double-rewrites
        sq = ParsedQuery(form="service")
        from copy import deepcopy

        sq.patterns = list(group.patterns)
        sq.filters = list(group.filters)
        # ParsedQuery entries (UNION-carrying OPTIONAL groups, complex
        # UNION branches, negation groups, subqueries, nested SERVICE
        # groups) deep-copy so the in-place path rewrite never mutates
        # the caller's parse tree across reuses
        sq.optional = [
            deepcopy(g) if isinstance(g, ParsedQuery) else list(g)
            for g in group.optional
        ]
        sq.optional_filters = [list(f) for f in group.optional_filters]
        sq.unions = [
            [
                ("__q__", deepcopy(b[1])) if b[0] == "__q__" else b
                for b in branches
            ]
            for branches in group.unions
        ]
        sq.values_clauses = [
            (list(v), [tuple(r) for r in rows])
            for v, rows in group.values_clauses
        ]
        sq.binds = list(group.binds)
        sq.exists_binds = [
            (deepcopy(g), a) for g, a in group.exists_binds
        ]
        sq.exists_clauses = [
            (pos, deepcopy(g)) for pos, g in group.exists_clauses
        ]
        sq.minus_clauses = [deepcopy(g) for g in group.minus_clauses]
        sq.subqueries = [deepcopy(g) for g in group.subqueries]
        sq.services = [(e, deepcopy(g)) for e, g in group.services]
        sq = _rewrite_path_ops(sq)
        snap, sq = _expand_paths(snap, sq)
        sub = _group_bindings(
            snap, sq, allow_cartesian,
            base_triples=snap, services=services,
        )
        seq_cols = [c for c in sub.columns if c.startswith("__seq")]
        if seq_cols:
            sub = sub.drop(*seq_cols)
        if df is None:
            df = sub
            continue
        shared = [c for c in sub.columns if c in df.columns]
        if shared:
            df = df.join(sub, on=shared, how="inner")
        elif allow_cartesian:
            df = df.crossJoin(sub)
        else:
            raise ValueError(
                "SERVICE group shares no variable with the outer "
                "patterns (a cross product) — correlate it or pass "
                "allow_cartesian=True"
            )
    return df


def _group_bound_vars(q: "ParsedQuery") -> set:
    """Variable names the group's own clauses bind: triple-pattern
    positions (required, OPTIONAL and UNION-branch), VALUES columns
    and BIND targets.  Used to refuse a GRAPH ?g whose variable is
    also matched by the patterns — that would be a join against graph
    names, which a single-graph store cannot express."""
    out: set = set()

    def add_patterns(pats):
        for s, p, o in pats:
            for t in (s, p, o):
                if type(t) is str and t.startswith("?"):
                    out.add(t[1:])

    add_patterns(q.patterns)
    for g in q.optional:
        if isinstance(g, ParsedQuery):
            out.update(_group_bound_vars(g))
        else:
            add_patterns(g)
    for branches in q.unions:
        for b in branches:
            if b[0] == "__q__":
                out.update(_group_bound_vars(b[1]))
                continue
            pats, opt, _ofilt, _filt = b
            add_patterns(pats)
            for g2 in opt:
                if isinstance(g2, ParsedQuery):
                    out.update(_group_bound_vars(g2))
                else:
                    add_patterns(g2)
    for vars_, _rows in q.values_clauses:
        out.update(vars_)
    out.update(v for _sql, v in q.binds)
    # variables a subquery PROJECTS into the group (only those are
    # visible outside the subquery — SPARQL 1.1 §12) and variables a
    # SERVICE group's own clauses bind (the snapshot join surfaces
    # them into the enclosing group)
    for sub in q.subqueries:
        if sub.select is not None:
            out.update(sub.select)
        else:
            # SELECT *: every variable the subquery's own clauses
            # bind projects outward
            out.update(_group_bound_vars(sub))
        out.update(a for _sql, a in sub.select_exprs)
        out.update(a[3] for a in sub.aggregates)
    for _endpoint, g in q.services:
        out.update(_group_bound_vars(g))
    return out


def _check_optional_exists_scope(q: "ParsedQuery") -> None:
    """Refuse an EXISTS marker inside an OPTIONAL group's FILTER
    expression that correlates on a variable bound OUTSIDE the
    OPTIONAL group: the marker computes on the group's own bindings
    frame (before the left join), so a left-only variable cannot
    reach it — SPARQL would evaluate EXISTS over merge(left, right).
    Variables bound inside the group (including the shared join
    variables, which the group's patterns also bind) correlate
    correctly; variables bound nowhere are existential and fine.
    Conservative over UNION blocks: the enclosing group's full bound
    set is used, so a variable bound only in a sibling branch also
    refuses (loudly, with the hoist workaround).  SERVICE groups are
    walked explicitly (_iter_group_queries skips them for the
    GRAPH-var injection's sake, but an OPTIONAL inside a SERVICE
    group evaluates through the same marker machinery against the
    snapshot and needs the same guard)."""

    def _walk(q0):
        for g in _iter_group_queries(q0):
            yield g
            for _endpoint, svc in g.services:
                yield from _walk(svc)

    for outer in _walk(q):
        outer_vars = None  # computed lazily, once per enclosing group
        groups = [
            g for g in outer.optional if isinstance(g, ParsedQuery)
        ]
        for blk in outer.unions:
            for b in blk:
                if b[0] != "__q__":
                    groups.extend(
                        g2 for g2 in b[1]
                        if isinstance(g2, ParsedQuery)
                    )
        for g in groups:
            if not g.exists_binds:
                continue
            unconsumed = [
                (sub, a) for sub, a in g.exists_binds
                if not any(f"`{a}`" in f for f in g.filters)
                and not any(f"`{a}`" in sql for sql, _v in g.binds)
            ]
            if not unconsumed:
                continue
            if outer_vars is None:
                outer_vars = _group_bound_vars(outer)
            gvars = _group_bound_vars(g)
            for sub, _a in unconsumed:
                bad = sorted(
                    _group_bound_vars(sub) & (outer_vars - gvars)
                )
                if bad:
                    raise NotImplementedError(
                        "EXISTS inside an OPTIONAL group's FILTER "
                        f"correlates on ?{bad[0]}, which is bound "
                        "outside the OPTIONAL group — the marker "
                        "computes on the group's bindings before the "
                        "left join; bind the variable inside the "
                        "group or hoist the EXISTS to the outer "
                        "FILTER"
                    )


def _iter_group_queries(q: "ParsedQuery"):
    """Yield ``q`` and every nested ParsedQuery group reachable from
    it — complex OPTIONAL groups, complex UNION branches (and the
    complex optionals of plain tuple branches), EXISTS/MINUS groups,
    and subqueries — recursively, in document order.  SERVICE groups
    are NOT yielded: the parser forbids GRAPH ?var inside SERVICE
    (the wrapper would name the REMOTE dataset's graphs, not the
    store's single graph, so the single-graph collapse is wrong
    there)."""
    yield q
    for g in q.optional:
        if isinstance(g, ParsedQuery):
            yield from _iter_group_queries(g)
    for blk in q.unions:
        for b in blk:
            if b[0] == "__q__":
                yield from _iter_group_queries(b[1])
            else:
                for g2 in b[1]:
                    if isinstance(g2, ParsedQuery):
                        yield from _iter_group_queries(g2)
    for _positive, g in q.exists_clauses:
        yield from _iter_group_queries(g)
    for g, _alias in q.exists_binds:
        yield from _iter_group_queries(g)
    for g in q.minus_clauses:
        yield from _iter_group_queries(g)
    for g in q.subqueries:
        yield from _iter_group_queries(g)


def _inject_graph_binds(q: "ParsedQuery", graph_uri: str | None) -> None:
    """Turn each ``GRAPH ?g {...}`` wrapper variable — top-level,
    per-subquery, and inside any nested OPTIONAL / UNION-branch /
    EXISTS / MINUS group — into a BIND of the store's single graph
    URI within that group — the one graph the dataset's graph
    iteration can visit.  The bind joins outward like any group
    variable, so a graph var shared with an outer pattern column
    joins on equality with the constant URI (the spec's semantics
    when the dataset holds exactly one named graph)."""
    targets = [t for t in _iter_group_queries(q) if t.graph_vars]
    if not targets:
        return
    if graph_uri is None:
        raise ValueError(
            "GRAPH ?var needs the store's single graph URI to bind — "
            "pass graph_uri= (execute(graph_uri=...) / "
            "SparkHunter(graph_uri=...))"
        )
    for tgt in targets:
        bound = _group_bound_vars(tgt)
        for gvar in dict.fromkeys(tgt.graph_vars):
            if gvar in bound:
                raise NotImplementedError(
                    f"GRAPH variable ?{gvar} is also matched by the "
                    "group's patterns — the store is a single graph; "
                    "compare against the constant URI instead"
                )
            tgt.binds.append((_sql_str(graph_uri), gvar))


def execute(
    triples: DataFrame,
    text: str,
    allow_cartesian: bool = False,
    entailment: str | None = None,
    services: dict | None = None,
    graph_uri: str | None = None,
):
    """Parse + run a SPARQL query against a (subj, pred, obj) triple
    DataFrame.  SELECT/DESCRIBE/CONSTRUCT return a DataFrame; ASK
    returns a bool.

    ``graph_uri`` names the store's single graph: a ``GRAPH ?g {...}``
    wrapper collapses into the enclosing group (like ``GRAPH <iri>``)
    and binds ``?g`` to this constant in every solution — the dataset
    has exactly one named graph, so the spec's graph iteration visits
    exactly it.  ``GRAPH ?g`` without a configured URI raises.

    ``services`` maps endpoint IRIs to OFFLINE SNAPSHOT triple
    DataFrames: a ``SERVICE <iri> { patterns }`` group evaluates its
    patterns against the registered snapshot and joins the bindings on
    the shared variables — the engine's analogue of the reference's
    live DBpedia/Wikidata service{} blocks (graph.py:194-244).  A
    SERVICE naming an unregistered endpoint raises NotImplementedError
    (live federation is out of scope, SURVEY §2.8).

    ``entailment='rdfs'`` answers under the RDFS regime (rdflib users
    get this from a reasoner plugin; Virtuoso from inference rules):
    the rdfs9/rdfs11 closure (operators/graph.py::rdfs_entail — a
    broadcast of the tiny ontology closure against the type slice,
    never a shuffle of the full table) is unioned with the asserted
    graph before matching.  Persisting workloads should materialize
    the closure ONCE through the catalog instead (quality/validate
    docs); this flag is the ad-hoc-query form.

    Deviation: terms are stored lexically (no literal datatypes in the
    match), so ``isNumeric`` is lexical too — true iff the string casts
    to a double.  A plain ``"42"``, and ``"NaN"`` / ``"Infinity"``,
    report true where the spec wants a numeric-datatyped literal.

    Deviation: a bound ``VALUES`` cell never matches an unbound (NULL)
    solution column — the engine's uniform NULL-join convention —
    where the spec treats the unbound variable as compatible with any
    value.  ``UNDEF`` cells wildcard-match per the spec."""
    if entailment not in (None, "rdfs"):
        raise ValueError("entailment must be None or 'rdfs'")
    if entailment == "rdfs":
        from .graph import rdfs_entail

        base = triples.select("subj", "pred", "obj")
        triples = base.unionByName(rdfs_entail(base))
    q = parse(text)
    missing = [
        e for e in _service_endpoints(q)
        if services is None or e not in services
    ]
    if missing:
        raise NotImplementedError(
            f"SERVICE <{missing[0]}> names no registered offline "
            "snapshot; live federation needs a live endpoint — "
            "register one (execute(services={iri: df}) / "
            "hunter.register_service_snapshot) or use the "
            "attribute dim-table join "
            "(query.get_videos_with_filters / h.query)"
        )
    _inject_graph_binds(q, graph_uri)
    # subqueries expand their own paths against the pre-expansion
    # graph (top-level synthetic closure triples are invisible to them
    # anyway — collision-proof predicate names)
    base_triples = triples
    describe_var = (
        q.form == "describe"
        and type(q.describe_node) is str
        and q.describe_node.startswith("?")
    )
    if q.form != "describe" or describe_var:
        q = _rewrite_path_ops(q)
        triples, q = _expand_paths(triples, q)
    # group-level FILTERs may reference service-, subquery- or
    # BIND-bound variables, so with those clauses present they run
    # AFTER the joins and binds (Catalyst still pushes the main-side
    # predicates below the joins)
    deferred_filters: list = []
    if (
        q.services or q.subqueries or q.binds or q.exists_binds
    ) and q.filters:
        deferred_filters, q.filters = q.filters, []
    has_negation = bool(
        q.exists_clauses or q.minus_clauses or q.values_clauses
        or q.binds or q.exists_binds
    )
    if q.form == "ask":
        vs = _variants(q)
        needs_assembler = (
            has_negation or q.services or q.subqueries or q.post_values
            or any(
                cx or any(isinstance(g, ParsedQuery) for g in o)
                for _, o, _, _, cx in vs
            )
        )
        if needs_assembler:
            # same binding assembly as SELECT (an ask-form q has no
            # aggregates/projection/modifiers, so the shared pipeline
            # reduces to the joins + clauses), then LIMIT-1 existence;
            # also the route for complex union branches and
            # UNION-carrying OPTIONAL groups (pre-evaluated DataFrame
            # units bgp.ask's plain plan doesn't take)
            df = _finish_select(
                triples, base_triples, q, allow_cartesian, services,
                deferred_filters,
            )
            return len(df.limit(1).take(1)) > 0
        return any(
            bgp.ask(
                triples,
                p,
                optional=o or None,
                optional_filters=of or None,
                filters=f or None,
                allow_cartesian=allow_cartesian,
            )
            for p, o, of, f, _cx in vs
        )
    if q.form == "describe":
        if not describe_var:
            if q.post_values:
                raise NotImplementedError(
                    "a trailing VALUES clause on a constant-node "
                    "DESCRIBE has no solutions to join — describe a "
                    "?variable bound in a WHERE group instead"
                )
            return bgp.describe(triples, q.describe_node)
        # variable form: bind the node set through the full solution
        # algebra, then two semi-joins pull each node's out/in star —
        # no collect, the node set stays distributed
        var = q.describe_node[1:]
        q.select = [var]
        q.distinct = True
        nodes = _finish_select(
            triples, base_triples, q, allow_cartesian, services,
            deferred_filters,
        )
        return bgp.describe_set(base_triples, nodes, var)
    if q.form == "construct":
        # assemble the solution bindings through the same algebra the
        # SELECT path uses (UNION variants, SERVICE/subquery joins,
        # EXISTS/MINUS/VALUES/BIND), then instantiate the template
        # once over the combined rows — the bindings plan executes
        # ONCE, and a variant-absent (NULL) template var skips that
        # row per the spec instead of erroring
        df = _finish_select(
            triples, base_triples, q, allow_cartesian, services,
            deferred_filters,
        )
        return bgp.construct_from_bindings(df, q.template)
    return _finish_select(
        triples, base_triples, q, allow_cartesian, services,
        deferred_filters,
    )


def _service_endpoints(q: ParsedQuery) -> list:
    """All SERVICE endpoint IRIs in q, including inside subqueries and
    nested sub-groups (complex OPTIONAL/UNION entries, negation
    groups) — so a missing snapshot raises up-front, not mid-plan."""
    eps = [e for e, _ in q.services]
    for sub in q.subqueries:
        eps += _service_endpoints(sub)
    for g in q.optional:
        if isinstance(g, ParsedQuery):
            eps += _service_endpoints(g)
    for branches in q.unions:
        for b in branches:
            if b[0] == "__q__":
                eps += _service_endpoints(b[1])
    for _pos, g in q.exists_clauses:
        eps += _service_endpoints(g)
    for g, _alias in q.exists_binds:
        eps += _service_endpoints(g)
    for g in q.minus_clauses:
        eps += _service_endpoints(g)
    return eps


def _eval_subquery(
    base_triples: DataFrame,
    sub: ParsedQuery,
    allow_cartesian: bool,
    services: dict | None,
) -> DataFrame:
    """Evaluate one ``{ SELECT ... }`` subquery bottom-up against the
    (entailment-applied) base triples: its own property paths,
    bindings, aggregates and solution modifiers run first, and only
    its projected variables leave the subquery (SPARQL 1.1 §12)."""
    sub = _rewrite_path_ops(sub)
    expanded, sub = _expand_paths(base_triples, sub)
    deferred: list = []
    if (
        sub.services or sub.subqueries or sub.binds or sub.exists_binds
    ) and sub.filters:
        deferred, sub.filters = sub.filters, []
    return _finish_select(
        expanded, base_triples, sub, allow_cartesian, services, deferred
    )


def _apply_subqueries(
    df: DataFrame | None,
    q: ParsedQuery,
    base_triples: DataFrame,
    allow_cartesian: bool,
    services: dict | None,
) -> DataFrame:
    """Hash-join each subquery's projected bindings onto the outer
    bindings on the shared variables (the algebra's Join(P, subselect);
    a subquery-only WHERE clause starts from the first subquery's
    result).  Uncorrelated subqueries are cross products and need
    allow_cartesian, same as every other cross-product seam."""
    for sub in q.subqueries:
        sdf = _eval_subquery(base_triples, sub, allow_cartesian, services)
        if df is None:
            df = sdf
            continue
        shared = [c for c in sdf.columns if c in df.columns]
        if shared:
            df = df.join(sdf, on=shared, how="inner")
        elif allow_cartesian:
            df = df.crossJoin(sdf)
        else:
            raise ValueError(
                "subquery shares no variable with the outer patterns "
                "(a cross product) — correlate it or pass "
                "allow_cartesian=True"
            )
    return df


def _finish_select(
    triples: DataFrame,
    base_triples: DataFrame,
    q: ParsedQuery,
    allow_cartesian: bool,
    services: dict | None,
    deferred_filters: list,
) -> DataFrame:
    """The SELECT evaluation pipeline shared by top-level queries and
    subqueries: bindings -> SERVICE joins -> subquery joins ->
    deferred filters -> solution clauses -> aggregation -> projection
    -> DISTINCT -> ORDER/OFFSET/LIMIT.  ``triples`` is the
    path-expanded graph for q's own patterns; ``base_triples`` the
    pre-expansion graph nested subqueries expand against."""
    has_negation = bool(
        q.exists_clauses or q.minus_clauses or q.values_clauses
        or q.binds or q.exists_binds
    )
    if q.patterns or q.unions or not q.subqueries:
        df = _bindings(
            triples, q, allow_cartesian, base_triples, services
        )
    else:
        df = None  # subquery-only WHERE clause: start from the first
    if q.subqueries:
        df = _apply_subqueries(
            df, q, base_triples, allow_cartesian, services
        )
    if q.services:
        df = _apply_services(df, q, services, allow_cartesian)
    if has_negation:
        df = _apply_solution_clauses(
            triples, df, q, allow_cartesian, base_triples, services
        )
    for expr in deferred_filters:
        df = df.where(F.expr(expr))
    # FILTER-registered EXISTS markers drop now unless a SELECT
    # expression still references them (those drop after projection)
    sel_sql = " ".join(sql for sql, _a in q.select_exprs)
    leftover = [
        c for c in df.columns
        if c.startswith("__exists_") and f"`{c}`" not in sel_sql
    ]
    if leftover:
        df = df.drop(*leftover)
    # sequence-path join variables are not solution bindings (SPARQL
    # path intermediates bind nothing) — hide them from SELECT *
    seq_cols = [c for c in df.columns if c.startswith("__seq")]
    if seq_cols and q.select is None:
        df = df.drop(*seq_cols)
    if q.aggregates:
        aggs = []
        for func, arg, dist, alias, extra in q.aggregates:
            # arg is a plain variable name OR a compiled SQL
            # expression (aggregate-over-expression, e.g. SUM(?a*?b));
            # a bare identifier gets backticks so names shadowing SQL
            # keywords stay columns
            ident = arg is not None and re.fullmatch(
                r"[A-Za-z_][A-Za-z0-9_]*", arg
            )
            sql_arg = f"`{arg}`" if ident else arg
            acol = F.expr(sql_arg) if arg is not None else None
            if func == "count":
                if arg is None:
                    if dist:
                        raise ValueError("COUNT(DISTINCT *) is not valid")
                    col = F.count(F.lit(1))
                elif dist:
                    col = F.count_distinct(acol)
                else:
                    col = F.count(acol)
            elif func == "min":
                col = F.min(acol)
            elif func == "max":
                col = F.max(acol)
            elif func in ("sum", "avg"):
                # all-lexical triple model: numeric aggregation casts
                # the lexical form; try_cast drops non-numeric values,
                # matching SPARQL's ignore-errors-in-aggregation rule
                inner = f"try_cast({sql_arg} AS DOUBLE)"
                col = F.expr(
                    f"{func}({'DISTINCT ' if dist else ''}{inner})"
                )
            elif func == "group_concat":
                vals = (
                    F.collect_set(acol) if dist else F.collect_list(acol)
                )
                # SPARQL leaves the order unspecified; sorting makes
                # the result deterministic at any partitioning (the
                # same call the SAMPLE->MIN choice makes)
                col = F.array_join(F.array_sort(vals), extra)
            else:  # SAMPLE — spec says ANY value; min keeps the result
                # deterministic at any partitioning
                col = F.min(acol)
            aggs.append(col.alias(alias))
        df = (
            df.groupBy(*q.group_by).agg(*aggs)
            if q.group_by
            else df.agg(*aggs)
        )
        for h in q.having:
            df = df.where(F.expr(h))
        # hidden HAVING/ORDER-BY aggregates: drop the ones no sort key
        # references now; the rest survive projection and drop after
        # the orderBy below
        order_sql = " ".join(e for e, _ in q.order_by)
        hidden_kept = [
            c for c in df.columns
            if c.startswith("__having_") and f"`{c}`" in order_sql
        ]
        drop_now = [
            c for c in df.columns
            if c.startswith("__having_") and c not in hidden_kept
        ]
        if drop_now:
            df = df.drop(*drop_now)
    else:
        hidden_kept = []
    for vars_, rows_v in q.post_values:
        # trailing VALUES (§18.2.4.3): join the whole query's
        # solutions — after grouping/HAVING, before projection — with
        # the inline table (UNDEF cells wildcard-match)
        df = _join_values(df, vars_, rows_v, cross_ok=allow_cartesian)
    for sql, alias in q.select_exprs:
        # non-aggregate SELECT expressions extend at projection scope
        # (after aggregation, so group keys and aggregate aliases are
        # in reach), cast to string per the all-lexical triple model
        if alias in df.columns:
            raise ValueError(f"SELECT expression would rebind ?{alias}")
        df = df.withColumn(alias, F.expr(sql).cast("string"))
    sel_markers = [c for c in df.columns if c.startswith("__exists_")]
    if sel_markers:
        df = df.drop(*sel_markers)
    if q.select is not None:
        missing = [v for v in q.select if v not in df.columns]
        if missing:
            raise ValueError(f"select names unbound variables: {missing}")
        df = df.select(*q.select, *hidden_kept)
    if q.distinct:
        if hidden_kept:
            # Distinct applies AFTER projection (the algebra is
            # OrderBy -> Project -> Distinct), so a hidden aggregate
            # sort key is not part of row identity: each distinct
            # projected row keeps its FIRST occurrence's key in the
            # ordered sequence.  Within one distinct group only the
            # hidden key differs, so that is the per-group extreme of
            # the key in its sort direction — exact for ONE bare
            # hidden key (the ORDER BY DESC(COUNT(?s)) shape); a
            # hidden key buried in a larger sort expression, or two
            # hidden keys (lexicographic first-occurrence does not
            # decompose into per-column extremes), stay loud.
            refs = [
                (e, asc) for e, asc in q.order_by
                if any(h in e for h in hidden_kept)
            ]
            h0 = hidden_kept[0]
            if len(hidden_kept) > 1 or not all(
                e.strip() in (h0, f"`{h0}`") for e, _asc in refs
            ):
                raise NotImplementedError(
                    "DISTINCT with a composite aggregate ORDER BY "
                    "key is not in the supported subset — alias the "
                    "aggregate in the SELECT list and sort by the "
                    "alias"
                )
            asc0 = refs[0][1] if refs else True
            vis = [c for c in df.columns if c != h0]
            df = df.groupBy(*vis).agg(
                (F.min(h0) if asc0 else F.max(h0)).alias(h0)
            )
        else:
            df = df.distinct()
    if q.order_by:

        def _key(e):
            # plain var names stay column references (backticked so a
            # name shadowing a SQL keyword stays a column); anything
            # else is a compiled sort expression
            return F.expr(
                f"`{e}`"
                if re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", e)
                else e
            )

        df = df.orderBy(
            *[
                _key(e).asc() if asc else _key(e).desc()
                for e, asc in q.order_by
            ]
        )
        if hidden_kept:
            df = df.drop(*hidden_kept)
    if q.offset:
        df = df.offset(q.offset)
    if q.limit is not None:
        df = df.limit(q.limit)
    return df
