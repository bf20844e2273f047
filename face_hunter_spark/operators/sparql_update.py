"""SPARQL UPDATE front-end — the write half of the reference's text
query surface.

The reference's Virtuoso store WRITES with SPARQL Update strings:
``insert()`` accumulates ``INSERT DATA { GRAPH <g> { <s> <p> <o> . } }``
and ``commit()`` POSTs the accumulated batch
(src/knowledge_graph/virtuoso_store.py:29-52).  The read-side text
front-end (operators/sparql.py) covered SELECT/ASK/DESCRIBE/CONSTRUCT;
this module parses the update forms the reference emits — plus the
standard delete/modify forms any SPARQL 1.1 user expects — and applies
them to the triple table:

* ``INSERT DATA { [GRAPH <g>] ground triples }`` — set semantics
  (rdflib ``Graph.add`` and Virtuoso graphs are SETS: re-inserting an
  existing triple is a no-op): the payload is deduped, already-asserted
  triples are anti-joined away, and the remainder lands as ONE catalog
  append commit, bucketed like the pipeline's own appends.
* ``DELETE DATA { ground triples }`` — copy-on-write: the table minus
  those exact (subj, pred, obj) rows is committed as ONE new snapshot
  replacing the old ones (Iceberg's COW DELETE shape;
  ``catalog.overwrite``).
* ``DELETE WHERE { patterns }`` — per spec the pattern doubles as the
  template: its bindings instantiate the delete set (one BGP pass via
  bgp.construct), then the same anti-join + overwrite.
* ``DELETE { template } INSERT { template } WHERE { group }`` (either
  half optional) — both templates instantiate against the ORIGINAL
  state's bindings (SPARQL 1.1 §3.1.3: deletes and inserts are
  computed first, then applied delete-before-insert), where the group
  supports the read subset's OPTIONAL + FILTER + UNION (written, or
  spawned by '|' alternative paths; UNION-carrying groups assemble
  their bindings through the read path's variant machinery and
  materialize with the same single-explode template plan).

``GRAPH <g>`` wrappers are accepted and validated but collapse into
the single default graph — the engine's store is ONE triple table,
exactly as the reference funnels everything into one graph URI
(virtuoso_store.py:20-27).

Scale shape: parsing is driver-side string work; the data-sized parts
are the BGP self-join chain (bgp.py — pushed constant filters, hash
equi-joins), one left-anti join per delete on (subj, pred, obj), and
one left-anti per insert for set semantics.  An insert commits an
append-only snapshot (no rewrite); only deletes pay the copy-on-write
full-table rewrite, which is the Iceberg COW trade — at 10^12 triples
a deployment doing frequent point deletes would move to the
IcebergCatalog backend and merge-on-read, but the UPDATE semantics
above stay identical.
"""

from __future__ import annotations

import re
import uuid
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from . import bgp
from .sparql import Lit, ParsedQuery, _Parser
from .triples import append_asserted

__all__ = [
    "parse_update",
    "parse_update_request",
    "parse_turtle",
    "ParsedUpdate",
    "updated_graph",
    "execute_update",
]

# parsed literals come from the shared parser (sparql.Lit — a str
# subclass carrying datatype/lang); kept under the old private name
# for callers/tests that imported it from here
_Lit = Lit


@dataclass
class ParsedUpdate:
    """One parsed SPARQL Update operation."""

    form: str  # 'insert_data' | 'delete_data' | 'delete_where' |
    # 'modify' | 'clear' | 'clear_named' | 'load' | 'create' |
    # 'copy' | 'move' | 'add'
    # ground triples of the DATA forms (terms may be _Lit)
    data: list = field(default_factory=list)
    delete_template: list | None = None
    insert_template: list | None = None
    where: ParsedQuery | None = None
    graph: str | None = None  # last GRAPH <g> wrapper seen (informational)
    graph2: str | None = None  # COPY/MOVE/ADD destination ref (None=DEFAULT)
    silent: bool = False  # SILENT modifier (failures become no-ops)
    load_iri: str | None = None  # LOAD source IRI


class _UpdateParser(_Parser):
    # string literals already arrive as Lit from the shared parser;
    # numbers and booleans additionally keep their XSD datatype so
    # INSERT DATA materializes them as typed literals
    def _literal_term(self, text, datatype_iri):
        return Lit(text, datatype_iri, None)

    def parse_update_request(self) -> list["ParsedUpdate"]:
        """A full SPARQL 1.1 update REQUEST: one or more operations
        separated by ';' (grammar rule Update ::= Prologue (Update1
        (';' Update)?)?), each operation optionally extending the
        PREFIX prologue.  A trailing ';' is legal.  Operations apply
        in document order, each against the state the previous one
        left (§3.1: a request is a sequence)."""
        ops = [self.parse_update()]
        while True:
            t = self._peek()
            if t is None:
                return ops
            if t.kind == "OP" and t.text == ";":
                self._next()
                if self._peek() is None:
                    return ops  # trailing ';'
                ops.append(self.parse_update())
                continue
            raise ValueError(
                f"trailing content after update at offset {t.pos}: "
                f"{t.text!r}"
            )

    def parse_update(self) -> ParsedUpdate:
        self._parse_prologue()
        if self._at_kw("insert"):
            self._next()
            if self._at_kw("data"):
                self._next()
                u = ParsedUpdate(form="insert_data")
                self._parse_data_block(u)
                self._done()
                return u
            u = ParsedUpdate(form="modify")
            u.insert_template = self._parse_template()
            self._expect_kw("where")
            u.where = self._parse_where_group()
            self._done()
            return u
        if self._at_kw("delete"):
            self._next()
            if self._at_kw("data"):
                self._next()
                u = ParsedUpdate(form="delete_data")
                self._parse_data_block(u)
                self._done()
                return u
            if self._at_kw("where"):
                self._next()
                u = ParsedUpdate(form="delete_where")
                sub = ParsedQuery(form="delete-where")
                self._parse_group(sub)
                if (
                    sub.optional or sub.filters or sub.unions
                    or sub.exists_clauses or sub.minus_clauses
                    or sub.values_clauses or sub.binds
                    or sub.services or sub.subqueries
                ):
                    raise NotImplementedError(
                        "DELETE WHERE takes plain triple patterns only "
                        "(SPARQL 1.1 §3.1.3.3) — use DELETE {...} WHERE "
                        "{...} for OPTIONAL/FILTER"
                    )
                _check_template(sub.patterns, "DELETE WHERE",
                                allow_vars=True)
                u.delete_template = sub.patterns
                u.where = sub
                self._done()
                return u
            u = ParsedUpdate(form="modify")
            u.delete_template = self._parse_template()
            if self._at_kw("insert"):
                self._next()
                u.insert_template = self._parse_template()
            self._expect_kw("where")
            u.where = self._parse_where_group()
            self._done()
            return u
        if self._at_kw("clear", "drop"):
            self._next()
            if self._at_kw("silent"):
                self._next()
            u = ParsedUpdate(form="clear")
            if self._at_kw("graph"):
                self._next()
                g = self._term(allow_var=False)
                if isinstance(g, Lit):
                    raise ValueError("CLEAR GRAPH needs an IRI")
                u.graph = g
            elif self._at_kw("default", "all"):
                self._next()
            elif self._at_kw("named"):
                # single-graph store: there are no named graphs to
                # clear, so this is a well-defined no-op
                self._next()
                u.form = "clear_named"
            else:
                raise ValueError(
                    "CLEAR needs GRAPH <iri> | DEFAULT | NAMED | ALL"
                )
            self._done()
            return u
        if self._at_kw("load"):
            # LOAD [SILENT] <iri> [INTO GRAPH <iri>] — evaluated at
            # execution time (the file is read then, not at parse);
            # only file IRIs are supported (offline store)
            self._next()
            u = ParsedUpdate(form="load")
            if self._at_kw("silent"):
                self._next()
                u.silent = True
            src = self._term(allow_var=False)
            if isinstance(src, Lit):
                raise ValueError("LOAD needs an IRI source")
            u.load_iri = src
            if self._at_kw("into"):
                self._next()
                self._expect_kw("graph")
                g = self._term(allow_var=False)
                if isinstance(g, Lit):
                    raise ValueError("INTO GRAPH needs an IRI")
                # additive collapse, same rule as INSERT GRAPH wrappers
                u.graph = g
            self._done()
            return u
        if self._at_kw("create"):
            self._next()
            u = ParsedUpdate(form="create")
            if self._at_kw("silent"):
                self._next()
                u.silent = True
            self._expect_kw("graph")
            g = self._term(allow_var=False)
            if isinstance(g, Lit):
                raise ValueError("CREATE GRAPH needs an IRI")
            u.graph = g
            self._done()
            return u
        if self._at_kw("copy", "move", "add"):
            kw = self._next().text.lower()
            u = ParsedUpdate(form=kw)
            if self._at_kw("silent"):
                self._next()
                u.silent = True
            u.graph = self._graph_ref(kw.upper())
            self._expect_kw("to")
            u.graph2 = self._graph_ref(kw.upper())
            self._done()
            return u
        t = self._peek()
        raise ValueError(
            "update must start with INSERT, DELETE, CLEAR/DROP, LOAD, "
            "CREATE, COPY, MOVE or ADD (after any PREFIX block); got "
            f"{t.text if t else 'nothing'!r}"
        )

    def _graph_ref(self, where: str) -> str | None:
        """``GRAPH? <iri> | DEFAULT`` (SPARQL 1.1 GraphOrDefault).
        Returns the IRI, or None for DEFAULT."""
        if self._at_kw("default"):
            self._next()
            return None
        if self._at_kw("graph"):
            self._next()
        g = self._term(allow_var=False)
        if isinstance(g, Lit):
            raise ValueError(f"{where} needs GRAPH <iri> or DEFAULT")
        return g

    def _done(self) -> None:
        # end of ONE operation: EOF or a ';' separator (consumed by
        # parse_update_request) are both fine; anything else is noise
        t = self._peek()
        if t is not None and not (t.kind == "OP" and t.text == ";"):
            raise ValueError(
                f"trailing content after update at offset {t.pos}: "
                f"{t.text!r}"
            )

    def _parse_template(self) -> list:
        tq = ParsedQuery(form="template")
        self._parse_group(tq, template_mode=True)
        _check_template(tq.patterns, "template", allow_vars=True)
        if not tq.patterns:
            raise ValueError("empty template group")
        return tq.patterns

    def _parse_where_group(self) -> ParsedQuery:
        """The modify-form WHERE clause takes the read path's full
        group surface — patterns, FILTER, OPTIONAL, UNION, property
        paths, FILTER [NOT] EXISTS / MINUS, VALUES, BIND, SERVICE
        snapshots, ``{ SELECT ... }`` subqueries, and GRAPH wrappers —
        evaluated by the same ``_group_bindings`` assembler the read
        queries use (SPARQL 1.1 §3.1.3: the WHERE clause is evaluated
        exactly like a query's)."""
        from .sparql import _check_optional_exists_scope

        sub = ParsedQuery(form="update-where")
        self._parse_group(sub)
        if not (
            sub.patterns or sub.unions or sub.subqueries or sub.services
        ):
            raise ValueError("update WHERE group has no triple patterns")
        # same post-parse guard the read path runs: a left-only
        # correlated EXISTS inside an OPTIONAL's FILTER must refuse
        # loudly here too — silently-wrong bindings would DELETE or
        # INSERT the wrong triples
        _check_optional_exists_scope(sub)
        return sub

    def _parse_data_block(self, u: ParsedUpdate) -> None:
        """{ [GRAPH <g> { triples }]* | triples } — ground triples only."""
        self._expect_op("{")
        while not self._at_op("}"):
            if self._peek() is None:
                raise ValueError("unclosed data block")
            if self._at_kw("graph"):
                self._next()
                g = self._term(allow_var=False)
                if isinstance(g, _Lit):
                    raise ValueError("GRAPH needs an IRI, got a literal")
                u.graph = g
                inner = ParsedQuery(form="data")
                self._parse_group(inner, template_mode=True)
                u.data.extend(inner.patterns)
                continue
            self._triples_block(_DataSink(u.data))
        self._next()  # '}'
        if not u.data:
            raise ValueError("empty data block")
        _check_template(u.data, "DATA block", allow_vars=False)

    def parse_turtle(self) -> list:
        """A Turtle document read as the body of an INSERT DATA block:
        ``@prefix`` / ``PREFIX`` directives and '.'-terminated
        statements (the same ``;`` / ``,`` / ``a`` triples grammar),
        each subject an absolute ``<iri>`` or a declared-prefix name."""
        out: list = []
        while (t := self._peek()) is not None:
            if t.kind == "LANGTAG" and t.text == "@prefix":
                self._next()
                self._prefix_decl()
                self._expect_op(".")
            elif self._at_kw("prefix"):
                self._next()
                self._prefix_decl()
            elif t.kind == "IRI" or (
                t.kind == "PNAME" and t.text.split(":")[0] in self.prefixes
            ):
                self._triples_block(_DataSink(out))
                if self.toks[self.i - 1].text != ".":
                    raise ValueError(
                        f"cannot parse n3 statement at offset {t.pos}: "
                        "expected '.' after its last object"
                    )
            else:
                raise ValueError(
                    f"cannot parse n3 subject {t.text!r} at offset "
                    f"{t.pos} (expected an absolute <iri> or a "
                    "declared-prefix name)"
                )
        _check_template(out, "n3 document", allow_vars=False)
        return out


class _DataSink:
    """Duck-typed ParsedQuery stand-in so _triples_block can append
    into a plain triple list."""

    def __init__(self, patterns: list):
        self.patterns = patterns


def _check_template(patterns, what: str, allow_vars: bool) -> None:
    for i, (s, p, o) in enumerate(patterns):
        for term in (s, p, o):
            if term is None:
                raise ValueError(
                    f"{what}: anonymous [] is not allowed (triple {i})"
                )
            if isinstance(term, tuple):
                raise ValueError(
                    f"{what}: property-path modifiers are not allowed "
                    f"(triple {i})"
                )
            if (
                not allow_vars
                and type(term) is str
                and term.startswith("?")
            ):
                raise ValueError(
                    f"{what} must be ground (no variables); got {term} "
                    f"in triple {i}"
                )
        if not allow_vars and isinstance(s, Lit):
            raise ValueError(
                f"{what}: a literal cannot be a subject (triple {i})"
            )


def parse_update(text: str) -> ParsedUpdate:
    """Parse a single-operation SPARQL Update string without executing
    it.  A multi-operation (';'-separated) request raises — use
    :func:`parse_update_request` (or the executing callers, which
    accept either form)."""
    ops = _UpdateParser(text).parse_update_request()
    if len(ops) != 1:
        raise ValueError(
            f"update request holds {len(ops)} operations — "
            "parse_update is the single-operation form; use "
            "parse_update_request"
        )
    return ops[0]


def parse_update_request(text: str) -> list[ParsedUpdate]:
    """Parse a full SPARQL Update request — one or more ';'-separated
    operations, applied in document order — without executing it."""
    return _UpdateParser(text).parse_update_request()


_ABSOLUTE_IRI = re.compile(r"[A-Za-z][A-Za-z0-9+.-]*:")


def parse_turtle(text: str) -> list:
    """The n3/Turtle reader: (subj, pred, obj) triples in document
    order, literal objects as :class:`Lit` (lexical form + datatype).
    Read: prefixes (the empty ``:`` prefix too), ``;`` / ``,`` / ``a``
    lists, short and long strings, ``^^`` datatypes, numbers as
    xsd:integer / xsd:decimal / xsd:double (``1e5``) and
    ``true`` / ``false`` as xsd:boolean.
    Dropped: ``@lang`` tags.  Refused: blank nodes, collections,
    ``@base`` and relative IRIs.  Every refusal is a ValueError whose
    message starts with "cannot parse n3"."""
    try:
        p = _UpdateParser(text)
        p.prefixes = {}  # Turtle declares every prefix it uses
        out = p.parse_turtle()
    except ValueError as e:
        if str(e).startswith("cannot parse"):
            raise
        raise ValueError(f"cannot parse n3 statement: {e}") from e
    for s, pr, o in out:
        for term in (s, pr) if isinstance(o, Lit) else (s, pr, o):
            if not _ABSOLUTE_IRI.match(term):
                raise ValueError(
                    f"cannot parse n3 statement: relative IRI <{term}>"
                )
    return out


def _ground_df(spark: SparkSession, triples: list) -> DataFrame:
    rows = [(str(s), str(p), str(o)) for s, p, o in triples]
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string"
    ).dropDuplicates(["subj", "pred", "obj"])


def _expand_where_paths(base: DataFrame, u: ParsedUpdate) -> DataFrame:
    """Property paths in a modify-form WHERE clause: reuse the read
    path's rewrite (sequences -> fresh join vars, negated sets ->
    hidden-var + NOT IN filter, closures -> synthetic triples) ONCE —
    the rewrite mutates ``u.where`` in place, so both template
    instantiations see the rewritten patterns — and return the
    (possibly closure-augmented) graph they match against.
    Alternative paths ('|') spawn UNION blocks into the WHERE group,
    which _construct_where evaluates through the read path's variant
    machinery."""
    def _branch_has_path(b) -> bool:
        if b[0] == "__q__":
            return _grp_has_path(b[1])
        pp, oo, _of, _f = b
        return any(isinstance(p, tuple) for _, p, _ in pp) or any(
            _grp_has_path(x) for x in oo
        )

    def _grp_has_path(g) -> bool:
        # an OPTIONAL entry or UNION branch may be a full sub-group
        # (UNION inside OPTIONAL, BIND/VALUES-carrying branch): look
        # for path markers in its own patterns, branches and nested
        # optionals
        if isinstance(g, ParsedQuery):
            return (
                any(isinstance(p, tuple) for _, p, _ in g.patterns)
                or any(
                    _branch_has_path(b)
                    for brs in g.unions
                    for b in brs
                )
                or any(_grp_has_path(x) for x in g.optional)
            )
        return any(isinstance(p, tuple) for _, p, _ in g)

    w = u.where
    if w is None or not (
        any(isinstance(p, tuple) for _, p, _ in w.patterns)
        or any(_grp_has_path(g) for g in w.optional)
        or any(
            _branch_has_path(b)
            for brs in w.unions
            for b in brs
        )
        # negation groups, EXISTS-expression groups and subqueries may
        # carry paths arbitrarily deep; the read path's rewrite
        # recurses into them, so run it whenever they are present (a
        # no-op plan pass when pathless)
        or w.exists_clauses or w.exists_binds or w.minus_clauses
        or w.subqueries
    ):
        return base
    from .sparql import _expand_paths, _rewrite_path_ops

    _rewrite_path_ops(w)
    expanded, _ = _expand_paths(base, w)
    return expanded


def _where_optional(base: DataFrame, w: ParsedQuery,
                    allow_cartesian: bool) -> list | None:
    """OPTIONAL entries for bgp.construct: a full sub-group (UNION
    inside OPTIONAL) pre-evaluates to its binding DataFrame and
    left-joins as a unit; plain pattern groups pass through."""
    if not w.optional:
        return None
    from .sparql import _bindings

    return [
        _bindings(base, g, allow_cartesian)
        if isinstance(g, ParsedQuery) else g
        for g in w.optional
    ]


def _construct_where(base: DataFrame, w: ParsedQuery, template: list,
                     allow_cartesian: bool,
                     services: dict | None = None) -> DataFrame:
    """Instantiate a modify-form template against the WHERE group's
    bindings.  A plain group (patterns + OPTIONAL + FILTER) takes the
    single-BGP bgp.construct plan; a group carrying UNION blocks
    (written UNION or spawned by '|' alternative paths), negation
    ([NOT] EXISTS / MINUS), VALUES, BIND, SERVICE snapshots, or
    subqueries assembles its bindings through the read path's
    ``_group_bindings`` (the same assembler read sub-groups use) and
    materializes with the same single-explode template plan."""
    if (
        w.unions or w.exists_clauses or w.minus_clauses
        or w.values_clauses or w.binds or w.services or w.subqueries
    ):
        from .sparql import _group_bindings

        return bgp.construct_from_bindings(
            _group_bindings(base, w, allow_cartesian, services=services),
            template,
        )
    return bgp.construct(
        base,
        w.patterns,
        template=template,
        optional=_where_optional(base, w, allow_cartesian),
        optional_filters=w.optional_filters or None,
        filters=w.filters or None,
        allow_cartesian=allow_cartesian,
    )


def _delete_set(base: DataFrame, u: ParsedUpdate,
                allow_cartesian: bool,
                services: dict | None = None) -> DataFrame | None:
    """The (subj, pred, obj) set this update deletes, computed against
    the ORIGINAL graph, or None if the form deletes nothing."""
    if u.form == "delete_data":
        return _ground_df(base.sparkSession, u.data)
    if u.form in ("delete_where", "modify") and u.delete_template:
        return _construct_where(
            base, u.where, u.delete_template, allow_cartesian, services
        )
    return None


def _insert_set(base: DataFrame, u: ParsedUpdate,
                allow_cartesian: bool,
                services: dict | None = None) -> DataFrame | None:
    """The (subj, pred, obj) set this update inserts (pre-dedup vs the
    post-delete state), or None."""
    if u.form == "insert_data":
        return _ground_df(base.sparkSession, u.data)
    if u.form == "modify" and u.insert_template:
        return _construct_where(
            base, u.where, u.insert_template, allow_cartesian, services
        )
    return None


def _check_clear_graph(u: "ParsedUpdate", graph_uri: str | None) -> None:
    """Guard the destructive CLEAR GRAPH <iri> form.  The store is ONE
    triple table, so — unlike the additive INSERT/DELETE GRAPH wrappers,
    where the collapse is harmless — a CLEAR naming a graph that is NOT
    this store would silently destroy all data.  The IRI must therefore
    match the store's configured graph URI (the reference's funnel URI,
    virtuoso_store.py:20-27); full wipes without a configured URI must
    say CLEAR DEFAULT / CLEAR ALL explicitly."""
    if u.form != "clear" or u.graph is None:
        return
    if graph_uri is None:
        raise ValueError(
            f"CLEAR GRAPH <{u.graph}> on a store with no configured "
            "graph URI — pass graph_uri= to authorize, or use "
            "CLEAR DEFAULT / CLEAR ALL for a full wipe"
        )
    if u.graph != graph_uri:
        raise ValueError(
            f"CLEAR GRAPH <{u.graph}> does not name this store's "
            f"graph <{graph_uri}> — refusing to wipe"
        )


def _graph_mgmt_noop(u: "ParsedUpdate", graph_uri: str | None) -> None:
    """Validate a CREATE / COPY / MOVE / ADD operation.  The store is
    ONE graph, so every valid form is a no-op: graphs implicitly
    exist (CREATE), and both GraphOrDefault refs necessarily resolve
    to the same single graph (COPY/MOVE/ADD g TO g are no-ops per
    SPARQL 1.1 §3.2.3-3.2.5).  An IRI ref that does NOT name this
    store's graph raises — unless SILENT, which turns the failure
    into the spec's silent no-op."""
    refs = [u.graph] if u.form == "create" else [u.graph, u.graph2]
    for g in refs:
        if g is None:  # DEFAULT — always this store
            continue
        ok = graph_uri is not None and g == graph_uri
        if not ok and not u.silent:
            raise ValueError(
                f"{u.form.upper()} names graph <{g}>, which is not "
                "this store's "
                + (f"graph <{graph_uri}>" if graph_uri
                   else "graph (none configured — pass graph_uri=)")
                + " — a single-graph store has no other graphs "
                "(add SILENT for the spec's silent no-op)"
            )


def _resolve_load_path(u: "ParsedUpdate") -> str | None:
    """LOAD IRI -> local filesystem path; only ``file:`` IRIs (or
    bare paths) are supported — the store is offline; network fetch
    is out of scope.  Returns None when SILENT swallows a bad
    scheme."""
    iri = u.load_iri
    if iri.startswith("file://"):
        return iri[len("file://"):]
    if "://" in iri:
        if u.silent:
            return None
        raise NotImplementedError(
            f"LOAD <{iri}>: only file: IRIs are supported (offline "
            "store; network fetch is out of scope) — fetch the "
            "document yourself and LOAD <file://...>, or use "
            "sources.import_n3 for catalog-backed imports"
        )
    return iri


#: what a failed LOAD raises: an unreadable source (OSError) or a
#: document parse_turtle rejects (ValueError) — both swallowed by SILENT
_LOAD_FAILURES = (OSError, ValueError)


def _load_spo(spark: SparkSession, u: "ParsedUpdate"):
    """LOAD's source as a (subj, pred, obj) DataFrame, or None when
    SILENT swallows a failure.  Scale note: the file parses on the
    DRIVER (the spec's LOAD is a single-document fetch); multi-GB
    sharded exports go through ``sources.import_n3(sharded=True)``,
    which parses part files on executors."""
    path = _resolve_load_path(u)
    if path is None:
        return None
    from .rdf import parse_n3

    try:
        with open(path) as f:
            rows = sorted(parse_n3(f.read()))
    except _LOAD_FAILURES:
        if u.silent:
            return None
        raise
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string"
    )


def updated_graph(
    triples: DataFrame,
    update: str | ParsedUpdate,
    allow_cartesian: bool = False,
    graph_uri: str | None = None,
    services: dict | None = None,
) -> DataFrame:
    """Pure state transition: the (subj, pred, obj) graph after
    applying ``update`` — (G \\ D) ∪ I with D and I both instantiated
    against the original G (SPARQL 1.1 update semantics).  Leaves the
    input bag untouched apart from the deletions; insertions are added
    set-semantically (only triples not already present survive), so a
    set input stays a set.  A multi-operation (';'-separated) request
    folds: each operation applies against the state the previous one
    left (§3.1).  No catalog side effects — the committing form is
    :func:`execute_update`."""
    ops = (
        parse_update_request(update)
        if isinstance(update, str)
        else [update]
    )
    out = triples.select("subj", "pred", "obj")
    for u in ops:
        out = _apply_op(out, u, allow_cartesian, graph_uri, services)
    return out


def _apply_op(
    base: DataFrame,
    u: ParsedUpdate,
    allow_cartesian: bool,
    graph_uri: str | None,
    services: dict | None,
) -> DataFrame:
    """One operation's (G \\ D) ∪ I transition over spo columns."""
    if u.form == "clear":
        _check_clear_graph(u, graph_uri)
        return base.limit(0)
    if u.form == "clear_named":
        return base
    if u.form in ("create", "copy", "move", "add"):
        _graph_mgmt_noop(u, graph_uri)
        return base
    if u.form == "load":
        rows = _load_spo(base.sparkSession, u)
        if rows is None:
            return base
        novel = rows.join(
            base, ["subj", "pred", "obj"], "left_anti"
        )
        return base.unionByName(novel)
    if u.where is not None:
        from .sparql import _inject_graph_binds

        _inject_graph_binds(u.where, graph_uri)
    match_base = _expand_where_paths(base, u)
    dels = _delete_set(match_base, u, allow_cartesian, services)
    ins = _insert_set(match_base, u, allow_cartesian, services)
    out = base
    if dels is not None:
        out = out.join(
            dels.select("subj", "pred", "obj").distinct(),
            ["subj", "pred", "obj"],
            "left_anti",
        )
    if ins is not None:
        novel = (
            ins.select("subj", "pred", "obj")
            .distinct()
            .join(out, ["subj", "pred", "obj"], "left_anti")
        )
        out = out.unionByName(novel)
    return out


def _parsed_shape_lookup(spark: SparkSession, u: ParsedUpdate):
    """``(lookup, key)``: a small DataFrame of the literal shapes
    (``_plit``, ``_pdt``) the PARSER saw in this update's inserted
    objects, and the columns to join it on; None when the update
    inserts no literal constants.  DATA rows are ground, so each row
    keys its own shape on (subj, pred, obj) — ``"5"`` and ``5`` in one
    block keep their own datatypes.  The modify form's constant
    template objects key on (pred, obj) when every literal-object
    template triple has a constant predicate, so ``?s <q> "5" . ?s <r>
    5`` keeps both datatypes; a variable predicate leaves the lexical
    value alone as the key (a lexical form appearing as both literal
    and URI in one template is degenerate; the literal shape wins).
    Joined as a plain equi-join so a large legitimate batch stays flat
    instead of an O(n)-deep when/otherwise expression chain."""
    if u.data:
        key = ["subj", "pred", "obj"]
        rows = {(str(s), str(p), str(o)): o.datatype
                for s, p, o in u.data if isinstance(o, Lit)}
    else:
        lits = [(p, o) for _, p, o in u.insert_template or []
                if isinstance(o, Lit)]
        if any(bgp._is_var(p) for p, _ in lits):
            key = ["obj"]
            rows = {(str(o),): o.datatype for _, o in lits}
        else:
            key = ["pred", "obj"]
            rows = {(str(p), str(o)): o.datatype for p, o in lits}
    if not rows:
        return None
    return spark.createDataFrame(
        [(*k, True, dt) for k, dt in rows.items()],
        "".join(f"{c} string, " for c in key) + "_plit boolean, _pdt string",
    ), key


def execute_update(
    spark: SparkSession,
    catalog,
    table: str,
    text: str,
    run_id: str | None = None,
    allow_cartesian: bool = False,
    graph_uri: str | None = None,
    services: dict | None = None,
) -> dict:
    """Parse + apply a SPARQL Update against a catalog-backed triple
    table and commit the result.  Returns
    ``{"form", "inserted", "deleted", "snapshot"}``.

    Commit shape: a pure insert appends ONE snapshot (no rewrite; zero
    rows -> no commit at all, keeping re-runs idempotent at the
    snapshot level too); any delete rewrites the table copy-on-write
    via ``catalog.overwrite`` (one new snapshot, old ones expired).

    Inserted rows are materialized into the full pipeline schema:
    ``doc_id = subj`` (co-locates a subject's triples in one bucket —
    the property the read path's subject self-joins rely on),
    ``obj_canonical = obj`` (canonicalization applies to pipeline
    depicts rows; hand-asserted triples canonicalize to themselves).
    obj_is_literal / obj_datatype come, in precedence order, from
    (1) the PARSED shape of literal constants (DATA blocks and
    modify-form template constants — the parser knows these exactly),
    then (2) the source graph's metadata for values a template
    VARIABLE re-emits (any literal occurrence wins), else (3)
    non-literal.  Any other column the table carries is filled with a
    typed NULL.

    A missing table bootstraps from ``INSERT DATA`` (the other forms
    need existing state and raise FileNotFoundError).

    A multi-operation (';'-separated) request — the shape the
    reference assembles by string concatenation before one POST
    (virtuoso_store.py:29-52) — executes its operations in document
    order, each against the state the previous one left (SPARQL 1.1
    §3.1); each operation commits its own snapshot (catalog time
    travel keeps the per-operation lineage inspectable) and the
    report aggregates: ``{"form": "request", "operations": [...],
    "inserted": sum, "deleted": sum, "snapshot": last}``.
    """
    ops = parse_update_request(text)
    run_id = run_id or "sparql-update-" + uuid.uuid4().hex[:8]
    if len(ops) > 1:
        reports = [
            _execute_one(
                spark, catalog, table, u, f"{run_id}-op{i}",
                allow_cartesian, graph_uri, services,
            )
            for i, u in enumerate(ops)
        ]
        return {
            "form": "request",
            "operations": [r["form"] for r in reports],
            "inserted": sum(r["inserted"] for r in reports),
            "deleted": sum(r["deleted"] for r in reports),
            "snapshot": next(
                (r["snapshot"] for r in reversed(reports)
                 if r["snapshot"]),
                None,
            ),
        }
    return _execute_one(
        spark, catalog, table, ops[0], run_id,
        allow_cartesian, graph_uri, services,
    )


def _execute_one(
    spark: SparkSession,
    catalog,
    table: str,
    u: ParsedUpdate,
    run_id: str,
    allow_cartesian: bool,
    graph_uri: str | None,
    services: dict | None,
) -> dict:
    """Parse-free single-operation execution (see execute_update)."""
    report = {"form": u.form, "inserted": 0, "deleted": 0,
              "snapshot": None}

    if u.form in ("clear", "clear_named"):
        _check_clear_graph(u, graph_uri)
        if u.form == "clear" and catalog.exists(table):
            full = catalog.read(spark, table)
            if "snap" in full.columns:
                full = full.drop("snap")
            n = full.count()
            report["deleted"] = n
            if n:
                report["snapshot"] = catalog.overwrite(
                    table, full.limit(0), run_id
                )
        return report

    if u.form in ("create", "copy", "move", "add"):
        _graph_mgmt_noop(u, graph_uri)
        return report

    if u.form == "load":
        # resolve/validate the IRI (raises or silently no-ops on a
        # bad scheme), then commit through sources.import_n3 — the
        # catalog-native n3 import: full pipeline schema recovery
        # (literal shapes, doc_id co-location), idempotent anti-join
        # append, one snapshot; the document parses exactly once
        path = _resolve_load_path(u)
        if path is None:
            return report
        from ..sources import import_n3

        try:
            # import_n3 reads and parses before it commits, so ANY
            # read or parse failure (missing, unreadable or directory
            # path; malformed document) commits nothing and SILENT
            # swallows it, matching _apply_op's _load_spo behavior
            r = import_n3(spark, catalog, path, table=table, run_id=run_id)
        except _LOAD_FAILURES:
            if u.silent:
                return report
            raise
        report["inserted"] = r["inserted"]
        report["snapshot"] = r["snapshot"]
        return report

    if not catalog.exists(table):
        if u.form != "insert_data":
            raise FileNotFoundError(
                f"table {table!r} has no committed snapshots — only "
                "INSERT DATA can bootstrap one"
            )
        full = None
        base = None
    else:
        full = catalog.read(spark, table)
        if "snap" in full.columns:
            full = full.drop("snap")
        base = full.select("subj", "pred", "obj")

    # Instantiate BOTH sets against the ORIGINAL state first (SPARQL
    # 1.1 §3.1.3), and cut their lineage when a delete follows: the
    # copy-on-write overwrite EXPIRES the files these lazy plans read.
    if u.where is not None:
        from .sparql import _inject_graph_binds

        _inject_graph_binds(u.where, graph_uri)
    match_base = (
        _expand_where_paths(base, u) if base is not None else None
    )
    dels = (
        _delete_set(match_base, u, allow_cartesian, services)
        if base is not None
        else None
    )
    if dels is not None:
        dels = (
            dels.select("subj", "pred", "obj")
            .distinct()
            .localCheckpoint()
        )
    ins = _insert_set(
        match_base if match_base is not None
        else _ground_df(spark, u.data).limit(0),
        u,
        allow_cartesian,
        services,
    )
    if ins is not None:
        ins = ins.select("subj", "pred", "obj").distinct()
        shapes = _parsed_shape_lookup(spark, u)
        if shapes is not None:
            ins = ins.join(*shapes, "left")
        else:
            ins = ins.withColumn(
                "_plit", F.lit(None).cast("boolean")
            ).withColumn("_pdt", F.lit(None).cast("string"))
        if u.form == "modify" and full is not None:
            # template VARIABLES re-emit values whose shape the table
            # already knows: inherit it (any literal occurrence wins).
            # The (is_literal, datatype) pair is picked ATOMICALLY via
            # one struct-max — true > false > null on the first field,
            # then max datatype among the winners — so a value asserted
            # under two shapes can never pair is_literal from one source
            # row with a datatype from another.
            # Plain equi-join — AQE broadcasts while it fits; at the
            # 10^8-distinct-object regime a forced broadcast would OOM
            meta = (
                full.groupBy(F.col("obj"))
                .agg(
                    F.max(
                        F.struct("obj_is_literal", "obj_datatype")
                    ).alias("_shape")
                )
                .select(
                    "obj",
                    F.col("_shape.obj_is_literal").alias("_slit"),
                    F.col("_shape.obj_datatype").alias("_sdt"),
                )
            )
            ins = ins.join(meta, ["obj"], "left")
        else:
            ins = ins.withColumn(
                "_slit", F.lit(None).cast("boolean")
            ).withColumn("_sdt", F.lit(None).cast("string"))
        if dels is not None:
            ins = ins.localCheckpoint()

    state = full
    if dels is not None:
        n_del = full.join(
            dels, ["subj", "pred", "obj"], "left_semi"
        ).count()
        report["deleted"] = n_del
        if n_del:
            report["snapshot"] = catalog.overwrite(
                table,
                full.join(dels, ["subj", "pred", "obj"], "left_anti"),
                run_id,
            )
            if ins is not None:
                # re-read: the insert must land on the committed
                # post-delete snapshot, not a plan over expired files
                state = catalog.read(spark, table)
                if "snap" in state.columns:
                    state = state.drop("snap")

    if ins is not None:
        rows = ins.select(
            F.col("subj").alias("doc_id"),
            "subj",
            "pred",
            "obj",
            F.coalesce("_plit", "_slit", F.lit(False)).alias(
                "obj_is_literal"
            ),
            F.coalesce("_pdt", "_sdt").cast("string").alias(
                "obj_datatype"
            ),
            F.col("obj").alias("obj_canonical"),
        )
        n_ins, snap = append_asserted(catalog, table, rows, run_id, state)
        report["inserted"] = n_ins
        if n_ins:
            report["snapshot"] = snap
    return report
