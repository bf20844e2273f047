"""SPARQL text front-end (operators/sparql.py): parse-level contracts
(prefix expansion, the reference's ``;``/``,``/``a`` house style,
FILTER translation, loud seams) and execution parity with hand-built
bgp.graph_pattern plans on a shared triple fixture."""

import pytest

from face_hunter_spark.operators import sparql
from face_hunter_spark.operators.bgp import graph_pattern
from face_hunter_spark.operators.shacl import RDF_TYPE

P_SCENE = "http://face-hunter.org/ontology/hasScene"
P_DEPICTS = "http://xmlns.com/foaf/0.1/depicts"
P_TITLE = "http://purl.org/dc/elements/1.1/title"
P_START = (
    "http://swrl.stanford.edu/ontologies/builtins/3.3/"
    "temporal.owlhasStartTime"
)
CLS_SCENE = "http://purl.org/ontology/video/Scene"


@pytest.fixture(scope="module")
def triples(spark):
    rows = [
        ("v1", P_SCENE, "s1"),
        ("v1", P_SCENE, "s2"),
        ("v2", P_SCENE, "s3"),
        ("s1", RDF_TYPE, CLS_SCENE),
        ("s2", RDF_TYPE, CLS_SCENE),
        ("s3", RDF_TYPE, CLS_SCENE),
        ("s1", P_DEPICTS, "http://dbpedia.org/resource/A"),
        ("s1", P_DEPICTS, "http://www.wikidata.org/entity/Q2"),
        ("s3", P_DEPICTS, "http://dbpedia.org/resource/A"),
        ("s1", P_START, "0:00:00"),
        ("s2", P_START, "0:00:05"),
        ("s3", P_START, "0:01:40"),
        ("v1", P_TITLE, "alpha title"),
        ("v2", P_TITLE, "Beta Title"),
    ]
    return spark.createDataFrame(rows, "subj string, pred string, obj string")


# --------------------------------------------------------------- parse


def test_parse_reference_house_style():
    # the reference's get_scenes_with_entity template verbatim in shape
    # (graph.py:180-192): 'a', ';' predicate lists, one '.' block end
    q = sparql.parse(
        """
        PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        PREFIX video: <http://purl.org/ontology/video/>
        SELECT distinct ?scene ?e WHERE {
          ?scene a video:Scene ;
                 foaf:depicts <http://dbpedia.org/resource/A> ;
                 foaf:depicts ?e .
        }
        """
    )
    assert q.form == "select" and q.distinct
    assert q.select == ["scene", "e"]
    assert q.patterns == [
        ("?scene", RDF_TYPE, CLS_SCENE),
        ("?scene", P_DEPICTS, "http://dbpedia.org/resource/A"),
        ("?scene", P_DEPICTS, "?e"),
    ]


def test_parse_object_lists_and_prefix_override():
    q = sparql.parse(
        'PREFIX foaf: <http://example.org/f/> '
        "SELECT ?s WHERE { ?s foaf:depicts ?a, ?b . }"
    )
    assert q.patterns == [
        ("?s", "http://example.org/f/depicts", "?a"),
        ("?s", "http://example.org/f/depicts", "?b"),
    ]


def test_parse_literals_drop_lang_and_datatype():
    q = sparql.parse(
        'SELECT ?s WHERE { ?s dc:title "male"@en . '
        '?s temporal:hasStartTime "0:00:05"^^xsd:dateTime . }'
    )
    assert q.patterns[0][2] == "male"
    assert q.patterns[1] == ("?s", P_START, "0:00:05")


def test_parse_filter_translation():
    q = sparql.parse(
        "SELECT ?v WHERE { ?v dc:title ?t . "
        'FILTER ( regex(str(?t), "^a", "i") && (?t != "x") '
        "|| !bound(?t) ) }"
    )
    assert q.filters == [
        "(((t RLIKE '(?i)^a') AND ((t <> 'x'))) OR (NOT (t IS NOT NULL)))"
    ]


def test_parse_modifiers():
    q = sparql.parse(
        "SELECT ?v WHERE { ?v dc:title ?t } "
        "ORDER BY DESC(?t) ?v LIMIT 5 OFFSET 2"
    )
    assert q.order_by == [("t", False), ("v", True)]
    assert q.limit == 5 and q.offset == 2


def test_parse_loud_seams():
    # SERVICE now PARSES (snapshot evaluation, r5); executing without
    # a registered snapshot raises — see test_service_snapshot_*
    q = sparql.parse(
        "SELECT ?v WHERE { SERVICE <http://dbpedia.org/sparql> "
        "{ ?v dc:title ?t } }"
    )
    assert len(q.services) == 1
    endpoint, group = q.services[0]
    assert endpoint == "http://dbpedia.org/sparql"
    assert group.patterns == [
        ("?v", "http://purl.org/dc/elements/1.1/title", "?t")
    ]
    # OPTIONAL / FILTER / UNION / negation / BIND / VALUES /
    # subqueries / nested SERVICE inside SERVICE all parse since r5
    # (the group evaluates through the _group_bindings assembler
    # against the snapshot graph); only GRAPH ?var inside stays loud
    # (it would name the REMOTE dataset's graphs)
    sparql.parse(
        "SELECT ?v WHERE { SERVICE <http://x> "
        "{ ?v a ?k OPTIONAL { ?v dc:title ?t } } }"
    )
    sparql.parse(
        "SELECT ?v WHERE { SERVICE <http://x> "
        "{ ?v dc:title ?t BIND (str(?v) AS ?x) } }"
    )
    with pytest.raises(NotImplementedError, match="SERVICE"):
        sparql.parse(
            "SELECT ?v WHERE { SERVICE <http://x> "
            "{ GRAPH ?g { ?v dc:title ?t } } }"
        )
    # property paths inside SERVICE parse since r5 (they evaluate
    # against the snapshot's graph); see test_service_snapshot_paths
    # a lone nested group parses as a 1-branch complex block (r5):
    # Join(outer, Group) with the group's FILTERs scoped to itself
    q = sparql.parse(
        'SELECT ?v WHERE { { ?v dc:title ?t . FILTER(?t != "x") } }'
    )
    assert len(q.unions) == 1 and len(q.unions[0]) == 1
    assert q.unions[0][0][0] == "__q__"
    assert q.unions[0][0][1].filters == ["(t <> 'x')"]
    assert q.filters == []
    # nested pure UNION flattens by associativity (r5): 3 branches
    q = sparql.parse(
        "SELECT ?v WHERE { { { ?v dc:title ?t } UNION "
        "{ ?v dc:identifier ?t } } UNION { ?v dc:title ?t } }"
    )
    assert len(q.unions) == 1 and len(q.unions[0]) == 3
    # a branch JOINING patterns with a nested UNION distributes at
    # parse time (r5): {A . ({B} UNION {C})} UNION {D} -> three flat
    # branches A⋈B, A⋈C, D
    q = sparql.parse(
        "SELECT ?v WHERE { { ?v dc:title ?t . "
        "{ ?v dc:identifier ?i } UNION { ?v dc:creator ?i } } "
        "UNION { ?v dc:title ?t } }"
    )
    assert len(q.unions) == 1 and len(q.unions[0]) == 3
    assert [len(b[0]) for b in q.unions[0]] == [2, 2, 1]
    # a FILTER alongside the nested UNION lands in every distributed
    # branch (σ_f distributes over ∪), and two nested unions take the
    # cross product of branch choices
    q = sparql.parse(
        "SELECT ?v WHERE { { ?v dc:title ?t . FILTER(?t != \"x\") "
        "{ ?v dc:identifier ?i } UNION { ?v dc:creator ?i } "
        "{ ?v dc:subject ?k } UNION { ?v dc:source ?k } } "
        "UNION { ?v dc:title ?t } }"
    )
    assert len(q.unions) == 1 and len(q.unions[0]) == 5
    assert [b[3] for b in q.unions[0][:4]] == [["(t <> 'x')"]] * 4
    assert q.unions[0][4][3] == []
    # FILTER inside OPTIONAL parses into the group-aligned slot
    q = sparql.parse(
        "SELECT ?v WHERE { ?v dc:title ?t . "
        'OPTIONAL { ?v dc:identifier ?i . FILTER(?i != "x") } }'
    )
    assert len(q.optional) == 1 and len(q.optional_filters) == 1
    assert q.optional_filters[0] == ["(i <> 'x')"]
    # nested OPTIONAL parses as a complex sub-group entry (r5):
    # LeftJoin(P1, LeftJoin(P2, P3))
    q = sparql.parse(
        "SELECT ?v WHERE { ?v dc:title ?t . "
        "OPTIONAL { ?v dc:identifier ?i . "
        "OPTIONAL { ?v dc:title ?u } } }"
    )
    assert len(q.optional) == 1
    assert isinstance(q.optional[0], sparql.ParsedQuery)
    assert len(q.optional[0].optional) == 1
    with pytest.raises(ValueError, match="unknown prefix"):
        sparql.parse("SELECT ?v WHERE { ?v nosuch:pred ?t }")
    with pytest.raises(ValueError, match="trailing"):
        sparql.parse("ASK { ?v dc:title ?t } garbage")


# ------------------------------------------------------------- execute


def test_select_matches_hand_built_plan(triples):
    text = """
    SELECT DISTINCT ?v ?s ?e WHERE {
      ?v hunter:hasScene ?s .
      ?s foaf:depicts ?e .
    }
    """
    got = sorted(tuple(r) for r in sparql.execute(triples, text).collect())
    want = sorted(
        tuple(r)
        for r in graph_pattern(
            triples,
            [("?v", P_SCENE, "?s"), ("?s", P_DEPICTS, "?e")],
            select=["v", "s", "e"],
            distinct=True,
        ).collect()
    )
    assert got == want and len(got) == 3


def test_optional_and_filter(triples):
    # OPTIONAL depicts + keep NULL-or-dbpedia: s2 has no depicts row and
    # must survive with e = NULL; the wikidata co-depiction drops
    text = """
    SELECT ?s ?e WHERE {
      ?s a video:Scene .
      OPTIONAL { ?s foaf:depicts ?e }
      FILTER ( !bound(?e) || strstarts(str(?e), "http://dbpedia.org/") )
    }
    """
    got = sorted(
        (r.s, r.e) for r in sparql.execute(triples, text).collect()
    )
    assert got == [
        ("s1", "http://dbpedia.org/resource/A"),
        ("s2", None),
        ("s3", "http://dbpedia.org/resource/A"),
    ]


def test_filter_inside_optional_keeps_left_rows(triples):
    # LeftJoin(P1, P2, F): the filter constrains the EXTENSION, not the
    # left row.  s1 depicts both a dbpedia and a wikidata entity; the
    # inner filter keeps only the dbpedia extension.  s2 has no depicts
    # row at all.  Crucially, a scene whose every extension fails the
    # filter must SURVIVE unextended — that's what distinguishes the
    # inner filter from the hoisted (post-join) form.
    text = """
    SELECT ?s ?e WHERE {
      ?s a video:Scene .
      OPTIONAL { ?s foaf:depicts ?e
                 FILTER ( strstarts(str(?e), "http://www.wikidata.org") ) }
    }
    """
    got = sorted(
        (r.s, r.e) for r in sparql.execute(triples, text).collect()
    )
    # s1: only the wikidata extension survives; s2: no depicts at all;
    # s3: HAS a depicts row but it fails F -> kept with e = NULL (the
    # hoisted form would have dropped s3 entirely)
    assert got == [
        ("s1", "http://www.wikidata.org/entity/Q2"),
        ("s2", None),
        ("s3", None),
    ]


def test_filter_inside_optional_references_outer_var(triples):
    # the inner filter may correlate with a variable bound OUTSIDE the
    # group: extensions only for scenes starting at 0:00:00
    text = """
    SELECT ?s ?t ?e WHERE {
      ?s temporal:hasStartTime ?t .
      OPTIONAL { ?s foaf:depicts ?e FILTER ( ?t = "0:00:00" ) }
    }
    """
    got = sorted(
        (r.s, r.t, r.e)
        for r in sparql.execute(triples, text).collect()
    )
    assert got == [
        ("s1", "0:00:00", "http://dbpedia.org/resource/A"),
        ("s1", "0:00:00", "http://www.wikidata.org/entity/Q2"),
        ("s2", "0:00:05", None),
        ("s3", "0:01:40", None),
    ]


def test_filter_inside_optional_in_union_branch(triples):
    # the 4-tuple branch shape carries the group filter through the
    # distributive UNION evaluation
    text = """
    SELECT ?s ?e WHERE {
      { ?s a video:Scene .
        OPTIONAL { ?s foaf:depicts ?e
                   FILTER ( strstarts(str(?e), "http://dbpedia.org") ) } }
      UNION
      { ?s temporal:hasStartTime "0:00:05" . }
    }
    """
    got = sorted(
        (r.s, r.e) for r in sparql.execute(triples, text).collect()
    )
    assert got == [
        ("s1", "http://dbpedia.org/resource/A"),
        ("s2", None),
        ("s2", None),  # the union branch binds ?s only -> ?e NULL
        ("s3", "http://dbpedia.org/resource/A"),
    ]


def test_filter_comparison_on_literals(triples):
    # lexical < comparison, the reference's date-filter shape
    text = """
    SELECT ?s WHERE {
      ?s temporal:hasStartTime ?t .
      FILTER ( ?t < "0:01:00"^^xsd:dateTime )
    }
    """
    got = sorted(r.s for r in sparql.execute(triples, text).collect())
    assert got == ["s1", "s2"]


def test_regex_filter_case_insensitive(triples):
    text = (
        "SELECT ?v WHERE { ?v dc:title ?t . "
        'FILTER ( regex(str(?t), "^beta", "i") ) }'
    )
    assert [r.v for r in sparql.execute(triples, text).collect()] == ["v2"]


def test_escaped_backslash_reaches_sql_as_one_backslash(spark):
    """An escaped backslash in a SPARQL string is ONE backslash in the
    generated Spark SQL literal: "a\\\\tb" equals backslash-t (not a
    TAB) and REGEX "a\\\\d" is the digit class (not a literal 'd')."""
    t = spark.createDataFrame(
        [
            ("r1", "http://e/v", "a\\tb"),  # backslash, t
            ("r2", "http://e/v", "a\tb"),  # TAB
            ("r3", "http://e/v", "ad"),
            ("r4", "http://e/v", "a1"),
        ],
        "subj string, pred string, obj string",
    )

    def run(cond):
        q = "SELECT ?s WHERE { ?s <http://e/v> ?o . FILTER(" + cond + ") }"
        return sorted(r.s for r in sparql.execute(t, q).collect())

    assert run('?o = "a\\\\tb"') == ["r1"]
    assert run('REGEX(?o, "a\\\\d")') == ["r4"]


def test_order_limit_offset(triples):
    text = (
        "SELECT ?s ?t WHERE { ?s temporal:hasStartTime ?t } "
        "ORDER BY DESC(?t) LIMIT 2 OFFSET 1"
    )
    got = [(r.s, r.t) for r in sparql.execute(triples, text).collect()]
    assert got == [("s2", "0:00:05"), ("s1", "0:00:00")]


def test_ask_and_describe(triples):
    assert sparql.execute(
        triples, "ASK { ?v hunter:hasScene ?s }"
    ) is True
    assert sparql.execute(
        triples, 'ASK { ?v hunter:hasScene "nope" }'
    ) is False
    star = sparql.execute(triples, "DESCRIBE <s1>").collect()
    outs = {(r.pred, r.obj) for r in star if r.direction == "out"}
    ins = {(r.subj, r.pred) for r in star if r.direction == "in"}
    assert (P_DEPICTS, "http://dbpedia.org/resource/A") in outs
    assert ("v1", P_SCENE) in ins


def test_construct(triples):
    text = """
    CONSTRUCT {
      ?e hunter:appearsIn ?v .
    } WHERE {
      ?v hunter:hasScene ?s .
      ?s foaf:depicts ?e .
    }
    """
    got = sorted(tuple(r) for r in sparql.execute(triples, text).collect())
    pred = "http://face-hunter.org/ontology/appearsIn"
    assert got == [
        ("http://dbpedia.org/resource/A", pred, "v1"),
        ("http://dbpedia.org/resource/A", pred, "v2"),
        ("http://www.wikidata.org/entity/Q2", pred, "v1"),
    ]


def test_facade_sparql_roundtrip(spark, tmp_path):
    from face_hunter_spark import synth
    from face_hunter_spark.hunter import SparkHunter

    h = SparkHunter(spark, str(tmp_path / "kg"), n_entities=6)
    assert h.sparql("ASK { ?v ?p ?o }") is False  # before any commit
    assert h.sparql("SELECT ?v WHERE { ?v ?p ?o }") is None
    h.link(synth.documents_df(spark, 8, 6))
    assert h.sparql("ASK { ?v hunter:hasScene ?s }") is True
    df = h.sparql(
        """
        SELECT DISTINCT ?v ?s WHERE {
          ?v hunter:hasScene ?s .
          ?s a video:Scene .
        }
        """
    )
    want = h.match(
        [("?v", P_SCENE, "?s"), ("?s", RDF_TYPE, CLS_SCENE)],
        select=["v", "s"],
        distinct=True,
    )
    assert sorted(map(tuple, df.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_union_basic(triples):
    # scenes from hasScene plus titles: disjoint-variable branches bind
    # NULL for the other branch's variable (SPARQL unbound)
    text = """
    SELECT ?s ?e WHERE {
      { ?s foaf:depicts ?e } UNION { ?v hunter:hasScene ?s }
    }
    """
    key = lambda t: (t[0], t[1] or "")
    got = sorted(
        ((r.s, r.e) for r in sparql.execute(triples, text).collect()),
        key=key,
    )
    want = sorted(
        [("s1", "http://dbpedia.org/resource/A"),
         ("s1", "http://www.wikidata.org/entity/Q2"),
         ("s3", "http://dbpedia.org/resource/A")]
        + [("s1", None), ("s2", None), ("s3", None)],
        key=key,
    )
    assert got == want


def test_union_joins_outer_patterns(triples):
    # outer pattern join distributes over both branches
    text = """
    SELECT DISTINCT ?v ?t WHERE {
      ?v dc:title ?t .
      { ?v hunter:hasScene "s1" } UNION { ?v hunter:hasScene "s3" }
    }
    """
    got = sorted(
        (r.v, r.t) for r in sparql.execute(triples, text).collect()
    )
    assert got == [("v1", "alpha title"), ("v2", "Beta Title")]


def test_bind_and_values_inside_union_branches(spark):
    # a branch carrying BIND/VALUES is a COMPLEX branch: it assembles
    # as its own sub-group (BGP + VALUES join + BINDs) and joins the
    # variant's plain part on the shared variables
    rows = [
        ("v1", "http://e/title", "alpha"),
        ("v2", "http://e/title", "beta"),
        ("v1", "http://e/tag", "x"),
        ("v2", "http://e/alt", "y"),
    ]
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")
    P = "PREFIX e: <http://e/>\n"

    def run(q):
        return sorted(map(tuple, sparql.execute(t, P + q).collect()))

    # BIND inside a branch (computed ?k joins the outer ?v patterns)
    assert run(
        """SELECT ?v ?k WHERE {
             ?v e:title ?t .
             { ?v e:tag ?k }
             UNION { ?v e:alt ?y . BIND (concat("A-", ?y) AS ?k) } }"""
    ) == [("v1", "x"), ("v2", "A-y")]
    # VALUES inside a branch restricts that branch only
    assert run(
        """SELECT ?v ?k WHERE {
             ?v e:title ?t .
             { ?v e:tag ?k }
             UNION { ?v e:title ?k . VALUES ?k { "beta" } } }"""
    ) == [("v1", "x"), ("v2", "beta")]
    # a group-level FILTER applies to complex variants at group scope
    # (after the complex-branch join)
    assert run(
        """SELECT ?v ?k WHERE {
             ?v e:title ?t . FILTER(?t != "alpha")
             { ?v e:tag ?k }
             UNION { ?v e:alt ?y . BIND (str(?y) AS ?k) } }"""
    ) == [("v2", "y")]
    # a union that is ONLY branches (no outer patterns) still works,
    # and ASK routes complex variants through the assembler
    assert run(
        """SELECT ?v ?k WHERE {
             { ?v e:tag ?k }
             UNION { ?v e:alt ?y . BIND (ucase(?y) AS ?k) } }"""
    ) == [("v1", "x"), ("v2", "Y")]
    assert sparql.execute(
        t,
        P + 'ASK { ?v e:title ?t . { ?v e:tag ?k } UNION '
        "{ ?v e:alt ?y . BIND (str(?y) AS ?k) } }",
    ) is True


def test_values_and_bind_inside_negation_groups(triples):
    # VALUES inside NOT EXISTS: exclude scenes depicting a listed
    # entity (s1, s3 depict A -> dropped; s2 survives)
    got = sorted(
        r.s for r in sparql.execute(
            triples,
            """SELECT ?s WHERE {
                 ?s a video:Scene .
                 FILTER NOT EXISTS {
                   ?s foaf:depicts ?e .
                   VALUES ?e { <http://dbpedia.org/resource/A> } } }""",
        ).collect()
    )
    assert got == ["s2"]
    # BIND inside MINUS: the bind target is the SHARED variable — the
    # group binds ?s from its own ?x via str(), removing s1 and s3
    got2 = sorted(
        r.s for r in sparql.execute(
            triples,
            """SELECT ?s WHERE {
                 ?s a video:Scene .
                 MINUS { ?x foaf:depicts ?d .
                         BIND (str(?x) AS ?s) } }""",
        ).collect()
    )
    assert got2 == ["s2"]


def test_union_inside_optional(triples):
    # LeftJoin(P1, B ∪ C, F): the OPTIONAL group is a UNION evaluated
    # as a unit — extensions may come from either branch, the group's
    # FILTER is the LeftJoin condition, and a scene whose every
    # extension fails it survives NULL-padded (s2: no depicts, start
    # time fails the filter)
    text = """
    SELECT ?s ?e WHERE {
      ?s a video:Scene .
      OPTIONAL {
        { ?s foaf:depicts ?e } UNION { ?s temporal:hasStartTime ?e }
        FILTER(strstarts(str(?e), "http://"))
      }
    }
    """
    key = lambda t: (t[0], t[1] or "")
    got = sorted(
        ((r.s, r.e) for r in sparql.execute(triples, text).collect()),
        key=key,
    )
    want = sorted(
        [("s1", "http://dbpedia.org/resource/A"),
         ("s1", "http://www.wikidata.org/entity/Q2"),
         ("s3", "http://dbpedia.org/resource/A"),
         ("s2", None)],
        key=key,
    )
    assert got == want
    # without the filter both branches extend every scene
    got2 = sorted(
        (r.s, r.e) for r in sparql.execute(
            triples,
            "SELECT ?s ?e WHERE { ?s a video:Scene . OPTIONAL { "
            "{ ?s foaf:depicts ?e } UNION "
            "{ ?s temporal:hasStartTime ?e } } }",
        ).collect()
    )
    want2 = sorted(
        [("s1", "http://dbpedia.org/resource/A"),
         ("s1", "http://www.wikidata.org/entity/Q2"),
         ("s3", "http://dbpedia.org/resource/A"),
         ("s1", "0:00:00"), ("s2", "0:00:05"), ("s3", "0:01:40")]
    )
    assert got2 == want2


def test_union_branch_joining_nested_union(triples):
    # {A . ({B} UNION {C})} UNION {D}: the joined branch distributes —
    # scenes get their depicts rows AND their start-time rows, and the
    # plain title branch unions in alongside
    text = """
    SELECT ?s ?o WHERE {
      { ?s a video:Scene .
        { ?s foaf:depicts ?o } UNION { ?s temporal:hasStartTime ?o } }
      UNION { ?s dc:title ?o }
    }
    """
    got = sorted(
        (r.s, r.o) for r in sparql.execute(triples, text).collect()
    )
    want = sorted(
        [("s1", "http://dbpedia.org/resource/A"),
         ("s1", "http://www.wikidata.org/entity/Q2"),
         ("s3", "http://dbpedia.org/resource/A"),
         ("s1", "0:00:00"), ("s2", "0:00:05"), ("s3", "0:01:40"),
         ("v1", "alpha title"), ("v2", "Beta Title")]
    )
    assert got == want


def test_union_branch_filter_distributes(triples):
    # the FILTER written alongside the nested UNION applies to every
    # distributed variant, dropping s2's start row and A's depicts rows
    text = """
    SELECT ?s ?o WHERE {
      { ?s a video:Scene . FILTER(?o != "0:00:05")
        { ?s foaf:depicts ?o } UNION { ?s temporal:hasStartTime ?o } }
      UNION { ?s dc:title ?o }
    }
    """
    got = sorted(
        (r.s, r.o) for r in sparql.execute(triples, text).collect()
    )
    want = sorted(
        [("s1", "http://dbpedia.org/resource/A"),
         ("s1", "http://www.wikidata.org/entity/Q2"),
         ("s3", "http://dbpedia.org/resource/A"),
         ("s1", "0:00:00"), ("s3", "0:01:40"),
         ("v1", "alpha title"), ("v2", "Beta Title")]
    )
    assert got == want


def test_union_ask_and_construct(triples):
    assert sparql.execute(
        triples,
        'ASK { { ?s foaf:depicts "nope" } UNION '
        "{ ?v hunter:hasScene ?s } }",
    ) is True
    g = sparql.execute(
        triples,
        """
        CONSTRUCT { ?x a "Thing" } WHERE {
          { ?x foaf:depicts ?e } UNION { ?v hunter:hasScene ?x }
        }
        """,
    )
    # branch 1 binds ?x to depicting scenes {s1, s3}, branch 2 to all
    # scenes {s1, s2, s3}; CONSTRUCT's graph-set semantics dedup the
    # overlap across branches
    xs = sorted(r.subj for r in g.collect())
    assert xs == ["s1", "s2", "s3"]


def test_property_path_plus(spark):
    P_SUB = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
    tri = spark.createDataFrame(
        [("e1", P_SUB, "e2"), ("e2", P_SUB, "e3"), ("e3", P_SUB, "e4"),
         ("x1", RDF_TYPE, "e1")],
        "subj string, pred string, obj string",
    )
    got = sorted(
        r.x for r in sparql.execute(
            tri, "SELECT ?x WHERE { <e1> rdfs:subClassOf+ ?x }"
        ).collect()
    )
    assert got == ["e2", "e3", "e4"]
    # variable subject joins with other patterns
    got2 = sorted(map(tuple, sparql.execute(
        tri,
        """SELECT ?i ?c WHERE {
             ?i a ?base . ?base rdfs:subClassOf+ ?c }""",
    ).collect()))
    assert got2 == [("x1", "e2"), ("x1", "e3"), ("x1", "e4")]


def test_property_path_inverse_sequence_alternative(spark):
    tri = spark.createDataFrame(
        [
            ("c1", "http://e/inNation", "n1"),
            ("c2", "http://e/inNation", "n2"),
            ("n1", "http://e/inRegion", "r1"),
            ("n2", "http://e/inRegion", "r1"),
            ("n1", "http://e/border", "n2"),
        ],
        "subj string, pred string, obj string",
    )
    # inverse: ^p swaps subject/object
    got = sorted(map(tuple, sparql.execute(
        tri, "SELECT ?n ?c WHERE { ?n ^<http://e/inNation> ?c }"
    ).collect()))
    assert got == [("n1", "c1"), ("n2", "c2")]
    # sequence: p1/p2 chains through a hidden join variable
    got2 = sorted(map(tuple, sparql.execute(
        tri,
        "SELECT ?c ?r WHERE "
        "{ ?c <http://e/inNation>/<http://e/inRegion> ?r }",
    ).collect()))
    assert got2 == [("c1", "r1"), ("c2", "r1")]
    # SELECT *: the __seq intermediate is NOT a binding
    star = sparql.execute(
        tri,
        "SELECT * WHERE "
        "{ ?c <http://e/inNation>/<http://e/inRegion> ?r }",
    )
    assert sorted(star.columns) == ["c", "r"]
    # sequence with an inverse element: child ^inNation/inNation peer
    got3 = sorted(map(tuple, sparql.execute(
        tri,
        "SELECT ?n ?m WHERE "
        "{ ?n <http://e/border>/^<http://e/inNation> ?m }",
    ).collect()))
    assert got3 == [("n1", "c2")]
    # alternative: p1|p2 is the union of both edge sets
    got4 = sorted(map(tuple, sparql.execute(
        tri,
        "SELECT ?x ?y WHERE "
        "{ ?x <http://e/inNation>|<http://e/inRegion> ?y }",
    ).collect()))
    assert got4 == [
        ("c1", "n1"), ("c2", "n2"), ("n1", "r1"), ("n2", "r1"),
    ]
    # alternative joins with surrounding required patterns
    got5 = sorted(map(tuple, sparql.execute(
        tri,
        "SELECT ?x ?r WHERE { "
        "?x <http://e/inNation>|<http://e/border> ?n . "
        "?n <http://e/inRegion> ?r }",
    ).collect()))
    assert got5 == [("c1", "r1"), ("c2", "r1"), ("n1", "r1")]
    # '/' binds tighter than '|' (SPARQL path precedence): a/b|c is
    # (a/b)|c — inNation/inRegion plus the border edge set
    got6 = sorted(map(tuple, sparql.execute(
        tri,
        "SELECT ?x ?y WHERE { ?x "
        "<http://e/inNation>/<http://e/inRegion>|<http://e/border> "
        "?y }",
    ).collect()))
    assert got6 == [("c1", "r1"), ("c2", "r1"), ("n1", "n2")]
    # closure step inside a sequence: border+/inRegion
    got7 = sorted(map(tuple, sparql.execute(
        tri,
        "SELECT ?x ?r WHERE "
        "{ ?x <http://e/border>+/<http://e/inRegion> ?r }",
    ).collect()))
    assert got7 == [("n1", "r1")]
    # alternative paths inside OPTIONAL (r5): the group routes
    # through the complex sub-group path, the alternatives spawning
    # the GROUP's own union branches — LeftJoin(P1, A ∪ B); here no
    # <a>/<b> edges exist so every left row keeps ?z unbound
    got8 = sorted(map(tuple, sparql.execute(
        tri,
        "SELECT ?x ?z WHERE { ?x <http://e/inNation> ?n . "
        "OPTIONAL { ?x <a>|<b> ?z } }",
    ).collect()))
    assert got8 == [("c1", None), ("c2", None)]
    # and a matching alternative extends the row
    got9 = sorted(map(tuple, sparql.execute(
        tri,
        "SELECT ?x ?z WHERE { ?x <http://e/inNation> ?n . "
        "OPTIONAL { ?x <a>|<http://e/inNation> ?z } }",
    ).collect()))
    assert got9 == [("c1", "n1"), ("c2", "n2")]
    # alternatives INSIDE a UNION branch: the branch promotes to a
    # complex sub-group at parse time and the alt rewrites into the
    # sub-group's own union list (bag semantics per branch)
    got10 = sorted(map(tuple, sparql.execute(
        tri,
        "SELECT ?x ?y WHERE { "
        "{ ?x <http://e/inNation>|<http://e/border> ?y } "
        "UNION { ?x <http://e/inRegion> ?y } }",
    ).collect()))
    assert got10 == [
        ("c1", "n1"), ("c2", "n2"), ("n1", "n2"),
        ("n1", "r1"), ("n2", "r1"),
    ]
    # an alt branch that also JOINS a required pattern joins within
    # the sub-group before the union
    got11 = sorted(map(tuple, sparql.execute(
        tri,
        "SELECT ?x ?r WHERE { "
        "{ ?x <http://e/inNation>|<http://e/border> ?n . "
        "?n <http://e/inRegion> ?r } "
        "UNION { ?x <http://e/inRegion> ?r } }",
    ).collect()))
    assert got11 == [
        ("c1", "r1"), ("c2", "r1"), ("n1", "r1"),
        ("n1", "r1"), ("n2", "r1"),
    ]


def test_property_path_star_anchored(spark):
    P_SUB = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
    tri = spark.createDataFrame(
        [("e1", P_SUB, "e2"), ("e2", P_SUB, "e3")],
        "subj string, pred string, obj string",
    )
    got = sorted(
        r.x for r in sparql.execute(
            tri, "SELECT ?x WHERE { <e1> rdfs:subClassOf* ?x }"
        ).collect()
    )
    assert got == ["e1", "e2", "e3"]  # zero-length path includes e1
    # unanchored '*' (r5): one reflexive pair per graph term plus the
    # closure pairs
    got_un = sorted(map(tuple, sparql.execute(
        tri, "SELECT ?y ?x WHERE { ?y rdfs:subClassOf* ?x }"
    ).collect()))
    assert got_un == sorted(
        [("e1", "e1"), ("e2", "e2"), ("e3", "e3")]
        + [("e1", "e2"), ("e1", "e3"), ("e2", "e3")]
    )
    with pytest.raises(ValueError, match="CONSTRUCT template"):
        sparql.parse(
            "CONSTRUCT { ?x rdfs:subClassOf+ ?y } "
            "WHERE { ?x rdfs:subClassOf ?y }"
        )


def test_property_path_zero_or_one(spark):
    P_SUB = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
    tri = spark.createDataFrame(
        [("e1", P_SUB, "e2"), ("e2", P_SUB, "e3"),
         ("x1", RDF_TYPE, "e1")],
        "subj string, pred string, obj string",
    )
    # subject-anchored: the node itself (zero) + its DIRECT successors
    # only — e3 is two hops away and must NOT appear (contrast with *)
    got = sorted(
        r.x for r in sparql.execute(
            tri, "SELECT ?x WHERE { <e1> rdfs:subClassOf? ?x }"
        ).collect()
    )
    assert got == ["e1", "e2"]
    # object-anchored: direct predecessors + the node itself
    got2 = sorted(
        r.x for r in sparql.execute(
            tri, "SELECT ?x WHERE { ?x rdfs:subClassOf? <e3> }"
        ).collect()
    )
    assert got2 == ["e2", "e3"]
    # joins with surrounding patterns (the path end itself anchored —
    # a variable bound elsewhere does not anchor the zero-length path)
    got3 = sorted(map(tuple, sparql.execute(
        tri,
        "SELECT ?i WHERE { ?i a ?base . ?base rdfs:subClassOf? <e2> }",
    ).collect()))
    assert got3 == [("x1",)]  # e1 reaches e2 in one hop; e2 via zero
    # unanchored '?' (r5): reflexive pairs for every graph term
    # (e1, e2, e3, x1) plus the single-hop edges
    got4 = sorted(map(tuple, sparql.execute(
        tri, "SELECT ?y ?x WHERE { ?y rdfs:subClassOf? ?x }"
    ).collect()))
    assert got4 == sorted(
        [(t, t) for t in ("e1", "e2", "e3", "x1")]
        + [("e1", "e2"), ("e2", "e3")]
    )
    # '?' mid-sequence: the step ends on a fresh join variable, so
    # the zero-length rows ride the unanchored path (r5) — here no
    # <a> edges exist, so the sequence is empty
    assert sparql.execute(
        tri, "SELECT ?x WHERE { ?x <a>/<b>? ?y }"
    ).count() == 0


def test_property_path_cycle_safe(spark):
    P = "http://example.org/next"
    tri = spark.createDataFrame(
        [("a", P, "b"), ("b", P, "c"), ("c", P, "a")],
        "subj string, pred string, obj string",
    )
    got = sorted(
        r.x for r in sparql.execute(
            tri, "PREFIX ex: <http://example.org/> "
            "SELECT ?x WHERE { <a> ex:next+ ?x }"
        ).collect()
    )
    assert got == ["a", "b", "c"]  # the cycle reaches a itself


def test_filter_not_exists(triples):
    # scenes with no depicts edge: s2 only (the reference's
    # customers_without_orders shape at the SPARQL level)
    got = sorted(
        r.s for r in sparql.execute(
            triples,
            """SELECT ?s WHERE {
                 ?s a video:Scene .
                 FILTER NOT EXISTS { ?s foaf:depicts ?e }
               }""",
        ).collect()
    )
    assert got == ["s2"]
    # positive EXISTS: the complement
    got2 = sorted(
        r.s for r in sparql.execute(
            triples,
            """SELECT ?s WHERE {
                 ?s a video:Scene .
                 FILTER EXISTS { ?s foaf:depicts ?e }
               }""",
        ).collect()
    )
    assert got2 == ["s1", "s3"]


def test_minus(triples):
    got = sorted(
        r.s for r in sparql.execute(
            triples,
            """SELECT ?s WHERE {
                 ?s a video:Scene .
                 MINUS { ?s foaf:depicts <http://dbpedia.org/resource/A> }
               }""",
        ).collect()
    )
    assert got == ["s2"]
    # MINUS sharing no variable removes nothing (per spec)
    got2 = sorted(
        r.s for r in sparql.execute(
            triples,
            """SELECT ?s WHERE {
                 ?s a video:Scene .
                 MINUS { ?other dc:title ?t }
               }""",
        ).collect()
    )
    assert got2 == ["s1", "s2", "s3"]


def test_not_exists_ask_and_seams(triples):
    assert sparql.execute(
        triples,
        """ASK { ?s a video:Scene .
                 FILTER NOT EXISTS { ?s foaf:depicts ?e } }""",
    ) is True
    # uncorrelated EXISTS (r5): the group is constant over the outer
    # solutions — non-empty keeps every row, empty keeps none (and
    # NOT EXISTS inverts); evaluated via a LIMIT-1 broadcast marker
    got_u = sorted(
        r.s for r in sparql.execute(
            triples,
            """SELECT ?s WHERE { ?s a video:Scene .
                 FILTER EXISTS { ?x dc:title ?t } }""",
        ).collect()
    )
    assert got_u == ["s1", "s2", "s3"]
    assert sparql.execute(
        triples,
        """SELECT ?s WHERE { ?s a video:Scene .
             FILTER EXISTS { ?x <http://nosuch/pred> ?t } }""",
    ).count() == 0
    got_n = sorted(
        r.s for r in sparql.execute(
            triples,
            """SELECT ?s WHERE { ?s a video:Scene .
                 FILTER NOT EXISTS { ?x <http://nosuch/pred> ?t } }""",
        ).collect()
    )
    assert got_n == ["s1", "s2", "s3"]
    # FILTER / OPTIONAL / UNION / VALUES / BIND / nested negation
    # inside negation groups are supported (the group evaluates
    # through the _group_bindings assembler); SERVICE/subquery inside
    # stay loud seams
    sparql.parse(
        """SELECT ?s WHERE { ?s a video:Scene .
             MINUS { ?s foaf:depicts ?e .
                     OPTIONAL { ?e dc:title ?t } } }"""
    )
    sparql.parse(
        """SELECT ?s WHERE { ?s a video:Scene .
             MINUS { ?s foaf:depicts ?e .
                     BIND (str(?e) AS ?x) } }"""
    )


def test_values_inline_bindings(triples):
    got = sorted(map(tuple, sparql.execute(
        triples,
        """SELECT ?s ?t WHERE {
             ?s temporal:hasStartTime ?t .
             VALUES ?s { "s1" "s3" }
           }""",
    ).collect()))
    assert got == [("s1", "0:00:00"), ("s3", "0:01:40")]
    # multi-var + uncorrelated cross product
    got2 = sorted(map(tuple, sparql.execute(
        triples,
        """SELECT ?v ?k ?lbl WHERE {
             ?v dc:title ?t .
             VALUES (?k ?lbl) { ("x" "one") ("y" "two") }
           }""",
    ).collect()))
    assert len(got2) == 4 and got2[0] == ("v1", "x", "one")


def test_bind_expressions(triples):
    got = sorted(map(tuple, sparql.execute(
        triples,
        """SELECT ?s ?flag WHERE {
             ?s foaf:depicts ?e .
             BIND ( strstarts(str(?e), "http://dbpedia.org/") AS ?flag )
           }""",
    ).collect()))
    assert got == [
        ("s1", "false"), ("s1", "true"), ("s3", "true"),
    ]
    with pytest.raises(ValueError, match="rebind"):
        sparql.execute(
            triples,
            'SELECT ?s WHERE { ?s dc:title ?t . BIND (?t AS ?s) }',
        )


def test_aggregates_group_by_having(triples):
    got = sorted(map(tuple, sparql.execute(
        triples,
        """SELECT ?v (COUNT(?s) AS ?n) WHERE {
             ?v hunter:hasScene ?s .
           } GROUP BY ?v ORDER BY ?v""",
    ).collect()))
    assert got == [("v1", 2), ("v2", 1)]

    got2 = sorted(map(tuple, sparql.execute(
        triples,
        """SELECT ?v (COUNT(?s) AS ?n) WHERE {
             ?v hunter:hasScene ?s .
           } GROUP BY ?v HAVING (?n > 1)""",
    ).collect()))
    assert got2 == [("v1", 2)]

    # global aggregate, COUNT DISTINCT, MIN
    row = sparql.execute(
        triples,
        """SELECT (COUNT(*) AS ?n) (COUNT(DISTINCT ?e) AS ?d)
                  (MIN(?e) AS ?lo) WHERE {
             ?s foaf:depicts ?e .
           }""",
    ).collect()[0]
    assert (row.n, row.d, row.lo) == (
        3, 2, "http://dbpedia.org/resource/A"
    )


def test_aggregate_validation(triples):
    with pytest.raises(ValueError, match="GROUP BY"):
        sparql.parse(
            "SELECT ?v (COUNT(?s) AS ?n) WHERE { ?v hunter:hasScene ?s }"
        )
    with pytest.raises(ValueError, match="at least one aggregate"):
        sparql.parse(
            "SELECT ?v WHERE { ?v hunter:hasScene ?s } GROUP BY ?v"
        )
    # MEDIAN is not an aggregate we know, and since non-aggregate
    # SELECT expressions landed it routes through the generic
    # function parser — still a loud NotImplementedError
    with pytest.raises(NotImplementedError, match="MEDIAN"):
        sparql.parse(
            "SELECT (MEDIAN(?s) AS ?a) WHERE { ?v hunter:hasScene ?s }"
        )


def test_numeric_and_concat_aggregates(spark):
    rows = [
        ("n1", "http://e/bal", "10"),
        ("n1", "http://e/bal", "30"),
        ("n1", "http://e/bal", "30"),
        ("n2", "http://e/bal", "7"),
        ("n2", "http://e/bal", "not-a-number"),  # dropped by try_cast
        ("n1", "http://e/tag", "b"),
        ("n1", "http://e/tag", "a"),
        ("n1", "http://e/tag", "a"),
    ]
    t = spark.createDataFrame(
        rows, "subj string, pred string, obj string"
    )
    got = {
        r.s: (r.total, r.mean)
        for r in sparql.execute(
            t,
            """SELECT ?s (SUM(?b) AS ?total) (AVG(?b) AS ?mean)
               WHERE { ?s <http://e/bal> ?b } GROUP BY ?s""",
        ).collect()
    }
    # SPARQL ignore-errors-in-aggregation: the unparseable value is
    # dropped from SUM and AVG's denominator alike
    assert got == {"n1": (70.0, 70.0 / 3), "n2": (7.0, 7.0)}

    row = sparql.execute(
        t,
        """SELECT (SUM(DISTINCT ?b) AS ?d)
                  (GROUP_CONCAT(?g; SEPARATOR="|") AS ?cat)
                  (GROUP_CONCAT(DISTINCT ?g; SEPARATOR="|") AS ?dcat)
           WHERE { ?s <http://e/bal> ?b . ?s <http://e/tag> ?g }""",
    ).collect()[0]
    # n1's bag: b in {10,30,30} x g in {b,a,a} -> distinct b {10,30}
    assert row.d == 40.0
    # sorted for partitioning determinism (order unspecified by spec)
    assert row.cat == "|".join(sorted(["b", "a", "a"] * 3))
    assert row.dcat == "a|b"

    # default separator is a single space
    row2 = sparql.execute(
        t,
        """SELECT (GROUP_CONCAT(DISTINCT ?g) AS ?c)
           WHERE { ?s <http://e/tag> ?g }""",
    ).collect()[0]
    assert row2.c == "a b"


# ------------------------------------------------- SERVICE snapshots


def _attributes_snapshot(spark):
    rows = [
        ("http://dbpedia.org/resource/A", "http://e/gender", "male"),
        ("http://dbpedia.org/resource/A", "http://e/birth", "1950-01-01"),
        ("http://www.wikidata.org/entity/Q2", "http://e/gender", "female"),
    ]
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string"
    )


def test_service_snapshot_joins_bindings(spark, triples):
    snap = _attributes_snapshot(spark)
    text = """
    SELECT ?s ?e ?g WHERE {
      ?s foaf:depicts ?e .
      SERVICE <http://dbpedia.org/sparql> { ?e <http://e/gender> ?g }
    }
    """
    got = sorted(
        tuple(r)
        for r in sparql.execute(
            triples, text, services={"http://dbpedia.org/sparql": snap}
        ).collect()
    )
    assert got == [
        ("s1", "http://dbpedia.org/resource/A", "male"),
        ("s1", "http://www.wikidata.org/entity/Q2", "female"),
        ("s3", "http://dbpedia.org/resource/A", "male"),
    ]
    # outer FILTER applies over service-bound vars too
    got2 = sparql.execute(
        triples,
        """
        SELECT ?s WHERE {
          ?s foaf:depicts ?e .
          SERVICE <http://dbpedia.org/sparql> { ?e <http://e/gender> ?g }
          FILTER (?g = "female")
        }
        """,
        services={"http://dbpedia.org/sparql": snap},
    ).collect()
    assert [r.s for r in got2] == ["s1"]


def test_service_snapshot_ask_and_unregistered(spark, triples):
    snap = _attributes_snapshot(spark)
    svc = {"http://dbpedia.org/sparql": snap}
    ask = """
    ASK {
      ?s foaf:depicts ?e .
      SERVICE <http://dbpedia.org/sparql> { ?e <http://e/gender> "female" }
    }
    """
    assert sparql.execute(triples, ask, services=svc) is True
    ask_miss = ask.replace('"female"', '"other"')
    assert sparql.execute(triples, ask_miss, services=svc) is False
    # unregistered endpoint raises loudly at execute
    with pytest.raises(NotImplementedError, match="register"):
        sparql.execute(
            triples,
            "SELECT ?e WHERE { SERVICE <http://other/sparql> "
            "{ ?e <http://e/gender> ?g } }",
        )
    # uncorrelated service group needs allow_cartesian
    with pytest.raises(ValueError, match="allow_cartesian"):
        sparql.execute(
            triples,
            """SELECT ?v ?g WHERE {
                 ?v dc:title ?t .
                 SERVICE <http://dbpedia.org/sparql>
                 { ?x <http://e/gender> ?g } }""",
            services=svc,
        ).collect()


def test_service_group_full_algebra(spark):
    """VALUES / BIND / [NOT] EXISTS / MINUS / subqueries / nested
    SERVICE inside a SERVICE{} group (widened late r5): the group
    evaluates through _group_bindings against the SNAPSHOT graph —
    federation evaluates the whole pattern remotely — and plain group
    FILTERs defer past BIND/subquery joins so they may reference
    late-bound variables."""
    local = spark.createDataFrame(
        [("v1", "d", "A"), ("v2", "d", "B"), ("v3", "d", "C")],
        "subj string, pred string, obj string",
    )
    snap = spark.createDataFrame(
        [("A", "lbl", "Alice"), ("A", "type", "person"),
         ("B", "lbl", "Bob"), ("C", "lbl", "Cara"), ("C", "old", "y")],
        "subj string, pred string, obj string",
    )
    snap2 = spark.createDataFrame(
        [("Alice", "country", "AT"), ("Bob", "country", "BE")],
        "subj string, pred string, obj string",
    )
    svc = {"http://ex.org/sparql": snap, "http://ex2.org/sparql": snap2}

    def run(text):
        return sorted(
            tuple(r)
            for r in sparql.execute(local, text, services=svc).collect()
        )

    # VALUES restricts the remote matches
    assert run(
        """SELECT ?v ?e WHERE { ?v <d> ?e
           SERVICE <http://ex.org/sparql>
           { ?e <lbl> ?l VALUES ?e { "A" "C" } } }"""
    ) == [("v1", "A"), ("v3", "C")]
    # BIND computes on remote bindings; the group FILTER over the
    # BIND-bound var defers past the bind
    assert run(
        """SELECT ?v ?tag WHERE { ?v <d> ?e
           SERVICE <http://ex.org/sparql>
           { ?e <lbl> ?l BIND(CONCAT(?l, "!") AS ?tag)
             FILTER(?tag != "Bob!") } }"""
    ) == [("v1", "Alice!"), ("v3", "Cara!")]
    # NOT EXISTS evaluates against the snapshot graph (C has <old>)
    assert run(
        """SELECT ?v ?e WHERE { ?v <d> ?e
           SERVICE <http://ex.org/sparql>
           { ?e <lbl> ?l FILTER NOT EXISTS { ?e <old> ?o } } }"""
    ) == [("v1", "A"), ("v2", "B")]
    # MINUS against the snapshot graph (A is a person)
    assert run(
        """SELECT ?v ?e WHERE { ?v <d> ?e
           SERVICE <http://ex.org/sparql>
           { ?e <lbl> ?l MINUS { ?e <type> "person" } } }"""
    ) == [("v2", "B"), ("v3", "C")]
    # subquery aggregates over the snapshot graph; outer FILTER over
    # the aggregate defers past the subquery join
    assert run(
        """SELECT ?v ?n WHERE { ?v <d> ?e
           SERVICE <http://ex.org/sparql>
           { ?e <lbl> ?l
             { SELECT ?e (COUNT(?p) AS ?n) WHERE { ?e ?p ?x }
               GROUP BY ?e }
             FILTER(?n > 1) } }"""
    ) == [("v1", 2), ("v3", 2)]
    # nested SERVICE joins its OWN snapshot within the outer group
    assert run(
        """SELECT ?v ?cc WHERE { ?v <d> ?e
           SERVICE <http://ex.org/sparql>
           { ?e <lbl> ?l
             SERVICE <http://ex2.org/sparql> { ?l <country> ?cc } } }"""
    ) == [("v1", "AT"), ("v2", "BE")]
    # FILTER(EXISTS {...}) expression markers compute on the snapshot
    assert run(
        """SELECT ?v ?l WHERE { ?v <d> ?e
           SERVICE <http://ex.org/sparql>
           { ?e <lbl> ?l
             FILTER(EXISTS { ?e <type> "person" } || ?l = "Cara") } }"""
    ) == [("v1", "Alice"), ("v3", "Cara")]


def test_service_inside_groups(spark):
    # SERVICE blocks nest inside OPTIONAL / UNION branches / EXISTS /
    # MINUS as of r5 — the snapshot bindings join within the group
    # through _group_bindings, so the group's algebra (left join,
    # union branch, semi/anti join) applies to federated bindings
    rows = [
        ("a", "http://e/knows", "b"),
        ("a", "http://e/knows", "c"),
        ("b", "http://e/knows", "c"),
        ("a", "http://e/type", "Person"),
        ("b", "http://e/type", "Person"),
        ("d", "http://e/type", "Person"),
    ]
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")
    snap = spark.createDataFrame(
        [("a", "http://x/home", "Paris"), ("b", "http://x/home", "Rome"),
         ("e", "http://x/home", "Oslo")],
        "subj string, pred string, obj string",
    )
    svc = {"http://svc/sparql": snap}
    P = "PREFIX e: <http://e/>\nPREFIX x: <http://x/>\n"

    def run(q):
        return sorted(
            map(tuple, sparql.execute(t, P + q, services=svc).collect()),
            key=str,
        )

    # OPTIONAL { SERVICE {...} }: left rows without a snapshot match
    # survive NULL-padded
    assert run(
        'SELECT ?s ?h WHERE { ?s e:type "Person" . '
        "OPTIONAL { SERVICE <http://svc/sparql> { ?s x:home ?h } } }"
    ) == [("a", "Paris"), ("b", "Rome"), ("d", None)]
    # SERVICE as a whole UNION branch (bag semantics; 'e' enters from
    # the snapshot alone)
    assert run(
        "SELECT ?s WHERE { { ?s e:knows ?o } UNION "
        "{ SERVICE <http://svc/sparql> { ?s x:home ?h } } }"
    ) == [("a",), ("a",), ("a",), ("b",), ("b",), ("e",)]
    # EXISTS / NOT EXISTS / MINUS with a service-only group
    assert run(
        'SELECT ?s WHERE { ?s e:type "Person" . '
        "FILTER EXISTS { SERVICE <http://svc/sparql> { ?s x:home ?h } } }"
    ) == [("a",), ("b",)]
    assert run(
        'SELECT ?s WHERE { ?s e:type "Person" . FILTER NOT EXISTS '
        "{ SERVICE <http://svc/sparql> { ?s x:home ?h } } }"
    ) == [("d",)]
    assert run(
        'SELECT ?s WHERE { ?s e:type "Person" . '
        "MINUS { SERVICE <http://svc/sparql> { ?s x:home ?h } } }"
    ) == [("d",)]
    # an unregistered endpoint nested inside a group still raises
    # up-front (the endpoint collector recurses into sub-groups)
    with pytest.raises(NotImplementedError, match="register"):
        sparql.execute(
            t,
            P + 'SELECT ?s WHERE { ?s e:type "Person" . OPTIONAL '
            "{ SERVICE <http://nope> { ?s x:home ?h } } }",
            services=svc,
        )
    # GRAPH ?var inside a group parses (support lives in
    # test_graph_variable_inside_groups)
    sparql.parse(
        'SELECT ?s WHERE { ?s <http://e/type> "Person" . OPTIONAL '
        "{ GRAPH ?g { ?s <http://x/home> ?h } } }"
    )


def test_facade_register_service_snapshot(spark, tmp_path):
    import pytest as _pytest

    from face_hunter_spark import synth
    from face_hunter_spark.hunter import SparkHunter

    h = SparkHunter(spark, str(tmp_path / "kg"), n_entities=6)
    h.link(synth.documents_df(spark, 6, 6))
    with _pytest.raises(ValueError, match="subj/pred/obj"):
        h.register_service_snapshot(
            "http://x", spark.createDataFrame([(1,)], "a int")
        )
    h.register_service_snapshot("http://attrs", _attributes_snapshot(spark))
    out = h.sparql(
        """
        SELECT DISTINCT ?e ?g WHERE {
          ?s foaf:depicts ?e .
          SERVICE <http://attrs> { ?e <http://e/gender> ?g }
        }
        """
    )
    rows = {(r.e, r.g) for r in out.collect()}
    # the synthetic corpus links dbpedia.org/resource URIs; only A is
    # in the snapshot
    assert rows <= {("http://dbpedia.org/resource/A", "male")}


# ----------------------------------------------------------- subqueries


def test_subquery_aggregate_join(triples):
    # the SPARQL 1.1 idiom: aggregate bottom-up, join the counts onto
    # the outer patterns, filter on the aggregated value
    got = sorted(map(tuple, sparql.execute(
        triples,
        """SELECT ?v ?scene ?n WHERE {
             ?v hunter:hasScene ?scene .
             { SELECT ?scene (COUNT(?e) AS ?n)
               WHERE { ?scene foaf:depicts ?e } GROUP BY ?scene }
             FILTER (?n >= 2)
           } ORDER BY ?scene""",
    ).collect()))
    assert got == [("v1", "s1", 2)]


def test_subquery_projection_hides_inner_vars(triples):
    # ?e is bound inside the subquery but not projected: it must not
    # leak (SELECT * outside sees only ?v ?scene ?n), and it must NOT
    # join against an outer ?e
    df = sparql.execute(
        triples,
        """SELECT * WHERE {
             ?v hunter:hasScene ?scene .
             { SELECT ?scene (COUNT(?e) AS ?n)
               WHERE { ?scene foaf:depicts ?e } GROUP BY ?scene }
           }""",
    )
    assert sorted(df.columns) == ["n", "scene", "v"]
    # outer ?e is a DIFFERENT variable from the subquery's hidden ?e:
    # s1's two depicts rows each join the same (scene, n) row
    got = sorted(map(tuple, sparql.execute(
        triples,
        """SELECT ?scene ?e ?n WHERE {
             ?scene foaf:depicts ?e .
             { SELECT ?scene (COUNT(?e) AS ?n)
               WHERE { ?scene foaf:depicts ?e } GROUP BY ?scene }
           } ORDER BY ?scene ?e""",
    ).collect()))
    assert got == [
        ("s1", "http://dbpedia.org/resource/A", 2),
        ("s1", "http://www.wikidata.org/entity/Q2", 2),
        ("s3", "http://dbpedia.org/resource/A", 1),
    ]


def test_subquery_only_where_and_order_limit(triples):
    # subquery-only WHERE clause starts from the subquery's result;
    # inner ORDER BY + LIMIT applies BEFORE the outer projection
    got = sorted(map(tuple, sparql.execute(
        triples,
        """SELECT ?scene ?n WHERE {
             { SELECT ?scene (COUNT(?e) AS ?n)
               WHERE { ?scene foaf:depicts ?e }
               GROUP BY ?scene ORDER BY DESC(?n) LIMIT 1 }
           }""",
    ).collect()))
    assert got == [("s1", 2)]


def test_subquery_ask_and_nested(triples):
    assert sparql.execute(
        triples,
        """ASK { ?v hunter:hasScene ?scene .
             { SELECT ?scene (COUNT(?e) AS ?n)
               WHERE { ?scene foaf:depicts ?e } GROUP BY ?scene }
             FILTER (?n >= 2) }""",
    ) is True
    assert sparql.execute(
        triples,
        """ASK { ?v hunter:hasScene ?scene .
             { SELECT ?scene (COUNT(?e) AS ?n)
               WHERE { ?scene foaf:depicts ?e } GROUP BY ?scene }
             FILTER (?n >= 5) }""",
    ) is False
    # a subquery nested inside a subquery (uncorrelated outer join ->
    # needs allow_cartesian)
    got = sorted(map(tuple, sparql.execute(
        triples,
        """SELECT ?v ?maxn WHERE {
             ?v hunter:hasScene ?scene .
             { SELECT ?scene (COUNT(?e) AS ?n)
               WHERE { ?scene foaf:depicts ?e } GROUP BY ?scene }
             { SELECT (MAX(?m) AS ?maxn) WHERE {
                 { SELECT ?s2 (COUNT(?e2) AS ?m)
                   WHERE { ?s2 foaf:depicts ?e2 } GROUP BY ?s2 } } }
             FILTER (?n = ?maxn)
           }""",
        allow_cartesian=True,
    ).collect()))
    assert got == [("v1", 2)]


def test_subquery_seams(triples):
    with pytest.raises(ValueError, match="cross product"):
        sparql.execute(
            triples,
            """SELECT ?v ?n WHERE {
                 ?v dc:title ?t .
                 { SELECT (COUNT(?e) AS ?n)
                   WHERE { ?s foaf:depicts ?e } }
               }""",
        )
    # subqueries nest inside OPTIONAL / UNION branches / negation
    # groups as of r5 — each parses into the sub-group's own
    # subqueries list and evaluates bottom-up at assembly
    q = sparql.parse(
        """SELECT ?v WHERE { ?v dc:title ?t .
             OPTIONAL { { SELECT ?v WHERE { ?v dc:title ?u } } } }"""
    )
    assert isinstance(q.optional[0], sparql.ParsedQuery)
    assert len(q.optional[0].subqueries) == 1
    q = sparql.parse(
        """SELECT ?v WHERE {
             { SELECT ?v WHERE { ?v dc:title ?t } }
             UNION { ?v dc:identifier ?t } }"""
    )
    assert len(q.unions) == 1 and q.unions[0][0][0] == "__q__"
    assert len(q.unions[0][0][1].subqueries) == 1
    q = sparql.parse(
        """SELECT ?v WHERE { ?v dc:title ?t .
             FILTER NOT EXISTS {
               { SELECT ?v WHERE { ?v dc:identifier ?i } } } }"""
    )
    assert len(q.exists_clauses[0][1].subqueries) == 1


def test_subqueries_inside_groups(spark):
    rows = [
        ("a", "http://e/knows", "b"),
        ("a", "http://e/knows", "c"),
        ("b", "http://e/knows", "c"),
        ("a", "http://e/type", "Person"),
        ("b", "http://e/type", "Person"),
        ("d", "http://e/type", "Person"),
    ]
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")
    P = "PREFIX e: <http://e/>\n"

    def run(q):
        return sorted(
            map(tuple, sparql.execute(t, P + q).collect()), key=str
        )

    # subquery inside OPTIONAL: the aggregate extends matching rows,
    # unmatched left rows keep NULL
    assert run(
        'SELECT ?s ?k WHERE { ?s e:type "Person" . '
        "OPTIONAL { { SELECT ?s (COUNT(?o) AS ?k) "
        "WHERE { ?s e:knows ?o } GROUP BY ?s } } }"
    ) == [("a", 2), ("b", 1), ("d", None)]
    # subquery as a whole UNION branch (bag semantics: 'a' knows two,
    # so the subquery branch contributes it twice)
    assert run(
        "SELECT ?s WHERE { { SELECT ?s WHERE { ?s e:knows ?o } } "
        'UNION { ?s e:type "Person" } }'
    ) == [("a",), ("a",), ("a",), ("b",), ("b",), ("d",)]
    # subquery inside EXISTS / NOT EXISTS, correlated on ?s
    assert run(
        'SELECT ?s WHERE { ?s e:type "Person" . '
        "FILTER EXISTS { { SELECT ?s WHERE { ?s e:knows ?o } } } }"
    ) == [("a",), ("b",)]
    assert run(
        'SELECT ?s WHERE { ?s e:type "Person" . '
        "FILTER NOT EXISTS { { SELECT ?s (COUNT(?o) AS ?k) "
        "WHERE { ?s e:knows ?o } GROUP BY ?s HAVING (?k >= 2) } } }"
    ) == [("b",), ("d",)]


def test_subquery_with_property_path(spark):
    # the subquery expands its own property paths against the base
    # graph: count each node's descendants via p+ bottom-up
    rows = [
        ("a", "http://e/p", "b"),
        ("b", "http://e/p", "c"),
        ("x", "http://e/lbl", "nope"),
        ("a", "http://e/lbl", "root"),
    ]
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")
    got = sorted(map(tuple, sparql.execute(
        t,
        """SELECT ?s ?lbl ?n WHERE {
             ?s <http://e/lbl> ?lbl .
             { SELECT ?s (COUNT(?d) AS ?n)
               WHERE { ?s <http://e/p>+ ?d } GROUP BY ?s }
           }""",
    ).collect()))
    assert got == [("a", "root", 2)]


# -------------------------------------- grouped paths + negated sets


def test_property_path_groups_and_negsets(spark):
    tri = spark.createDataFrame(
        [
            ("a", "http://e/p", "b"),
            ("b", "http://e/q", "c"),
            ("a", "http://e/q", "d"),
            ("d", "http://e/r", "e"),
            ("c", "http://e/r", "f"),
            ("a", "http://e/lbl", "rootlab"),
            ("x", "http://e/lbl", "lab"),
        ],
        "subj string, pred string, obj string",
    )
    P = "PREFIX e: <http://e/>\n"

    def run(q, **kw):
        return sorted(map(tuple, sparql.execute(tri, P + q, **kw).collect()))

    # grouped alternative inside a sequence, distributed over '/'
    assert run("SELECT ?s ?o WHERE { ?s (e:p|e:q)/e:r ?o }") == [
        ("a", "e"), ("b", "f"),
    ]
    # grouped inverse of a sequence: ^(p/q) reverses and flips
    assert run("SELECT ?s ?o WHERE { ?s ^(e:p/e:q) ?o }") == [("c", "a")]
    # single-atom group with modifier collapses: (p)+ == p+
    assert run(
        "SELECT ?s ?o WHERE { ?s (e:p)+ ?o . ?s e:lbl ?l }"
    ) == [("a", "b")]
    # inverted closure between the pattern's own ends: ^p+
    assert run("SELECT ?s ?o WHERE { ?s ^e:q+ ?o }") == [
        ("c", "b"), ("d", "a"),
    ]
    # negated property set, single and grouped
    assert run("SELECT ?s ?o WHERE { ?s !e:lbl ?o . ?s e:lbl ?l }") == [
        ("a", "b"), ("a", "d"),
    ]
    assert run("SELECT ?s ?o WHERE { ?s !(e:p|e:q|e:lbl) ?o }") == [
        ("c", "f"), ("d", "e"),
    ]
    # negset inside a sequence step and SELECT * hiding
    df = sparql.execute(
        tri, P + "SELECT * WHERE { ?s e:p/!(e:r|e:lbl) ?o }"
    )
    assert sorted(df.columns) == ["o", "s"]
    assert sorted(
        (r["s"], r["o"]) for r in df.collect()
    ) == [("a", "c")]
    # negset inside OPTIONAL folds into the left-join condition:
    # every subject keeps its row, x has no non-lbl edge -> NULL
    assert run(
        "SELECT ?s ?o WHERE { ?s e:lbl ?l . "
        "OPTIONAL { ?s !e:lbl ?o } } ORDER BY ?s ?o"
    ) == [("a", "b"), ("a", "d"), ("x", None)]
    # negset inside MINUS rides the group's own filter slot (r5):
    # remove every subject with a non-lbl out-edge
    assert run(
        "SELECT ?s WHERE { ?s e:lbl ?l . MINUS { ?s !e:lbl ?o } }"
    ) == [("x",)]
    # composite closure is supported now (r5): (p/q)+ over a->b->c
    assert run("SELECT ?s ?o WHERE { ?s (e:p/e:q)+ ?o }") == [
        ("a", "c"),
    ]
    # inverse members in a negated set (§9.1): !(^p) matches every
    # REVERSED edge whose predicate is not p; ^!p is the same relation
    rev_not_p = [
        ("c", "b"), ("d", "a"), ("e", "d"), ("f", "c"),
        ("lab", "x"), ("rootlab", "a"),
    ]
    assert run("SELECT ?s ?o WHERE { ?s !(^e:p) ?o }") == rev_not_p
    assert run("SELECT ?s ?o WHERE { ?s ^!e:p ?o }") == rev_not_p
    # mixed set = union of the forward and reversed branches; here the
    # reversed branch contributes nothing for subjects with e:lbl
    assert run(
        "SELECT ?s ?o WHERE { ?s !(e:lbl|^e:q) ?o . ?s e:lbl ?l }"
    ) == [("a", "b"), ("a", "d")]
    # mixed set inside a sequence: both branches chain into /e:r
    assert run(
        "SELECT ?s ?o WHERE { ?s !(e:lbl|^e:q)/e:r ?o }"
    ) == [("a", "e"), ("b", "f"), ("e", "e"), ("f", "f")]
    # closed negated set: !(lbl)+ closes the non-label edge relation
    # ((a,b),(b,c),(a,d),(d,e),(c,f) and their chains)
    assert run("SELECT ?s ?o WHERE { ?s !e:lbl+ ?o }") == [
        ("a", "b"), ("a", "c"), ("a", "d"), ("a", "e"), ("a", "f"),
        ("b", "c"), ("b", "f"), ("c", "f"), ("d", "e"),
    ]
    # negated set inside a closed group: q-step then non-lbl/q step,
    # closed — relation {(b,f),(a,e)}, no chains
    assert run(
        "SELECT ?s ?o WHERE { ?s (e:q/!(e:lbl|e:q))+ ?o }"
    ) == [("a", "e"), ("b", "f")]
    # closure step INSIDE a closed group (r5 continuation): q+ rides
    # as a nested-closure atom — (q+/r)+ has relation {a->e, b->f}
    assert run("SELECT ?s ?o WHERE { ?s (e:q+/e:r)+ ?o }") == [
        ("a", "e"), ("b", "f"),
    ]
    # '*' inside a closed group expands to presence/absence branches:
    # p*/q = (p+/q) | q = {a->c} | {b->c, a->d}
    assert run("SELECT ?s ?o WHERE { ?s (e:p*/e:q)+ ?o }") == [
        ("a", "c"), ("a", "d"), ("b", "c"),
    ]


def test_construct_with_solution_clauses(triples):
    # CONSTRUCT over a WHERE clause using MINUS + BIND + subquery —
    # previously a loud seam, now routed through the SELECT algebra
    got = sorted(map(tuple, sparql.execute(
        triples,
        """PREFIX ex: <http://x/>
           CONSTRUCT { ?s ex:flagged ?flag } WHERE {
             ?s a video:Scene .
             MINUS { ?s foaf:depicts <http://www.wikidata.org/entity/Q2> }
             BIND ( strstarts(str(?s), "s") AS ?flag )
           }""",
    ).collect()))
    assert got == [
        ("s2", "http://x/flagged", "true"),
        ("s3", "http://x/flagged", "true"),
    ]
    got2 = sorted(map(tuple, sparql.execute(
        triples,
        """PREFIX ex: <http://x/>
           CONSTRUCT { ?v ex:sceneCount ?n } WHERE {
             ?v dc:title ?t .
             { SELECT ?v (COUNT(?s) AS ?n)
               WHERE { ?v hunter:hasScene ?s } GROUP BY ?v }
           }""",
    ).collect()))
    assert got2 == [
        ("v1", "http://x/sceneCount", "2"),
        ("v2", "http://x/sceneCount", "1"),
    ]


def test_filter_function_surface(spark):
    rows = [
        ("d1", "http://e/title", "Alpha Beta"),
        ("d2", "http://e/title", "gamma"),
        ("d3", "http://e/title", "delta epsilon zeta"),
        ("d1", "http://e/score", "42"),
        ("d2", "http://e/score", "7"),
        ("d3", "http://e/score", "-3.5"),
    ]
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")
    P = "PREFIX e: <http://e/>\n"

    def run(q):
        return sorted(map(tuple, sparql.execute(t, P + q).collect()))

    # STRLEN / UCASE / LCASE
    assert run(
        "SELECT ?s WHERE { ?s e:title ?t . FILTER (strlen(?t) > 10) }"
    ) == [("d3",)]
    assert run(
        'SELECT ?s WHERE { ?s e:title ?t . FILTER (ucase(?t) = "GAMMA") }'
    ) == [("d2",)]
    # SUBSTR is 1-based; CONCAT; STRBEFORE/STRAFTER with miss -> ""
    assert run(
        'SELECT ?s WHERE { ?s e:title ?t . '
        'FILTER (substr(?t, 1, 5) = "Alpha") }'
    ) == [("d1",)]
    assert run(
        'SELECT ?s WHERE { ?s e:title ?t . '
        'FILTER (concat(?t, "!") = "gamma!") }'
    ) == [("d2",)]
    assert run(
        'SELECT ?s WHERE { ?s e:title ?t . '
        'FILTER (strbefore(?t, " ") = "Alpha") }'
    ) == [("d1",)]
    assert run(
        'SELECT ?s WHERE { ?s e:title ?t . '
        'FILTER (strafter(?t, "nope") = "" && contains(?t, "a")) }'
    ) == [("d1",), ("d2",), ("d3",)]
    # REPLACE with case-insensitive flag
    assert run(
        'SELECT ?s WHERE { ?s e:title ?t . '
        'FILTER (replace(?t, "ALPHA ", "", "i") = "Beta") }'
    ) == [("d1",)]
    # arithmetic over lexical numbers + ABS/ROUND/FLOOR/CEIL
    assert run(
        "SELECT ?s WHERE { ?s e:score ?n . FILTER (?n * 2 >= 14) }"
    ) == [("d1",), ("d2",)]
    assert run(
        "SELECT ?s WHERE { ?s e:score ?n . FILTER (abs(?n) < 4) }"
    ) == [("d3",)]
    assert run(
        "SELECT ?s WHERE { ?s e:score ?n . FILTER (floor(?n) = -4) }"
    ) == [("d3",)]
    # IN / NOT IN
    assert run(
        'SELECT ?s WHERE { ?s e:title ?t . '
        'FILTER (?t IN ("gamma", "nope")) }'
    ) == [("d2",)]
    assert run(
        'SELECT ?s WHERE { ?s e:title ?t . '
        'FILTER (?t NOT IN ("gamma")) }'
    ) == [("d1",), ("d3",)]
    # IF + COALESCE through BIND (results cast to string)
    assert run(
        'SELECT ?s ?flag WHERE { ?s e:score ?n . '
        'BIND (if(?n > 10, "big", "small") AS ?flag) }'
    ) == [("d1", "big"), ("d2", "small"), ("d3", "small")]
    assert run(
        "SELECT ?s ?v WHERE { ?s e:title ?t . "
        "OPTIONAL { ?s e:missing ?m } "
        'BIND (coalesce(?m, "none") AS ?v) FILTER (?v = "none") }'
    ) == [("d1", "none"), ("d2", "none"), ("d3", "none")]
    # unknown function still raises loudly
    with pytest.raises(NotImplementedError, match="FILTER function"):
        sparql.parse(
            P + "SELECT ?s WHERE { ?s e:title ?t . "
            "FILTER (tz(?t) = ?t) }"
        )


def test_describe_variable_form(triples):
    # DESCRIBE ?v WHERE {...}: every video with >= 2 scenes -> v1's
    # full out/in star, distributed semi-joins (no driver collect)
    df = sparql.execute(
        triples,
        """DESCRIBE ?v WHERE {
             { SELECT ?v (COUNT(?s) AS ?n)
               WHERE { ?v hunter:hasScene ?s } GROUP BY ?v }
             FILTER (?n >= 2)
           }""",
    )
    got = sorted(map(tuple, df.collect()))
    assert got == sorted([
        ("v1", P_SCENE, "s1", "out"),
        ("v1", P_SCENE, "s2", "out"),
        ("v1", P_TITLE, "alpha title", "out"),
    ])
    # plain pattern binding + in-star rows for an object-side node
    df2 = sparql.execute(
        triples,
        'DESCRIBE ?s WHERE { ?s temporal:hasStartTime "0:00:05" }',
    )
    got2 = sorted(map(tuple, df2.collect()))
    assert ("v1", P_SCENE, "s2", "in") in got2
    assert ("s2", P_START, "0:00:05", "out") in got2
    # var form without WHERE raises
    with pytest.raises(ValueError, match="WHERE"):
        sparql.parse("DESCRIBE ?v")


def test_union_associative_flattening(triples):
    # { {A} UNION {B} } UNION {C} evaluates as A ∪ B ∪ C
    got = sorted(map(tuple, sparql.execute(
        triples,
        """SELECT ?x ?y WHERE {
             { { ?x hunter:hasScene ?y } UNION { ?x dc:title ?y } }
             UNION { ?x foaf:depicts ?y }
           }""",
    ).collect()))
    want = sorted(
        [("v1", "s1"), ("v1", "s2"), ("v2", "s3"),
         ("v1", "alpha title"), ("v2", "Beta Title"),
         ("s1", "http://dbpedia.org/resource/A"),
         ("s1", "http://www.wikidata.org/entity/Q2"),
         ("s3", "http://dbpedia.org/resource/A")]
    )
    assert got == want


def test_filter_inside_exists_and_minus(triples):
    # FILTER NOT EXISTS with a group-local filter: scenes with NO
    # dbpedia depiction (s1/s3 depict dbpedia A -> only s2 survives)
    got = sorted(map(tuple, sparql.execute(
        triples,
        """SELECT ?s WHERE {
             ?s a video:Scene .
             FILTER NOT EXISTS {
               ?s foaf:depicts ?e
               FILTER ( strstarts(str(?e), "http://dbpedia.org/") )
             }
           }""",
    ).collect()))
    assert got == [("s2",)]
    # positive EXISTS with the complementary filter
    got2 = sorted(map(tuple, sparql.execute(
        triples,
        """SELECT ?s WHERE {
             ?s a video:Scene .
             FILTER EXISTS {
               ?s foaf:depicts ?e
               FILTER ( strstarts(str(?e), "http://www.wikidata") )
             }
           }""",
    ).collect()))
    assert got2 == [("s1",)]
    # MINUS with a group-local filter: drop scenes starting at 0:00:00
    got3 = sorted(map(tuple, sparql.execute(
        triples,
        """SELECT ?s WHERE {
             ?s a video:Scene .
             MINUS { ?s temporal:hasStartTime ?t
                     FILTER ( ?t = "0:00:00" ) }
           }""",
    ).collect()))
    assert got3 == [("s2",), ("s3",)]


def test_service_snapshot_paths(spark, triples):
    # paths inside SERVICE evaluate against the SNAPSHOT graph: the
    # snapshot holds a subClassOf chain the main graph doesn't have
    snap = spark.createDataFrame(
        [
            ("http://dbpedia.org/resource/A", "http://e/kind", "k1"),
            ("k1", "http://e/broader", "k2"),
            ("k2", "http://e/broader", "k3"),
        ],
        "subj string, pred string, obj string",
    )
    got = sorted(map(tuple, sparql.execute(
        triples,
        """SELECT DISTINCT ?e ?k WHERE {
             ?s foaf:depicts ?e .
             SERVICE <http://attrs>
             { ?e <http://e/kind>/<http://e/broader>+ ?k }
           }""",
        services={"http://attrs": snap},
    ).collect()))
    assert got == [
        ("http://dbpedia.org/resource/A", "k2"),
        ("http://dbpedia.org/resource/A", "k3"),
    ]
    # negated set inside SERVICE rides the synthetic filter slot
    got2 = sorted(map(tuple, sparql.execute(
        triples,
        """SELECT DISTINCT ?e ?o WHERE {
             ?s foaf:depicts ?e .
             SERVICE <http://attrs> { ?e !<http://e/nope> ?o }
           }""",
        services={"http://attrs": snap},
    ).collect()))
    assert got2 == [("http://dbpedia.org/resource/A", "k1")]
    # alternatives inside SERVICE evaluate against the snapshot (r5):
    # only the kind edge exists, so the alternative matches it
    got3 = sorted(map(tuple, sparql.execute(
        triples,
        """SELECT DISTINCT ?e ?o WHERE {
             ?s foaf:depicts ?e .
             SERVICE <http://attrs>
             { ?e <http://e/kind>|<http://e/nope> ?o }
           }""",
        services={"http://attrs": snap},
    ).collect()))
    assert got3 == [("http://dbpedia.org/resource/A", "k1")]
    # OPTIONAL + group FILTER inside SERVICE: broader is optional,
    # the filter keeps rows whose broader is unbound or k2
    got4 = sorted(map(tuple, sparql.execute(
        triples,
        """SELECT DISTINCT ?e ?b WHERE {
             ?s foaf:depicts ?e .
             SERVICE <http://attrs> {
               ?e <http://e/kind> ?k
               OPTIONAL { ?k <http://e/broader> ?b }
               FILTER ( !bound(?b) || ?b = "k2" )
             }
           }""",
        services={"http://attrs": snap},
    ).collect()))
    assert got4 == [("http://dbpedia.org/resource/A", "k2")]


def test_review_fixes_precedence_ask_and_gates(triples, spark):
    # arithmetic precedence: * binds tighter than +
    rows = [("d", "http://e/x", "14")]
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")
    got = sparql.execute(
        t, "SELECT ?s WHERE { ?s <http://e/x> ?x . "
           "FILTER (?x = 2 + 3 * 4) }",
    ).collect()
    assert [r.s for r in got] == ["d"]
    # IN over numeric literals try_casts the lexical side
    rows2 = [("a", "http://e/y", "2020"), ("b", "http://e/y", "unknown")]
    t2 = spark.createDataFrame(rows2, "subj string, pred string, obj string")
    got2 = sparql.execute(
        t2, "SELECT ?s WHERE { ?s <http://e/y> ?y . "
            "FILTER (?y IN (2020, 2021)) }",
    ).collect()
    assert [r.s for r in got2] == ["a"]
    # ASK with a subquery-only WHERE clause
    assert sparql.execute(
        triples,
        """ASK { { SELECT ?v (COUNT(?s) AS ?n)
                   WHERE { ?v hunter:hasScene ?s } GROUP BY ?v } }""",
    ) is True
    # VALUES inside a negation group parses since r5 continuation
    q = sparql.parse(
        """SELECT ?s WHERE { ?s dc:title ?t .
             FILTER NOT EXISTS { ?s dc:identifier ?i .
                                 VALUES ?i { "x" } } }"""
    )
    assert len(q.exists_clauses) == 1
    assert q.exists_clauses[0][1].values_clauses
    # BIND alongside a nested UNION in a branch parses as a COMPLEX
    # branch (r5 continuation): the branch evaluates as its own
    # sub-group and joins the variant on shared vars
    q2 = sparql.parse(
        """SELECT ?v WHERE { { { ?v dc:title ?t }
             UNION { ?v dc:identifier ?t }
             BIND ("z" AS ?z) } UNION { ?v dc:creator ?t } }"""
    )
    assert q2.unions[0][0][0] == "__q__"
    from face_hunter_spark.operators.sparql_update import parse_update

    # subqueries in an update WHERE clause parse now (the full read
    # surface — see test_sparql_update.test_update_where_full_read_surface)
    pu = parse_update(
        """DELETE { ?s <http://e/p> ?o }
           WHERE { ?s <http://e/p> ?o .
             { SELECT ?s WHERE { ?s <http://e/q> "keep" } } }"""
    )
    assert pu.where.subqueries


def test_graph_wrapper_collapses(triples):
    # GRAPH <iri> { ... } wrappers collapse into the enclosing group
    # (single-graph store — the same additive rule as the UPDATE
    # forms); a variable graph name raises
    got = sorted(map(tuple, sparql.execute(
        triples,
        """SELECT ?v ?t WHERE {
             GRAPH <http://face-hunter.org/graph> {
               ?v dc:title ?t .
               FILTER ( strstarts(str(?t), "alpha") )
             }
           }""",
    ).collect()))
    assert got == [("v1", "alpha title")]


def test_graph_variable_binds_store_uri(triples):
    # GRAPH ?g { ... } collapses like the constant form and binds ?g
    # to the store's single graph URI in every solution — the
    # single-graph-dataset reading of the spec's graph iteration
    G = "http://face-hunter.org/graph"
    got = sorted(map(tuple, sparql.execute(
        triples,
        "SELECT ?v ?g WHERE { GRAPH ?g { ?v dc:title ?t } }",
        graph_uri=G,
    ).collect()))
    assert got == [("v1", G), ("v2", G)]
    # a FILTER over the graph variable defers past the bind and works
    got = sparql.execute(
        triples,
        """SELECT ?v WHERE {
             GRAPH ?g { ?v dc:title ?t }
             FILTER ( contains(str(?g), "face-hunter") )
           }""",
        graph_uri=G,
    ).collect()
    assert sorted(r["v"] for r in got) == ["v1", "v2"]
    assert sparql.execute(
        triples,
        "ASK { GRAPH ?g { ?v dc:title ?t } }",
        graph_uri=G,
    ) is True
    # the same wrapper var twice is one bind, not a rebind error
    got = sparql.execute(
        triples,
        """SELECT ?v ?s ?g WHERE {
             GRAPH ?g { ?v dc:title ?t }
             GRAPH ?g { ?v hunter:hasScene ?s }
           }""",
        graph_uri=G,
    ).collect()
    assert len(got) == 3 and all(r["g"] == G for r in got)
    # unconfigured store: loud, with the configuration pointer
    with pytest.raises(ValueError, match="graph_uri"):
        sparql.execute(
            triples,
            "SELECT ?v WHERE { GRAPH ?g { ?v dc:title ?t } }",
        )
    # a graph var the patterns also match would be a join over graph
    # names — a single-graph store refuses rather than guessing
    with pytest.raises(NotImplementedError, match="single graph"):
        sparql.execute(
            triples,
            "SELECT ?v WHERE { GRAPH ?g { ?v dc:title ?g } }",
            graph_uri=G,
        )
    # sub-group wrappers bind too — see
    # test_graph_variable_inside_groups for the full matrix


def test_graph_variable_inside_groups(triples):
    # GRAPH ?g inside OPTIONAL / UNION branches / EXISTS / MINUS:
    # _inject_graph_binds recurses into every nested group, so the
    # wrapper collapses and ?g binds the store URI within that
    # group's own bindings — NULL-padded by OPTIONAL, unioned by
    # UNION, and invisible (but join-shaping) inside negation
    G = "http://face-hunter.org/graph"

    def rows(q):
        return sorted(
            map(tuple, sparql.execute(triples, q, graph_uri=G).collect())
        )

    # OPTIONAL: matched scenes carry the URI, unmatched NULL-pad ?g
    assert rows(
        """SELECT DISTINCT ?s ?g WHERE {
             ?s rdf:type video:Scene .
             OPTIONAL { GRAPH ?g { ?s foaf:depicts ?e } }
           }"""
    ) == [("s1", G), ("s2", None), ("s3", G)]
    # UNION: the wrapper forces the complex-branch path; ?g is NULL
    # in the branch that never binds it
    assert rows(
        """SELECT DISTINCT ?v ?g WHERE {
             { GRAPH ?g { ?v dc:title ?t } }
             UNION
             { ?v foaf:depicts ?e }
           }"""
    ) == [("s1", None), ("s3", None), ("v1", G), ("v2", G)]
    # FILTER EXISTS / MINUS: the group's graph bind joins like any
    # group variable (not shared here, so pure existence semantics)
    assert rows(
        """SELECT ?s WHERE {
             ?s temporal:hasStartTime ?st .
             FILTER EXISTS { GRAPH ?g { ?s foaf:depicts ?e } }
           }"""
    ) == [("s1",), ("s3",)]
    assert rows(
        """SELECT ?s WHERE {
             ?s temporal:hasStartTime ?st .
             MINUS { GRAPH ?g { ?s foaf:depicts ?e } }
           }"""
    ) == [("s2",)]
    # an unconfigured store is loud even when the wrapper is nested
    with pytest.raises(ValueError, match="graph_uri"):
        sparql.execute(
            triples,
            """SELECT ?v WHERE { ?v dc:title ?t .
                 OPTIONAL { GRAPH ?g { ?v hunter:hasScene ?s } } }""",
        )
    # and the pattern-collision guard applies per nested group
    with pytest.raises(NotImplementedError, match="single graph"):
        sparql.execute(
            triples,
            """SELECT ?v WHERE { ?v dc:title ?t .
                 MINUS { GRAPH ?g { ?v foaf:depicts ?g } } }""",
            graph_uri=G,
        )


def test_hash_date_builtins_and_expression_aggregates(spark):
    rows = [
        ("e1", "http://e/when", "2021-03-05T10:20:30"),
        ("e2", "http://e/when", "2022-07-01T01:02:03"),
        ("e3", "http://e/when", "not-a-date"),
        ("e1", "http://e/qty", "3"),
        ("e1", "http://e/price", "10"),
        ("e2", "http://e/qty", "2"),
        ("e2", "http://e/price", "7"),
    ]
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")
    P = "PREFIX e: <http://e/>\n"

    def run(q):
        return sorted(map(tuple, sparql.execute(t, P + q).collect()))

    # date accessors over lexical xsd:dateTime; unparseable drops
    assert run(
        "SELECT ?s WHERE { ?s e:when ?w . FILTER (year(?w) = 2021) }"
    ) == [("e1",)]
    assert run(
        "SELECT ?s WHERE { ?s e:when ?w . "
        "FILTER (month(?w) = 7 && hours(?w) = 1) }"
    ) == [("e2",)]
    # hash builtins produce the standard hex digests
    import hashlib

    want = hashlib.md5(b"2021-03-05T10:20:30").hexdigest()
    got = run(
        "SELECT ?s ?h WHERE { ?s e:when ?w . "
        'FILTER (?s = "e1") BIND (md5(?w) AS ?h) }'
    )
    assert got == [("e1", want)]
    want256 = hashlib.sha256(b"e1").hexdigest()
    got2 = run(
        'SELECT ?h WHERE { ?s e:qty ?q . FILTER (?s = "e1") '
        "BIND (sha256(?s) AS ?h) }"
    )
    assert got2 == [(want256,)]
    # aggregate over an expression: revenue = SUM(qty * price)
    assert run(
        "SELECT (SUM(?q * ?p) AS ?rev) WHERE { "
        "?s e:qty ?q . ?s e:price ?p }"
    ) == [(44.0,)]
    # COUNT(DISTINCT expr)
    assert run(
        "SELECT (COUNT(DISTINCT year(?w)) AS ?n) WHERE { ?s e:when ?w }"
    ) == [(2,)]


def test_composite_path_closure(spark):
    # n1 -p-> n2 -q-> n3 -p-> n4 -q-> n5 -p-> n6, plus a side edge
    rows = [
        ("n1", "http://e/p", "n2"),
        ("n2", "http://e/q", "n3"),
        ("n3", "http://e/p", "n4"),
        ("n4", "http://e/q", "n5"),
        ("n1", "http://e/knows", "n9"),
        ("n5", "http://e/p", "n6"),
    ]
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")
    P = "PREFIX e: <http://e/>\n"

    def run(q):
        return sorted(map(tuple, sparql.execute(t, P + q).collect()))

    # (p/q)+ closes the composite relation {n1->n3, n3->n5}
    assert run("SELECT ?a ?b WHERE { ?a (e:p/e:q)+ ?b }") == [
        ("n1", "n3"), ("n1", "n5"), ("n3", "n5"),
    ]
    # anchored * adds the zero-length row
    assert run('SELECT ?b WHERE { "n1" (e:p/e:q)* ?b }') == [
        ("n1",), ("n3",), ("n5",),
    ]
    # anchored ? is zero-or-one composite hop, no closure
    assert run('SELECT ?b WHERE { "n1" (e:p/e:q)? ?b }') == [
        ("n1",), ("n3",),
    ]
    # alternative group closure (p|q)+ = plain reachability on the chain
    assert run('SELECT ?b WHERE { "n1" (e:p|e:q)+ ?b }') == [
        ("n2",), ("n3",), ("n4",), ("n5",), ("n6",),
    ]
    # ^(p/q)+ equals (^q/^p)+ — group inverse folds into the spec
    want = [("n1",), ("n3",)]
    assert run('SELECT ?a WHERE { "n5" ^(e:p/e:q)+ ?a }') == want
    assert run('SELECT ?a WHERE { "n5" (^e:q/^e:p)+ ?a }') == want
    # composite closure mid-sequence
    assert run("SELECT ?a ?b WHERE { ?a e:p/(e:q/e:p)+ ?b }") == [
        ("n1", "n4"), ("n1", "n6"), ("n3", "n6"),
    ]
    # a closure step INSIDE a closed group (r5 continuation): q+ is a
    # nested-closure atom; relation {n1->n3, n3->n5} then path-doubles
    assert run("SELECT ?a ?b WHERE { ?a (e:p/e:q+)+ ?b }") == [
        ("n1", "n3"), ("n1", "n5"), ("n3", "n5"),
    ]
    # an all-ε combination ((p?/q?)+) upgrades '+' to '*' semantics:
    # anchored, so the zero-length row appears alongside reachability
    assert run('SELECT ?b WHERE { "n1" (e:p?/e:q?)+ ?b }') == [
        ("n1",), ("n2",), ("n3",), ("n4",), ("n5",), ("n6",),
    ]
    # unanchored '*' (r5): the zero-length component contributes one
    # reflexive pair per term IN THE GRAPH (SPARQL 1.1 §18.4 — G's
    # subjects and objects, here n1..n6 and n9), plus the closure
    terms = [f"n{i}" for i in (1, 2, 3, 4, 5, 6, 9)]
    assert run("SELECT ?a ?b WHERE { ?a (e:p/e:q)* ?b }") == sorted(
        [(x, x) for x in terms]
        + [("n1", "n3"), ("n1", "n5"), ("n3", "n5")]
    )
    # unanchored '?': reflexive pairs plus the single composite hop
    assert run("SELECT ?a ?b WHERE { ?a (e:p/e:q)? ?b }") == sorted(
        [(x, x) for x in terms] + [("n1", "n3"), ("n3", "n5")]
    )


def test_optional_union_inside_negation_groups(spark):
    rows = [
        ("d1", "http://e/type", "doc"),
        ("d2", "http://e/type", "doc"),
        ("d3", "http://e/type", "doc"),
        ("d1", "http://e/tag", "red"),
        ("d2", "http://e/flag", "x"),
        ("d2", "http://e/lang", "en"),
        ("d1", "http://e/lang", "fr"),
    ]
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")
    P = "PREFIX e: <http://e/>\n"

    def run(q):
        return sorted(map(tuple, sparql.execute(t, P + q).collect()))

    # UNION inside EXISTS / NOT EXISTS: tag OR flag
    assert run(
        "SELECT ?d WHERE { ?d e:type ?t . "
        "FILTER EXISTS { { ?d e:tag ?x } UNION { ?d e:flag ?x } } }"
    ) == [("d1",), ("d2",)]
    assert run(
        "SELECT ?d WHERE { ?d e:type ?t . "
        "FILTER NOT EXISTS { { ?d e:tag ?x } UNION { ?d e:flag ?x } } }"
    ) == [("d3",)]
    # OPTIONAL + group FILTER over the optional var inside EXISTS
    assert run(
        "SELECT ?d WHERE { ?d e:type ?t . FILTER EXISTS { "
        "?d e:lang ?l . OPTIONAL { ?d e:tag ?g } "
        'FILTER (bound(?g) || ?l = "en") } }'
    ) == [("d1",), ("d2",)]
    # UNION / OPTIONAL inside MINUS
    assert run(
        "SELECT ?d WHERE { ?d e:type ?t . "
        "MINUS { { ?d e:tag ?x } UNION { ?d e:flag ?x } } }"
    ) == [("d3",)]
    assert run(
        "SELECT ?d WHERE { ?d e:type ?t . "
        "MINUS { ?d e:lang ?l OPTIONAL { ?d e:tag ?g } } }"
    ) == [("d3",)]
    # alternative property paths inside a negation group now ride the
    # group's own union list
    assert run(
        "SELECT ?d WHERE { ?d e:type ?t . "
        "FILTER EXISTS { ?d (e:tag|e:flag) ?x } }"
    ) == [("d1",), ("d2",)]
    # nested negation (r5): each level is its own semi/anti join —
    # docs with a tag that do NOT also have a flag
    assert run(
        "SELECT ?d WHERE { ?d e:type ?t . FILTER EXISTS { "
        "?d e:tag ?x MINUS { ?d e:flag ?y } } }"
    ) == [("d1",)]


def test_complex_optional_groups(spark):
    # BIND / VALUES / nested OPTIONAL / negation inside OPTIONAL (r5):
    # the group assembles through _group_bindings and left-joins as a
    # unit — LeftJoin(P1, Group, F)
    rows = [
        ("a", "http://e/knows", "b"),
        ("b", "http://e/knows", "c"),
        ("c", "http://e/knows", "d"),
        ("a", "http://e/type", "Person"),
        ("b", "http://e/type", "Person"),
        ("d", "http://e/type", "Robot"),
        ("a", "http://e/name", "Alice"),
        ("b", "http://e/name", "Bob"),
    ]
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")
    P = "PREFIX e: <http://e/>\n"

    def run(q, **kw):
        return sorted(map(tuple, sparql.execute(t, P + q, **kw).collect()))

    # BIND inside OPTIONAL: the computed var rides the extension
    assert run(
        'SELECT ?s ?lbl WHERE { ?s e:type "Person" . '
        'OPTIONAL { ?s e:name ?n . BIND(CONCAT(?n, "!") AS ?lbl) } }'
    ) == [("a", "Alice!"), ("b", "Bob!")]
    # VALUES inside OPTIONAL restricts the extension, never the left
    assert run(
        'SELECT ?s ?n WHERE { ?s e:type "Person" . '
        'OPTIONAL { ?s e:name ?n . VALUES ?n { "Alice" } } }'
    ) == [("a", "Alice"), ("b", None)]
    # nested OPTIONAL: LeftJoin(P1, LeftJoin(P2, P3))
    assert run(
        'SELECT ?s ?o ?ty WHERE { ?s e:type "Person" . '
        "OPTIONAL { ?s e:knows ?o . OPTIONAL { ?o e:type ?ty } } }"
    ) == [("a", "b", "Person"), ("b", "c", None)]
    # NOT EXISTS inside OPTIONAL filters the extension only
    assert run(
        'SELECT ?s ?o WHERE { ?s e:type "Person" . '
        "OPTIONAL { ?s e:knows ?o . "
        "FILTER NOT EXISTS { ?o e:type ?x } } }"
    ) == [("a", None), ("b", "c")]
    # the LeftJoin condition F still applies OVER the complex group
    assert run(
        'SELECT ?s ?o ?ty WHERE { ?s e:type "Person" . '
        "OPTIONAL { ?s e:knows ?o . OPTIONAL { ?o e:type ?ty } "
        'FILTER(?o != "b") } }'
    ) == [("a", None, None), ("b", "c", None)]


def test_lone_nested_group_scoping(spark):
    rows = [
        ("a", "http://e/type", "Person"),
        ("b", "http://e/type", "Person"),
        ("a", "http://e/name", "Alice"),
        ("b", "http://e/name", "Bob"),
    ]
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")
    P = "PREFIX e: <http://e/>\n"

    def run(q):
        return sorted(map(tuple, sparql.execute(t, P + q).collect()))

    # Join(outer, Group) with the group's FILTER scoped to the group
    assert run(
        'SELECT ?s ?n WHERE { ?s e:type "Person" . '
        '{ ?s e:name ?n . FILTER(?n != "Bob") } }'
    ) == [("a", "Alice")]
    # group-scoped OPTIONAL inside the lone group
    assert run(
        'SELECT ?s ?n WHERE { ?s e:type "Person" . '
        "{ ?s e:name ?n } }"
    ) == [("a", "Alice"), ("b", "Bob")]


def test_union_branch_negation(spark):
    rows = [
        ("a", "http://e/type", "Person"),
        ("b", "http://e/type", "Person"),
        ("d", "http://e/type", "Robot"),
        ("a", "http://e/name", "Alice"),
    ]
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")
    P = "PREFIX e: <http://e/>\n"

    def run(q):
        return sorted(map(tuple, sparql.execute(t, P + q).collect()))

    # EXISTS inside a UNION branch: σ_EXISTS(BGP) evaluates on the
    # branch's own bindings, then the branch unions per the algebra
    assert run(
        'SELECT ?s WHERE { { ?s e:type "Person" . '
        "FILTER EXISTS { ?s e:name ?n } } "
        'UNION { ?s e:type "Robot" } }'
    ) == [("a",), ("d",)]
    # NOT EXISTS inside a branch
    assert run(
        'SELECT ?s WHERE { { ?s e:type "Person" . '
        "FILTER NOT EXISTS { ?s e:name ?n } } "
        'UNION { ?s e:type "Robot" } }'
    ) == [("b",), ("d",)]


def test_select_and_orderby_expressions(spark):
    rows = [
        ("a", "http://e/p", "1"),
        ("b", "http://e/p", "2"),
        ("a", "http://e/name", "Xavier"),
        ("b", "http://e/name", "Al"),
        ("c", "http://e/name", "Bo"),
    ]
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")
    P = "PREFIX e: <http://e/>\n"

    # non-aggregate SELECT expression (SPARQL 1.1 Extend at
    # projection scope)
    got = sorted(map(tuple, sparql.execute(
        t, P + 'SELECT ?s (CONCAT(?n, "!") AS ?x) '
               "WHERE { ?s e:name ?n }"
    ).collect()))
    assert got == [("a", "Xavier!"), ("b", "Al!"), ("c", "Bo!")]
    # a SELECT expression may reference an aggregate alias (applied
    # after the aggregation)
    got2 = [tuple(r) for r in sparql.execute(
        t, P + 'SELECT (COUNT(?s) AS ?n) (CONCAT("n=", STR(?n)) AS ?l) '
               "WHERE { ?s e:p ?v }"
    ).collect()]
    assert got2 == [(2, "n=2")]
    # ORDER BY DESC(expr) and a bare expression sort condition
    got3 = [r.s for r in sparql.execute(
        t, P + "SELECT ?s ?n WHERE { ?s e:name ?n } "
               "ORDER BY DESC(STRLEN(?n)) ?s"
    ).collect()]
    assert got3 == ["a", "b", "c"]
    got4 = [r.s for r in sparql.execute(
        t, P + "SELECT ?s ?n WHERE { ?s e:name ?n } "
               "ORDER BY STRLEN(?n) ?s"
    ).collect()]
    assert got4 == ["b", "c", "a"]
    # rebinding an existing variable raises
    with pytest.raises(ValueError, match="rebind"):
        sparql.execute(
            t, P + 'SELECT ?n (STR(?n) AS ?n) WHERE { ?s e:name ?n }'
        ).collect()


def test_string_literal_forms(spark):
    """SPARQL 1.1 grammar: all four string forms ('x', "x", '''x''',
    \"\"\"x\"\"\") tokenize to the same literal; quote chars inside the
    other form need no escaping; \\' unescapes in '-forms."""
    t = spark.createDataFrame(
        [("a", "p", "Alice"), ("b", "p", 'say "hi"'), ("c", "p", "it's")],
        "subj string, pred string, obj string",
    )
    q = "SELECT ?s WHERE { ?s <p> ?o FILTER(?o = %s) }"
    for lit in ('"Alice"', "'Alice'", '"""Alice"""', "'''Alice'''"):
        got = [r.s for r in sparql.execute(t, q % lit).collect()]
        assert got == ["a"], lit
    # bare double quote inside a single-quoted form
    got = [r.s for r in sparql.execute(t, q % "'say \"hi\"'").collect()]
    assert got == ["b"]
    # \' escape in a single-quoted form
    got = [r.s for r in sparql.execute(t, q % r"'it\'s'").collect()]
    assert got == ["c"]
    # long form spanning a newline
    t2 = spark.createDataFrame(
        [("d", "p", "line1\nline2")], "subj string, pred string, obj string"
    )
    got = [r.s for r in sparql.execute(
        t2, 'SELECT ?s WHERE { ?s <p> """line1\nline2""" }'
    ).collect()]
    assert got == ["d"]


def test_having_aggregate_expression(spark):
    """HAVING over an aggregate call (the spec's canonical form, not an
    alias): hidden aggregates compute alongside and drop afterwards."""
    t = spark.createDataFrame(
        [("v1", "h", "s1"), ("v1", "h", "s2"), ("v2", "h", "s3")],
        "subj string, pred string, obj string",
    )
    out = sparql.execute(
        t, "SELECT ?v WHERE { ?v <h> ?s } GROUP BY ?v "
           "HAVING (COUNT(?s) > 1)"
    )
    assert out.columns == ["v"]  # the hidden __having_ column dropped
    assert [r.v for r in out.collect()] == ["v1"]
    # reuses a SELECT-list aggregate instead of recomputing
    out2 = sparql.execute(
        t, "SELECT ?v (COUNT(?s) AS ?n) WHERE { ?v <h> ?s } GROUP BY ?v "
           "HAVING (COUNT(?s) > 1)"
    ).collect()
    assert [(r.v, r.n) for r in out2] == [("v1", 2)]
    # two HAVING conditions, mixed aggregate functions
    out3 = sparql.execute(
        t, "SELECT ?v WHERE { ?v <h> ?s } GROUP BY ?v "
           "HAVING (COUNT(?s) >= 1) (MIN(?s) = 's1')"
    ).collect()
    assert [r.v for r in out3] == ["v1"]
    # SELECT * with aggregation is rejected loudly
    with pytest.raises(ValueError, match="SELECT \\*"):
        sparql.execute(
            t, "SELECT * WHERE { ?v <h> ?s } GROUP BY ?v "
               "HAVING (COUNT(?s) > 0)"
        )


def test_construct_where_short_form(triples):
    """CONSTRUCT WHERE { BGP } (SPARQL 1.1 §10.2.3): the pattern doubles
    as the template; non-BGP constructs are rejected loudly."""
    text = (
        "PREFIX hunter: <http://face-hunter.org/ontology/> "
        "CONSTRUCT WHERE { ?v hunter:hasScene ?s }"
    )
    got = sorted(tuple(r) for r in sparql.execute(triples, text).collect())
    assert got == [
        ("v1", P_SCENE, "s1"),
        ("v1", P_SCENE, "s2"),
        ("v2", P_SCENE, "s3"),
    ]
    with pytest.raises(ValueError, match="plain triple patterns"):
        sparql.execute(
            triples,
            "CONSTRUCT WHERE { ?v <p> ?s FILTER(?s != 'x') }",
        )


def test_order_by_aggregate_expression(spark):
    """ORDER BY DESC(COUNT(?s)) — aggregate calls as sort keys resolve
    through the same hidden-aggregate mechanism as HAVING; the hidden
    column survives projection and drops after the sort."""
    t = spark.createDataFrame(
        [("v1", "h", "s1"), ("v1", "h", "s2"), ("v2", "h", "s3"),
         ("v3", "h", "s4"), ("v3", "h", "s5"), ("v3", "h", "s6")],
        "subj string, pred string, obj string",
    )
    out = sparql.execute(
        t, "SELECT ?v WHERE { ?v <h> ?s } GROUP BY ?v "
           "ORDER BY DESC(COUNT(?s)) ?v"
    )
    assert out.columns == ["v"]
    assert [r.v for r in out.collect()] == ["v3", "v1", "v2"]
    # combined with HAVING, and reusing a SELECT-list aggregate
    out2 = sparql.execute(
        t, "SELECT ?v (COUNT(?s) AS ?n) WHERE { ?v <h> ?s } GROUP BY ?v "
           "HAVING (COUNT(?s) > 1) ORDER BY DESC(COUNT(?s))"
    ).collect()
    assert [(r.v, r.n) for r in out2] == [("v3", 3), ("v1", 2)]
    # DISTINCT + ONE bare hidden aggregate sort key: Distinct applies
    # after projection, so each distinct row keeps its first
    # occurrence's key (per-group extreme in the sort direction) —
    # here the projection DROPS the ?n group key, so the two (v1,*)
    # groups collapse and v1 sorts by its larger count
    t2 = spark.createDataFrame(
        [("v1", "h", "s1"), ("v1", "h", "s2"), ("v1", "i", "s3"),
         ("v2", "h", "s4"), ("v2", "h", "s5"), ("v2", "h", "s6")],
        "subj string, pred string, obj string",
    )
    out3 = sparql.execute(
        t2, "SELECT DISTINCT ?v WHERE { ?v ?n ?s } GROUP BY ?v ?n "
            "ORDER BY DESC(COUNT(?s)) ?v"
    )
    assert out3.columns == ["v"]
    # groups: (v1,h)=2,(v1,i)=1,(v2,h)=3 -> keys v1:max=2, v2:3
    assert [r.v for r in out3.collect()] == ["v2", "v1"]
    # a hidden key buried in a larger sort expression stays loud
    with pytest.raises(NotImplementedError, match="DISTINCT"):
        sparql.execute(
            t, "SELECT DISTINCT ?v WHERE { ?v <h> ?s } GROUP BY ?v "
               "ORDER BY DESC(COUNT(?s) + 1)"
        )


def test_encode_for_uri_and_sameterm(spark):
    """ENCODE_FOR_URI follows RFC 3986 (space → %20, '~' bare,
    '*' → %2A — the three places Spark's url_encode form-encoding
    deviates); SAMETERM is lexical identity in the all-lexical model."""
    import urllib.parse

    vals = [
        "a b/c~d*e'f",
        "plain",
        "schön+x",  # multibyte UTF-8 + literal '+'
        "100% sure?",
    ]
    t = spark.createDataFrame(
        [(f"s{i}", "p", v) for i, v in enumerate(vals)],
        "subj string, pred string, obj string",
    )
    got = {
        r.s: r.e
        for r in sparql.execute(
            t, "SELECT ?s (ENCODE_FOR_URI(?o) AS ?e) "
               "WHERE { ?s <p> ?o }"
        ).collect()
    }
    for i, v in enumerate(vals):
        assert got[f"s{i}"] == urllib.parse.quote(v, safe=""), v
    same = [r.s for r in sparql.execute(
        t, "SELECT ?s WHERE { ?s <p> ?o FILTER(SAMETERM(?o, 'plain')) }"
    ).collect()]
    assert same == ["s1"]


def test_exists_in_bind_expression(spark):
    """EXISTS {...} in expression position (inside BIND): a hidden
    left marker join computes the boolean per solution; works negated
    (via !), inside IF(), uncorrelated (constant), in sub-groups
    (OPTIONAL / UNION branches evaluate it bottom-up with group
    scoping), and through the UPDATE WHERE path."""
    t = spark.createDataFrame(
        [("v1", "h", "s1"), ("v1", "d", "Q1"), ("v2", "h", "s2"),
         ("v3", "h", "s3"), ("v3", "d", "Q2")],
        "subj string, pred string, obj string",
    )
    out = sparql.execute(
        t, "SELECT ?v ?has WHERE { ?v <h> ?s "
           "BIND(EXISTS { ?v <d> ?q } AS ?has) } ORDER BY ?v"
    )
    assert out.columns == ["v", "has"]  # hidden marker dropped
    assert [(r.v, r.has) for r in out.collect()] == [
        ("v1", "true"), ("v2", "false"), ("v3", "true")
    ]
    # negated via ! inside IF()
    out2 = sparql.execute(
        t, "SELECT ?v ?lab WHERE { ?v <h> ?s "
           "BIND(IF(!EXISTS { ?v <d> ?q }, 'plain', 'linked') AS ?lab) } "
           "ORDER BY ?v"
    ).collect()
    assert [(r.v, r.lab) for r in out2] == [
        ("v1", "linked"), ("v2", "plain"), ("v3", "linked")
    ]
    # uncorrelated group: constant over the outer rows
    out3 = sparql.execute(
        t, "SELECT ?v ?any WHERE { ?v <h> ?s "
           "BIND(EXISTS { ?x <d> 'NOPE' } AS ?any) } ORDER BY ?v"
    ).collect()
    assert all(r.any == "false" for r in out3)
    # property path inside the group rides the rewrite machinery
    t2 = spark.createDataFrame(
        [("a", "p", "b"), ("b", "p", "c")],
        "subj string, pred string, obj string",
    )
    out4 = sparql.execute(
        t2, "SELECT ?s ?deep WHERE { ?s <p> ?o "
            "BIND(EXISTS { ?s <p>/<p> ?z } AS ?deep) } ORDER BY ?s"
    ).collect()
    assert [(r.s, r.deep) for r in out4] == [("a", "true"), ("b", "false")]


def test_exists_in_bind_inside_sub_groups(spark):
    t = spark.createDataFrame(
        [("v1", "h", "s1"), ("v1", "d", "Q1"), ("s1", "x", "y1"),
         ("v2", "h", "s2")],
        "subj string, pred string, obj string",
    )
    # OPTIONAL group: bottom-up evaluation — extension rows carry the
    # group's bind, unmatched left rows NULL-pad
    out = sparql.execute(
        t, "SELECT ?v ?f WHERE { ?v <h> ?s OPTIONAL { ?s <x> ?y "
           "BIND(EXISTS { ?w <d> ?q } AS ?f) } } ORDER BY ?v"
    ).collect()
    assert [(r.v, r.f) for r in out] == [("v1", "true"), ("v2", None)]
    # UNION branch
    out2 = sparql.execute(
        t, "SELECT ?v ?f WHERE { { ?v <h> ?s "
           "BIND(EXISTS { ?v <d> ?q } AS ?f) } UNION { ?v <d> ?z "
           "BIND('x' AS ?f) } } ORDER BY ?v ?f"
    ).collect()
    assert [(r.v, r.f) for r in out2] == [
        ("v1", "true"), ("v1", "x"), ("v2", "false")
    ]
    # modify-form UPDATE WHERE (shared _group_bindings assembler)
    from face_hunter_spark.operators.sparql_update import updated_graph

    out3 = updated_graph(
        t, "INSERT { ?v <flag> ?f } WHERE { ?v <h> ?s "
           "BIND(EXISTS { ?v <d> ?q } AS ?f) }"
    )
    flags = {
        (r.subj, r.obj) for r in out3.collect() if r.pred == "flag"
    }
    assert flags == {("v1", "true"), ("v2", "false")}


def test_exists_in_bind_review_hardening(spark):
    """Review fixes: nested BIND inside the EXISTS group (sink
    save/restore), EXISTS correlated on an earlier BIND's variable
    (markers interleave with the bind loop), parenthesized
    FILTER(EXISTS) inside the group raises cleanly, GRAPH ?g /
    SERVICE inside the group route through the shared traversals,
    and \\' unescapes in double-quoted strings."""
    t = spark.createDataFrame(
        [("v1", "h", "s1"), ("v1", "d", "Q1"), ("v2", "h", "s2"),
         ("a", "p", "b"), ("b", "p", "c"), ("b", "q", "z1")],
        "subj string, pred string, obj string",
    )
    # nested BIND inside the group parses and scopes to its group
    out = sparql.execute(
        t, "SELECT ?v ?f WHERE { ?v <h> ?s "
           "BIND(EXISTS { ?w <d> ?q BIND('1' AS ?k) } AS ?f) } "
           "ORDER BY ?v"
    ).collect()
    assert [(r.v, r.f) for r in out] == [("v1", "true"), ("v2", "true")]
    # correlation on an earlier BIND variable is per-row, not constant
    out2 = sparql.execute(
        t, "SELECT ?s ?f WHERE { ?s <p> ?o BIND(?o AS ?b) "
           "BIND(EXISTS { ?b <q> ?z } AS ?f) } ORDER BY ?s"
    ).collect()
    assert [(r.s, r.f) for r in out2] == [("a", "true"), ("b", "false")]
    # parenthesized FILTER(EXISTS) inside the group registers on the
    # INNER group and evaluates bottom-up (b→c: c has no <q> edge, so
    # the inner filter drops that pair and only a's group is nonempty)
    out_nested = sparql.execute(
        t, "SELECT ?s ?f WHERE { ?s <p> ?o BIND(EXISTS { ?s <p> ?o2 "
           "FILTER(EXISTS { ?o2 <q> ?z }) } AS ?f) } ORDER BY ?s"
    ).collect()
    assert [(r.s, r.f) for r in out_nested] == [
        ("a", "true"), ("b", "false")
    ]
    # GRAPH ?g inside the group: raises without graph_uri, binds with
    with pytest.raises(ValueError, match="GRAPH"):
        sparql.execute(
            t, "SELECT ?s ?f WHERE { ?s <p> ?o "
               "BIND(EXISTS { GRAPH ?g { ?s <q> ?z } } AS ?f) }"
        )
    out3 = sparql.execute(
        t, "SELECT ?s ?f WHERE { ?s <p> ?o "
           "BIND(EXISTS { GRAPH ?g { ?s <q> ?z } } AS ?f) } ORDER BY ?s",
        graph_uri="http://g/",
    ).collect()
    assert [(r.s, r.f) for r in out3] == [("a", "false"), ("b", "true")]
    # unregistered SERVICE inside the group raises up-front
    with pytest.raises(NotImplementedError, match="SERVICE"):
        sparql.execute(
            t, "SELECT ?s ?f WHERE { ?s <p> ?o "
               "BIND(EXISTS { SERVICE <http://ep/> { ?s <q> ?z } } "
               "AS ?f) }"
        )
    # CONSTRUCT WHERE rejects GRAPH wrappers like every other non-BGP
    with pytest.raises(ValueError, match="plain triple patterns"):
        sparql.parse("CONSTRUCT WHERE { GRAPH ?g { ?s <p> ?o } }")
    # \' is a legal ECHAR in double-quoted strings too
    t2 = spark.createDataFrame(
        [("c", "p", "it's")], "subj string, pred string, obj string"
    )
    got = [r.s for r in sparql.execute(
        t2, 'SELECT ?s WHERE { ?s <p> "it\\\'s" }'
    ).collect()]
    assert got == ["c"]


def test_update_where_exists_bind_with_path(spark):
    """The modify-form path-expansion gate covers EXISTS-expression
    groups: a property path inside BIND(EXISTS {...}) in an UPDATE
    WHERE clause rewrites and expands like the read path."""
    from face_hunter_spark.operators.sparql_update import updated_graph

    t = spark.createDataFrame(
        [("a", "p", "b"), ("b", "p", "c")],
        "subj string, pred string, obj string",
    )
    out = updated_graph(
        t, "INSERT { ?s <flag> ?f } WHERE { ?s <p> ?o "
           "BIND(EXISTS { ?s <p>/<p> ?z } AS ?f) }"
    )
    flags = sorted(
        (r.subj, r.obj) for r in out.collect() if r.pred == "flag"
    )
    assert flags == [("a", "true"), ("b", "false")]


def test_exists_in_filter_expression(spark):
    """EXISTS {...} in FILTER boolean expressions: the group registers
    a hidden marker on the enclosing group, the filter defers until
    the markers compute, and the marker columns drop afterwards —
    works combined with || / && / !, in UNION branch filters, ASK,
    CONSTRUCT, and alongside BIND markers in the same group; in the
    OPTIONAL LeftJoin-condition slot a left-only correlated EXISTS
    stays a loud seam (the group-bound form works — see
    test_exists_in_optional_filter)."""
    t = spark.createDataFrame(
        [("v1", "h", "s1"), ("v1", "d", "Q1"), ("v2", "h", "s2"),
         ("v3", "h", "s3"), ("v3", "d", "Q2"), ("v3", "t", "x")],
        "subj string, pred string, obj string",
    )
    out = sparql.execute(
        t, "SELECT ?v WHERE { ?v <h> ?s "
           "FILTER(?v = 'v2' || EXISTS { ?v <d> ?q }) } ORDER BY ?v"
    )
    assert out.columns == ["v"]
    assert [r.v for r in out.collect()] == ["v1", "v2", "v3"]
    # negated + conjunction
    out2 = sparql.execute(
        t, "SELECT ?v WHERE { ?v <h> ?s "
           "FILTER(!EXISTS { ?v <d> ?q } && ?v != 'zzz') }"
    ).collect()
    assert [r.v for r in out2] == ["v2"]
    # two independent EXISTS markers in one filter
    out3 = sparql.execute(
        t, "SELECT ?v WHERE { ?v <h> ?s FILTER(EXISTS { ?v <d> ?q } "
           "&& EXISTS { ?v <t> ?x }) }"
    ).collect()
    assert [r.v for r in out3] == ["v3"]
    # UNION branch filter (complex-branch promotion on exists_binds)
    out4 = sparql.execute(
        t, "SELECT ?v WHERE { { ?v <h> ?s "
           "FILTER(EXISTS { ?v <d> ?q } || ?v = 'v2') } "
           "UNION { ?v <t> ?x } } ORDER BY ?v"
    ).collect()
    assert [r.v for r in out4] == ["v1", "v2", "v3", "v3"]
    # ASK routes through the assembler
    assert sparql.execute(
        t, "ASK { ?v <h> ?s FILTER(EXISTS { ?v <t> ?x }) }"
    ) is True
    assert sparql.execute(
        t, "ASK { ?v <h> ?s FILTER(EXISTS { ?v <nope> ?x }) }"
    ) is False
    # BIND marker and FILTER marker in the same group
    out7 = sparql.execute(
        t, "SELECT ?v ?f WHERE { ?v <h> ?s "
           "BIND(EXISTS { ?v <t> ?x } AS ?f) "
           "FILTER(EXISTS { ?v <d> ?q }) } ORDER BY ?v"
    )
    assert out7.columns == ["v", "f"]
    assert [(r.v, r.f) for r in out7.collect()] == [
        ("v1", "false"), ("v3", "true")
    ]
    # CONSTRUCT with a filter-EXISTS WHERE clause
    out8 = sorted(
        (r.subj, r.obj) for r in sparql.execute(
            t, "CONSTRUCT { ?v <linked> 'yes' } WHERE { ?v <h> ?s "
               "FILTER(EXISTS { ?v <d> ?q }) }"
        ).collect()
    )
    assert out8 == [("v1", "yes"), ("v3", "yes")]
    # OPTIONAL group's FILTER slot is the LeftJoin condition: an
    # EXISTS correlated on a LEFT-ONLY variable (?v binds outside the
    # group) stays a loud seam — the marker computes on the group's
    # bindings frame and cannot see left-side columns
    with pytest.raises(NotImplementedError, match="OPTIONAL"):
        sparql.parse(
            "SELECT ?v WHERE { ?v <h> ?s OPTIONAL { ?s <x> ?y "
            "FILTER(EXISTS { ?v <d> ?q }) } }"
        )


def test_exists_in_optional_filter(spark):
    """EXISTS inside an OPTIONAL group's FILTER — LeftJoin(P1, P2, F)
    with a hidden EXISTS marker in F: the marker computes on the
    GROUP's bindings frame (_group_bindings keeps unconsumed markers),
    the folded join condition references it, graph_pattern drops the
    column after the join.  A left row whose every candidate fails the
    EXISTS survives NULL-padded (the LeftJoin-condition semantics),
    NOT dropped."""
    t = spark.createDataFrame(
        [
            ("v1", "h", "s1"), ("v2", "h", "s2"), ("v3", "h", "s3"),
            ("s1", "d", "A"), ("s2", "d", "B"),
            ("A", "lbl", "Alice"),  # only A has a label
        ],
        "subj string, pred string, obj string",
    )
    out = sparql.execute(
        t, "SELECT ?v ?e WHERE { ?v <h> ?s OPTIONAL { ?s <d> ?e "
           "FILTER(EXISTS { ?e <lbl> ?l }) } } ORDER BY ?v"
    )
    assert out.columns == ["v", "e"]
    # v2's candidate (B) fails EXISTS -> NULL-padded, not dropped
    assert [(r.v, r.e) for r in out.collect()] == [
        ("v1", "A"), ("v2", None), ("v3", None)
    ]
    # boolean combination rescues v2's candidate through the || arm
    out2 = sparql.execute(
        t, "SELECT ?v ?e WHERE { ?v <h> ?s OPTIONAL { ?s <d> ?e "
           "FILTER(EXISTS { ?e <lbl> ?l } || ?e = 'B') } } ORDER BY ?v"
    ).collect()
    assert [(r.v, r.e) for r in out2] == [
        ("v1", "A"), ("v2", "B"), ("v3", None)
    ]
    # negated form flips which candidate survives
    out3 = sparql.execute(
        t, "SELECT ?v ?e WHERE { ?v <h> ?s OPTIONAL { ?s <d> ?e "
           "FILTER(!EXISTS { ?e <lbl> ?l }) } } ORDER BY ?v"
    ).collect()
    assert [(r.v, r.e) for r in out3] == [
        ("v1", None), ("v2", "B"), ("v3", None)
    ]
    # no marker column leaks into the result schema
    assert not [c for c in out.columns if c.startswith("__exists_")]
    # an existential-only variable in the EXISTS group is fine even
    # though it appears nowhere else (no-shared-var constant marker)
    out4 = sparql.execute(
        t, "SELECT ?v ?e WHERE { ?v <h> ?s OPTIONAL { ?s <d> ?e "
           "FILTER(EXISTS { ?z <lbl> ?l }) } } ORDER BY ?v"
    ).collect()
    assert [(r.v, r.e) for r in out4] == [
        ("v1", "A"), ("v2", "B"), ("v3", None)
    ]
    # flows through UNION branches (complex-branch promotion keeps the
    # group's exists_binds with the moved-out LeftJoin filter)
    out5 = sparql.execute(
        t, "SELECT ?v ?e WHERE { { ?v <h> ?s OPTIONAL { ?s <d> ?e "
           "FILTER(EXISTS { ?e <lbl> ?l }) } } UNION { ?v <x> ?s } } "
           "ORDER BY ?v"
    ).collect()
    assert [(r.v, r.e) for r in out5] == [
        ("v1", "A"), ("v2", None), ("v3", None)
    ]
    # and through CONSTRUCT (NULL-bound template vars skip the row)
    out6 = sparql.execute(
        t, "CONSTRUCT { ?v <picked> ?e } WHERE { ?v <h> ?s "
           "OPTIONAL { ?s <d> ?e FILTER(EXISTS { ?e <lbl> ?l }) } }"
    ).collect()
    assert sorted((r.subj, r.obj) for r in out6) == [("v1", "A")]


def test_exists_in_select_expression(spark):
    """EXISTS {...} inside a SELECT expression — the marker survives
    until the projection-scope Extend, then drops."""
    t = spark.createDataFrame(
        [("v1", "h", "s1"), ("v1", "d", "Q1"), ("v2", "h", "s2"),
         ("v3", "h", "s3"), ("v3", "d", "Q2")],
        "subj string, pred string, obj string",
    )
    out = sparql.execute(
        t, "SELECT ?v (EXISTS { ?v <d> ?q } AS ?f) "
           "WHERE { ?v <h> ?s } ORDER BY ?v"
    )
    assert out.columns == ["v", "f"]
    assert [(r.v, r.f) for r in out.collect()] == [
        ("v1", "true"), ("v2", "false"), ("v3", "true")
    ]
    # composed in IF(), and alongside a FILTER-registered marker
    out2 = sparql.execute(
        t, "SELECT ?v (IF(EXISTS { ?v <d> ?q }, 'y', 'n') AS ?l) "
           "WHERE { ?v <h> ?s FILTER(EXISTS { ?v <h> ?s2 }) } "
           "ORDER BY ?v"
    )
    assert out2.columns == ["v", "l"]
    assert [(r.v, r.l) for r in out2.collect()] == [
        ("v1", "y"), ("v2", "n"), ("v3", "y")
    ]


def test_trailing_values_clause(spark):
    """Trailing VALUES (§10.2.2 / §18.2.4.3): the inline table joins
    the WHOLE query's solutions — after grouping/HAVING, before
    projection — on the shared variables; grammar position is after
    the solution modifiers; ASK honors it; uncorrelated tables and
    constant-node DESCRIBE stay loud."""
    t = spark.createDataFrame(
        [("a", "p", "1"), ("a", "p", "2"), ("b", "p", "2"),
         ("c", "p", "3")],
        "subj string, pred string, obj string",
    )
    out = sparql.execute(
        t, 'SELECT ?s ?o WHERE { ?s <p> ?o } ORDER BY ?s ?o '
           'VALUES ?s { "a" "c" }'
    )
    assert sorted((r.s, r.o) for r in out.collect()) == [
        ("a", "1"), ("a", "2"), ("c", "3")
    ]
    # joins AFTER aggregation (the values var is a group key here)
    out2 = sparql.execute(
        t, "SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s <p> ?o } "
           'GROUP BY ?s VALUES ?s { "a" "b" }'
    )
    assert sorted((r.s, r.n) for r in out2.collect()) == [
        ("a", 2), ("b", 1)
    ]
    # multi-variable tuple form
    out3 = sparql.execute(
        t, "SELECT ?s ?o WHERE { ?s <p> ?o } "
           'VALUES (?s ?o) { ("a" "1") ("c" "3") }'
    )
    assert sorted((r.s, r.o) for r in out3.collect()) == [
        ("a", "1"), ("c", "3")
    ]
    # ASK routes through the assembler
    assert sparql.execute(
        t, 'ASK { ?s <p> ?o } VALUES ?s { "c" }'
    ) is True
    assert sparql.execute(
        t, 'ASK { ?s <p> ?o } VALUES ?s { "zz" }'
    ) is False
    # uncorrelated = cross product: loud without allow_cartesian
    with pytest.raises(ValueError, match="trailing VALUES"):
        sparql.execute(
            t, 'SELECT ?s WHERE { ?s <p> ?o } VALUES ?x { "1" }'
        )
    # constant-node DESCRIBE has no solutions to join
    with pytest.raises(NotImplementedError, match="DESCRIBE"):
        sparql.execute(t, 'DESCRIBE <a> VALUES ?s { "a" }')


def test_select_reduced(spark):
    """SELECT REDUCED permits eliminating any subset of duplicate
    solutions (§9.3.2) — eliminating all of them is conforming and
    deterministic, so it shares the DISTINCT path."""
    t = spark.createDataFrame(
        [("a", "p", "x"), ("a", "q", "x"), ("b", "p", "y")],
        "subj string, pred string, obj string",
    )
    out = sparql.execute(
        t, "SELECT REDUCED ?s WHERE { ?s ?p ?o } ORDER BY ?s"
    )
    assert [r.s for r in out.collect()] == ["a", "b"]


def test_isnumeric_builtin(spark):
    """isNumeric — the one type-test builtin the all-lexical model
    answers soundly: true iff the lexical form parses as a number."""
    t = spark.createDataFrame(
        [("a", "p", "42"), ("b", "p", "4.5e1"), ("c", "p", "x42"),
         ("d", "p", "0:00:05")],
        "subj string, pred string, obj string",
    )
    out = sparql.execute(
        t, "SELECT ?s WHERE { ?s <p> ?o FILTER(isNumeric(?o)) } "
           "ORDER BY ?s"
    )
    assert [r.s for r in out.collect()] == ["a", "b"]
    # in BIND position too
    out2 = sparql.execute(
        t, "SELECT ?s ?f WHERE { ?s <p> ?o "
           "BIND(isNumeric(?o) AS ?f) } ORDER BY ?s"
    ).collect()
    assert [(r.s, r.f) for r in out2] == [
        ("a", "true"), ("b", "true"), ("c", "false"), ("d", "false")
    ]


@pytest.mark.parametrize("lexical,expected", [
    ("42", "true"), ("NaN", "true"), ("Infinity", "true"),
    ("x42", "false"),
])
def test_isnumeric_is_lexical(spark, lexical, expected):
    """Documented deviation (execute docstring): isNumeric answers on
    the lexical form, so a plain "42" and the double specials "NaN" /
    "Infinity" report true."""
    t = spark.createDataFrame(
        [("a", "p", lexical)], "subj string, pred string, obj string"
    )
    [row] = sparql.execute(
        t, "SELECT ?f WHERE { ?s <p> ?o BIND(isNumeric(?o) AS ?f) }"
    ).collect()
    assert row.f == expected


def test_trailing_values_in_subquery(spark):
    """SubSelect ends 'SolutionModifier ValuesClause' like a top-level
    SELECT (§19.8 grammar rule [8]): a subquery's trailing VALUES
    joins that subquery's solutions before its projection."""
    t = spark.createDataFrame(
        [("a", "p", "1"), ("a", "p", "2"), ("b", "p", "2"),
         ("c", "p", "3"), ("a", "lbl", "A"), ("b", "lbl", "B"),
         ("c", "lbl", "C")],
        "subj string, pred string, obj string",
    )
    out = sparql.execute(
        t, "SELECT ?s ?l ?n WHERE { ?s <lbl> ?l "
           "{ SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s <p> ?o } "
           'GROUP BY ?s VALUES ?s { "a" "b" } } } ORDER BY ?s'
    ).collect()
    assert [(r.s, r.l, r.n) for r in out] == [
        ("a", "A", 2), ("b", "B", 1)
    ]


def test_optional_exists_scope_guard_everywhere(spark):
    """Review hardening: the left-only-correlation guard also fires
    inside SERVICE groups, sees subquery-PROJECTED outer variables,
    and runs on UPDATE WHERE clauses (a silently-wrong binding there
    would mutate the store)."""
    from face_hunter_spark.operators import sparql_update

    with pytest.raises(NotImplementedError, match="OPTIONAL"):
        sparql.parse(
            "SELECT ?a WHERE { SERVICE <http://e> { ?a <p> ?b "
            "OPTIONAL { ?b <q> ?c FILTER(EXISTS { ?a <r> ?c }) } } }"
        )
    # ?w is bound ONLY by the subquery's projection — the guard must
    # see it through the subquery-projection walk, not pattern vars
    with pytest.raises(NotImplementedError, match="OPTIONAL"):
        sparql.parse(
            "SELECT ?y WHERE { { SELECT ?x ?w WHERE { ?x <k> ?w } } "
            "?y <p> ?x OPTIONAL { ?y <q> ?o "
            "FILTER(EXISTS { ?w <r> ?o }) } }"
        )
    # SELECT * subqueries project every group-bound variable outward
    with pytest.raises(NotImplementedError, match="OPTIONAL"):
        sparql.parse(
            "SELECT ?y WHERE { { SELECT * WHERE { ?x <k> ?w } } "
            "?y <p> ?x OPTIONAL { ?y <q> ?o "
            "FILTER(EXISTS { ?w <r> ?o }) } }"
        )
    with pytest.raises(NotImplementedError, match="OPTIONAL"):
        sparql_update.parse_update(
            "DELETE { ?s <p> ?o } WHERE { ?x <a> ?s "
            "OPTIONAL { ?s <b> ?o FILTER(EXISTS { ?x <c> ?o }) } }"
        )
    # group-bound correlation still parses in all three positions
    sparql.parse(
        "SELECT ?a WHERE { SERVICE <http://e> { ?a <p> ?b "
        "OPTIONAL { ?b <q> ?c FILTER(EXISTS { ?c <r> ?z }) } } }"
    )
    sparql_update.parse_update(
        "DELETE { ?s <p> ?o } WHERE { ?x <a> ?s "
        "OPTIONAL { ?s <b> ?o FILTER(EXISTS { ?o <c> ?z }) } }"
    )


def test_values_undef_wildcard(spark):
    """UNDEF in a shared VALUES column wildcard-matches per §10.2.2
    (condition join); rows without UNDEF keep the broadcast hash
    equi-join fast path — both in-group and trailing clauses."""
    t = spark.createDataFrame(
        [("a", "p", "1"), ("a", "p", "2"), ("b", "p", "2"),
         ("c", "p", "3")],
        "subj string, pred string, obj string",
    )
    out = sparql.execute(
        t, "SELECT ?s ?o WHERE { ?s <p> ?o } "
           'VALUES (?s ?o) { ("a" UNDEF) ("b" "2") }'
    ).collect()
    assert sorted((r.s, r.o) for r in out) == [
        ("a", "1"), ("a", "2"), ("b", "2")
    ]
    out2 = sparql.execute(
        t, "SELECT ?s ?o WHERE { ?s <p> ?o "
           'VALUES (?s ?o) { (UNDEF "2") } }'
    ).collect()
    assert sorted((r.s, r.o) for r in out2) == [("a", "2"), ("b", "2")]
