"""SPARQL UPDATE front-end (operators/sparql_update.py): parsing of
the reference's INSERT DATA house style (virtuoso_store.py:29-52) and
the delete/modify forms, the pure (G \\ D) ∪ I state transition, and
the catalog-committing execution path (append for inserts,
copy-on-write overwrite for deletes)."""

import json

import pyspark.sql.functions as F
import pytest

from face_hunter_spark.operators import sparql_update as U
from face_hunter_spark.operators.sparql_update import (
    execute_update,
    parse_update,
    updated_graph,
)

EX = "http://example.org/"


def _graph(spark, rows):
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string"
    )


def _spo(df):
    return {
        (r.subj, r.pred, r.obj)
        for r in df.select("subj", "pred", "obj").collect()
    }


# ------------------------------------------------------------- parsing


def test_parse_insert_data_reference_house_style():
    # the exact shape the reference's VirtuosoStore.insert emits
    # (virtuoso_store.py:31-40): GRAPH wrapper + absolute IRIs + a
    # typed literal
    u = parse_update(
        "INSERT DATA { GRAPH <http://g.example/kg> { "
        "<http://e/s> <http://e/p> <http://e/o> . "
        '<http://e/s> <http://e/t> "0:00:05"^^'
        "<http://www.w3.org/2001/XMLSchema#dateTime> . } }"
    )
    assert u.form == "insert_data"
    assert u.graph == "http://g.example/kg"
    assert len(u.data) == 2
    lit = u.data[1][2]
    assert isinstance(lit, U._Lit)
    assert str(lit) == "0:00:05"
    assert lit.datatype.endswith("dateTime")


def test_parse_prefixes_semicolon_blocks_and_numbers():
    u = parse_update(
        "PREFIX ex: <http://example.org/> "
        "INSERT DATA { ex:s a ex:Thing ; ex:rank 3 ; "
        'ex:label "hi"@en . }'
    )
    assert u.form == "insert_data"
    assert len(u.data) == 3
    types = {(p, str(o)) for _, p, o in u.data}
    assert (EX + "rank", "3") in types
    rank = [o for _, p, o in u.data if p == EX + "rank"][0]
    assert rank.datatype.endswith("integer")
    label = [o for _, p, o in u.data if p == EX + "label"][0]
    assert label.lang == "en" and label.datatype is None


def test_parse_rejects_variables_in_data_and_multi_op():
    with pytest.raises(ValueError, match="ground"):
        parse_update("INSERT DATA { ?s <http://e/p> <http://e/o> . }")
    # the single-operation form stays strict — multi-op requests go
    # through parse_update_request (or the executing callers)
    with pytest.raises(ValueError, match="2 operations"):
        parse_update(
            "INSERT DATA { <http://e/s> <http://e/p> <http://e/o> } ; "
            "INSERT DATA { <http://e/a> <http://e/p> <http://e/b> }"
        )
    ops = U.parse_update_request(
        "INSERT DATA { <http://e/s> <http://e/p> <http://e/o> } ; "
        "PREFIX ex: <http://e/> "
        "DELETE WHERE { ?s ex:p ?o } ;"
    )
    assert [u.form for u in ops] == ["insert_data", "delete_where"]
    with pytest.raises(ValueError):
        parse_update("SELECT ?s WHERE { ?s ?p ?o }")


def test_parse_delete_forms():
    u = parse_update(
        "DELETE WHERE { ?s <http://e/p> ?o . }"
    )
    assert u.form == "delete_where"
    assert u.delete_template == u.where.patterns
    u2 = parse_update(
        "PREFIX ex: <http://example.org/> "
        "DELETE { ?s ex:old ?o } INSERT { ?s ex:new ?o } "
        "WHERE { ?s ex:old ?o . FILTER (?o != \"skip\") }"
    )
    assert u2.form == "modify"
    assert u2.delete_template and u2.insert_template
    assert u2.where.filters
    with pytest.raises(NotImplementedError, match="plain triple"):
        parse_update(
            "DELETE WHERE { ?s <http://e/p> ?o . FILTER (?o != \"x\") }"
        )


# ------------------------------------------------- pure state transition


def test_updated_graph_insert_is_set_semantic(spark):
    g = _graph(spark, [("s1", "p", "o1"), ("s2", "p", "o2")])
    out = updated_graph(
        g,
        "INSERT DATA { <s1> <p> <o1> . <s3> <p> <o3> . }",
    )
    assert _spo(out) == {
        ("s1", "p", "o1"), ("s2", "p", "o2"), ("s3", "p", "o3"),
    }
    assert out.count() == 3  # no duplicate of the re-inserted triple


def test_updated_graph_delete_data_exact_rows_only(spark):
    g = _graph(
        spark,
        [("s1", "p", "o1"), ("s1", "p", "o2"), ("s2", "p", "o1")],
    )
    out = updated_graph(g, "DELETE DATA { <s1> <p> <o1> . }")
    assert _spo(out) == {("s1", "p", "o2"), ("s2", "p", "o1")}


def test_updated_graph_delete_where_binds_variables(spark):
    g = _graph(
        spark,
        [
            ("s1", EX + "kind", "old"),
            ("s1", EX + "name", "a"),
            ("s2", EX + "kind", "old"),
            ("s3", EX + "kind", "new"),
        ],
    )
    out = updated_graph(
        g,
        f"DELETE WHERE {{ ?s <{EX}kind> \"old\" . }}",
    )
    assert _spo(out) == {
        ("s1", EX + "name", "a"),
        ("s3", EX + "kind", "new"),
    }


def test_updated_graph_modify_reads_original_state(spark):
    # rename predicate old->new; D and I both instantiate against the
    # ORIGINAL graph (the insert must not see the deletions, and the
    # delete must not remove the insertions)
    g = _graph(
        spark,
        [("s1", EX + "old", "x"), ("s2", EX + "old", "y"),
         ("s2", EX + "other", "z")],
    )
    out = updated_graph(
        g,
        f"PREFIX ex: <{EX}> "
        "DELETE { ?s ex:old ?o } INSERT { ?s ex:new ?o } "
        "WHERE { ?s ex:old ?o }",
    )
    assert _spo(out) == {
        ("s1", EX + "new", "x"),
        ("s2", EX + "new", "y"),
        ("s2", EX + "other", "z"),
    }


def test_updated_graph_modify_with_filter_and_optional(spark):
    g = _graph(
        spark,
        [
            ("v1", EX + "views", "10"),
            ("v2", EX + "views", "900"),
            ("v2", EX + "flag", "hot"),
        ],
    )
    out = updated_graph(
        g,
        f"PREFIX ex: <{EX}> "
        "INSERT { ?v ex:tier \"big\" } "
        "WHERE { ?v ex:views ?n . FILTER (?n > 100) }",
    )
    assert (("v2", EX + "tier", "big")) in _spo(out)
    assert (("v1", EX + "tier", "big")) not in _spo(out)


# --------------------------------------------------- committing execution


def _seed_catalog(spark, tmp_path):
    from face_hunter_spark.catalog import ParquetCatalog
    from face_hunter_spark.operators.triples import with_partitioning

    cat = ParquetCatalog(str(tmp_path / "cat"))
    rows = spark.createDataFrame(
        [
            ("d1", "d1", EX + "p", "o1", False, None, "o1"),
            ("d1", "d1", EX + "q", "lit-1", True, None, "lit-1"),
            ("d2", "d2", EX + "p", "o2", False, None, "o2"),
        ],
        "doc_id string, subj string, pred string, obj string, "
        "obj_is_literal boolean, obj_datatype string, "
        "obj_canonical string",
    )
    cat.append(
        "triples",
        with_partitioning(rows, "seed"),
        "seed",
        partition_by=["doc_bucket"],
    )
    return cat


def test_execute_insert_appends_one_snapshot_idempotently(
    spark, tmp_path
):
    cat = _seed_catalog(spark, tmp_path)
    txt = (
        f'INSERT DATA {{ <d3> <{EX}p> "three"^^'
        "<http://www.w3.org/2001/XMLSchema#string> . }"
    )
    rep = execute_update(spark, cat, "triples", txt, run_id="u1")
    assert rep == {
        "form": "insert_data", "inserted": 1, "deleted": 0,
        "snapshot": rep["snapshot"],
    }
    assert len(cat.snapshots("triples")) == 2
    t = cat.read(spark, "triples")
    row = t.where(F.col("subj") == "d3").collect()[0]
    assert row.obj == "three" and row.obj_is_literal
    assert row.obj_datatype.endswith("#string")
    assert row.doc_id == "d3" and row.obj_canonical == "three"
    assert row.doc_bucket is not None and row.run_id == "u1"
    # set semantics: a re-run inserts nothing and commits nothing
    rep2 = execute_update(spark, cat, "triples", txt, run_id="u2")
    assert rep2["inserted"] == 0 and rep2["snapshot"] is None
    assert len(cat.snapshots("triples")) == 2


@pytest.mark.parametrize("update, key", [
    ('INSERT DATA { <http://e/a> <http://e/p> "5" . '
     "<http://e/b> <http://e/p> 5 . }", "subj"),
    ('INSERT { ?s <http://e/a> "5" . ?s <http://e/b> 5 . } '
     "WHERE { ?s <http://e/p> ?o }", "pred"),
], ids=["data", "modify"])
def test_insert_data_rows_keep_their_own_literal_datatype(
    spark, tmp_path, update, key
):
    """Two inserted rows whose literals share a lexical form commit
    with their own datatypes: "5" stays a plain literal, 5 is
    xsd:integer.  Both the DATA rows and the modify form's constant
    template literals keep them."""
    from face_hunter_spark.catalog import ParquetCatalog

    cat = ParquetCatalog(str(tmp_path / "cat"))
    seed = ("http://e/s", "http://e/p", "http://e/o")
    if key == "pred":  # one row for the modify form's WHERE to match
        execute_update(
            spark, cat, "triples", "INSERT DATA { <%s> <%s> <%s> . }" % seed
        )
    execute_update(spark, cat, "triples", update)
    got = {
        r[key]: (r.obj, r.obj_is_literal, r.obj_datatype)
        for r in cat.read(spark, "triples").collect()
        if (r.subj, r.pred, r.obj) != seed
    }
    assert got == {
        "http://e/a": ("5", True, None),
        "http://e/b": ("5", True, "http://www.w3.org/2001/XMLSchema#integer"),
    }


def test_insert_data_refuses_literal_subject_and_predicate(
    spark, tmp_path
):
    """RDF has no literal subjects or predicates: both INSERT DATA
    shapes raise and commit nothing."""
    cat = _seed_catalog(spark, tmp_path)
    snaps = cat.snapshots("triples")
    for txt, what in [
        ('INSERT DATA { <http://e/a> "p" <http://e/o> . }', "predicate"),
        ('INSERT DATA { "lit" <http://e/p> <http://e/o> . }', "subject"),
    ]:
        with pytest.raises(ValueError, match=what):
            execute_update(spark, cat, "triples", txt)
    assert cat.snapshots("triples") == snaps


def test_execute_delete_rewrites_copy_on_write(spark, tmp_path):
    cat = _seed_catalog(spark, tmp_path)
    execute_update(
        spark, cat, "triples",
        f"INSERT DATA {{ <d4> <{EX}p> <o4> . }}", run_id="u1",
    )
    assert len(cat.snapshots("triples")) == 2
    rep = execute_update(
        spark, cat, "triples",
        f"DELETE WHERE {{ ?s <{EX}p> ?o . }}", run_id="u2",
    )
    assert rep["deleted"] == 3
    snaps = cat.snapshots("triples")
    assert len(snaps) == 1  # COW replace expired the old snapshots
    assert snaps[0].get("replaced_from")
    left = cat.read(spark, "triples")
    assert _spo(left) == {("d1", EX + "q", "lit-1")}
    # partition layout survived the rewrite
    assert "doc_bucket" in left.columns


def test_execute_modify_delete_and_insert_one_pass(spark, tmp_path):
    cat = _seed_catalog(spark, tmp_path)
    rep = execute_update(
        spark, cat, "triples",
        f"PREFIX ex: <{EX}> "
        "DELETE { ?s ex:p ?o } INSERT { ?s ex:renamed ?o } "
        "WHERE { ?s ex:p ?o }",
        run_id="u1",
    )
    assert rep["deleted"] == 2 and rep["inserted"] == 2
    t = cat.read(spark, "triples")
    assert _spo(t) == {
        ("d1", EX + "renamed", "o1"),
        ("d2", EX + "renamed", "o2"),
        ("d1", EX + "q", "lit-1"),
    }
    # literal shape inherited from the source graph for template vars
    metas = {
        r.obj: (r.obj_is_literal, r.obj_datatype)
        for r in t.where(F.col("pred") == EX + "renamed").collect()
    }
    assert metas["o1"] == (False, None)


def test_delete_all_then_insert_keeps_table_readable(spark, tmp_path):
    # regression (review r4): an empty COW snapshot is unpartitioned;
    # unioning it with a later partitioned append used to fail
    # partition discovery (CONFLICTING_PARTITION_COLUMN_NAMES)
    cat = _seed_catalog(spark, tmp_path)
    rep = execute_update(
        spark, cat, "triples",
        "DELETE WHERE { ?s ?p ?o . }", run_id="wipe",
    )
    assert rep["deleted"] == 3
    assert cat.read(spark, "triples").count() == 0
    assert cat.snapshots("triples")[-1].get("empty") is True
    rep2 = execute_update(
        spark, cat, "triples",
        f"INSERT DATA {{ <d9> <{EX}p> <o9> . }}", run_id="refill",
    )
    assert rep2["inserted"] == 1
    t = cat.read(spark, "triples")
    assert _spo(t) == {("d9", EX + "p", "o9")}
    assert "doc_bucket" in t.columns


def test_modify_constant_literal_keeps_parsed_shape(spark, tmp_path):
    # regression (review r4): a constant literal in a modify-form
    # INSERT template used to land as obj_is_literal=false
    cat = _seed_catalog(spark, tmp_path)
    execute_update(
        spark, cat, "triples",
        f"PREFIX ex: <{EX}> "
        'INSERT { ?s ex:tier "big"@en } WHERE { ?s ex:p ?o }',
        run_id="u1",
    )
    rows = (
        cat.read(spark, "triples")
        .where(F.col("pred") == EX + "tier")
        .collect()
    )
    assert rows and all(r.obj_is_literal for r in rows)
    # and a template VARIABLE still inherits the source shape
    execute_update(
        spark, cat, "triples",
        f"PREFIX ex: <{EX}> "
        "INSERT { ?s ex:copy ?o } WHERE { ?s ex:q ?o }",
        run_id="u2",
    )
    r = (
        cat.read(spark, "triples")
        .where(F.col("pred") == EX + "copy")
        .collect()[0]
    )
    assert r.obj == "lit-1" and r.obj_is_literal


def test_modify_shape_inheritance_picks_atomic_pair(spark, tmp_path):
    # regression (review r5): a value asserted BOTH as a plain literal
    # (null datatype) and as a datatyped literal used to inherit
    # max(is_literal) and max(datatype) independently, stamping a
    # (shape, datatype) combination no single source row had.  The
    # struct-max pick must yield a pair from one actual source row:
    # is_literal=true wins, then the max datatype AMONG literal rows.
    from face_hunter_spark.catalog import ParquetCatalog
    from face_hunter_spark.operators.triples import with_partitioning

    cat = ParquetCatalog(str(tmp_path / "cat"))
    xsd_int = "http://www.w3.org/2001/XMLSchema#integer"
    rows = spark.createDataFrame(
        [
            # "42" as a plain URI-ish object (not a literal) ...
            ("d1", "d1", EX + "p", "42", False, None, "42"),
            # ... and as a datatyped literal elsewhere
            ("d2", "d2", EX + "q", "42", True, xsd_int, "42"),
            ("d3", "d3", EX + "p", "seed", False, None, "seed"),
        ],
        "doc_id string, subj string, pred string, obj string, "
        "obj_is_literal boolean, obj_datatype string, "
        "obj_canonical string",
    )
    cat.append("triples", with_partitioning(rows, "seed"), "seed",
               partition_by=["doc_bucket"])
    execute_update(
        spark, cat, "triples",
        f"PREFIX ex: <{EX}> "
        "INSERT { ?s ex:copy ?o } WHERE { ?s ex:p ?o }",
        run_id="u1",
    )
    got = {
        r.obj: (r.obj_is_literal, r.obj_datatype)
        for r in cat.read(spark, "triples")
        .where(F.col("pred") == EX + "copy")
        .collect()
    }
    # the literal occurrence wins, and its datatype rides along with
    # it atomically (never false+xsd_int or true+None here)
    assert got["42"] == (True, xsd_int)
    assert got["seed"] == (False, None)


def test_question_mark_literal_is_not_a_variable(spark):
    # regression (review r4): a literal whose lexical form starts
    # with '?' was rejected as a variable in DATA blocks and
    # silently substituted in templates
    u = parse_update('INSERT DATA { <s> <p> "?x" . }')
    assert u.data == [("s", "p", "?x")]
    g = _graph(spark, [("a", "p", "hit"), ("b", "p", "?s")])
    out = updated_graph(
        g, 'DELETE { ?s <p> "?s" } WHERE { ?s <p> ?o }'
    )
    # only the row whose OBJECT is the literal "?s" is deleted —
    # NOT every (s, p, binding-of-?s) instantiation
    assert _spo(out) == {("a", "p", "hit")}


def test_sparql_job_update_flag(spark, tmp_path, monkeypatch):
    import jobs.sparql_job as sj

    _seed_catalog(spark, tmp_path)
    root = str(tmp_path / "cat")

    def run(*extra):
        printed = []
        monkeypatch.setattr(
            "sys.argv", ["sparql_job.py", "--catalog-root", root,
                         *extra],
        )
        monkeypatch.setattr(
            "builtins.print", lambda s, **kw: printed.append(s)
        )
        code = sj.main()
        return code, printed

    code, out = run(
        "--update", f"INSERT DATA {{ <d7> <{EX}p> <o7> . }}"
    )
    assert code == 0
    assert json.loads(out[-1])["inserted"] == 1
    code2, out2 = run(
        "--query", f"SELECT ?s WHERE {{ ?s <{EX}p> <o7> }}"
    )
    assert code2 == 0
    assert json.loads(out2[0])["s"] == "d7"
    # write forms that need existing state exit 2 on a missing table
    monkeypatch.setattr(
        "sys.argv",
        ["sparql_job.py", "--catalog-root", str(tmp_path / "nope"),
         "--update", f"DELETE WHERE {{ ?s <{EX}p> ?o }}"],
    )
    assert sj.main() == 2


def test_clear_forms(spark, tmp_path):
    cat = _seed_catalog(spark, tmp_path)
    # CLEAR NAMED: single-graph store -> well-defined no-op
    rep0 = execute_update(spark, cat, "triples", "CLEAR NAMED")
    assert rep0 == {"form": "clear_named", "inserted": 0,
                    "deleted": 0, "snapshot": None}
    assert cat.read(spark, "triples").count() == 3
    # CLEAR GRAPH <g> is destructive: with no configured store URI it
    # refuses (a full wipe must say DEFAULT/ALL), and a mismatched IRI
    # refuses even when one is configured
    with pytest.raises(ValueError, match="no configured graph URI"):
        execute_update(
            spark, cat, "triples",
            "CLEAR SILENT GRAPH <http://g.example/kg>",
        )
    with pytest.raises(ValueError, match="refusing to wipe"):
        execute_update(
            spark, cat, "triples",
            "CLEAR GRAPH <http://other.example/kg>",
            graph_uri="http://g.example/kg",
        )
    assert cat.read(spark, "triples").count() == 3
    # a matching IRI wipes the (single) graph copy-on-write
    rep = execute_update(
        spark, cat, "triples",
        "CLEAR SILENT GRAPH <http://g.example/kg>", run_id="wipe",
        graph_uri="http://g.example/kg",
    )
    assert rep["deleted"] == 3 and rep["snapshot"]
    assert cat.read(spark, "triples").count() == 0
    assert len(cat.snapshots("triples")) == 1
    # idempotent on the emptied table
    rep2 = execute_update(spark, cat, "triples", "CLEAR ALL")
    assert rep2["deleted"] == 0 and rep2["snapshot"] is None
    # pure function form
    g = _graph(spark, [("a", "p", "b")])
    assert updated_graph(g, "CLEAR DEFAULT").count() == 0
    assert updated_graph(g, "CLEAR NAMED").count() == 1
    assert updated_graph(
        g, "CLEAR GRAPH <http://g.example/kg>",
        graph_uri="http://g.example/kg",
    ).count() == 0
    with pytest.raises(ValueError, match="refusing to wipe"):
        updated_graph(g, "CLEAR GRAPH <http://other.example/kg>",
                      graph_uri="http://g.example/kg")
    with pytest.raises(ValueError, match="CLEAR needs"):
        parse_update("CLEAR")


def test_sparql_entailment_regime(spark, tmp_path):
    from face_hunter_spark.operators.sparql import execute

    RDF_T = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    SUB = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
    g = _graph(
        spark,
        [
            ("obama", RDF_T, "Politician"),
            ("Politician", SUB, "Person"),
            ("Person", SUB, "Agent"),
        ],
    )
    q = (
        "SELECT ?s WHERE { ?s a "
        "<Agent> }"
    )
    assert execute(g, q).count() == 0  # asserted graph only
    got = [r.s for r in execute(g, q, entailment="rdfs").collect()]
    assert got == ["obama"]
    with pytest.raises(ValueError, match="entailment"):
        execute(g, q, entailment="owl")


def test_facade_update_roundtrip(spark, tmp_path):
    from face_hunter_spark.hunter import SparkHunter

    h = SparkHunter(spark, str(tmp_path / "hcat"), n_entities=4)
    # bootstrap on an empty catalog: only INSERT DATA allowed
    with pytest.raises(FileNotFoundError):
        h.update(f"DELETE WHERE {{ ?s <{EX}p> ?o }}")
    rep = h.update(
        f"INSERT DATA {{ <v9> <{EX}p> \"nine\" . }}"
    )
    assert rep["inserted"] == 1
    assert h.ask([("v9", EX + "p", "nine")])
    rep2 = h.update(f"DELETE DATA {{ <v9> <{EX}p> \"nine\" . }}")
    assert rep2["deleted"] == 1
    assert not h.ask([("v9", EX + "p", "nine")])


def test_modify_where_optional_inner_filter(spark):
    # LeftJoin semantics inside an update WHERE clause: the inner
    # filter constrains the extension, and a subject whose every label
    # fails it still matches the WHERE (with ?l unbound -> the INSERT
    # template triple using ?l is skipped per CONSTRUCT rules, but the
    # flag triple still lands)
    g = _graph(spark, [
        ("s1", "p", "o1"),
        ("s2", "p", "o2"),
        ("s1", "label", "keep-me"),
        ("s2", "label", "drop"),
    ])
    out = updated_graph(
        g,
        "INSERT { ?s <flag> \"y\" . ?s <kept_label> ?l } "
        "WHERE { ?s <p> ?o . "
        "OPTIONAL { ?s <label> ?l FILTER (strstarts(?l, \"keep\")) } }",
    )
    assert _spo(out) == {
        ("s1", "p", "o1"),
        ("s2", "p", "o2"),
        ("s1", "label", "keep-me"),
        ("s2", "label", "drop"),
        ("s1", "flag", "y"),
        ("s2", "flag", "y"),  # survives unextended — hoisted F would drop it
        ("s1", "kept_label", "keep-me"),
    }


def test_modify_where_union_inside_optional(spark):
    # UNION inside OPTIONAL in an update WHERE (r5 continuation): the
    # group's bindings assemble as a unit — extensions from either
    # branch instantiate the template, a subject matching neither
    # still takes the flag triple
    g = _graph(spark, [
        ("s1", "p", "o1"),
        ("s2", "p", "o2"),
        ("s3", "p", "o3"),
        ("s1", "a", "x1"),
        ("s2", "b", "x2"),
    ])
    out = updated_graph(
        g,
        'INSERT { ?s <flag> "y" . ?s <via> ?x } '
        "WHERE { ?s <p> ?o . "
        "OPTIONAL { { ?s <a> ?x } UNION { ?s <b> ?x } } }",
    )
    assert _spo(out) == {
        ("s1", "p", "o1"),
        ("s2", "p", "o2"),
        ("s3", "p", "o3"),
        ("s1", "a", "x1"),
        ("s2", "b", "x2"),
        ("s1", "flag", "y"),
        ("s2", "flag", "y"),
        ("s3", "flag", "y"),  # no extension in either branch
        ("s1", "via", "x1"),
        ("s2", "via", "x2"),
    }


def test_facade_graph_uri_gates_clear(spark, tmp_path):
    from face_hunter_spark.hunter import SparkHunter

    # no configured URI -> CLEAR GRAPH refused on this handle
    h0 = SparkHunter(spark, str(tmp_path / "h0"), n_entities=4)
    h0.update(f'INSERT DATA {{ <v1> <{EX}p> "one" . }}')
    with pytest.raises(ValueError, match="no configured graph URI"):
        h0.update("CLEAR GRAPH <http://g.example/kg>")
    # configured URI -> matching CLEAR wipes, mismatched refuses
    h = SparkHunter(spark, str(tmp_path / "h1"), n_entities=4,
                    graph_uri="http://g.example/kg")
    h.update(f'INSERT DATA {{ <v1> <{EX}p> "one" . }}')
    with pytest.raises(ValueError, match="refusing to wipe"):
        h.update("CLEAR GRAPH <http://other.example/kg>")
    rep = h.update("CLEAR GRAPH <http://g.example/kg>")
    assert rep["deleted"] == 1


def test_update_where_property_paths(spark):
    from face_hunter_spark.operators.sparql_update import updated_graph

    rows = [
        ("a", "http://e/p", "b"),
        ("b", "http://e/p", "c"),
        ("a", "http://e/lbl", "x"),
        ("c", "http://e/lbl", "y"),
    ]
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")
    # closure step in a modify-form WHERE: tag every node reachable
    # from 'a' via p+ (read path's synthetic-closure machinery reused)
    out = updated_graph(
        t,
        'PREFIX e: <http://e/> INSERT { ?d e:mark "r" } '
        "WHERE { <a> e:p+ ?d }",
    )
    marked = sorted(
        r.subj for r in out.where(
            out.pred == "http://e/mark").collect()
    )
    assert marked == ["b", "c"]
    # sequence path: copy the label reached via p/lbl onto the start
    # node (b -p-> c -lbl-> y) and drop the start node's own label
    out2 = updated_graph(
        t,
        "PREFIX e: <http://e/> DELETE { ?m e:p ?x } "
        "INSERT { ?m e:via ?l } WHERE { ?m e:p/e:lbl ?l . ?m e:p ?x }",
    )
    got2 = sorted(map(tuple, out2.collect()))
    assert ("b", "http://e/via", "y") in got2
    assert ("b", "http://e/p", "c") not in got2
    assert ("a", "http://e/p", "b") in got2  # a's p/lbl finds no label
    # alternative paths in an update WHERE (r5 continuation): the '|'
    # spawns a UNION block the WHERE evaluates through the read
    # path's variant machinery — <a> reaches b via p and x via lbl
    out3 = updated_graph(
        t,
        'PREFIX e: <http://e/> INSERT { ?d e:mark "r" } '
        "WHERE { <a> e:p|e:lbl ?d }",
    )
    marked3 = sorted(
        r.subj for r in out3.where(
            out3.pred == "http://e/mark").collect()
    )
    assert marked3 == ["b", "x"]
    # written-UNION WHERE: both branches instantiate the template
    out4 = updated_graph(
        t,
        'PREFIX e: <http://e/> INSERT { ?s e:tag ?d } '
        "WHERE { { ?s e:p ?d } UNION { ?s e:lbl ?d } }",
    )
    tagged = sorted(
        (r.subj, r.obj) for r in out4.where(
            out4.pred == "http://e/tag").collect()
    )
    assert tagged == [("a", "b"), ("a", "x"), ("b", "c"), ("c", "y")]


def test_update_where_full_read_surface(spark):
    # the modify-form WHERE clause takes the read path's full group
    # surface (negation, VALUES, BIND, subqueries, SERVICE snapshots,
    # GRAPH ?var) — evaluated by the same _group_bindings assembler
    # the read queries use, then instantiated through the one-explode
    # template plan
    t = _graph(spark, [
        ("a", "http://x/p", "b"),
        ("b", "http://x/p", "c"),
        ("a", "http://x/tag", "old"),
        ("b", "http://x/tag", "old"),
        ("c", "http://x/q", "z"),
    ])
    P = "PREFIX x: <http://x/>\n"

    # MINUS: retag only subjects WITHOUT a p-edge into a q-source
    out = updated_graph(t, P + '''DELETE { ?s x:tag "old" }
        INSERT { ?s x:tag "new" }
        WHERE { ?s x:tag "old" . MINUS { ?s x:p ?o . ?o x:q ?z } }''')
    assert ("a", "http://x/tag", "new") in _spo(out)
    assert ("b", "http://x/tag", "old") in _spo(out)
    assert ("b", "http://x/tag", "new") not in _spo(out)

    # FILTER EXISTS: only subjects whose p-target has a q-edge
    out = updated_graph(t, P + '''INSERT { ?s x:hasq "yes" }
        WHERE { ?s x:p ?o . FILTER EXISTS { ?o x:q ?z } }''')
    assert ("b", "http://x/hasq", "yes") in _spo(out)
    assert ("a", "http://x/hasq", "yes") not in _spo(out)

    # VALUES restricts the delete to the listed subjects
    out = updated_graph(t, P + '''DELETE { ?s x:tag "old" }
        WHERE { ?s x:tag "old" . VALUES ?s { "a" } }''')
    assert ("a", "http://x/tag", "old") not in _spo(out)
    assert ("b", "http://x/tag", "old") in _spo(out)

    # BIND computes the inserted object
    out = updated_graph(t, P + '''INSERT { ?s x:len ?n }
        WHERE { ?s x:tag "old" . BIND(STRLEN(str(?s)) AS ?n) }''')
    assert ("a", "http://x/len", "1") in _spo(out)

    # aggregating subquery feeds the template
    out = updated_graph(t, P + '''INSERT { ?s x:deg ?n }
        WHERE { { SELECT ?s (COUNT(?o) AS ?n)
                  WHERE { ?s x:p ?o } GROUP BY ?s } }''')
    assert ("a", "http://x/deg", "1") in _spo(out)
    assert ("b", "http://x/deg", "1") in _spo(out)

    # GRAPH ?g binds the store URI into the template
    out = updated_graph(
        t,
        P + "INSERT { ?s x:ing ?g } WHERE { GRAPH ?g { ?s x:q ?z } }",
        graph_uri="http://g/1",
    )
    assert ("c", "http://x/ing", "http://g/1") in _spo(out)
    # ... and raises without a configured store URI
    with pytest.raises(ValueError, match="graph_uri"):
        updated_graph(
            t,
            P + "INSERT { ?s x:ing ?g } WHERE { GRAPH ?g { ?s x:q ?z } }",
        )

    # SERVICE snapshot joins into the WHERE bindings
    svc = _graph(spark, [("a", "http://y/home", "H1")])
    out = updated_graph(
        t,
        P + '''INSERT { ?s x:home ?h }
        WHERE { ?s x:tag "old" .
                SERVICE <http://svc> { ?s <http://y/home> ?h } }''',
        services={"http://svc": svc},
    )
    assert ("a", "http://x/home", "H1") in _spo(out)
    assert not any(p == "http://x/home" and s == "b"
                   for s, p, _ in _spo(out))
    # unregistered endpoints stay loud
    with pytest.raises(NotImplementedError, match="register"):
        updated_graph(
            t,
            P + '''INSERT { ?s x:home ?h }
            WHERE { SERVICE <http://nope> { ?s <http://y/home> ?h } }''',
        )


def test_multi_operation_update_request(spark, tmp_path):
    # a ';'-separated request — the shape the reference assembles by
    # string concatenation before one POST (virtuoso_store.py:29-52) —
    # applies its operations in document order, each against the
    # state the previous one left (SPARQL 1.1 §3.1)
    t = _graph(spark, [("a", "http://x/p", "b")])
    P = "PREFIX x: <http://x/>\n"
    # pure fold: op 2's WHERE must see op 1's insert
    out = _spo(updated_graph(t, P + '''
        INSERT DATA { <c> x:p "d" } ;
        DELETE { ?s x:p ?o } INSERT { ?s x:q ?o }
        WHERE { ?s x:p ?o . FILTER(?s = "c") } ;
    '''))
    assert out == {("a", "http://x/p", "b"), ("c", "http://x/q", "d")}

    # committing path: one snapshot per operation, aggregated report
    from face_hunter_spark.catalog import ParquetCatalog

    cat = ParquetCatalog(str(tmp_path / "kg"))
    rep = execute_update(
        spark, cat, "triples",
        P + 'INSERT DATA { <a> x:p "1" . <b> x:p "2" } ; '
        'DELETE { ?s x:p "1" } INSERT { ?s x:p "one" } '
        'WHERE { ?s x:p "1" }',
    )
    assert rep["form"] == "request"
    assert rep["operations"] == ["insert_data", "modify"]
    assert rep["inserted"] == 3 and rep["deleted"] == 1
    got = _spo(cat.read(spark, "triples"))
    assert got == {("a", "http://x/p", "one"), ("b", "http://x/p", "2")}


def test_insert_data_alternate_string_forms(spark):
    """The shared tokenizer's string canonicalization flows through the
    UPDATE path: '-quoted and long-form literals insert the same lexical
    forms as the double-quoted house style."""
    g = _graph(spark, [("keep", "p", "row")])
    out = updated_graph(
        g,
        "INSERT DATA { <http://x/a> <http://x/p> 'single quoted' . "
        "<http://x/b> <http://x/p> '''it's long''' . "
        '<http://x/c> <http://x/p> """say "hi" there""" }',
    )
    assert _spo(out) == {
        ("keep", "p", "row"),
        ("http://x/a", "http://x/p", "single quoted"),
        ("http://x/b", "http://x/p", "it's long"),
        ("http://x/c", "http://x/p", 'say "hi" there'),
    }


# ------------------------------------------- LOAD + graph management


def test_load_file_updated_graph(spark, tmp_path):
    """LOAD <file://...> parses the n3 document and unions it
    set-semantically (already-present triples do not duplicate);
    non-file schemes and missing files raise — or no-op under SILENT."""
    n3 = tmp_path / "in.n3"
    n3.write_text(
        "<http://e/s1> <http://e/p> <http://e/o1> .\n"
        "<http://e/s2> <http://e/p> \"lit\" .\n"
    )
    g = _graph(spark, [("http://e/s1", "http://e/p", "http://e/o1")])
    out = updated_graph(g, f"LOAD <file://{n3}>")
    assert _spo(out) == {
        ("http://e/s1", "http://e/p", "http://e/o1"),
        ("http://e/s2", "http://e/p", "lit"),
    }
    # idempotent: loading into the loaded state adds nothing
    assert _spo(updated_graph(out, f"LOAD <file://{n3}>")) == _spo(out)
    # INTO GRAPH collapses additively like INSERT wrappers
    u = parse_update(f"LOAD <file://{n3}> INTO GRAPH <http://g/kg>")
    assert u.form == "load" and u.graph == "http://g/kg"
    # network schemes are out of scope — loud, or SILENT no-op
    with pytest.raises(NotImplementedError, match="file"):
        updated_graph(g, "LOAD <http://remote/doc.n3>")
    assert _spo(
        updated_graph(g, "LOAD SILENT <http://remote/doc.n3>")
    ) == _spo(g)
    # missing file: loud, or SILENT no-op
    with pytest.raises(OSError):
        updated_graph(g, f"LOAD <file://{tmp_path}/nope.n3>")
    assert _spo(
        updated_graph(g, f"LOAD SILENT <file://{tmp_path}/nope.n3>")
    ) == _spo(g)


def test_graph_management_noops(spark):
    """CREATE / COPY / MOVE / ADD on a single-graph store: every valid
    form is a no-op (graphs implicitly exist; both refs resolve to the
    same graph, and COPY/MOVE/ADD g TO g are no-ops per §3.2.3-3.2.5);
    an IRI naming any OTHER graph raises unless SILENT."""
    g = _graph(spark, [("s", "p", "o")])
    uri = "http://g.example/kg"
    for text in (
        f"CREATE GRAPH <{uri}>",
        f"COPY GRAPH <{uri}> TO DEFAULT",
        f"MOVE DEFAULT TO GRAPH <{uri}>",
        f"ADD DEFAULT TO DEFAULT",
        f"COPY <{uri}> TO <{uri}>",  # bare-IRI GraphOrDefault form
    ):
        assert _spo(
            updated_graph(g, text, graph_uri=uri)
        ) == {("s", "p", "o")}, text
    # a foreign graph raises...
    with pytest.raises(ValueError, match="single-graph"):
        updated_graph(g, "CREATE GRAPH <http://other/g>", graph_uri=uri)
    with pytest.raises(ValueError, match="single-graph"):
        updated_graph(
            g, "COPY GRAPH <http://other/g> TO DEFAULT", graph_uri=uri
        )
    # ...unless SILENT (the spec's silent no-op)
    assert _spo(
        updated_graph(
            g, "CREATE SILENT GRAPH <http://other/g>", graph_uri=uri
        )
    ) == {("s", "p", "o")}
    # DEFAULT-only refs need no configured graph URI
    assert _spo(
        updated_graph(g, "ADD DEFAULT TO DEFAULT")
    ) == {("s", "p", "o")}


def test_load_commits_via_catalog(spark, tmp_path):
    """The committing LOAD rides sources.import_n3: full-schema rows,
    idempotent anti-join append, one snapshot; re-loading the same
    document commits nothing."""
    from face_hunter_spark.catalog import ParquetCatalog

    n3 = tmp_path / "doc.n3"
    n3.write_text(
        "<http://e/s1> <http://e/p> <http://e/o1> .\n"
        "<http://e/s1> <http://e/t> \"five\" .\n"
    )
    cat = ParquetCatalog(str(tmp_path / "kg"))
    execute_update(
        spark, cat, "triples",
        "INSERT DATA { <http://e/s0> <http://e/p> <http://e/o0> . }",
    )
    r = execute_update(
        spark, cat, "triples", f"LOAD <file://{n3}>"
    )
    assert r["form"] == "load" and r["inserted"] == 2
    assert r["snapshot"] is not None
    r2 = execute_update(
        spark, cat, "triples", f"LOAD <file://{n3}>"
    )
    assert r2["inserted"] == 0 and r2["snapshot"] is None
    got = _spo(cat.read(spark, "triples"))
    assert ("http://e/s1", "http://e/t", "five") in got
    assert len(got) == 3
    # literal shape recovered from the n3 syntax
    lit = (
        cat.read(spark, "triples")
        .where(F.col("obj") == "five")
        .select("obj_is_literal")
        .collect()
    )
    assert [r_.obj_is_literal for r_ in lit] == [True]
    # management ops report as no-ops through the committing path too
    r3 = execute_update(
        spark, cat, "triples", "ADD DEFAULT TO DEFAULT"
    )
    assert r3 == {"form": "add", "inserted": 0, "deleted": 0,
                  "snapshot": None}


def test_load_silent_swallows_unreadable(spark, tmp_path):
    """Review hardening round 2: LOAD SILENT must swallow ANY read
    failure on the committing path too (unreadable file, not just
    missing), matching the pure path's behavior."""
    import os

    from face_hunter_spark.catalog import ParquetCatalog

    n3 = tmp_path / "locked.n3"
    n3.write_text("<http://e/s> <http://e/p> <http://e/o> .\n")
    os.chmod(n3, 0)
    if os.access(n3, os.R_OK):  # running as root: chmod 0 still reads
        pytest.skip("cannot make the file unreadable in this sandbox")
    cat = ParquetCatalog(str(tmp_path / "kg"))
    execute_update(
        spark, cat, "triples",
        "INSERT DATA { <http://e/a> <http://e/p> <http://e/b> . }",
    )
    r = execute_update(
        spark, cat, "triples", f"LOAD SILENT <file://{n3}>"
    )
    assert r == {"form": "load", "inserted": 0, "deleted": 0,
                 "snapshot": None}
    with pytest.raises(OSError):
        execute_update(spark, cat, "triples", f"LOAD <file://{n3}>")


def test_load_reads_inline_separator_lists(spark, tmp_path):
    """LOAD reads n3 through the INSERT DATA grammar, so ';' / ','
    lists after an object on one line are the triples they spell."""
    docs = {
        "@prefix ex: <http://e/> .\nex:s ex:p ex:o ; ex:q ex:r .\n": {
            ("http://e/s", "http://e/p", "http://e/o"),
            ("http://e/s", "http://e/q", "http://e/r"),
        },
        "@prefix ex: <http://e/> .\nex:s ex:p <http://e/o> , ex:o2 .\n": {
            ("http://e/s", "http://e/p", "http://e/o"),
            ("http://e/s", "http://e/p", "http://e/o2"),
        },
        '@prefix ex: <http://e/> .\nex:s ex:p "a" ; ex:q ex:r .\n': {
            ("http://e/s", "http://e/p", "a"),
            ("http://e/s", "http://e/q", "http://e/r"),
        },
    }
    g = _graph(spark, [("http://e/a", "http://e/p", "http://e/b")])
    for i, (text, want) in enumerate(docs.items()):
        n3 = tmp_path / f"inline{i}.n3"
        n3.write_text(text)
        got = _spo(updated_graph(g, f"LOAD <file://{n3}>"))
        assert got == _spo(g) | want, text


def test_load_silent_swallows_parse_failure(spark, tmp_path):
    """A document the n3 reader rejects is an operation failure too:
    LOAD SILENT is a no-op that commits nothing (pure and committing
    paths), and plain LOAD raises."""
    from face_hunter_spark.catalog import ParquetCatalog

    bad_docs = [
        "this is not n3 .\n",
        # missing '.' between statements
        "@prefix ex: <http://e/> .\nex:s ex:p ex:o\nex:t ex:p ex:o .\n",
        '"lit" <http://e/p> <http://e/o> .\n',  # literal subject
        '<http://e/s> <http://e/p> "unterminated .\n',
        "zz:s <http://e/p> <http://e/o> .\n",  # undeclared prefix
        "<http://e/s> <http://e/p> _:b1 .\n",  # blank node
    ]
    g = _graph(spark, [("http://e/a", "http://e/p", "http://e/b")])
    cat = ParquetCatalog(str(tmp_path / "kg"))
    execute_update(
        spark, cat, "triples",
        "INSERT DATA { <http://e/a> <http://e/p> <http://e/b> . }",
    )
    snaps = cat.snapshots("triples")
    for i, text in enumerate(bad_docs):
        n3 = tmp_path / f"bad{i}.n3"
        n3.write_text(text)
        assert _spo(updated_graph(g, f"LOAD SILENT <file://{n3}>")) == _spo(g)
        with pytest.raises(ValueError, match="cannot parse"):
            updated_graph(g, f"LOAD <file://{n3}>")

        r = execute_update(
            spark, cat, "triples", f"LOAD SILENT <file://{n3}>"
        )
        assert r == {"form": "load", "inserted": 0, "deleted": 0,
                     "snapshot": None}
        with pytest.raises(ValueError, match="cannot parse"):
            execute_update(spark, cat, "triples", f"LOAD <file://{n3}>")
        assert cat.snapshots("triples") == snaps
