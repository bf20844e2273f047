"""User-facing facade — the reference's ``Hunter`` class
(src/hunter.py:13-187) and the thin CLI/REST wrappers around it
(cli.py, api/flask_api.py:50-83) re-expressed over the Spark engine.

The reference API per entry point, and its equivalent here:

| reference                              | SparkHunter |
|----------------------------------------|-------------|
| ``Hunter(url).fit(...)``               | constructor (gallery + catalog broadcastable inputs; models are per-executor singletons, not driver state) |
| ``.link(storage_type, ...)``           | ``link(documents_df)`` — set-at-a-time: ANY number of docs per call, idempotent via the committed-doc anti-join |
| ``graph.video_exists(id)``             | ``video_exists(doc_id)`` |
| ``.search(entity)``                    | ``search(identifier)`` — label, DBpedia URI, or Wikidata URI (canonical-map resolved) |
| ``graph.get_scenes_from_video``        | ``scenes_of(doc_id)`` |
| ``graph.get_videos_with_filters``      | ``query(where_sql)`` |
| ``/api/query`` raw SPARQL fragments    | ``sql(query)`` — SQL over {triples}/{scene_view} placeholders |
| ``MemoryStore.commit`` n3 artifact     | ``export_n3(path[, sharded=True])`` |
| ``cli.py run_detection`` (evaluation)  | ``evaluate(documents_df)`` |

``serve.serve(hunter)`` wraps this handle with the reference's HTTP
routes (api/api.py) for the serving path.

The big shape change from the reference: ``Hunter`` is one-video-at-a-
time driver state (one URL per instance, hunter.py:18-21); this facade
is a stateless handle over (SparkSession, catalog root) — every method
is a distributed job or a SQL view read, so the same object serves the
CLI, a notebook, or a request handler thread (the reference builds its
models once per process for exactly this reason, flask_api.py:40-45).

Read methods query instance-scoped temp views over the committed
triples table.  The views are keyed on the table's snapshot ids: each
read compares the manifest's ids with the ones it last registered and
re-reads the table only when they differ, so repeated reads between
commits skip the file listing and schema job.  Write methods
(``link``, ``update``, ``import_n3``) do not register views; their new
snapshot changes the ids, and the next read refreshes.
"""

from __future__ import annotations

import threading

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from . import query as Q, synth
from .catalog import ParquetCatalog
from .operators.canonical import canonical_map
from .pipeline import run_link_job
from .schemas import ENTITY_CATALOG, NS


#: Row budget of the flat (driver-assembled) n3 export.  Above it
#: ``export_n3`` refuses and points at ``sharded=True``, which the
#: executors write.
FLAT_N3_MAX_ROWS = 1_000_000


class SparkHunter:
    def __init__(
        self,
        spark: SparkSession,
        catalog_root: str,
        n_entities: int = 54,
        gallery_pdf=None,
        entity_catalog: DataFrame | None = None,
        strategy: str = "bruteforce",
        distance_threshold: float = 0.6,
        frame_threshold: int = 3,
        one_face: bool = False,
        cache_index: bool = False,
        encoder: str = "hash",
        graph_uri: str | None = None,
    ):
        self.spark = spark
        self.catalog = ParquetCatalog(catalog_root)
        self.n_entities = n_entities
        self.gallery_pdf = (
            gallery_pdf
            if gallery_pdf is not None
            else synth.make_gallery_pdf(n_entities=n_entities)
        )
        self.entity_catalog = (
            entity_catalog
            if entity_catalog is not None
            else spark.createDataFrame(
                synth.make_entity_catalog_pdf(n_entities=n_entities),
                ENTITY_CATALOG,
            )
        )
        self.strategy = strategy
        self.distance_threshold = distance_threshold
        self.frame_threshold = frame_threshold
        # reference one_face mode: link only the largest face per frame
        self.one_face = one_face
        # cache_index: persist/reuse the lsh/hnsw matcher payloads
        # (linking.MATCHERS) through the catalog, keyed by gallery
        # content hash (the reference's loadIndex path); encoder: a
        # registered production encoder name (vision.register_encoder),
        # default the deterministic seam
        self.cache_index = cache_index
        self.encoder = encoder
        self._canon = canonical_map(self.entity_catalog).cache()
        # cached label -> URI map: label searches probe this tiny df
        # instead of re-scanning the catalog per lookup
        self._label_map = Q.label_uri_map(self.entity_catalog).cache()
        # instance-scoped temp-view names: two SparkHunter handles on
        # one SparkSession must not clobber each other's views between
        # a refresh and a later read of a returned lazy DataFrame
        import uuid as _uuid

        self._view_suffix = "_h" + _uuid.uuid4().hex[:8]
        # triples snapshot ids the views were last registered over; the
        # lock keeps concurrent readers (serve.py's request threads)
        # from leaving older views registered under newer ids
        self._view_snaps: tuple = ()
        self._view_lock = threading.Lock()
        # endpoint IRI -> offline snapshot triples for SERVICE{} groups
        self._services: dict = {}
        # the store's single graph URI (the reference's funnel URI,
        # virtuoso_store.py:20-27) — authorizes CLEAR GRAPH <iri> in
        # update(); None leaves the destructive form refused
        self.graph_uri = graph_uri

    # ------------------------------------------------------ write path

    def link(self, documents: DataFrame, run_id: str | None = None) -> dict:
        """hunter.py:91-151 for a whole DataFrame of docs: idempotent
        link job; returns the run stats dict."""
        return run_link_job(
            self.spark,
            self.catalog,
            documents,
            self.gallery_pdf,
            self.entity_catalog,
            run_id=run_id,
            canon=self._canon,
            n_entities=self.n_entities,
            strategy=self.strategy,
            distance_threshold=self.distance_threshold,
            frame_threshold=self.frame_threshold,
            one_face=self.one_face,
            cache_index=self.cache_index,
            encoder=self.encoder,
        )

    def video_exists(self, doc_id: str) -> bool:
        """memory_store.py:82-90 membership probe."""
        if not self.catalog.exists("triples"):
            return False
        return (
            self.catalog.read(self.spark, "triples")
            .where(F.col("doc_id") == doc_id)
            .where(F.col("pred") == NS["rdf_type"])
            .where(F.col("obj") == NS["mpeg7_video"])
            .limit(1)
            .count()
            > 0
        )

    # ------------------------------------------------------- read path

    def _refresh_views(self) -> None:
        """Register this handle's ``triples``/``scene_view`` views over
        the committed table, keyed on its snapshot ids: a manifest read
        decides, and the table is re-read (file listing, schema job,
        view planning) only when the ids differ from the ones last
        registered — a commit through this handle, another handle on
        the same root, a compaction.  Write methods do not call this;
        the next read sees their snapshot and refreshes."""
        with self._view_lock:
            snaps = tuple(
                s["id"] for s in self.catalog.snapshots("triples"))
            if snaps and snaps != self._view_snaps:
                Q.register_views(
                    self.spark,
                    self.catalog.read(self.spark, "triples"),
                    canon=self._canon,
                    suffix=self._view_suffix,
                )
                self._view_snaps = snaps

    def search(self, identifier: str) -> DataFrame | None:
        """hunter.py:153-187 / graph.py:153-192: scenes depicting a
        label or URI (Wikidata URIs resolve through the canonical
        map).  None before any link() commit — the guard keeps this
        handle from reading another SparkHunter's session-global
        views."""
        if not self.catalog.exists("triples"):
            return None
        self._refresh_views()
        return Q.get_scenes_with_entity(
            self.spark, identifier,
            entity_catalog=self.entity_catalog, canon=self._canon,
            view="scene_view" + self._view_suffix,
            label_map=self._label_map,
        )

    def scenes_of(self, doc_id: str) -> DataFrame | None:
        """graph.py:130-151 for one video (doc URI or bare doc_id).
        None before any link() commit (see search)."""
        from .schemas import HOME_URI

        uri = doc_id if doc_id.startswith("http") else HOME_URI + doc_id
        if not self.catalog.exists("triples"):
            return None
        self._refresh_views()
        return Q.get_scenes_from_video(
            self.spark, uri, view="scene_view" + self._view_suffix
        )

    def query(
        self, where_sql: str, attributes: DataFrame | None = None
    ) -> DataFrame | None:
        """graph.py:194-244 user-filter template over the scene view,
        optionally broadcast-joined with an entity-attribute dim table
        (the offline analogue of the reference's service{} blocks).
        None before any link() commit (see search)."""
        if not self.catalog.exists("triples"):
            return None
        self._refresh_views()
        return Q.get_videos_with_filters(
            self.spark, where_sql,
            view="scene_view" + self._view_suffix,
            attributes=attributes,
        )

    def sql(self, query: str) -> DataFrame | None:
        """Raw graph-pattern queries — the analogue of the reference's
        ``/api/query`` raw-SPARQL-fragment support (api/api.py:81-97 →
        graph.py:194-244, where the user's ``query`` string is spliced
        into the SELECT template as additional triple patterns).  Here
        the user writes Spark SQL over two placeholder views —
        ``{triples}`` (the raw subj/pred/obj table, obj_canonical
        included) and ``{scene_view}`` (the wide per-scene pivot) —
        and every new SPARQL triple pattern becomes one self-join on
        ``{triples}``.

        The reference's docstring fragment

            ?scene foaf:depicts ?entity .
            ?video dc:title ?title

        translates to

            SELECT sv.title, t.obj AS entity
            FROM {scene_view} sv
            JOIN {triples} t
              ON t.subj = sv.scene
             AND t.pred = 'http://xmlns.com/foaf/0.1/depicts'

        (the dc:title pattern is already pivoted into the view).
        Views are instance-scoped, so two handles on one SparkSession
        can't read each other's state.  None before any link()
        commit."""
        if not self.catalog.exists("triples"):
            return None
        self._refresh_views()
        return self.spark.sql(query.format(
            triples="triples" + self._view_suffix,
            scene_view="scene_view" + self._view_suffix,
        ))

    def match(
        self,
        patterns,
        select: list[str] | None = None,
        distinct: bool = False,
        allow_cartesian: bool = False,
        optional=None,
        filters=None,
        optional_filters=None,
    ) -> DataFrame | None:
        """SPARQL-style basic-graph-pattern matching over the committed
        triple table (operators/bgp.py) — the compiled form of what
        ``hunter.sql`` asks you to write as one self-join per pattern
        (and of the reference's spliced SPARQL patterns,
        graph.py:194-244).  Terms starting with ``?`` are variables,
        ``None`` is an anonymous wildcard, anything else is a constant::

            h.match([("?v", NS["hunter_has_scene"], "?s"),
                     ("?s", NS["sdo_depicts"],      "?e")])

        None before any link() commit (see search)."""
        from .operators.bgp import graph_pattern

        if not self.catalog.exists("triples"):
            return None
        self._refresh_views()
        triples = self.spark.table("triples" + self._view_suffix)
        return graph_pattern(
            triples, patterns, select=select, distinct=distinct,
            allow_cartesian=allow_cartesian, optional=optional,
            filters=filters, optional_filters=optional_filters,
        )

    def ask(
        self,
        patterns,
        optional=None,
        filters=None,
        optional_filters=None,
        allow_cartesian: bool = False,
    ) -> bool:
        """SPARQL ``ASK`` over the committed triple table: True iff the
        pattern list has at least one binding (operators/bgp.py::ask —
        evaluates LIMIT 1, so a hit costs one scan task).  False before
        any link() commit."""
        from .operators.bgp import ask as _ask

        if not self.catalog.exists("triples"):
            return False
        self._refresh_views()
        return _ask(
            self.spark.table("triples" + self._view_suffix),
            patterns,
            optional=optional,
            filters=filters,
            optional_filters=optional_filters,
            allow_cartesian=allow_cartesian,
        )

    def describe(self, node: str, inbound: bool = True) -> DataFrame | None:
        """SPARQL ``DESCRIBE <node>``: the node's full star — outbound
        triples plus (with ``inbound=True``) inbound ones, tagged with
        a ``direction`` column (operators/bgp.py::describe; two pushed
        constant filters, no shuffle).  None before any link() commit."""
        from .operators.bgp import describe as _describe

        if not self.catalog.exists("triples"):
            return None
        self._refresh_views()
        return _describe(
            self.spark.table("triples" + self._view_suffix),
            node,
            inbound=inbound,
        )

    def construct(
        self,
        patterns,
        template,
        optional=None,
        filters=None,
        optional_filters=None,
        exclude_asserted: bool = False,
    ) -> DataFrame | None:
        """SPARQL CONSTRUCT over the committed triple table
        (operators/bgp.py::construct): match ``patterns``, materialize
        ``template`` triples per binding, return the distinct graph.
        ``exclude_asserted=True`` returns only triples not already in
        the table — feed that straight back into the catalog for an
        idempotent inference append.  None before any link() commit."""
        from .operators.bgp import construct as _construct

        if not self.catalog.exists("triples"):
            return None
        self._refresh_views()
        triples = self.spark.table("triples" + self._view_suffix)
        return _construct(
            triples, patterns, template, optional=optional,
            filters=filters, optional_filters=optional_filters,
            exclude_asserted=exclude_asserted,
        )

    def register_service_snapshot(self, endpoint: str, df) -> None:
        """Register an OFFLINE SNAPSHOT of a federated endpoint's
        triples (columns subj, pred, obj) under its IRI — afterwards
        ``SERVICE <endpoint> { patterns }`` groups in :meth:`sparql`
        evaluate against the snapshot and join on the shared
        variables, the batch analogue of the reference's live
        DBpedia/Wikidata service{} blocks (graph.py:194-244).  The
        built-in attributes dim join (:meth:`query`) remains the
        simpler form for the reference's documented filter example."""
        missing = {"subj", "pred", "obj"} - set(df.columns)
        if missing:
            raise ValueError(
                f"service snapshot needs subj/pred/obj columns; "
                f"missing {sorted(missing)}"
            )
        self._services[endpoint] = df

    def sparql(
        self,
        text: str,
        allow_cartesian: bool = False,
        entailment: str | None = None,
    ):
        """Run a SPARQL query STRING against the committed triple table
        (operators/sparql.py — the text-level form of the reference's
        /api/query surface, api/api.py:81-97): PREFIX + SELECT
        [DISTINCT] / ASK / DESCRIBE (constant node or
        ``DESCRIBE ?v WHERE {...}``) / CONSTRUCT with ``;``/``,``
        triple blocks, the ``a`` keyword, OPTIONAL groups (with inner
        FILTER), UNION blocks, ``{ SELECT ... }`` subqueries, the full
        SPARQL 1.1 property-path grammar (groups, closures, negated
        sets), FILTER [NOT] EXISTS / MINUS / VALUES / BIND,
        aggregates with GROUP BY / HAVING, the FILTER builtin set
        (string/numeric/conditional, IN lists, arithmetic) and
        ORDER BY / LIMIT / OFFSET — compiled onto the same BGP plan as
        :meth:`match`.  ``GRAPH <iri>`` wrappers collapse (the store
        is one graph) and ``GRAPH ?g`` binds ?g to the configured
        ``graph_uri`` (raises when unconfigured).  Returns a DataFrame
        (bool for ASK); None (False for ASK) before any link() commit.  SERVICE{} groups
        evaluate against snapshots registered with
        :meth:`register_service_snapshot`; an unregistered endpoint
        raises NotImplementedError (live federation is out of scope —
        or use :meth:`query` with an attribute dim table).
        ``isNumeric`` is lexical (``"42"``, ``"NaN"`` and
        ``"Infinity"`` all report true) — see ``operators.sparql.execute``."""
        from .operators.sparql import execute, parse

        if not self.catalog.exists("triples"):
            return False if parse(text).form == "ask" else None
        self._refresh_views()
        return execute(
            self.spark.table("triples" + self._view_suffix),
            text,
            allow_cartesian=allow_cartesian,
            entailment=entailment,
            services=self._services or None,
            graph_uri=self.graph_uri,
        )

    def update(self, text: str, run_id: str | None = None) -> dict:
        """Apply a SPARQL UPDATE string to the committed triple table
        (operators/sparql_update.py — the write half of the reference's
        text surface: its Virtuoso store commits ``INSERT DATA``
        strings, virtuoso_store.py:29-52).  INSERT DATA / DELETE DATA /
        DELETE WHERE / DELETE{...}INSERT{...}WHERE{...} — inserts
        append one snapshot set-semantically, deletes rewrite the
        table copy-on-write.  A multi-operation (';'-separated)
        request — the shape the reference batches by concatenation —
        executes in document order, one snapshot per operation.
        Returns the ``{"form", "inserted", "deleted", "snapshot"}``
        report (aggregated, with an ``operations`` list, for
        requests).
        Raises before any link() commit when the update needs existing
        state; a first INSERT DATA bootstraps the table
        (execute_update owns both paths)."""
        from .operators.sparql_update import execute_update

        return execute_update(
            self.spark, self.catalog, "triples", text, run_id=run_id,
            graph_uri=self.graph_uri,
            services=self._services or None,
        )

    def train_embeddings(self, **kwargs) -> dict | None:
        """Train TransE embeddings on this handle's committed triple
        table (training.run_transe_job — chained integer-exact epochs,
        embeddings committed as catalog tables, filtered
        link-prediction metrics).  kwargs pass through (epochs, dim,
        k_neg, eval_pct, ...).  None before any link() commit."""
        from .training import run_transe_job

        if not self.catalog.exists("triples"):
            return None
        return run_transe_job(self.spark, self.catalog, **kwargs)

    def score(self, patterns) -> DataFrame | None:
        """L1 TransE plausibility scores for (subj, pred, obj) rows —
        lower = more plausible — against the last train_embeddings()
        artifact.  ``patterns`` is a list of triples or a DataFrame
        with subj/pred/obj columns.  None before training."""
        from .operators.transe import score_triples
        from .training import ENT_TABLE, REL_TABLE, load_embeddings

        # both halves must exist: training commits them as two
        # non-atomic overwrites, so a crash between the two leaves a
        # half-artifact — treat that as "not trained", loudly if the
        # runs disagree
        if not (
            self.catalog.exists(ENT_TABLE)
            and self.catalog.exists(REL_TABLE)
        ):
            return None
        ent_run = self.catalog.snapshots(ENT_TABLE)[-1]["run_id"]
        rel_run = self.catalog.snapshots(REL_TABLE)[-1]["run_id"]
        if ent_run != rel_run:
            raise RuntimeError(
                f"embedding artifact is torn: {ENT_TABLE} is from run "
                f"{ent_run!r} but {REL_TABLE} from {rel_run!r} — rerun "
                "train_embeddings()"
            )
        ent, rel = load_embeddings(self.spark, self.catalog)
        df = (
            patterns
            if isinstance(patterns, DataFrame)
            else self.spark.createDataFrame(
                [(s, p, o) for s, p, o in patterns],
                "subj string, pred string, obj string",
            )
        )
        return score_triples(df, ent, rel)

    def distance(
        self, a: str, b: str, max_hops: int = 6
    ) -> int | None:
        """Minimum hop distance between two nodes in the committed
        KG's entity graph (URI-valued triples only; literals carry no
        onward edges), or None if unreachable within ``max_hops`` /
        before any link() commit — the "how are X and Y connected"
        relatedness probe (operators/graph.py::bfs_levels)."""
        from .operators.graph import bfs_levels

        if not self.catalog.exists("triples"):
            return None
        t = self.catalog.read(self.spark, "triples")
        edges = t.where(~F.coalesce("obj_is_literal", F.lit(False))).select(
            F.col("subj").alias("src"), F.col("obj").alias("dst")
        )
        hit = (
            bfs_levels(edges, a, max_hops=max_hops)
            .where(F.col("id") == F.lit(b))
            .collect()
        )
        return hit[0].level if hit else None

    def validate(self, shapes=None) -> dict | None:
        """Run the KG quality gate (quality.py) on this handle's
        catalog: SHACL-lite validation (default: the pipeline's
        intended-vocabulary shapes) + VoID statistics, committing the
        report and stats tables.  Returns the stats dict, or None
        before any link() commit."""
        from .quality import run_validate_job

        if not self.catalog.exists("triples"):
            return None
        return run_validate_job(self.spark, self.catalog, shapes=shapes)

    def stats(self) -> DataFrame | None:
        """VoID property partitions of the committed triple table —
        per-predicate triple / distinct subject / distinct object
        counts.  None before any link() commit."""
        from .operators.void_stats import predicate_partitions

        if not self.catalog.exists("triples"):
            return None
        self._refresh_views()
        return predicate_partitions(
            self.spark.table("triples" + self._view_suffix)
        )

    def import_n3(self, path: str, sharded: bool = False) -> dict:
        """Load an n3 store artifact (ours or the reference's own
        rdflib file, memory_store.py:48-59) into this handle's triple
        table as one idempotent append — the data-migration half of
        "switch engines, keep your queries AND your data"
        (sources.import_n3).  The file is read as an INSERT DATA body:
        prefixes, ``;`` / ``,`` / ``a`` lists, short and long strings,
        ``^^`` datatypes, numbers (xsd:integer / xsd:decimal /
        xsd:double) and booleans are read; ``@lang`` tags are dropped (the table has no language
        column); blank nodes, collections, ``@base`` and relative
        IRIs raise ValueError.  Returns the import stats dict."""
        from .sources import import_n3 as _imp

        return _imp(self.spark, self.catalog, path, sharded=sharded)

    def export_n3(self, path: str, sharded: bool = False) -> int:
        """The reference's ``commit()`` artifact (memory_store.py:48-59
        serializes the rdflib graph as n3): write the committed triple
        table as one n3 document.  Returns the number of subject
        blocks written; 0 (no file) before any link() commit.
        ``sharded=True`` writes doc_bucket-partitioned part files from
        the executors instead (the 10^12-doc form — nothing assembles
        on the driver; see rdf.export_n3_sharded).  The flat form
        raises ValueError when the table holds more than
        ``FLAT_N3_MAX_ROWS`` rows."""
        if not self.catalog.exists("triples"):
            return 0
        from .operators import rdf

        triples = self.catalog.read(self.spark, "triples")
        if sharded:
            return rdf.export_n3_sharded(triples, path)
        if triples.limit(FLAT_N3_MAX_ROWS + 1).count() > FLAT_N3_MAX_ROWS:
            raise ValueError(
                f"the triples table holds more than {FLAT_N3_MAX_ROWS} "
                "rows, too many to assemble one n3 document on the "
                "driver; use export_n3(path, sharded=True)"
            )
        text, n_blocks = rdf.n3_document(triples)
        with open(path, "w") as f:
            f.write(text)
        return n_blocks

    # ------------------------------------------------------ evaluation

    def evaluate(self, documents: DataFrame) -> dict:
        """cli.py run_detection / evaluation.py:16-90: frame- and
        video-level linker metrics vs planted truth."""
        from .evalharness import evaluate_linking

        return evaluate_linking(
            documents, self.gallery_pdf, self.n_entities,
            self.distance_threshold,
        )
