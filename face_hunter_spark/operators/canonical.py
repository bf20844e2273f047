"""Canonicalization: same-as edges -> connected components -> one
canonical id per entity cluster (SURVEY.md §2.9).

The reference resolves cross-KG identity point-wise at query time with
a live DBpedia owl:sameAs lookup per URI (knowledge_graphs.py:306-336,
used at graph.py:163-164).  At 10^12 scale that's a batch operator:

  1. ``same_as_edges`` — catalog rows sharing norm_name across KGs.
  2. ``connected_components`` — pure-DataFrame hash-min label
     propagation (no GraphFrames jar in this sandbox; the north_star's
     GraphFrames connectedComponents() is a drop-in swap).  Converges
     in O(log n) joins; each round is two shuffles on the edge table.
     localCheckpoint() each round cuts the exponential lineage that
     otherwise re-executes every prior join on each new action.
  3. ``canonical_map`` — min(wikidata QID) per component, else min URI.

Components here are tiny (dbpedia<->wikidata pairs/chains), but the
implementation is generic and scales: iteration count is bounded by
the graph diameter, not component count.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..schemas import NS


def same_as_edges(entity_catalog: DataFrame) -> DataFrame:
    """(uri_a, uri_b) pairs of URIs that share a norm_name."""
    a = entity_catalog.select(
        F.col("norm_name"), F.col("entity").alias("uri_a")
    )
    b = entity_catalog.select(
        F.col("norm_name"), F.col("entity").alias("uri_b")
    )
    return (
        a.join(b, "norm_name")
        .where(F.col("uri_a") < F.col("uri_b"))
        .select("uri_a", "uri_b")
        .distinct()
    )


def connected_components(
    edges: DataFrame, max_iter: int = 20, algorithm: str = "hashmin"
) -> DataFrame:
    """edges(uri_a, uri_b) -> (uri, component) with component = the
    lexicographic min uri reachable.

    ``algorithm``:
    * 'hashmin' (default) — label propagation: every node repeatedly
      adopts the min label among itself and its neighbors.  Rounds =
      graph DIAMETER; right for the shallow same-as chains the entity
      catalog produces (length <= ~3).
    * 'bigstar' — alternating large-star/small-star contraction
      (Kiveris et al., "Connected Components in MapReduce and
      Beyond"): rounds = O(log^2 n) regardless of diameter, the scale
      path for long chains / high-diameter graphs.  Identical output
      (property-tested, incl. a 1k-node path graph).
    """
    if algorithm == "bigstar":
        return _cc_bigstar(edges, max_iter=max_iter)
    if algorithm != "hashmin":
        raise ValueError(algorithm)
    spark = edges.sparkSession
    sym = (
        edges.select(F.col("uri_a").alias("src"), F.col("uri_b").alias("dst"))
        .unionByName(
            edges.select(
                F.col("uri_b").alias("src"), F.col("uri_a").alias("dst")
            )
        )
        .distinct()
        .persist()
    )
    labels = (
        sym.select(F.col("src").alias("uri"))
        .distinct()
        .withColumn("component", F.col("uri"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        # candidate label for each node: min over neighbors' labels
        neighbor_min = (
            sym.join(labels, sym["dst"] == labels["uri"])
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        updated = (
            labels.join(neighbor_min, labels["uri"] == neighbor_min["src"], "left")
            .select(
                "uri",
                F.least(
                    F.col("component"),
                    F.coalesce("nbr_component", F.col("component")),
                ).alias("component"),
                (F.col("nbr_component") < F.col("component")).alias("changed"),
            )
        ).localCheckpoint()
        n_changed = updated.where(F.col("changed")).count()
        labels = updated.drop("changed")
        if n_changed == 0:
            break
    sym.unpersist()
    return labels


def _cc_bigstar(edges: DataFrame, max_iter: int = 50) -> DataFrame:
    """Large-star/small-star alternation.  Each round:

    * LARGE-STAR — every node u attaches its strictly-LARGER neighbors
      to m(u) = min(Γ(u) ∪ {u}): long chains halve toward the root.
    * SMALL-STAR — every edge lives at its larger endpoint; u attaches
      its smaller neighbors AND itself to their min: stars flatten.

    Converged when the edge set stops changing; the final set is
    exactly (node -> component root) for every non-root node.  Each
    round is two self-joins on node keys (bounded shuffle);
    localCheckpoint cuts the iterative lineage like the hashmin loop.
    """
    e = (
        edges.select(F.col("uri_a").alias("u"), F.col("uri_b").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    prev_sig = None
    for _ in range(max_iter):
        # large-star over the symmetric neighbor view
        nbrs = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).distinct()
        mins = nbrs.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        e = (
            nbrs.where(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: each edge at its larger endpoint
        dir_ = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        mins2 = dir_.groupBy("u").agg(F.min("v").alias("m"))
        e = (
            dir_.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins2.select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        sig = e.agg(
            F.count(F.lit(1)).alias("n"),
            # bit_xor: order-independent, overflow-free under ANSI
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).collect()[0]
        sig = (sig["n"], sig["h"])
        if sig == prev_sig:
            break
        prev_sig = sig
    roots = e.select(F.col("v").alias("uri")).distinct().withColumn(
        "component", F.col("uri")
    )
    return (
        e.select(F.col("u").alias("uri"), F.col("v").alias("component"))
        .unionByName(roots)
        .distinct()
    )


def incremental_components(
    labels: DataFrame,
    new_edges: DataFrame,
    max_iter: int = 20,
    algorithm: str = "hashmin",
    broadcast_remap: bool = True,
) -> DataFrame:
    """Update an existing ``(uri, component)`` labeling with a batch of
    NEW same-as edges, doing iterative work proportional to the DELTA,
    not the corpus (KG maintenance: the reference re-resolves sameAs
    point-wise per query, knowledge_graphs.py:306-336; at 10^12 scale
    identity merges arrive as batches against a standing labeling).

    Exactness: ``connected_components`` roots are the min reachable
    uri, so every old component id is itself the min uri of its member
    set.  Contracting each new-edge endpoint to its current component
    and running CC over the contracted graph therefore yields exactly
    ``min(old-component mins ∪ new uris)`` per merged component — bit
    identical to a full recompute over (old ∪ new) edges, which is what
    the driver oracle checks.

    Cost shape at scale: the iterative CC runs on <= 2·|delta| contracted
    nodes; the corpus-sized ``labels`` table is touched exactly once, by
    a single (broadcast by default) remap join — no per-iteration pass
    over the standing labeling.
    """
    lab_a = labels.select(
        F.col("uri").alias("uri_a"), F.col("component").alias("comp_a")
    )
    lab_b = labels.select(
        F.col("uri").alias("uri_b"), F.col("component").alias("comp_b")
    )
    contracted = (
        new_edges.join(lab_a, "uri_a", "left")
        .join(lab_b, "uri_b", "left")
        .select(
            F.coalesce("comp_a", "uri_a").alias("uri_a"),
            F.coalesce("comp_b", "uri_b").alias("uri_b"),
        )
        .where(F.col("uri_a") != F.col("uri_b"))
        .distinct()
    )
    merged = connected_components(
        contracted, max_iter=max_iter, algorithm=algorithm
    )
    remap = merged.select(
        F.col("uri").alias("component"), F.col("component").alias("new_component")
    )
    if broadcast_remap:
        # one row per TOUCHED component / brand-new uri: O(|delta|)
        remap = F.broadcast(remap)
    relabeled = labels.join(remap, "component", "left").select(
        "uri",
        F.coalesce("new_component", "component").alias("component"),
    )
    # contracted nodes that are not existing uris are brand-new nodes
    # introduced by this delta batch: emit their label rows directly
    new_nodes = merged.join(labels.select("uri"), "uri", "left_anti")
    return relabeled.unionByName(new_nodes.select("uri", "component"))


def canonical_map(entity_catalog: DataFrame, max_iter: int = 20) -> DataFrame:
    """URI -> canonical id.  Canonical = min Wikidata URI in the
    component if any (north_star: 'canonicalized to QIDs'), else the
    component min.  Singleton URIs (no same-as partner) map to
    themselves."""
    edges = same_as_edges(entity_catalog)
    cc = connected_components(edges, max_iter=max_iter)
    wd_min = (
        cc.where(F.col("uri").startswith("http://www.wikidata.org/"))
        .groupBy("component")
        .agg(F.min("uri").alias("wd_canonical"))
    )
    comp_canon = (
        cc.join(wd_min, "component", "left")
        .select(
            "uri",
            F.coalesce("wd_canonical", "component").alias("canonical"),
        )
    )
    singletons = (
        entity_catalog.select(F.col("entity").alias("uri"))
        .distinct()
        .join(comp_canon, "uri", "left_anti")
        .withColumn("canonical", F.col("uri"))
    )
    return comp_canon.unionByName(singletons)


def canonicalize_depicts(triples: DataFrame, canon: DataFrame) -> DataFrame:
    """Add obj_canonical: depicts triples (foaf: and sdo:) take their
    obj's canonical id from ``canon``; every other triple, and a
    depicts obj the map does not know, keeps obj_canonical = obj.  The
    original obj is preserved — the reference's DBpedia-preferred
    output stays visible (graph.py:111-114) while queries match on the
    canonical id.

    One projection over ``triples``: a broadcast left join of the map
    on a key that is obj for depicts rows and NULL for the rest (a
    NULL key matches nothing), so the input plan is referenced once —
    no split by predicate and union back, which would evaluate the
    input's lineage twice."""
    key = F.when(
        F.col("pred").isin(NS["foaf_depicts"], NS["sdo_depicts"]),
        F.col("obj"),
    )
    return (
        triples.withColumn("_canon_key", key)
        .join(
            F.broadcast(canon.withColumnRenamed("uri", "_canon_key")),
            "_canon_key", "left",
        )
        .withColumn("obj_canonical", F.coalesce("canonical", "obj"))
        .drop("_canon_key", "canonical")
    )
