"""Deduplication operators for training-data pipelines: exact,
n-gram Jaccard, MinHash+LSH, SimHash fingerprints, and semantic
(embedding) dedup.

Scale design notes (the point of each physical shape):

* exact        — one groupBy on a 16-byte fingerprint; map-side
                 combine makes this shuffle tiny regardless of corpus.
* jaccard      — NEVER a cross join: an inverted-index equi-join on
                 shingles yields only pairs that share >= 1 shingle,
                 then |A∩B| falls out of a count per pair.
* minhash LSH  — band buckets bound the candidate set; each doc lands
                 in exactly `bands` buckets, so shuffle volume is
                 O(bands * N), independent of pair count.  Shingles are
                 hashed once to 60-bit ints (md5 prefix), then the
                 signature is a universal-hash family over those ints —
                 one md5 pass total, int arrays (not strings) on the
                 wire, engine-portable (the DuckDB oracle regenerates
                 the identical constants and signatures).
* simhash      — 32-bit fingerprints via token-hash bit voting, one
                 fold over the token array.
* semantic     — k-means clusters bound the pair search; exact cosine
                 within each cluster (``semantic_dedup``).

All built-in expressions; no Python workers anywhere.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from .text import _bind, doc_fingerprint, shingles, tokens
from .util import ensure_parallelism


# ---------------------------------------------------------------- exact

def exact_duplicate_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Fingerprint groups with >1 member: (fingerprint, n_docs,
    keep_id, dup_ids)."""
    fp = df.select(F.col(id_col).alias("id"), doc_fingerprint(F.col(text_col)).alias("fingerprint"))
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("id").alias("keep_id"),
            F.array_sort(F.collect_list("id")).alias("member_ids"),
        )
        .where(F.col("n_docs") > 1)
    )


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the min-id representative of each exact-content group."""
    fp = df.withColumn("_fp", doc_fingerprint(F.col(text_col)))
    keep = fp.groupBy("_fp").agg(F.min(id_col).alias(id_col))
    return fp.join(keep, [ "_fp", id_col], "left_semi").drop("_fp")


# ------------------------------------------------------- n-gram jaccard

def _shingled(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    df = ensure_parallelism(df)  # md5 shingle hashing is CPU-bound
    return df.select(
        F.col(id_col).alias("id"),
        shingles(F.col(text_col), n).alias("sh"),
    ).withColumn("n_sh", F.size("sh"))


def jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = 10_000,
) -> DataFrame:
    """All pairs with n-gram Jaccard >= threshold, via inverted-index
    join: explode shingles, equi-join on shingle, count common per pair.
    J = common / (|A| + |B| - common).

    ``max_df`` is the document-frequency cap: a shingle occurring in
    more than max_df docs (boilerplate / stop-shingles) is dropped from
    the representation BEFORE the self-join — without it one hot
    shingle contributes O(df^2) candidate rows and the join goes
    quadratic on skewed corpora.  Jaccard is then computed over the
    capped shingle sets on both sides (standard near-dup practice; the
    DuckDB oracle mirrors the cap so results stay exact).  The df
    window and the inverted-index self-join hash on the same key, so
    the cap reuses the join's exchange rather than adding one.

    RETURN CONTRACT: with the default cap, ``jaccard`` is the Jaccard
    of the df-capped shingle sets — on corpora containing shingles
    with df > max_df this differs from textbook Jaccard (deliberately:
    the on-by-default cap is what makes the operator safe at corpus
    scale).  Pass ``max_df=None`` for exact textbook Jaccard on small
    corpora (ADVICE r2).
    """
    s = _shingled(df, text_col, id_col, n).where(F.col("n_sh") > 0)
    inv = s.select("id", F.explode("sh").alias("shingle"))
    if max_df is not None:
        wdf = Window.partitionBy("shingle")
        inv = inv.withColumn("_df", F.count(F.lit(1)).over(wdf)).where(
            F.col("_df") <= max_df
        ).drop("_df")
    # set sizes AFTER the cap, so J is consistent on both sides
    wid = Window.partitionBy("id")
    inv = inv.withColumn("n_sh", F.count(F.lit(1)).over(wid))
    a = inv.select(F.col("id").alias("id_a"), F.col("n_sh").alias("na"), "shingle")
    b = inv.select(F.col("id").alias("id_b"), F.col("n_sh").alias("nb"), "shingle")
    return (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("common"))
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("na") + F.col("nb") - F.col("common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------- minhash LSH

MINHASH_P = 2147483647  # 2^31 - 1; products stay under 2^62 in BIGINT


def minhash_constants(num_hashes: int) -> tuple[list[int], list[int]]:
    """Fixed (a_i, b_i) for the universal-hash family h_i(x) =
    (a_i * x + b_i) mod P.  Deterministic LCG-derived constants so the
    DuckDB oracle can regenerate the identical family."""
    a, b = [], []
    for i in range(num_hashes):
        a.append(((1103515245 * (i + 7) + 12345) % MINHASH_P) | 1)
        b.append((69069 * (i + 3) + 1) % MINHASH_P)
    return a, b


def shingle_hashes(sh_col) -> Column:
    """Distinct 60-bit integer hashes of the shingle strings:
    int(md5(s)[:15], 16).  Engine-portable (DuckDB:
    ('0x' || substr(md5(s),1,15))::BIGINT) and ~2.5x smaller than the
    strings on the wire — the candidate join then shuffles long arrays
    instead of text, and set ops compare ints."""
    return F.array_distinct(
        F.transform(
            sh_col,
            lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
        )
    )


def minhash_signature_int(hash_col, num_hashes: int) -> Column:
    """Array of num_hashes minhash values over integer shingle hashes:
    min over shingles of (a_i * (h mod P) + b_i) mod P.  Pure integer
    arithmetic — no per-hash md5 pass over the shingles."""
    a, b = minhash_constants(num_hashes)

    def hasher(i: int):
        return lambda h: (F.lit(a[i]) * (h % F.lit(MINHASH_P))
                          + F.lit(b[i])) % F.lit(MINHASH_P)

    return F.array(
        *[F.array_min(F.transform(hash_col, hasher(i)))
          for i in range(num_hashes)]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 12,
    bands: int = 4,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = 5_000,
) -> DataFrame:
    """Candidate pairs from LSH band-bucket collisions, verified with
    exact Jaccard on the shingle arrays.  rows_per_band = num_hashes //
    bands; P(candidate) = 1-(1-J^r)^b — tune (b, r) to the threshold.

    Scale shape (the part that matters at 100 TB):

    * the band-bucket self-join carries ONLY (id, bucket) — the shingle
      arrays do NOT ride through the candidate exchange (at bands=4 and
      ~1 KB of hashes per doc that is a ~400x shuffle-byte reduction on
      the widest stage).  Arrays are fetched afterwards by joining the
      deduped candidate ids back against the shingled docs; the shingle
      hashing reruns only for docs that actually appear in a candidate
      pair (AQE broadcasts the candidate set when small, making the
      fetch a map-side join with zero extra exchange).
    * ``max_bucket_size`` drops degenerate buckets (thousands of
      near-identical boilerplate docs hashing to one band value) whose
      membership exceeds the cap — a b-member bucket contributes
      O(b^2) candidate pairs, so one hot bucket otherwise goes
      quadratic.  The DuckDB oracle mirrors the cap, so results stay
      exact at any scale.
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands
    s = _shingled(df, text_col, id_col, n).where(F.col("n_sh") > 0)
    hashed = s.select(
        "id", shingle_hashes(F.col("sh")).alias("sh")
    )
    sig = hashed.select(
        "id", minhash_signature_int(F.col("sh"), num_hashes).alias("sig")
    )
    bucketed = sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        "|",
                        F.lit(str(b)),
                        *[F.col("sig")[b * r + j].cast("string")
                          for j in range(r)],
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bucket"),
    )
    # Candidate pairs WITHOUT a self-join: one groupBy(bucket) collects
    # the (sorted) member ids, the size cap is a plain filter on the
    # aggregate (no window pass), and the i<j combinations unfold from
    # the id array with a pure HOF.  vs the former windowed self-join
    # this runs ONE exchange instead of two subtree executions — Spark
    # cannot ReusedExchange across self-join sides here because HOF
    # lambda variables defeat plan canonicalization, so the shingle+
    # signature subtree (the md5-dominant map work) would execute once
    # PER SIDE.  Pair semantics are identical: members of a bucket are
    # distinct ids, array_sort gives id_a < id_b, and the cross-band
    # dropDuplicates stays.
    if max_bucket_size is not None:
        # drop hot buckets BEFORE collecting member arrays (ADVICE r3):
        # a degenerate bucket (boilerplate docs sharing a band value)
        # would otherwise materialize its whole membership inside ONE
        # collect_list aggregation buffer — an executor OOM at corpus
        # scale.  An ORDER-BY-free window count rides the SAME
        # bucket exchange the collect uses (Window's hash partitioning
        # satisfies the downstream groupBy, so Catalyst adds no second
        # exchange and the md5-dominant signature subtree still runs
        # exactly once); hot-bucket rows sit in a spillable shuffle
        # partition, never in an aggregation buffer — only <=cap
        # buckets reach collect_list.  (The r4 first cut used a
        # count-agg + broadcast anti-join: correct, but it re-ran the
        # exchange and cost ~2x on the bench.)
        w = Window.partitionBy("bucket")
        bucketed = (
            bucketed.withColumn("n_members", F.count(F.lit(1)).over(w))
            .where(F.col("n_members") <= max_bucket_size)
            .drop("n_members")
        )
    grouped = (
        bucketed.groupBy("bucket")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    cand = (
        grouped.select(
            F.explode(
                F.flatten(
                    F.transform(
                        "ids",
                        lambda x, i: F.transform(
                            F.slice(
                                "ids", i + 2,
                                F.greatest(F.size("ids") - i - 1, F.lit(0)),
                            ),
                            lambda y: F.struct(
                                x.alias("id_a"), y.alias("id_b")
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # array fetch AFTER candidate dedup, as ONE melt-join: both pair
    # sides join `hashed` in a single plan reference, so the shingle
    # subtree (the md5-dominant map work) is evaluated once here
    # instead of once per side; the pair groupBy then re-widens.  The
    # only exchange carrying arrays is sized by surviving candidates.
    melted = cand.select(
        "id_a", "id_b",
        F.explode(
            F.array(
                F.struct(F.lit("a").alias("side"), F.col("id_a").alias("id")),
                F.struct(F.lit("b").alias("side"), F.col("id_b").alias("id")),
            )
        ).alias("m"),
    ).select("id_a", "id_b", "m.side", "m.id")
    pairs = (
        melted.join(hashed, "id")
        .groupBy("id_a", "id_b")
        .agg(
            F.first(F.when(F.col("side") == "a", F.col("sh")),
                    ignorenulls=True).alias("sh_a"),
            F.first(F.when(F.col("side") == "b", F.col("sh")),
                    ignorenulls=True).alias("sh_b"),
        )
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        pairs.withColumn("jaccard", inter / union)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# -------------------------------------------------------------- simhash

def _tok_hash32(t) -> Column:
    """Portable 32-bit token hash: int(md5(token)[:8], 16)."""
    return F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")


def simhash32(text_col) -> Column:
    """32-bit SimHash of the token stream: bit b of the fingerprint is
    the sign of sum_t (+1/-1 by bit b of hash(t)).  Expressed as a
    fold over the token array — no explode, no shuffle.  The token-hash
    array is ``_bind``-bound so the 32 per-bit folds share ONE
    tokenize+md5 pass instead of re-evaluating it per bit."""

    def vote(b: int):
        # a real 2-arg lambda per bit (a default-arg binding would make
        # pyspark treat it as a 3-arg HOF lambda)
        def merge(acc, h):
            return acc + (
                F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1
            ).cast("int")
        return merge

    def fingerprint(hashes):
        bit_votes = [F.aggregate(hashes, F.lit(0), vote(b))
                     for b in range(32)]
        out = F.lit(0).cast("long")
        for b, v in enumerate(bit_votes):
            out = out + F.when(v > 0, F.lit(2 ** b).cast("long")) \
                .otherwise(F.lit(0))
        return out

    return _bind(F.transform(tokens(text_col), _tok_hash32), fingerprint)


# ---------------------------------------------------- near-dup clustering

def dup_clusters(pairs: DataFrame, id_a: str = "id_a",
                 id_b: str = "id_b",
                 algorithm: str = "hashmin") -> DataFrame:
    """Near-duplicate PAIRS -> (id, cluster_rep): connected components
    over the pair graph (duplicate similarity is transitive in
    practice: a~b and b~c should collapse to ONE kept document even
    when (a, c) itself missed the similarity threshold).  The
    representative is the cluster's min id; the CC ops are
    type-generic, so numeric and string ids both work.
    ``algorithm='bigstar'`` for long duplicate chains
    (operators/canonical.py)."""
    from .canonical import connected_components

    edges = pairs.select(
        F.col(id_a).alias("uri_a"), F.col(id_b).alias("uri_b")
    )
    cc = connected_components(edges, algorithm=algorithm)
    return cc.select(
        F.col("uri").alias("id"), F.col("component").alias("cluster_rep")
    )


def dedup_corpus(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 4,
    algorithm: str = "hashmin",
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Corpus-level near-duplicate REMOVAL — the end-to-end training-
    data op: MinHash+LSH pairs -> transitive clusters -> keep each
    cluster's min-id representative, drop the rest.

    Scale shape: the pair graph contains ONLY documents that collided
    in some band bucket (a tiny fraction of the corpus), so the CC
    loop runs on near-dup members alone; the final removal is one
    left_anti join on the id (broadcastable whenever the duplicate set
    is small relative to the corpus — the normal case).  Pass
    ``pairs`` to reuse an already-computed pair table (e.g. Jaccard
    pairs instead of MinHash)."""
    if pairs is None:
        pairs = minhash_lsh_pairs(
            df, threshold=threshold, num_hashes=num_hashes, bands=bands,
            text_col=text_col, id_col=id_col,
        )
    losers = (
        dup_clusters(pairs, algorithm=algorithm)
        .where(F.col("id") != F.col("cluster_rep"))
        .select(F.col("id").alias(id_col))
    )
    return df.join(losers, id_col, "left_anti")


# ---------------------------------------------------- semantic dedup

def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    n_iter: int = 4,
    tau_num: int = 4,
    tau_den: int = 5,
    max_cluster_size: int | None = 100_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means
    clusters the embedding space, near-duplicate pairs are searched
    WITHIN clusters only, and one representative per duplicate pair
    survives.  Returns the surviving rows as (id, cluster).

    Survivor rule (deterministic, one pass): a row is dropped iff some
    same-cluster row with a SMALLER id is within the cosine threshold
    tau_num/tau_den.  (The transitive-closure variant is
    ``dup_clusters`` over the pair set.)

    Exactness: vectors are quantized to integer-valued doubles
    (floor(x*100 + 0.5)) before clustering — the same contract as
    operators/cluster.kmeans — and the threshold test runs in pure
    integer arithmetic (``dot >= 0 AND tau_den^2*dot^2 >=
    tau_num^2*|a|^2*|b|^2``), so survivors are bit-identical at any
    partitioning and replayable by a SQL oracle.

    Scale shape (the whole point of SemDeDup): clustering bounds the
    candidate set — the pair search is ONE equi-join on the cluster
    id, never an all-pairs scan; at 10^9 embeddings with k sized so
    clusters hold ~10^4-10^5 rows, per-cluster pair work stays
    executor-local and the only global stages are the k-centroid
    broadcast argmax of kmeans.  ``max_cluster_size`` ENFORCES that
    sizing (review r5): a degenerate mega-cluster (k too small, or a
    mode in the embedding space) is excluded from the pair search —
    its rows all survive — instead of quietly becoming an n² join; the
    same explicit, oracle-mirrored convention as minhash/simhash's
    ``max_bucket_size``.  The cap is a count + filter reusing the
    join's own exchange; None = uncapped."""
    from .cluster import kmeans

    q = df.select(
        F.col(id_col).alias("id"),
        F.transform(
            vec_col,
            lambda x: F.floor(x.cast("double") * 100.0 + 0.5),
        ).alias("v"),
    )
    assigned, _ = kmeans(q, vec_col="v", id_col="id", k=k, n_iter=n_iter)
    if max_cluster_size is not None:
        small = (
            assigned.groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("n_members"))
            .where(F.col("n_members") <= max_cluster_size)
            .select("cluster")
        )
        searchable = assigned.join(small, "cluster", "left_semi")
    else:
        searchable = assigned
    with_vec = searchable.join(
        q.select(
            "id",
            F.transform("v", lambda x: x.cast("long")).alias("vl"),
        ),
        "id",
    )
    n2 = F.aggregate("vl", F.lit(0).cast("long"), lambda a, x: a + x * x)
    # pair-search domain: capped clusters only; output domain: ALL rows
    # (a mega-cluster's members simply all survive)
    e = with_vec.select("id", "cluster", "vl", n2.alias("n2"))
    a = e.select(
        F.col("id").alias("id_a"), "cluster",
        F.col("vl").alias("va"), F.col("n2").alias("na2"),
    )
    b = e.select(
        F.col("id").alias("id_b"), "cluster",
        F.col("vl").alias("vb"), F.col("n2").alias("nb2"),
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    dropped = (
        a.join(b, "cluster")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("dot", dot)
        .where(
            (F.col("dot") >= 0)
            & (
                F.lit(tau_den * tau_den) * F.col("dot") * F.col("dot")
                >= F.lit(tau_num * tau_num) * F.col("na2") * F.col("nb2")
            )
        )
        .select("id_b")
        .distinct()
    )
    return assigned.join(
        dropped, assigned["id"] == dropped["id_b"], "left_anti"
    ).select("id", "cluster")


def duplicate_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_repeats: int = 2,
    key: str = "hash",
) -> DataFrame:
    """Span-level exact substring dedup (the operator behind
    "Deduplicating Training Data Makes Language Models Better", Lee et
    al. 2022 — their suffix-array pass finds verbatim substrings
    repeated across the corpus; this is the n-token-window form of the
    same detection, sized for a shuffle engine).

    Every n-token window of every document is emitted with its
    position; windows whose text occurs >= ``min_repeats`` times in
    the WHOLE corpus (within- or cross-document) mark their tokens as
    duplicated; overlapping marked windows merge into maximal spans.
    Output: (id, span_start, span_end, n_windows) with token-index
    spans, span_end exclusive — the caller cuts or drops those ranges
    before training.

    Scale shape (10^9 docs): the window explode is O(total corpus
    tokens) rows — the inherent cost of substring-level detection (a
    suffix array is the same size); the only wide exchange is the
    groupBy on the window KEY, map-side-combined, and the merge pass
    partitions by document (one narrow window function).  Whitespace
    tokenization keeps everything in the scan stage; no Python.

    ``key='hash'`` (default) shuffles a 128-bit fingerprint (two
    independently-seeded xxhash64 values) instead of the n-token window
    text — ~16 bytes/row on the wire instead of ~8n bytes, and the
    repeated-window join ships (id, pos, h1, h2) only.  A false mark
    needs BOTH 64-bit hashes to collide on different text: expected
    collisions ≈ pairs²/2^129, absent at any real corpus size.
    ``key='text'`` shuffles the verbatim window for bit-auditable
    exactness.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    if min_repeats < 2:
        raise ValueError("min_repeats must be >= 2")
    if key not in ("hash", "text"):
        raise ValueError("key must be 'hash' or 'text'")
    toks = F.filter(
        F.split(F.col(text_col), r"\s+"), lambda t: t != F.lit("")
    )
    d = docs.select(F.col(id_col).alias("id"), toks.alias("toks"))
    # guard: sequence(0, k) with k < 0 would count DOWN; short docs
    # emit no windows
    wins = d.where(F.size("toks") >= n).select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - n),
                lambda i: F.array_join(
                    F.slice("toks", i + 1, n), " "
                ),
            )
        ).alias("pos", "win"),
    )
    if key == "hash":
        # two independently-salted 64-bit fingerprints replace the
        # window text on the wire (16 bytes vs ~8n); computed in the
        # same scan stage, so the explode output never carries text
        wins = wins.select(
            "id",
            "pos",
            F.xxhash64("win").alias("h1"),
            F.xxhash64(F.lit("fh-span-salt"), F.col("win")).alias("h2"),
        )
        keys = ["h1", "h2"]
    else:
        keys = ["win"]
    rep = (
        wins.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("occ"))
        .where(F.col("occ") >= min_repeats)
        .select(*keys)
    )
    marked = wins.join(rep, keys).select("id", "pos")
    # merge overlapping [pos, pos + n) windows per doc: a window starts
    # a new span iff it begins after every previous window's end
    w = Window.partitionBy("id").orderBy("pos")
    spans = (
        marked.withColumn(
            "prev_max_end",
            F.max(F.col("pos") + n).over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
        )
        .withColumn(
            "is_new",
            (F.col("prev_max_end").isNull())
            | (F.col("pos") > F.col("prev_max_end")),
        )
        .withColumn(
            "span_id",
            F.sum(F.col("is_new").cast("int")).over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("id", "span_id")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + n).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .drop("span_id")
    )
    return spans


def cut_spans(
    docs: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply span-level dedup: remove the token ranges found by
    :func:`duplicate_spans` from each document — the "cut the repeated
    substring out of the corpus" application step of Lee et al. 2022
    (their dedup trains on the corpus with duplicate spans excised, not
    on whole-document drops).

    ``spans`` must carry (id, span_start, span_end) with token-index
    ranges, end exclusive (the duplicate_spans output).  Returns one
    row per input document: (``id_col``, text_dedup, n_removed) where
    ``text_dedup`` is the surviving tokens re-joined with single
    spaces (whitespace is normalized — token identity, not byte
    identity, is the contract, matching the detection pass) and
    ``n_removed`` counts cut tokens.  Docs without spans pass through
    with n_removed = 0; fully-cut docs yield '' (callers typically
    drop rows below a min-length threshold afterwards).

    Scale shape (10^9 docs): ONE hash equi-join on the doc id against
    the per-doc span lists (collect_list is bounded by doc_len/n spans
    per doc); the cut itself is a scan-stage higher-order filter over
    the token array — no explode, no Python, no second shuffle.
    """
    cuts = spans.groupBy(F.col("id").alias("_cid")).agg(
        F.collect_list(
            F.struct(
                F.col("span_start").alias("s"),
                F.col("span_end").alias("e"),
            )
        ).alias("_cuts")
    )
    toks = F.filter(
        F.split(F.col(text_col), r"\s+"), lambda t: t != F.lit("")
    )
    d = docs.select(
        F.col(id_col).alias(id_col), toks.alias("_toks")
    ).join(cuts, F.col(id_col) == F.col("_cid"), "left")
    kept = F.when(F.col("_cuts").isNull(), F.col("_toks")).otherwise(
        F.filter(
            "_toks",
            lambda t, i: ~F.exists(
                "_cuts", lambda c: (i >= c["s"]) & (i < c["e"])
            ),
        )
    )
    return d.select(
        id_col,
        F.array_join(kept, " ").alias("text_dedup"),
        (F.size("_toks") - F.size(kept)).cast("long").alias("n_removed"),
    )
