"""Tests for the training-data operators (dedup, similarity, text,
multimodal) on the driver-generated /root/testdata tables + synthetic
near-duplicates."""

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from face_hunter_spark.operators import dedup, multimodal, similarity
from face_hunter_spark.operators import text as T
from face_hunter_spark.operators.linking import MATCHERS
from tests.conftest import SF_DIR

from tests.conftest import requires_testdata

pytestmark = requires_testdata


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def dup_corpus(spark):
    """Corpus with planted exact + near duplicates."""
    base = "the quick brown fox jumps over the lazy dog again and again ok"
    rows = [
        {"doc_id": 1, "text": base},
        {"doc_id": 2, "text": base},                      # exact dup
        {"doc_id": 3, "text": base.replace("lazy", "sleepy")},  # near dup
        {"doc_id": 4, "text": "completely different content about spark "
                              "query engines and shuffle partitions"},
        {"doc_id": 5, "text": "The quick brown fox JUMPS over the lazy dog "
                              "again and again ok"},       # case/punct dup
    ]
    return spark.createDataFrame(pd.DataFrame(rows))


def test_exact_dedup(spark, dup_corpus):
    groups = dedup.exact_duplicate_groups(dup_corpus).collect()
    assert len(groups) == 1
    assert sorted(groups[0].member_ids) == [1, 2, 5]  # normalization folds case
    kept = sorted(r.doc_id for r in dedup.dedup_exact(dup_corpus).collect())
    assert kept == [1, 3, 4]


def test_jaccard_pairs(spark, dup_corpus):
    pairs = {(r.id_a, r.id_b): r.jaccard
             for r in dedup.jaccard_pairs(dup_corpus, threshold=0.5).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 5) in pairs and pairs[(1, 5)] == 1.0
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0
    assert not any(4 in p for p in pairs)


def test_minhash_lsh_finds_planted_dups(spark, dup_corpus):
    got = {(r.id_a, r.id_b) for r in
           dedup.minhash_lsh_pairs(dup_corpus, threshold=0.5).collect()}
    # exact dups always collide; the near-dup pair survives verification
    assert {(1, 2), (1, 5), (2, 5)} <= got
    assert all(4 not in p for p in got)


def test_minhash_recall_vs_exact(spark, documents):
    """The driver corpus has planted near-duplicates.  LSH-found pairs
    are exact-verified (precision 1.0 by construction); recall vs the
    exact inverted-index join must be near-total at J>=0.9 (collision
    probability 1-(1-J^3)^4 > 0.97 there)."""
    exact = {(r.id_a, r.id_b) for r in
             dedup.jaccard_pairs(documents, threshold=0.9).collect()}
    lsh = {(r.id_a, r.id_b) for r in
           dedup.minhash_lsh_pairs(documents, threshold=0.9).collect()}
    assert exact, "driver corpus should contain planted near-duplicates"
    assert lsh <= exact
    assert len(lsh & exact) / len(exact) >= 0.95


def test_dedup_caps_drop_degenerate_groups(spark):
    """A boilerplate corpus (many identical docs) stops producing
    quadratic candidates once the df / bucket caps bind."""
    import pandas as pd

    rows = [{"doc_id": i, "text": "exactly the same boilerplate text "
                                  "repeated in every document body"}
            for i in range(12)]
    rows.append({"doc_id": 99, "text": "one unique document about spark "
                                       "plans and shuffle exchanges"})
    corpus = spark.createDataFrame(pd.DataFrame(rows))
    # uncapped: all 12C2=66 boilerplate pairs
    assert dedup.jaccard_pairs(corpus, threshold=0.9, max_df=None).count() == 66
    assert dedup.minhash_lsh_pairs(
        corpus, threshold=0.9, max_bucket_size=None).count() == 66
    # capped below the group size: the degenerate group disappears
    assert dedup.jaccard_pairs(corpus, threshold=0.9, max_df=5).count() == 0
    assert dedup.minhash_lsh_pairs(
        corpus, threshold=0.9, max_bucket_size=5).count() == 0


def test_cosine_topk_exact_vs_fast(spark, embeddings):
    qs = embeddings.select(F.col("vec_id").alias("q_id"), "embedding").limit(30)
    corpus = embeddings.select(F.col("vec_id").alias("c_id"), "embedding")
    slow = {(r.q_id, r.rank): r.c_id
            for r in similarity.cosine_topk(qs, corpus, k=5).collect()}
    fast = {(r.q_id, r.rank): r.c_id
            for r in similarity.cosine_topk_fast(
                qs, corpus.toPandas(), k=5).collect()}
    assert slow == fast
    # self is always rank 1
    assert all(slow[(q, 1)] == q for (q, rk) in slow if rk == 1)


def test_expr_ann_variants_recall(spark, embeddings):
    """The ANN forms (built-in expressions, exactly oracle-checkable)
    must recall >= 0.8 (LSH) and >= 0.7 (IVF) of the exact top-k."""
    qs = embeddings.select(F.col("vec_id").alias("q_id"), "embedding").limit(50)
    corpus = embeddings.select(F.col("vec_id").alias("c_id"), "embedding")
    exact = {(r.q_id, r.c_id) for r in
             similarity.cosine_topk(qs, corpus, k=3).collect()}
    lsh = {(r.q_id, r.c_id) for r in
           similarity.ann_lsh_topk_expr(qs, corpus, k=3, bands=24,
                                        rows_per_band=3, dim=64).collect()}
    assert len(exact & lsh) / len(exact) >= 0.8
    ivf = {(r.q_id, r.c_id) for r in
           similarity.ivf_topk_expr(qs, corpus, k=3, n_cells=8,
                                    n_probe=4).collect()}
    assert len(exact & ivf) / len(exact) >= 0.7


def test_text_ops(spark, documents):
    out = documents.select(
        "doc_id",
        T.token_count(F.col("text")).alias("n_tokens"),
        T.lang_id(F.col("text")).alias("lang_pred"),
        T.quality_score(F.col("text")).alias("quality"),
        T.doc_fingerprint(F.col("text")).alias("fp"),
        T.rolling_fingerprint(F.col("text")).alias("rfp"),
    ).collect()
    assert all(r.n_tokens > 0 for r in out)
    assert all(0.0 <= r.quality <= 1.0 for r in out)
    assert all(len(r.fp) == 32 and len(r.rfp) == 32 for r in out)
    assert {r.lang_pred for r in out} <= {"en", "de", "es", "fr", "und"}


def test_multimodal_plumbing(spark):
    media = multimodal.synth_media_df(spark, 24)
    dec = multimodal.decode_media(media).collect()
    assert len(dec) == 24 and all(r.ok for r in dec)
    assert all(r.width >= 160 and r.height >= 90 for r in dec)
    feats = multimodal.extract_features(media).collect()
    assert all(len(r.feature) == multimodal.FEATURE_DIM for r in feats)
    # determinism: rerun gives identical features
    feats2 = multimodal.extract_features(media).collect()
    assert {r.media_id: r.feature for r in feats} == {
        r.media_id: r.feature for r in feats2
    }
    # real codec is an explicit stub
    with pytest.raises(NotImplementedError):
        multimodal.decode_media(media, codec="real")


@pytest.mark.parametrize("strategy", sorted(MATCHERS))
def test_matcher_score_agrees_with_bruteforce(spark, strategy):
    """Every broadcast-gallery matcher (linking.MATCHERS: driver build
    -> worker prepare -> batch score, the fused vision stage's kernel)
    must agree with exact brute-force 1-NN on nearly every face at its
    default parameters (LSH collision probability for same-entity
    jitter is high)."""
    from face_hunter_spark import synth
    from face_hunter_spark.operators import linking

    gal = synth.make_gallery_pdf(n_entities=12, thumbs_per_entity=6,
                                 distractors=2)
    arrays = linking._gallery_arrays(gal)
    labels, mat, norms = arrays
    m = MATCHERS[strategy]
    state = m.prepare(m.build(arrays))
    rng = np.random.default_rng(7)
    # queries: jittered gallery rows (match expected) + random noise
    # vectors (unknown expected)
    idx = rng.integers(0, len(mat), 300)
    q_match = mat[idx] + rng.standard_normal((300, mat.shape[1])).astype(
        np.float32) * 0.04
    q_noise = rng.standard_normal((60, mat.shape[1])).astype(np.float32)
    q = np.vstack([q_match, q_noise]).astype(np.float32)

    lab, _ = m.score(q, state, 0.6)
    qn = np.linalg.norm(q, axis=1)
    d = 1.0 - (q @ mat.T) / (qn[:, None] * norms[None, :])
    best = np.argmin(d, axis=1)
    brute = np.where(d[np.arange(len(q)), best] < 0.6,
                     labels[best], "unknown")
    agree = (lab == brute).mean()
    assert agree >= 0.95, agree
    # noise queries must stay unknown under both
    assert all(x == "unknown" for x in lab[300:])


def test_dedup_corpus_transitive_clusters(spark):
    """End-to-end corpus dedup: planted near-identical chains collapse
    to one representative each (transitively — a~b, b~c with a,c below
    threshold still one cluster), distinct docs all survive."""
    import pandas as pd

    base = ("the quick brown fox jumps over the lazy dog while the "
            "cat watches from the warm windowsill with great interest "
            "in the unfolding chase across the yard")
    rows = []
    # cluster 0: docs 0,1,2 near-identical chain
    rows.append((0, base))
    rows.append((1, base.replace("lazy", "sleepy")))
    rows.append((2, base.replace("lazy", "sleepy").replace("warm", "cold")))
    # cluster 1: docs 10,11
    other = ("completely different subject matter entirely about "
             "spark physical plans shuffle exchanges and the adaptive "
             "query execution engine rewriting joins at runtime daily")
    rows.append((10, other))
    rows.append((11, other.replace("daily", "nightly")))
    # distinct docs
    for i, txt in [(20, "unrelated short text about gardening tips and "
                        "soil acidity for tomato plants in summer heat"),
                   (21, "a treatise on medieval naval logistics and "
                        "the provisioning of long sea voyages by sail")]:
        rows.append((i, txt))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    )
    survivors = {
        r.doc_id
        for r in dedup.dedup_corpus(df, threshold=0.5).collect()
    }
    assert survivors == {0, 10, 20, 21}
    # clusters table shape
    pairs = dedup.minhash_lsh_pairs(df, threshold=0.5)
    cl = {(r.id, r.cluster_rep) for r in dedup.dup_clusters(pairs).collect()}
    assert (1, 0) in cl and (2, 0) in cl and (11, 10) in cl


def test_ngram_repetition_ratio(spark):
    from face_hunter_spark.operators.text import ngram_repetition_ratio

    rows = [
        (1, "buy now buy now buy now buy now"),     # heavy repetition
        (2, "each word here appears exactly once"),  # none
        (3, "one"),                                  # < n tokens
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r.doc_id: r.rep for r in df.select(
        "doc_id", F.round(ngram_repetition_ratio(F.col("text"), 2), 6)
        .alias("rep")).collect()}
    # doc 1: 7 bigrams, 2 distinct ('buy now', 'now buy') -> 5/7
    assert got[1] == round(1.0 - 2.0 / 7.0, 6)
    assert got[2] == 0.0
    assert got[3] == 0.0
    assert got[4] == 0.0


def test_redact_pii_and_counts(spark):
    from face_hunter_spark.operators.text import pii_counts, redact_pii

    text = ("mail bob.smith+x@corp.example.org or visit 10.0.255.7, "
            "call +44 (0)20 7946-0958 ok")
    df = spark.createDataFrame([(text,)], "text string")
    counts = pii_counts(F.col("text"))
    r = df.select(
        redact_pii(F.col("text")).alias("red"),
        counts["email"].alias("e"), counts["ip"].alias("i"),
        counts["phone"].alias("p"),
    ).first()
    assert "<EMAIL>" in r.red and "<IP>" in r.red and "<PHONE>" in r.red
    assert "bob.smith" not in r.red and "10.0.255.7" not in r.red
    assert "7946" not in r.red
    assert (r.e, r.i, r.p) == (1, 1, 1)
    # ordering: the IP must NOT be swallowed by the phone pattern
    assert "<IP>," in r.red


# ------------------------------------------------- span-level dedup


def test_duplicate_spans_marks_shared_substring(spark):
    from face_hunter_spark.operators.dedup import duplicate_spans

    docs = spark.createDataFrame([
        ("d1", "the quick brown fox jumps over the lazy dog and then "
               "some unique tail one"),
        ("d2", "prefix words here the quick brown fox jumps over the "
               "lazy dog end bits"),
        ("d3", "totally unrelated content with no repeats at all in "
               "this document text"),
    ], "doc_id string, text string")
    got = sorted(map(tuple, duplicate_spans(docs, n=4).collect()))
    # the 9-token shared phrase = 6 overlapping 4-gram windows,
    # merged into one maximal span per document
    assert got == [("d1", 0, 9, 6), ("d2", 3, 12, 6)]


def test_duplicate_spans_within_one_doc(spark):
    from face_hunter_spark.operators.dedup import duplicate_spans

    docs = spark.createDataFrame(
        [("d1", "a b c d X Y Z a b c d")], "doc_id string, text string"
    )
    got = sorted(map(tuple, duplicate_spans(docs, n=4).collect()))
    # 'a b c d' occurs twice IN the same doc -> both spans marked
    assert got == [("d1", 0, 4, 1), ("d1", 7, 11, 1)]


def test_duplicate_spans_disjoint_spans_stay_separate(spark):
    from face_hunter_spark.operators.dedup import duplicate_spans

    docs = spark.createDataFrame([
        ("d1", "p q r s GAP1 GAP2 w x y z"),
        ("d2", "p q r s OTHER FILL w x y z"),
    ], "doc_id string, text string")
    got = sorted(map(tuple, duplicate_spans(docs, n=4).collect()))
    assert got == [
        ("d1", 0, 4, 1), ("d1", 6, 10, 1),
        ("d2", 0, 4, 1), ("d2", 6, 10, 1),
    ]


def test_duplicate_spans_short_docs_and_validation(spark):
    from face_hunter_spark.operators.dedup import duplicate_spans

    docs = spark.createDataFrame(
        [("d1", "too short"), ("d2", "too short")],
        "doc_id string, text string",
    )
    assert duplicate_spans(docs, n=8).count() == 0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="min_repeats"):
        duplicate_spans(docs, n=2, min_repeats=1)
    with _pytest.raises(ValueError, match="n must"):
        duplicate_spans(docs, n=0)
    with _pytest.raises(ValueError, match="key must"):
        duplicate_spans(docs, n=2, key="md5")


def test_duplicate_spans_hash_key_matches_text_key(spark):
    from face_hunter_spark.operators.dedup import duplicate_spans

    docs = spark.createDataFrame([
        ("d1", "the quick brown fox jumps over the lazy dog and then "
               "some unique tail one a b c d more a b c d"),
        ("d2", "prefix words here the quick brown fox jumps over the "
               "lazy dog end bits"),
        ("d3", "totally unrelated content with no repeats at all in "
               "this document text"),
    ], "doc_id string, text string")
    by_hash = sorted(map(tuple, duplicate_spans(docs, n=4, key="hash").collect()))
    by_text = sorted(map(tuple, duplicate_spans(docs, n=4, key="text").collect()))
    assert by_hash == by_text and len(by_hash) > 0


def test_cut_spans_applies_and_passes_through(spark):
    from face_hunter_spark.operators.dedup import duplicate_spans, cut_spans

    docs = spark.createDataFrame([
        ("a", "one two three four five six seven eight nine unique"),
        ("b", "pre one two three four five six seven eight nine post"),
        ("c", "no repeats in here at all thanks"),
    ], "doc_id string, text string")
    got = sorted(
        map(tuple, cut_spans(docs, duplicate_spans(docs, n=4)).collect())
    )
    assert got == [
        ("a", "unique", 9),
        ("b", "pre post", 9),
        ("c", "no repeats in here at all thanks", 0),
    ]


def test_cut_spans_fully_cut_doc_and_multiple_spans(spark):
    from face_hunter_spark.operators.dedup import cut_spans

    docs = spark.createDataFrame([
        ("a", "w x y z"),
        ("b", "k0 k1 k2 k3 k4 k5 k6 k7 k8 k9"),
    ], "doc_id string, text string")
    spans = spark.createDataFrame(
        [("a", 0, 4, 1), ("b", 1, 3, 1), ("b", 6, 8, 1)],
        "id string, span_start int, span_end int, n_windows int",
    )
    got = sorted(map(tuple, cut_spans(docs, spans).collect()))
    assert got == [
        ("a", "", 4),
        ("b", "k0 k3 k4 k5 k8 k9", 4),
    ]
