"""Unit tests for dedup + similarity operators (SURVEY.md §2.9)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pyspark.sql import Column

from kenshin_backup_spark.operators.dedup import (
    exact_dedup,
    ngram_jaccard_pairs,
    normalize_text,
    shingles_from_words,
    simhash_from_hashes,
    simhash_near_pairs,
)
from kenshin_backup_spark.operators.similarity import cosine_topk, knn_label_vote


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Inline shingle expression, the oracle for the shingle step of
    ``with_shingles`` on tiny inputs (hot paths materialize the words
    first, see ``shingles_from_words``)."""
    words = F.split(normalize_text(col), " ")
    return shingles_from_words(words, n)


def simhash64(col: Column | str, *, ngram: int = 2) -> Column:
    """Inline SimHash expression, the oracle for ``with_simhash``'s
    signature on tiny inputs (the inline words expression is re-run per
    element inside the lambdas)."""
    words = F.split(normalize_text(col), " ")
    grams = shingles_from_words(words, ngram)
    hashes = F.transform(grams, lambda g: F.xxhash64(g))
    return simhash_from_hashes(hashes)


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_exact_dedup_normalizes_whitespace_case(spark):
    df = _docs(spark, ["Hello  World", "hello world", "other text"])
    out = {r["keep_id"]: r["n_copies"] for r in exact_dedup(df).collect()}
    assert out == {0: 2, 2: 1}


def test_word_shingles_short_doc_empty(spark):
    df = _docs(spark, ["one two", "one two three four"])
    rows = df.select("doc_id", word_shingles("text", 3).alias("sh")).collect()
    got = {r["doc_id"]: r["sh"] for r in rows}
    assert got[0] == []
    assert got[1] == ["one two three", "two three four"]


def test_ngram_jaccard_detects_near_dup(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    other = "completely different words appear in this unrelated document body"
    df = _docs(spark, [base, near, other])
    pairs = ngram_jaccard_pairs(df, n=3, threshold=0.3).collect()
    assert len(pairs) == 1
    p = pairs[0]
    assert (p["id_a"], p["id_b"]) == (0, 1)
    assert 0.5 < p["jaccard"] < 1.0


def test_simhash_identical_and_near(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = _docs(spark, [base, base, "wholly distinct content here now"])
    sigs = {r["doc_id"]: r["sig"] for r in
            df.select("doc_id", simhash64("text").alias("sig")).collect()}
    assert sigs[0] == sigs[1]
    pairs = simhash_near_pairs(df, max_hamming=3).collect()
    assert any((p["id_a"], p["id_b"]) == (0, 1) and p["hamming"] == 0 for p in pairs)


def test_cosine_topk_exact(spark):
    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = cosine_topk(df.where("vec_id = 0"), df, k=2).collect()
    ranked = sorted(out, key=lambda r: r["rank"])
    assert [r["neighbor_id"] for r in ranked] == [1, 2]
    assert ranked[0]["cosine"] > 0.99


def test_knn_label_vote_majority_and_tiebreak(spark):
    topk = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 1), (0, 12, 2), (1, 10, 1), (1, 12, 2)],
        "query_id long, neighbor_id long, rank long",
    ).select("query_id", "neighbor_id")
    labels = spark.createDataFrame(
        [(10, 5), (11, 5), (12, 7)], "vec_id long, label int"
    )
    out = {r["query_id"]: r["predicted_label"] for r in
           knn_label_vote(topk, labels).collect()}
    assert out[0] == 5          # majority
    assert out[1] == 5          # tie → smaller label


def test_connected_components_chain_and_singletons(spark):
    from kenshin_backup_spark.operators.dedup import connected_components

    # chain 1-2-3 (transitive cluster), pair 10-11, singleton 20.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 20)], "id long")
    out = {r["id"]: r["component"] for r in
           connected_components(edges, nodes=nodes).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20}


def test_connected_components_cycle_and_cross_links(spark):
    from kenshin_backup_spark.operators.dedup import connected_components

    # two rings bridged by one edge → single component labeled by min id.
    edges = spark.createDataFrame(
        [(5, 6), (6, 7), (7, 5), (8, 9), (9, 5)], "id_a long, id_b long"
    )
    out = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert set(out.values()) == {5}
    assert set(out) == {5, 6, 7, 8, 9}


def test_star_cc_agrees_with_propagation_random_graphs(spark):
    """Large-star/small-star must produce identical labels to plain min-label
    propagation on random graphs (chains, cycles, forests, singletons)."""
    import random

    from kenshin_backup_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(7)
    for trial in range(3):
        n = 40
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randrange(10, 45))
        ]
        # plus a long chain to exercise multi-round contraction
        base = 100 * (trial + 1)
        edges += [(base + i, base + i + 1) for i in range(12)]
        e = spark.createDataFrame(edges, "id_a long, id_b long")
        nodes = spark.createDataFrame(
            [(i,) for i in range(n)] + [(base + i,) for i in range(13)], "id long"
        )
        a = {r["id"]: r["component"]
             for r in connected_components(e, nodes=nodes).collect()}
        # small_graph_max_edges=0 pins the STAR ROUNDS themselves (the
        # r15 small-graph fast path would otherwise absorb these sizes)
        b = {r["id"]: r["component"]
             for r in connected_components_star(
                 e, nodes=nodes, small_graph_max_edges=0).collect()}
        assert a == b, f"trial {trial}: star CC disagrees with propagation"
        # and the fast path (default threshold) must agree with both
        c = {r["id"]: r["component"]
             for r in connected_components_star(e, nodes=nodes).collect()}
        assert a == c, f"trial {trial}: union-find fast path disagrees"


def test_star_cc_long_chain_converges_fast(spark):
    """A 60-node chain exceeds plain propagation's default round budget per
    node distance, but star contraction needs only O(log n) rounds."""
    from kenshin_backup_spark.operators.dedup import connected_components_star

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "id_a long, id_b long"
    )
    out = connected_components_star(edges, max_iters=10, small_graph_max_edges=0)
    got = {r["id"]: r["component"] for r in out.collect()}
    assert got == {i: 0 for i in range(61)}


def test_srp_bucketed_pairs_subset_of_exact(spark):
    """Every SRP-bucketed near-pair must appear in the all-pairs result with
    the same cosine (candidates are a subset; verification is exact), and
    self-similar duplicates (cosine 1.0) must always be recalled (identical
    vectors share every band)."""
    import random

    from kenshin_backup_spark.operators.similarity import (
        cosine_near_pairs,
        cosine_near_pairs_bucketed,
    )

    rng = random.Random(3)
    rows = []
    for i in range(30):
        rows.append((i, [rng.uniform(-1, 1) for _ in range(64)]))
    rows.append((100, rows[0][1]))   # exact duplicate of vec 0
    rows.append((101, [v * 1.01 for v in rows[1][1]]))  # scaled ⇒ cosine≈1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in cosine_near_pairs(df, threshold=0.9).collect()
    }
    bucketed = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in cosine_near_pairs_bucketed(df, threshold=0.9).collect()
    }
    assert set(bucketed) <= set(exact)
    for k, v in bucketed.items():
        assert v == exact[k]
    assert (0, 100) in bucketed          # identical vectors never missed
    assert (1, 101) in bucketed


def test_srp_topk_subset_of_exact_with_same_scores(spark):
    """srp_topk's neighbors are a subset of the brute-force candidate
    universe with identical quantized-exact cosines; identical vectors
    (sharing every band) are always each other's rank-1."""
    import random

    from kenshin_backup_spark.operators.similarity import cosine_topk, srp_topk

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(40)]
    rows.append((200, rows[0][1]))  # exact duplicate of vec 0
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = df.where("vec_id < 5 OR vec_id = 200")

    exact_all = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in cosine_topk(queries, df, k=1000).collect()
    }
    approx = srp_topk(queries, df, k=5).collect()
    assert len(approx) > 0
    for r in approx:
        key = (r["query_id"], r["neighbor_id"])
        assert key in exact_all
        assert r["cosine"] == exact_all[key]
    rank1 = {r["query_id"]: r["neighbor_id"] for r in approx if r["rank"] == 1}
    assert rank1[0] == 200 and rank1[200] == 0  # identical pair never missed


def test_minhash_portable_recalls_duplicates_exact_jaccard(spark):
    """Portable MinHash: identical docs (identical signatures ⇒ identical
    band keys) are always recalled; reported jaccard equals the exact
    shingle-set jaccard from the posting-join twin; no pair below the
    threshold survives the verify stage."""
    from kenshin_backup_spark.operators.dedup import (
        minhash_portable_pairs,
        ngram_jaccard_pairs,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the old wooden fence near the garden gate"
    )
    rows = [
        (0, base),
        (1, base),                                  # exact dup
        (2, base.replace("lazy", "sleepy")),        # near dup
        (3, "completely different text about spark shuffles and "
            "partitions and adaptive query execution at scale"),
        (4, "ok"),                                  # < 3 words: no shingles
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got = {
        (r["id_a"], r["id_b"]): (r["jaccard"], r["common"])
        for r in minhash_portable_pairs(df, threshold=0.3).collect()
    }
    exact = {
        (r["id_a"], r["id_b"]): (r["jaccard"], r["common"])
        for r in ngram_jaccard_pairs(df, threshold=0.0).collect()
    }
    assert (0, 1) in got                      # identical docs always recalled
    assert got[(0, 1)][0] == 1.0
    for k, v in got.items():
        assert v == exact[k]                  # verify stage is exact
        assert v[0] >= 0.3
    assert all(4 not in k for k in got)       # shingle-less doc excluded


def test_ann_paths_recall_on_clustered_vectors(spark):
    """Recall evidence for the rows-only ANN twins (BRP-LSH, IVF): on
    well-separated clusters (the embeddings fixture's ground-truth shape),
    each query's approximate top-5 must substantially overlap the exact
    top-5, and every returned cosine must equal the exact score (the
    approximation is WHICH candidates are scored, never the score)."""
    import random

    from kenshin_backup_spark.operators.similarity import (
        brp_lsh_topk,
        cosine_topk,
        ivf_topk,
    )

    rng = random.Random(5)
    centers = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(4)]
    rows = []
    vid = 0
    for ci, c in enumerate(centers):
        for _ in range(25):
            rows.append((vid, [x + rng.uniform(-0.05, 0.05) for x in c]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = df.where("vec_id % 25 = 0")  # one query per cluster

    exact = {}
    for r in cosine_topk(queries, df, k=5).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    exact_scores = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in cosine_topk(queries, df, k=1000).collect()
    }

    for name, fn in (
        ("ivf", lambda: ivf_topk(queries, df, k=5, n_centroids=4, nprobe=2)),
        ("brp", lambda: brp_lsh_topk(queries, df, k=5)),
    ):
        got = {}
        rows_out = fn().collect()
        for r in rows_out:
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        # per-query overlap with exact top-5 (clusters are well separated,
        # so probing the right bucket recovers most true neighbors)
        total_overlap = sum(
            len(got.get(q, set()) & nb) for q, nb in exact.items()
        )
        assert total_overlap >= 0.6 * sum(len(nb) for nb in exact.values()), name
        if name == "ivf":  # ivf reports quantized-exact cosines
            for r in rows_out:
                key = (r["query_id"], r["neighbor_id"])
                assert r["cosine"] == exact_scores[key], (name, key)


def test_kmeans_clusters_deterministic_and_total(spark):
    """emb_kmeans_clusters (rows-only): seeded k-means must partition ALL
    vectors into exactly k clusters and reproduce identically across runs
    in the same session (the determinism the rows-only check relies on).
    No purity assertion: the fixture's labels are not geometrically
    separable (measured ~0.17 at k=10)."""
    from kenshin_backup_spark.queries.batch13 import emb_kmeans_clusters

    sf = "/root/testdata/sf0.001"
    a = sorted(tuple(r) for r in emb_kmeans_clusters(spark, sf).collect())
    b = sorted(tuple(r) for r in emb_kmeans_clusters(spark, sf).collect())
    assert a == b
    assert len(a) == 10
    assert sum(r[1] for r in a) == 500  # every vector assigned
