"""Planted-duplicate tests for X1/X2 dedup and X3 similarity operators."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from bigdatapipeline_steamreviews_spark.operators.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_signatures,
)
from bigdatapipeline_steamreviews_spark.operators.similarity import (
    cosine_topk,
    embedding_near_dup_pairs,
    sign_bucket,
)

BASE = "the quick brown fox jumps over the lazy dog near the old river bank today"


def _docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact dup of 0
        (2, BASE.replace("today", "tonight")),  # near dup of 0
        (3, "completely different words about spark query engines and shuffles here"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_survivor_and_counts(spark):
    got = {r.keep_id: r.n_copies for r in exact_dedup(_docs(spark)).collect()}
    assert got[0] == 2  # docs 0,1 collapse, min id survives
    assert got[2] == 1 and got[3] == 1


def test_ngram_jaccard_finds_planted_pair(spark):
    pairs = {
        (r.a_id, r.b_id): r.jaccard
        for r in ngram_jaccard_pairs(_docs(spark), min_jaccard=0.3).collect()
    }
    assert pairs[(0, 1)] == 1.0  # identical
    assert 0.5 < pairs[(0, 2)] < 1.0  # near dup
    assert (0, 3) not in pairs


def test_minhash_lsh_candidates(spark):
    sigs = minhash_signatures(_docs(spark), k=8)
    cands = {(r.a_id, r.b_id) for r in lsh_candidate_pairs(sigs, k=8, bands=4).collect()}
    assert (0, 1) in cands  # identical docs always collide
    assert (0, 3) not in cands and (1, 3) not in cands and (2, 3) not in cands


def test_simhash_near_dup_small_hamming(spark):
    sig = {r.doc_id: r.simhash for r in simhash_signatures(_docs(spark), bits=16).collect()}
    assert sig[0] == sig[1]
    ham_near = bin(sig[0] ^ sig[2]).count("1")
    ham_far = bin(sig[0] ^ sig[3]).count("1")
    assert ham_near < ham_far


def _embs(spark):
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0, 0.0, 0.0]),
        Row(vec_id=1, embedding=[0.999, -0.04, 0.0, 0.0]),  # near dup of 0
        Row(vec_id=2, embedding=[0.0, 1.0, 0.0, 0.0]),
        Row(vec_id=3, embedding=[-1.0, 0.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows)


def test_cosine_topk_ordering(spark):
    got = cosine_topk(_embs(spark), F.col("vec_id") == 0, k=3).collect()
    assert [r.neighbor_id for r in got] == [1, 2, 3]
    assert got[0].cosine > 0.99


def test_embedding_near_dup_bucketed(spark):
    pairs = {(r.a_id, r.b_id) for r in embedding_near_dup_pairs(_embs(spark), 0.9, bits=2).collect()}
    assert pairs == {(0, 1)}  # 0-1 share bucket + high cosine; 3 in other bucket


def test_sign_bucket_bits(spark):
    df = _embs(spark).select("vec_id", sign_bucket(F.col("embedding"), 2).alias("b"))
    got = {r.vec_id: r.b for r in df.collect()}
    assert got[0] == 1 and got[1] == 1 and got[2] == 2 and got[3] == 0


def test_connected_components_chain_and_star(spark):
    from bigdatapipeline_steamreviews_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        # chain 1-2-3 (transitive: 3 never pairs with 1 directly), star 10<-{11,12},
        # isolated pair (20, 21)
        [(2, 1), (2, 3), (10, 11), (10, 12), (20, 21)],
        "a_id long, b_id long",
    )
    got = {r.doc_id: r.cluster_id for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_deep_chain_converges_logarithmically(spark):
    from bigdatapipeline_steamreviews_spark.operators.dedup import (
        connected_components,
    )

    # A 33-node chain has diameter 32; one-hop propagation would need ~32
    # rounds, pointer jumping must land it well under 8.
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(32)], "a_id long, b_id long"
    )
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components(chain, max_iter=8).collect()
    }
    assert got == {i: 0 for i in range(33)}


def test_connected_components_raises_instead_of_partial_labels(spark):
    import pytest

    from bigdatapipeline_steamreviews_spark.operators.dedup import (
        connected_components,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(32)], "a_id long, b_id long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=2)


def test_salted_join_rejects_right_preserving_modes(spark):
    import pytest

    from bigdatapipeline_steamreviews_spark.operators.partitioning import salted_join

    left = spark.createDataFrame([(1, "a")], "k long, v string")
    right = spark.createDataFrame([(2, "b")], "k long, w string")
    with pytest.raises(ValueError, match="inner.*left"):
        salted_join(left, right, "k", n_salts=4, how="full")


def test_multiprobe_recovers_adjacent_buckets(spark):
    from bigdatapipeline_steamreviews_spark.operators.similarity import (
        cosine_topk_bucketed,
        cosine_topk_multiprobe,
    )

    emb = _embs(spark)
    single = {
        r.neighbor_id
        for r in cosine_topk_bucketed(emb, F.col("vec_id") == 0, k=3, bits=2).collect()
    }
    multi = {
        r.neighbor_id
        for r in cosine_topk_multiprobe(emb, F.col("vec_id") == 0, k=3, bits=2).collect()
    }
    # Bucket of query 0 (=1) holds only {0, 1}; probing the Hamming-1
    # buckets {0, 3} also reaches vec 3 (bucket 0). Vec 2 sits at
    # Hamming distance 2 (bucket 2) and stays correctly unprobed.
    assert single == {1}
    assert multi == {1, 3}


def test_ivf_topk_recall_vs_brute_force(spark):
    """Trained-centroid IVF with 3/16 probes recovers most of the exact
    top-5 neighbor sets (the labels cluster the corpus, so learned lists
    align with true neighborhoods)."""
    from bigdatapipeline_steamreviews_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_ivf,
    )
    from bigdatapipeline_steamreviews_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    pred = F.col("vec_id") < 10
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, pred, k=5).collect()
    }
    # n_lists ~ sqrt(N) for the ~50-vector fixture (the registered query
    # keeps the 16-list default for the 500+-vector scale factors).
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_ivf(emb, pred, k=5, n_lists=8, n_probe=3).collect()
    }
    assert len(exact) == len(approx)
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, recall


def test_ivf_scales_to_256_lists_without_plan_blowup(spark):
    """Centroids ride a broadcast join, not plan literals: 256 lists must
    neither explode the compiled plan nor change the operator contract.
    (The r1 implementation embedded n_lists x dim literal structs — fine
    at 16 lists, quadratic plan text at realistic list counts.)"""
    from bigdatapipeline_steamreviews_spark.operators.similarity import (
        cosine_topk_ivf,
    )
    from bigdatapipeline_steamreviews_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    pred = F.col("vec_id") < 5
    out = cosine_topk_ivf(emb, pred, k=5, n_lists=256, n_probe=8)
    # The plan stays metadata-sized: the centroid table is a scan +
    # broadcast, not an expression tree that grows with n_lists.
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert len(plan) < 100_000
    rows = out.collect()
    assert {r["query_id"] for r in rows} == {0, 1, 2, 3, 4}
    assert all(1 <= r["rank"] <= 5 for r in rows)


def test_assign_to_centroids_picks_nearest_with_tiebreak(spark):
    from bigdatapipeline_steamreviews_spark.operators.similarity import (
        assign_to_centroids,
    )

    emb = spark.createDataFrame(
        [(0, [0.9, 0.1]), (1, [0.1, 0.9]), (2, [0.5, 0.5])],
        "vec_id long, embedding array<float>",
    )
    cents = spark.createDataFrame(
        [(10, [1.0, 0.0]), (20, [0.0, 1.0]), (30, [0.5, 0.5])],
        "cluster long, centroid array<double>",
    )
    got = {
        r.vec_id: r.cluster
        for r in assign_to_centroids(emb, cents).select("vec_id", "cluster").collect()
    }
    assert got == {0: 10, 1: 20, 2: 30}

    # Equidistant centroids: deterministic tie-break to the smaller id.
    tie = spark.createDataFrame(
        [(40, [1.0, 0.0]), (5, [0.0, 1.0])], "cluster long, centroid array<double>"
    )
    mid = spark.createDataFrame([(0, [0.5, 0.5])], "vec_id long, embedding array<float>")
    assert assign_to_centroids(mid, tie).head().cluster == 5


def test_semantic_dedup_pairs_within_cluster_only(spark):
    from bigdatapipeline_steamreviews_spark.operators.similarity import (
        semantic_dedup_pairs,
    )

    # Two well-separated groups: 0/1 near-identical in group A; 3/4 in
    # group B are close enough to cluster together but below the cosine
    # threshold; 2 points away from everything.  Only (0,1) survives, and
    # no cross-cluster pair is ever scored.
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0], 1),
            (1, [0.99, 0.01, 0.0], 1),
            (2, [-1.0, 0.2, 0.0], 1),
            (3, [0.1, -1.0, 0.0], 2),
            (4, [0.0, -0.9, 0.5], 2),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    pairs = semantic_dedup_pairs(emb, min_cosine=0.9).collect()
    assert {(p.a_id, p.b_id) for p in pairs} == {(0, 1)}
    assert all(p.cosine >= 0.9 for p in pairs)


def test_cosine_topk_corpus_pred_filters_candidates(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 0),
            (1, [0.9, 0.1], 1),
            (2, [0.95, 0.05], 2),
            (3, [0.8, 0.2], 1),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    got = cosine_topk(
        emb, F.col("vec_id") == 0, k=3, corpus_pred=F.col("label") == 1
    ).collect()
    # Only label-1 candidates survive; vec 2 (closest overall) is excluded.
    assert [r.neighbor_id for r in got] == [1, 3]


def test_paragraph_dedup_strips_repeated_spans(spark):
    """Sub-document dedup: a span repeated across documents survives only
    at its first (min doc_id, span_idx) occurrence; unique spans are
    untouched and reassembly preserves in-document order."""
    from bigdatapipeline_steamreviews_spark.operators.dedup import paragraph_dedup

    span_a = " ".join(f"a{i}" for i in range(4))   # shared boilerplate
    span_b = " ".join(f"b{i}" for i in range(4))   # unique to doc 0
    span_c = " ".join(f"c{i}" for i in range(4))   # unique to doc 1
    rows = [
        (0, f"{span_a} {span_b}"),          # spans: [a, b]
        (1, f"{span_a} {span_c}"),          # spans: [a, c] — a is a dup
        (2, f"{span_a} {span_a}"),          # both spans dups of doc 0's a
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: r for r in paragraph_dedup(df, span_words=4).collect()
    }
    assert (got[0].n_spans, got[0].n_kept) == (2, 2)
    assert got[0].cleaned_text == f"{span_a} {span_b}"
    assert (got[1].n_spans, got[1].n_kept) == (2, 1)
    assert got[1].cleaned_text == span_c        # boilerplate stripped
    assert (got[2].n_spans, got[2].n_kept) == (2, 0)
    assert got[2].cleaned_text == ""            # nothing original survives


def test_paragraph_dedup_partial_tail_span(spark):
    """Documents whose length is not a span multiple keep a short tail
    span; an empty-ish doc still yields one span."""
    from bigdatapipeline_steamreviews_spark.operators.dedup import paragraph_dedup

    rows = [(0, "w1 w2 w3 w4 w5"), (1, "solo")]
    got = {
        r.doc_id: r
        for r in paragraph_dedup(
            spark.createDataFrame(rows, ["doc_id", "text"]), span_words=4
        ).collect()
    }
    assert got[0].n_spans == 2 and got[0].cleaned_text == "w1 w2 w3 w4 w5"
    assert got[1].n_spans == 1 and got[1].cleaned_text == "solo"


def test_rp_lsh_buckets_and_candidates(spark):
    """Random-hyperplane LSH: planes are deterministic (md5-derived), every
    candidate pair shares the query's bucket, and every returned neighbor's
    cosine equals the brute-force cosine for that pair (the approximation
    only restricts the candidate set, never perturbs the metric)."""
    from bigdatapipeline_steamreviews_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_rp,
        rp_bucket,
        rp_hyperplanes,
    )
    from bigdatapipeline_steamreviews_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    planes = rp_hyperplanes(8, 64)
    assert planes == rp_hyperplanes(8, 64)  # deterministic
    assert all(-1.0 <= v <= 1.0 for row in planes for v in row)

    emb = load_table(spark, SF_DIR, "embeddings")
    pred = F.col("vec_id") < 10
    got = cosine_topk_rp(emb, pred, k=5, bits=8, dim=64).collect()
    assert got, "no candidates survived bucketing"
    buckets = {
        r["vec_id"]: r["bucket"]
        for r in emb.select("vec_id", rp_bucket(F.col("embedding"), planes).alias("bucket")).collect()
    }
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in cosine_topk(emb, pred, k=len(buckets)).collect()
    }
    for r in got:
        assert buckets[r["query_id"]] == r["bucket"] == buckets[r["neighbor_id"]]
        assert r["cosine"] == exact[(r["query_id"], r["neighbor_id"])]


def test_fuzzy_dedup_survivors_complement(spark):
    """Survivors = corpus minus every non-minimum member of each LSH
    duplicate cluster: sizes and membership must complement exactly."""
    from bigdatapipeline_steamreviews_spark.operators.dedup import (
        connected_components,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from bigdatapipeline_steamreviews_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    pairs = lsh_candidate_pairs(minhash_signatures(docs, k=8), k=8, bands=4)
    # One components run, materialized: it is the iterative (multi-round)
    # part of the test, and the join below must see the SAME labels.
    labels_df = connected_components(pairs).localCheckpoint()
    labels = labels_df.collect()
    dropped = {r["doc_id"] for r in labels if r["cluster_id"] != r["doc_id"]}
    survivors = {
        r["doc_id"]
        for r in docs.join(
            labels_df.filter(F.col("cluster_id") != F.col("doc_id")).select("doc_id"),
            "doc_id",
            "left_anti",
        ).collect()
    }
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    assert survivors == all_ids - dropped
    assert dropped, "fixture contains near-duplicates; none dropped"


def test_mmr_trades_relevance_for_diversity(spark):
    """Query q=(1,0,0).  a and b are PARALLEL vectors (sim(a,b)=1, equal
    relevance ~0.9); c mirrors a below the axis: same relevance, but
    sim(c,a) ~ 0.62.  Pure top-2 by relevance is {a, b} (b ties c on
    relevance only approximately, but beats nothing after the dup
    penalty); MMR with lam=0.5 must pick a first (tie-break on id), then
    c — the parallel duplicate b scores rel-1 ~ -0.05 while c scores
    rel-0.62 ~ +0.14."""
    from bigdatapipeline_steamreviews_spark.operators.similarity import mmr_diversify
    from pyspark.sql import functions as F

    rows = [
        (0, [1.0, 0.0, 0.0]),          # the query
        (1, [0.9, 0.435, 0.0]),        # a: relevant
        (2, [0.45, 0.2175, 0.0]),      # b: exactly parallel to a (dup)
        (3, [0.9, -0.435, 0.0]),       # c: equally relevant, diverse
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = (
        mmr_diversify(df, F.col("vec_id") == 0, pool_k=3, select_k=2, lam=0.5)
        .orderBy("step")
        .collect()
    )
    assert [(r["step"], r["neighbor_id"]) for r in got] == [(1, 1), (2, 3)]


def test_kmeans_lloyd_inertia_monotone(spark):
    """Lloyd's algorithm invariant: total inertia after (assign, M-step,
    assign) is <= inertia of the first assignment — each step minimizes
    the objective. Checked on sf0.001 embeddings."""
    from bigdatapipeline_steamreviews_spark.operators.similarity import kmeans_lloyd
    from bigdatapipeline_steamreviews_spark.queries_similarity import _clean_emb

    emb = _clean_emb(spark, "/root/testdata/sf0.001")
    one = sum(r["inertia"] for r in kmeans_lloyd(emb, k=8, iters=1).collect())
    two = sum(r["inertia"] for r in kmeans_lloyd(emb, k=8, iters=2).collect())
    assert two <= one


def test_prefix_filter_prunes_and_matches_plain_join(spark):
    """The prefix-filtered Jaccard join must (a) produce exactly the plain
    posting-join's result and (b) generate strictly fewer candidate pairs
    than share-any-shingle — the pruning must actually prune."""
    from bigdatapipeline_steamreviews_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filtered_jaccard_pairs,
        shingle_table,
    )
    from bigdatapipeline_steamreviews_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    s = shingle_table(docs).localCheckpoint()

    got = sorted(
        map(tuple, prefix_filtered_jaccard_pairs(s, 0.5).collect())
    )
    want = sorted(
        map(tuple, ngram_jaccard_pairs(docs, min_jaccard=0.5, shingles=s).collect())
    )
    assert got == want and len(got) > 0

    # candidate counts: share-a-prefix-shingle vs share-ANY-shingle
    a = s.selectExpr("sid AS a_id", "sh")
    b = s.selectExpr("sid AS b_id", "sh")
    all_pairs = (
        a.join(b, "sh")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
        .count()
    )
    # Reproduce the operator's candidate set size via its prefix logic.
    from pyspark.sql import Window

    sizes = s.groupBy("sid").agg(F.count(F.lit(1)).alias("nsh"))
    dfreq = s.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("sid").orderBy("df", "sh")
    prefix = (
        s.join(dfreq, "sh").join(sizes, "sid")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= F.col("nsh") - F.ceil(0.5 * F.col("nsh")) + 1)
    )
    pa = prefix.selectExpr("sid AS a_id", "sh", "nsh AS na")
    pb = prefix.selectExpr("sid AS b_id", "sh AS shb", "nsh AS nb")
    cand = (
        pa.join(pb, (F.col("sh") == F.col("shb")) & (F.col("a_id") < F.col("b_id")))
        .filter((F.col("nb") >= 0.5 * F.col("na")) & (F.col("na") >= 0.5 * F.col("nb")))
        .select("a_id", "b_id")
        .distinct()
        .count()
    )
    assert cand < all_pairs


@pytest.mark.parametrize("n_sub", [1, 2, 4, 8, 16])
def test_pq_adc_equals_reconstruction_distance(spark, n_sub):
    """The defining PQ/ADC identity, at EVERY subspace count (round-10:
    the former n_sub=2 unroll is gone — subspaces are data): ADC(q, x) is
    EXACTLY the squared euclidean distance from q to x's codebook
    reconstruction (the concatenation of x's per-subspace centroids).  So
    the distributed ADC ranking must equal a brute-force ranking over
    reconstructions, ties broken by neighbor id — not approximately,
    bitwise."""
    from bigdatapipeline_steamreviews_spark.operators.similarity import (
        pq_adc_topk,
    )
    from bigdatapipeline_steamreviews_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings").filter(
        (F.size("embedding") == 64)
        & ~F.exists("embedding", lambda x: x.isNull())
    )
    approx = pq_adc_topk(emb, F.col("vec_id") < 10, n_sub=n_sub, k=5).collect()
    assert len(approx) > 0
    assert {r["rank"] for r in approx} <= {1, 2, 3, 4, 5}

    rows = emb.select("vec_id", "embedding").collect()
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in rows}
    sd = 64 // n_sub

    def subdist(a, b):  # left-fold sum, same order as the Spark aggregate
        s = 0.0
        for x, y in zip(a, b):
            s += (x - y) * (x - y)
        return s

    def sl(vec, s):
        return vec[s * sd : (s + 1) * sd]

    seed_ids = sorted(vecs)[:4]
    cb = {
        s: {c: sl(vecs[sid], s) for c, sid in enumerate(seed_ids)}
        for s in range(n_sub)
    }
    codes = {
        v: tuple(
            min(range(4), key=lambda c: (subdist(sl(vec, s), cb[s][c]), c))
            for s in range(n_sub)
        )
        for v, vec in vecs.items()
    }
    expected = set()
    for q in [v for v in vecs if v < 10]:
        ds = sorted(
            (
                (
                    sum(
                        subdist(sl(vecs[q], s), cb[s][codes[n][s]])
                        for s in range(n_sub)
                    ),
                    n,
                )
                for n in vecs
                if n != q
            )
        )[:5]
        expected |= {(q, n) for _, n in ds}
    got = {(r["query_id"], r["neighbor_id"]) for r in approx}
    assert got == expected


def test_pq_rejects_non_dividing_n_sub(spark):
    """An n_sub that does not divide dim must be a loud ValueError, never
    a silently-truncated slice."""
    from bigdatapipeline_steamreviews_spark.operators.similarity import (
        pq_adc_topk,
    )
    from bigdatapipeline_steamreviews_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    with pytest.raises(ValueError, match="divide"):
        pq_adc_topk(emb, F.col("vec_id") < 10, n_sub=3, dim=64)


def test_pq_rejects_mismatched_prebuilt_index(spark):
    """A prebuilt pq_index whose codebook geometry disagrees with the
    call's n_sub/dim/codebook_k must be a loud ValueError, never NULL
    adc_dists from a mis-sliced LUT (round-11 ADVICE fix): the positional
    zip_with in the ADC fold pads length-mismatched arrays with NULL, so
    without the guard a codebook trained at n_sub=8 fed to an n_sub=4
    call silently yields garbage rankings."""
    from bigdatapipeline_steamreviews_spark.operators.similarity import (
        ivf_pq_topk,
        pq_adc_topk,
        train_ivf,
        train_pq,
    )
    from bigdatapipeline_steamreviews_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings").filter(
        (F.size("embedding") == 64)
        & ~F.exists("embedding", lambda x: x.isNull())
    )
    wrong_nsub = train_pq(emb, n_sub=8, codebook_k=4)
    with pytest.raises(ValueError, match="does not match call geometry"):
        pq_adc_topk(
            emb, F.col("vec_id") < 10, n_sub=4, dim=64, pq_index=wrong_nsub
        )
    wrong_k = train_pq(emb, n_sub=4, codebook_k=8)
    with pytest.raises(ValueError, match="does not match call geometry"):
        ivf_pq_topk(
            emb,
            F.col("vec_id") < 10,
            n_sub=4,
            codebook_k=4,
            index=train_ivf(emb, n_lists=8, seed=7),
            pq_index=wrong_k,
        )
    # A GEOMETRY-matching trained index still passes the guard.
    ok = train_pq(emb, n_sub=4, codebook_k=4, lloyd_iters=1)
    assert (
        pq_adc_topk(
            emb, F.col("vec_id") < 3, n_sub=4, k=2, pq_index=ok
        ).count()
        == 6
    )


def test_pq_guard_accepts_undersized_rejects_uneven(spark):
    """Two adjacent holes in the round-11 geometry guard (round-12 ADVICE
    fix).  (1) A corpus with fewer clean vectors than codebook_k trains
    min(n, k) centroids per subspace BY DESIGN (_pq_codebook docstring),
    so the prebuilt-index path must accept an undersized-but-uniform
    codebook — the first guard rejected it and broke x3_pq_adc_trained /
    x3_ivf_pq_persisted on tiny corpora.  (2) A corrupted codebook with
    UNEVEN centroid counts per subspace must be rejected even when its
    average slips a global count/countDistinct check — uneven cid spaces
    silently degrade ADC rankings."""
    from bigdatapipeline_steamreviews_spark.operators.similarity import (
        pq_adc_topk,
        train_pq,
    )
    from bigdatapipeline_steamreviews_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    clean = load_table(spark, SF_DIR, "embeddings").filter(
        (F.size("embedding") == 64)
        & ~F.exists("embedding", lambda x: x.isNull())
    )
    # (1) 3 clean vectors, codebook_k=4 -> 3 centroids/subspace: accepted,
    # and the probe returns real rankings (2 queries x top-2 of 3).
    tiny = clean.filter(F.col("vec_id") < 3)
    tiny_index = train_pq(tiny, n_sub=4, codebook_k=4)
    got = pq_adc_topk(
        tiny, F.col("vec_id") < 2, n_sub=4, k=2, pq_index=tiny_index
    )
    assert got.count() == 4

    # (2) counts {3, 5} with codebook_k=8 average to 4 <= 8 (an
    # average-based guard accepts); per-subspace min != max must reject.
    codes, cb = train_pq(clean, n_sub=2, codebook_k=8)
    cb_uneven = cb.filter(
        ~(((F.col("s") == 0) & (F.col("cid") >= 3))
          | ((F.col("s") == 1) & (F.col("cid") >= 5)))
    )
    with pytest.raises(ValueError, match="does not match call geometry"):
        pq_adc_topk(
            clean,
            F.col("vec_id") < 10,
            n_sub=2,
            codebook_k=8,
            pq_index=(codes, cb_uneven),
        )

    # (3) a TRUNCATED codebook (high-cid rows lost in every subspace —
    # e.g. a dropped parquet row group) is uniform AND dense, geometry-
    # indistinguishable from a legitimately-undersized trained one; the
    # paired CODES give it away — they reference cids past the LUT end
    # (round-12 review fix).
    cb_truncated = cb.filter(F.col("cid") < 4)
    with pytest.raises(ValueError, match="truncated"):
        pq_adc_topk(
            clean,
            F.col("vec_id") < 10,
            n_sub=2,
            codebook_k=8,
            pq_index=(codes, cb_truncated),
        )

    # (3b) the EXTREME truncation — a fully-lost codebook (zero rows)
    # paired with non-empty codes — must fail the same contract, not
    # slip through the empty-codebook early return that exists for the
    # empty-corpus staging case (round-13 ADVICE fix).
    cb_lost = cb.filter(F.lit(False))
    with pytest.raises(ValueError, match="truncated"):
        pq_adc_topk(
            clean,
            F.col("vec_id") < 10,
            n_sub=2,
            codebook_k=8,
            pq_index=(codes, cb_lost),
        )

    # (4) a NON-DENSE cid space (cid 0 missing) would shift every
    # positional element_at lookup by one — must reject even though
    # counts are uniform.
    cb_shifted = cb.filter(F.col("cid") != 0)
    with pytest.raises(ValueError, match="does not match call geometry"):
        pq_adc_topk(
            clean,
            F.col("vec_id") < 10,
            n_sub=2,
            codebook_k=8,
            pq_index=(codes, cb_shifted),
        )


def test_pq_codebook_seeds_from_smallest_present_ids(spark):
    """Codebook seeding must survive missing low vec_ids: with vid 0
    filtered out (as vector hygiene routinely does), the codebook seeds
    from the 4 smallest PRESENT ids (1,2,3,4) rather than silently
    shrinking to 3 centroids (the r5 ``vid < k`` formulation)."""
    from bigdatapipeline_steamreviews_spark.operators.similarity import (
        pq_adc_topk,
    )
    from bigdatapipeline_steamreviews_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings").filter(
        (F.size("embedding") == 64)
        & ~F.exists("embedding", lambda x: x.isNull())
        & (F.col("vec_id") != 0)
    )
    approx = pq_adc_topk(emb, F.col("vec_id") < 10, n_sub=2, k=5).collect()
    assert len(approx) > 0

    rows = emb.select("vec_id", "embedding").collect()
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in rows}
    seed_ids = sorted(vecs)[:4]
    assert 0 not in vecs and len(seed_ids) == 4

    def subdist(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += (x - y) * (x - y)
        return s

    cb = {
        s: {c: vecs[sid][s * 32 : (s + 1) * 32] for c, sid in enumerate(seed_ids)}
        for s in (0, 1)
    }
    codes = {
        v: tuple(
            min(range(4), key=lambda c: (subdist(vec[s * 32 : (s + 1) * 32], cb[s][c]), c))
            for s in (0, 1)
        )
        for v, vec in vecs.items()
    }
    expected = set()
    for q in [v for v in vecs if v < 10]:
        ds = sorted(
            (
                (
                    subdist(vecs[q][:32], cb[0][codes[n][0]])
                    + subdist(vecs[q][32:], cb[1][codes[n][1]]),
                    n,
                )
                for n in vecs
                if n != q
            )
        )[:5]
        expected |= {(q, n) for _, n in ds}
    got = {(r["query_id"], r["neighbor_id"]) for r in approx}
    assert got == expected


def test_bloom_probe_no_false_negatives_and_bounded_fp(spark):
    """Bloom membership: every inserted key MUST test positive (no false
    negatives, the structural guarantee), and the false-positive rate on
    disjoint keys stays within ~3x the analytic (1-e^{-kn/m})^k bound."""
    import math

    from bigdatapipeline_steamreviews_spark.operators.dedup import (
        bloom_filter_table,
        bloom_probe,
    )

    m, k, n = 1 << 14, 4, 600
    inserted = spark.range(0, n).select(F.col("id").alias("key"))
    disjoint = spark.range(10_000, 10_000 + 2_000).select(
        F.col("id").alias("key")
    )
    bloom = bloom_filter_table(inserted, "key", m, k)

    members = bloom_probe(inserted, "key", bloom, m, k)
    assert members.filter(~F.col("maybe_member")).count() == 0

    fp = bloom_probe(disjoint, "key", bloom, m, k).filter(
        F.col("maybe_member")
    ).count()
    bound = (1 - math.exp(-k * n / m)) ** k
    assert fp / 2_000 <= 3 * bound + 0.01, (fp, bound)


def test_bloom_probe_duplicate_and_null_keys(spark):
    """A dedup probe stream routinely carries the SAME key on many rows
    and NULL keys on others.  Duplicated inserted keys must still test
    positive on every row (the r5 sum==k formulation collapsed d
    duplicates into one group and fabricated false negatives), and
    NULL-key rows must survive the probe with maybe_member=false instead
    of vanishing through an inner join."""
    from bigdatapipeline_steamreviews_spark.operators.dedup import (
        bloom_filter_table,
        bloom_probe,
    )

    m, k = 1 << 12, 4
    inserted = spark.range(0, 50).select(F.col("id").alias("key"))
    bloom = bloom_filter_table(inserted, "key", m, k)

    probe = spark.createDataFrame(
        [(7,), (7,), (7,), (13,), (None,), (None,)], "key: long"
    )
    out = bloom_probe(probe, "key", bloom, m, k).collect()
    assert len(out) == 6, "probe rows were dropped"
    for r in out:
        if r["key"] is None:
            assert r["maybe_member"] is False
        else:
            assert r["maybe_member"] is True, r


def test_ivf_pq_exhaustive_probe_equals_pq_adc(spark):
    """The composed operator's correctness anchor (r8 verdict ask #3): at
    n_probe = n_lists every inverted list is probed, each corpus vector
    sits in exactly one list, so the candidate set is the whole corpus
    and IVF+PQ must equal plain PQ/ADC — bitwise on adc_dist (the ADC
    sums are the same deterministic sequential folds)."""
    from bigdatapipeline_steamreviews_spark.operators.similarity import (
        ivf_pq_topk,
        pq_adc_topk,
    )
    from bigdatapipeline_steamreviews_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    pred = F.col("vec_id") < 10
    plain = sorted(
        tuple(r) for r in pq_adc_topk(emb, pred, k=5).collect()
    )
    composed = sorted(
        tuple(r)
        for r in ivf_pq_topk(
            emb, pred, k=5, n_lists=8, n_probe=8
        ).collect()
    )
    assert composed == plain
    assert plain, "fixture produced no neighbors"


# Every entry point that derives an ANN index artifact — training,
# seeding, assignment, codebooks, the encode and the shared residual
# builder.  A persisted probe may reach none of them.
_INDEX_BUILDERS = (
    "train_ivf",
    "train_pq",
    "seeded_centroids",
    "assign_to_centroids",
    "_pq_codebook",
    "_pq_lloyd_codebook",
    "_pq_encode",
    "_residual_index",
)


def _poison_index_builders(monkeypatch, message: str) -> None:
    import bigdatapipeline_steamreviews_spark.operators.similarity as sim
    from pyspark.ml.clustering import KMeans

    def boom(*a, **k):
        raise AssertionError(message)

    for name in _INDEX_BUILDERS:
        monkeypatch.setattr(sim, name, boom)
    monkeypatch.setattr(KMeans, "fit", boom)


def _scans_staged_codes(df) -> bool:
    """Whether ``df`` reads a staged ``codes`` table.  Asked of the scan's
    input files, not of the plan text, whose scan ``Location`` is cut at
    100 characters and so loses the table name under a long temp root."""
    return any(f.rstrip("/").split("/")[-2] == "codes" for f in df.inputFiles())


def test_persisted_pq_probe_never_retrains(spark, monkeypatch):
    """x3_ivf_pq_persisted's contract (r9 verdict ask #3): with both
    staged artifacts present, the probe-side computation must not fit
    k-means or re-run the PQ encode.  Poison every index build entry
    point and run the query end-to-end — completing proves the probe path
    reads only the persisted tables; the plan must scan the staged codes
    parquet."""
    from bigdatapipeline_steamreviews_spark.queries_similarity import (
        _staged_ivf_index,
        _staged_pq_index,
        x3_ivf_pq_persisted,
    )
    from tests.conftest import SF_DIR

    # Warm the stages (train exactly once, outside the poisoned section).
    _staged_ivf_index(spark, SF_DIR, n_lists=16, seed=7)
    _staged_pq_index(spark, SF_DIR, n_sub=4, codebook_k=4)

    _poison_index_builders(monkeypatch, "probe path re-trained / re-encoded")
    df = x3_ivf_pq_persisted(spark, SF_DIR)
    assert _scans_staged_codes(df), "plan does not scan the staged codes"
    rows = df.collect()
    assert len(rows) > 0
    assert {r["rank"] for r in rows} <= {1, 2, 3, 4, 5}


def test_incremental_index_never_rederives_frozen_artifacts(
    spark, monkeypatch
):
    """x3_ivf_pq_incremental's contract (r10 verdict ask #5): with the
    staged base artifacts present, folding new arrivals into the index
    must never re-derive the frozen centroids/codebook (poison every
    seeding/training entry point, run end-to-end), and the final state
    must equal the batch index over the union corpus — computed here
    directly with the shared index-row builder against the same staged
    artifacts (the DuckDB oracle additionally pins it from scratch)."""
    import bigdatapipeline_steamreviews_spark.operators.similarity as sim
    from bigdatapipeline_steamreviews_spark.queries_similarity import (
        _clean_emb,
        _incremental_index_rows,
        _staged_incremental_base,
        x3_ivf_pq_incremental,
    )
    from tests.conftest import SF_DIR

    # Warm the stage (seed exactly once, outside the poisoned section).
    cents, cb, _ = _staged_incremental_base(spark, SF_DIR)

    def boom(*a, **k):
        raise AssertionError("incremental path re-derived frozen artifacts")

    from pyspark.ml.clustering import KMeans

    monkeypatch.setattr(sim, "seeded_centroids", boom)
    monkeypatch.setattr(sim, "_pq_codebook", boom)
    monkeypatch.setattr(sim, "train_ivf", boom)
    monkeypatch.setattr(sim, "train_pq", boom)
    monkeypatch.setattr(KMeans, "fit", boom)

    got = {
        tuple(r)
        for r in x3_ivf_pq_incremental(spark, SF_DIR).collect()
    }
    origins = {r[1] for r in got}
    assert origins == {"base", "stream"}

    union = _clean_emb(spark, SF_DIR)
    batch = _incremental_index_rows(union, cents, cb, n_sub=4, sub_dim=16)
    expected = {
        (
            r["vec_id"],
            "stream" if r["vec_id"] % 4 == 3 else "base",
            r["list_id"],
            r["c0"],
            r["c1"],
            r["c2"],
            r["c3"],
        )
        for r in batch.collect()
    }
    assert got == expected


def test_ivf_pq_recall_vs_probes(spark):
    """Recall against the exhaustive ADC ranking is monotone in n_probe
    and reaches 1.0 at exhaustive — the probe knob trades recall for the
    candidate-set fraction (~n_probe/n_lists of the corpus), which is the
    whole point of the composition at 100 TB."""
    from bigdatapipeline_steamreviews_spark.operators.similarity import (
        ivf_pq_topk,
        train_ivf,
    )
    from bigdatapipeline_steamreviews_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    pred = F.col("vec_id") < 10
    # Train ONCE and reuse: the recall curve must isolate the probe knob,
    # not re-randomize k-means per point (also the persisted-index usage).
    index = train_ivf(emb, n_lists=8, seed=7)
    full = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_pq_topk(
            emb, pred, k=5, n_lists=8, n_probe=8, index=index
        ).collect()
    }
    recalls = []
    for n_probe in (1, 3, 8):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_pq_topk(
                emb, pred, k=5, n_lists=8, n_probe=n_probe, index=index
            ).collect()
        }
        recalls.append(len(got & full) / len(full))
    assert recalls == sorted(recalls), recalls
    assert recalls[-1] == 1.0
    assert recalls[0] > 0.0


def _pq_py_model(cb_rows, vecs, n_sub, sd):
    """Python-side PQ model from a collected (s, cid, c) codebook: per-word
    codes by argmin (left-fold subdist, ties to smallest cid) and the
    ADC = reconstruction-distance ranking — the oracle for trained
    codebooks, where no SQL twin exists."""

    def subdist(a, b):
        t = 0.0
        for x, y in zip(a, b):
            t += (x - y) * (x - y)
        return t

    cb = {}
    for r in cb_rows:
        cb.setdefault(r["s"], {})[r["cid"]] = [float(x) for x in r["c"]]
    codes = {
        v: [
            min(
                sorted(cb[s]),
                key=lambda c: (subdist(vec[s * sd : (s + 1) * sd], cb[s][c]), c),
            )
            for s in range(n_sub)
        ]
        for v, vec in vecs.items()
    }
    return cb, codes, subdist


def test_trained_pq_codebook_is_dense_and_codes_match_python(spark):
    """train_pq(lloyd_iters=2): the per-subspace k-means codebook must
    stay cid-DENSE (positional ADC misindexes otherwise — empty clusters
    retain their previous centroid) and the distributed codes must equal
    an independent Python argmin against the SAME trained centroids."""
    from bigdatapipeline_steamreviews_spark.operators.similarity import (
        train_pq,
    )
    from bigdatapipeline_steamreviews_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings").filter(
        (F.size("embedding") == 64)
        & ~F.exists("embedding", lambda x: x.isNull())
    )
    n_sub, k, sd = 4, 4, 16
    codes_df, cb_df = train_pq(
        emb, n_sub=n_sub, codebook_k=k, lloyd_iters=2
    )
    cb_rows = cb_df.collect()
    per_s = {}
    for r in cb_rows:
        per_s.setdefault(r["s"], set()).add(r["cid"])
    assert set(per_s) == set(range(n_sub))
    for s, cids in per_s.items():
        assert cids == set(range(k)), f"subspace {s} lost cids: {cids}"

    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.select("vec_id", "embedding").collect()
    }
    _, py_codes, _ = _pq_py_model(cb_rows, vecs, n_sub, sd)
    got = {r["vid"]: list(r["codes"]) for r in codes_df.collect()}
    assert got == py_codes


def test_trained_codebook_adc_still_equals_reconstruction(spark):
    """The ADC machinery is codebook-agnostic: with a k-means-TRAINED
    codebook fed through pq_index, the exhaustive-probe IVF+PQ ranking
    must equal the brute-force reconstruction-distance ranking computed
    in Python from the same trained centroids (the identity the seeded
    configuration oracles in SQL)."""
    from bigdatapipeline_steamreviews_spark.operators.similarity import (
        ivf_pq_topk,
        train_ivf,
        train_pq,
    )
    from bigdatapipeline_steamreviews_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings").filter(
        (F.size("embedding") == 64)
        & ~F.exists("embedding", lambda x: x.isNull())
    )
    n_sub, k, sd = 4, 4, 16
    pq_index = train_pq(emb, n_sub=n_sub, codebook_k=k, lloyd_iters=2)
    index = train_ivf(emb, n_lists=8, seed=7)
    got_rows = ivf_pq_topk(
        emb,
        F.col("vec_id") < 10,
        k=5,
        n_lists=8,
        n_probe=8,
        n_sub=n_sub,
        index=index,
        pq_index=pq_index,
    ).collect()
    got = {(r["query_id"], r["neighbor_id"]) for r in got_rows}

    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.select("vec_id", "embedding").collect()
    }
    cb, codes, subdist = _pq_py_model(
        pq_index[1].collect(), vecs, n_sub, sd
    )
    expected = set()
    for q in [v for v in vecs if v < 10]:
        ds = sorted(
            (
                (
                    sum(
                        subdist(
                            vecs[q][s * sd : (s + 1) * sd], cb[s][codes[n][s]]
                        )
                        for s in range(n_sub)
                    ),
                    n,
                )
                for n in vecs
                if n != q
            )
        )[:5]
        expected |= {(q, n) for _, n in ds}
    assert got == expected
    assert len(got_rows) > 0


def test_trained_codebook_retains_empty_clusters(spark):
    """Force an empty cluster (two identical seed vectors: ties argmin to
    the smaller cid, starving the other) and assert the trained codebook
    keeps the starved cid with its seed centroid — the cid-density
    invariant positional ADC depends on."""
    from bigdatapipeline_steamreviews_spark.operators.similarity import (
        train_pq,
    )

    dim, n_sub = 8, 2
    rows = [
        (0, [1.0] * dim),
        (1, [1.0] * dim),  # identical to seed 0 -> cid 1 starves
        (2, [5.0] * dim),
        (3, [9.0] * dim),
        (4, [5.1] * dim),
        (5, [8.9] * dim),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    codes_df, cb_df = train_pq(
        emb, n_sub=n_sub, codebook_k=4, dim=dim, lloyd_iters=2
    )
    cb = {(r["s"], r["cid"]): r["c"] for r in cb_df.collect()}
    assert set(cb) == {(s, c) for s in range(n_sub) for c in range(4)}
    for s in range(n_sub):
        assert cb[(s, 1)] == [1.0] * (dim // n_sub)  # starved, kept as seed
    assert codes_df.count() == len(rows)


# ---------------------------------------------------------------------------
# x3_cosine_topk_blas — BLAS selection + exact rescore (round 14)
# ---------------------------------------------------------------------------


def test_cosine_topk_blas_bitwise_equals_expression_path(spark):
    """The BLAS physical strategy must return the EXACT rows of the
    codegen'd expression path — same pairs, same double scores (the
    rescore runs the same sequential fold), same ranks.  This is the
    engine-internal half of the gate; the driver half reuses
    x3_cosine_topk's DuckDB oracle."""
    from bigdatapipeline_steamreviews_spark import queries

    regs = queries()
    sf = "/root/testdata/sf0.01"
    expr = regs["x3_cosine_topk"](spark, sf).orderBy(
        "query_id", "rank"
    ).collect()
    blas = regs["x3_cosine_topk_blas"](spark, sf).orderBy(
        "query_id", "rank"
    ).collect()
    assert len(expr) == 50
    assert blas == expr


def test_cosine_topk_prepared_equals_per_pair_reference_bitwise(spark):
    """cosine_topk scores each pair from sides prepared once per row
    (cosine_prepare / cosine_prepared).  Every score must equal the
    per-pair ``cosine_similarity`` bit for bit: the fixture corpus, a
    zero vector as query and as candidate (0/0: NULL both ways), and vectors
    whose elements span 1e-20 .. 1e20 (where a reassociated fold would
    show); the fixture's malformed rows (NULL elements, wrong length)
    score NULL both ways."""
    import math
    import struct

    from bigdatapipeline_steamreviews_spark.functions import cosine_similarity
    from bigdatapipeline_steamreviews_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    dim = 64
    extra = [(10_000, [0.0] * dim)]
    for i in range(4):
        extra.append(
            (
                10_001 + i,
                [
                    (-1.0) ** (j + i) * 10.0 ** ((7 * j + 3 * i) % 41 - 20)
                    for j in range(dim)
                ],
            )
        )
    base = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    emb = base.unionByName(
        spark.createDataFrame(extra, "vec_id long, embedding array<float>")
    )
    query_pred = (F.col("vec_id") < 10) | (F.col("vec_id") >= 10_000)
    n = emb.count()
    got = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in cosine_topk(emb, query_pred, k=n).collect()
    }
    q = emb.filter(query_pred).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    ref = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in c.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_similarity(F.col("qv"), F.col("cv")).alias("cosine"),
        )
        .collect()
    }
    assert set(got) == set(ref)

    def bits(x):  # the fixture's malformed vectors score NULL both ways
        if x is None:
            return None
        return "nan" if math.isnan(x) else struct.pack("<d", x)

    assert {k: bits(v) for k, v in got.items()} == {
        k: bits(v) for k, v in ref.items()
    }
    # The edge cases were exercised, not vacuous:
    # 0/0 with ANSI off is NULL (not NaN) on both paths.
    zero = [v for (qi, ni), v in got.items() if 10_000 in (qi, ni)]
    assert len(zero) > n and all(v is None for v in zero)
    mixed = [v for (qi, _), v in got.items() if qi > 10_000 and v is not None]
    assert mixed and not any(math.isnan(v) for v in mixed)


def test_cosine_topk_blas_highdim_and_edge_cases(spark):
    """>=1k dims (the regime the BLAS path exists for): equality against
    the expression path on a synthetic 1024-dim corpus; plus the empty-
    query edge returns a typed empty frame."""
    import numpy as np

    from bigdatapipeline_steamreviews_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_blas,
    )

    rng = np.random.default_rng(14)
    dim, n = 1024, 120
    rows = [
        (i, [float(x) for x in rng.standard_normal(dim).astype("float32")])
        for i in range(n)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    expr = cosine_topk(emb, F.col("vec_id") < 5, k=5).orderBy(
        "query_id", "rank"
    ).collect()
    blas = cosine_topk_blas(emb, F.col("vec_id") < 5, k=5).orderBy(
        "query_id", "rank"
    ).collect()
    assert len(expr) == 25
    assert blas == expr

    empty = cosine_topk_blas(emb, F.col("vec_id") < 0, k=5)
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == [
        "query_id", "neighbor_id", "cosine", "rank",
    ]


def test_pq_validation_memoizes_file_backed_pairs(spark, tmp_path):
    """Round-14 perf fix gated: validating a FILE-BACKED (codebook,
    codes) pair twice must run its Spark jobs once — the second call
    short-circuits on the (input files, geometry) memo (the unmemoized
    form was a full code-table scan per query and showed up as the r13
    IVF+PQ close-to-close drift).  A different geometry for the same
    files still validates (and fails loudly here); in-memory frames
    have no stable identity and validate every call."""
    from bigdatapipeline_steamreviews_spark.operators import similarity as S

    cb = spark.createDataFrame(
        [(s, c, [float(s), float(c)]) for s in range(2) for c in range(4)],
        "s int, cid int, c array<double>",
    )
    codes = spark.createDataFrame(
        [(i, [i % 4, (i + 1) % 4]) for i in range(16)],
        "vid long, codes array<int>",
    )
    cb.write.parquet(str(tmp_path / "cb"))
    codes.write.parquet(str(tmp_path / "codes"))
    cb_f = spark.read.parquet(str(tmp_path / "cb"))
    codes_f = spark.read.parquet(str(tmp_path / "codes"))

    before = len(S._VALIDATED_PQ_PAIRS)
    S._validate_pq_index(cb_f, 2, 2, 4, codes=codes_f)
    assert len(S._VALIDATED_PQ_PAIRS) == before + 1

    # second call short-circuits BEFORE any aggregation: poison groupBy
    calls = {"n": 0}
    orig = type(cb_f).groupBy

    def poisoned(self, *a, **k):
        calls["n"] += 1
        return orig(self, *a, **k)

    import pytest as _pytest

    with _pytest.MonkeyPatch.context() as mp:
        mp.setattr(type(cb_f), "groupBy", poisoned)
        S._validate_pq_index(cb_f, 2, 2, 4, codes=codes_f)
        assert calls["n"] == 0  # memo hit: no plan built at all
        # a different geometry is a different memo key: validates (and
        # correctly REJECTS — the codebook really is n_sub=2)
        with _pytest.raises(ValueError, match="does not match call geometry"):
            S._validate_pq_index(cb_f, 4, 1, 4, codes=codes_f)
        assert calls["n"] > 0

    # in-memory frames (no input files) never memoize
    before = len(S._VALIDATED_PQ_PAIRS)
    S._validate_pq_index(cb, 2, 2, 4, codes=codes)
    assert len(S._VALIDATED_PQ_PAIRS) == before


def test_pq_validation_memo_keys_on_plan_not_just_files(spark, tmp_path):
    """r14 ADVICE (similarity.py:1180): a DERIVED frame over the same
    staged files — here a filter that drops cid 0, leaving a non-dense
    cid space — must NOT inherit the raw scan's memo entry.  The plan
    hash in the key forces revalidation, which correctly rejects the
    degenerate subset even after the raw pair was validated and
    memoized in the same process."""
    import pytest as _pytest

    from bigdatapipeline_steamreviews_spark.operators import similarity as S

    cb = spark.createDataFrame(
        [(s, c, [float(s), float(c)]) for s in range(2) for c in range(4)],
        "s int, cid int, c array<double>",
    )
    cb.write.parquet(str(tmp_path / "cb2"))
    cb_f = spark.read.parquet(str(tmp_path / "cb2"))

    S._validate_pq_index(cb_f, 2, 2, 4)  # raw scan: validates + memoizes
    truncated = cb_f.filter(F.col("cid") > 0)  # same inputFiles, new plan
    assert sorted(truncated.inputFiles()) == sorted(cb_f.inputFiles())
    with _pytest.raises(ValueError, match="does not match call geometry"):
        S._validate_pq_index(truncated, 2, 2, 4)
    # and the raw scan's own memo entry still hits (stable plan hash)
    calls = {"n": 0}
    orig = type(cb_f).groupBy

    def poisoned(self, *a, **k):
        calls["n"] += 1
        return orig(self, *a, **k)

    with _pytest.MonkeyPatch.context() as mp:
        mp.setattr(type(cb_f), "groupBy", poisoned)
        S._validate_pq_index(cb_f, 2, 2, 4)
        assert calls["n"] == 0


def test_cosine_topk_blas_deterministic_under_score_ties(spark):
    """r14 ADVICE (medium, similarity.py:202): bit-equal BLAS scores
    straddling the per-batch argpartition cut must be resolved by
    ascending neighbor_id — the same total order the global prune and
    the exact path rank by.  A corpus of DUPLICATE vectors makes every
    score tie exactly (cosine 1.0 bitwise), so with k=5/take=10 and 40
    tied rows per batch the pre-fix selection kept an arbitrary 10 and
    could drop the true neighbors (smallest ids).  Run both a single-
    batch and a many-batch layout."""
    from bigdatapipeline_steamreviews_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_blas,
    )

    base = [1.0, 2.0, 3.0, 4.0]
    rows = [(i, base) for i in range(40)] + [
        (100 + i, [4.0, 3.0, 2.0, 1.0]) for i in range(8)
    ]
    for nparts in (1, 7):
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        ).repartition(nparts)
        expr = cosine_topk(emb, F.col("vec_id") == 0, k=5).orderBy(
            "rank"
        ).collect()
        blas = cosine_topk_blas(emb, F.col("vec_id") == 0, k=5).orderBy(
            "rank"
        ).collect()
        assert [r["neighbor_id"] for r in expr] == [1, 2, 3, 4, 5]
        assert blas == expr


def test_cosine_topk_blas_query_chunking(spark, monkeypatch):
    """The query-chunked GEMM (r15: bounds worker scratch for corpus-
    scale query blocks) must be invisible in the output: force a chunk
    width smaller than |q| and compare against the expression path."""
    import numpy as np

    from bigdatapipeline_steamreviews_spark.operators import similarity as S

    rng = np.random.default_rng(15)
    rows = [
        (i, [float(x) for x in rng.standard_normal(16).astype("float32")])
        for i in range(60)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    monkeypatch.setattr(S, "_BLAS_QUERY_CHUNK", 3)
    expr = S.cosine_topk(emb, F.col("vec_id") < 10, k=4).orderBy(
        "query_id", "rank"
    ).collect()
    blas = S.cosine_topk_blas(emb, F.col("vec_id") < 10, k=4).orderBy(
        "query_id", "rank"
    ).collect()
    assert len(expr) == 40
    assert blas == expr


# ---------------------------------------------------------------------------
# x3_ivf_pq_residual — residual-encoding IVF+PQ (round 15)
# ---------------------------------------------------------------------------


def _exact_l2_topk(spark, emb, k=5):
    """Exact squared-L2 top-k pairs for queries vec_id < 10 — the recall
    denominator (deterministic: sequential fold + (dist, id) tiebreak)."""
    from pyspark.sql import Window as _W

    e = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    c = e.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"))
    pairs = (
        c.crossJoin(F.broadcast(q))
        .filter("neighbor_id != query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.aggregate(
                F.zip_with("qv", "cv", lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("d"),
        )
    )
    w = _W.partitionBy("query_id").orderBy("d", "neighbor_id")
    return {
        (r["query_id"], r["neighbor_id"])
        for r in pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .collect()
    }


def test_ivf_pq_residual_recall_geq_raw_at_equal_probes(spark):
    """The r14 verdict's acceptance bar: residual encoding must recall at
    least as much of the exact-L2 top-k as the raw-vector encoder at
    equal probes (same corpus, same n_lists/n_sub/codebook_k/k) — the
    whole point of encoding x - centroid(list(x)) is that residuals live
    in a smaller ball, so the same code budget buys finer resolution.

    Runs on the REGISTERED corpus (sf0.01 — the verdict's "the existing
    corpus"; measured r15: residual 13/50 vs raw 4/50 of the exact
    top-k).  The raw side is pq_adc_topk, provably identical to
    exhaustive-probe raw IVF+PQ (test_ivf_pq_exhaustive_probe_equals_
    pq_adc) and cheaper — no k-means fit in this test."""
    from bigdatapipeline_steamreviews_spark.operators.similarity import (
        ivf_pq_residual_topk,
        pq_adc_topk,
    )
    from bigdatapipeline_steamreviews_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings").filter(
        (F.size("embedding") == 64) & ~F.exists("embedding", lambda x: x.isNull())
    )
    pred = F.col("vec_id") < 10
    exact = _exact_l2_topk(spark, emb, k=5)
    raw = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_adc_topk(emb, pred, k=5, n_sub=4).collect()
    }
    res = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_pq_residual_topk(
            emb, pred, k=5, n_lists=16, n_probe=16, n_sub=4
        ).collect()
    }
    assert exact and len(res) == len(raw) == len(exact)
    assert len(res & exact) >= len(raw & exact), (
        f"residual recall {len(res & exact)} < raw {len(raw & exact)}"
    )
    assert len(res & exact) > 0


def test_ivf_pq_rerank_recall_geq_unreranked_and_stays_in_shortlist(spark):
    """r15 verdict ask #2's acceptance bar for the refine stage: exact
    re-scoring of the ADC shortlist must recall at least as much of the
    brute-force COSINE top-k as the un-reranked residual index on the
    standing corpus (measured at sf0.01: rerank 32/50 vs un-reranked
    13/50), and every re-ranked result must come FROM the shortlist —
    the stage reorders candidates, it can never mint one."""
    from bigdatapipeline_steamreviews_spark.operators.similarity import (
        cosine_topk,
        ivf_pq_rerank_topk,
        ivf_pq_residual_topk,
    )
    from bigdatapipeline_steamreviews_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings").filter(
        (F.size("embedding") == 64) & ~F.exists("embedding", lambda x: x.isNull())
    )
    pred = F.col("vec_id") < 10
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, pred, k=5).collect()
    }
    short = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_pq_residual_topk(
            emb, pred, k=20, n_lists=16, n_probe=16, n_sub=4, codebook_k=4
        ).collect()
    }
    plain = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_pq_residual_topk(
            emb, pred, k=5, n_lists=16, n_probe=16, n_sub=4, codebook_k=4
        ).collect()
    }
    rerank = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_pq_rerank_topk(
            emb, pred, k=5, shortlist_k=20, n_lists=16, n_probe=16,
            n_sub=4, codebook_k=4,
        ).collect()
    }
    assert len(rerank) == len(plain) == 50
    assert rerank <= short  # refine reorders, never mints
    assert len(rerank & brute) >= len(plain & brute), (
        f"rerank recall {len(rerank & brute)} < un-reranked {len(plain & brute)}"
    )
    assert len(rerank & brute) > 0


def test_ivf_pq_residual_recall_monotone_in_probes(spark):
    """x3_ivf_pq_residual_recall's semantic claim (r15 verdict ask #3):
    probing more lists can only widen the candidate set, so total hits
    against the brute-force ground truth are monotone in n_probe — and
    the registered approximate configuration (4 of 16) must actually be
    approximate on the standing corpus (some query below 5/5), else the
    recall report measures nothing."""
    from bigdatapipeline_steamreviews_spark.operators.similarity import (
        cosine_topk,
        ivf_pq_residual_topk,
    )
    from bigdatapipeline_steamreviews_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings").filter(
        (F.size("embedding") == 64) & ~F.exists("embedding", lambda x: x.isNull())
    )
    pred = F.col("vec_id") < 10
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, pred, k=5).collect()
    }
    hits = {}
    for np_ in (4, 16):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_pq_residual_topk(
                emb, pred, k=5, n_lists=16, n_probe=np_, n_sub=4,
                codebook_k=4,
            ).collect()
        }
        hits[np_] = got & brute
    assert len(hits[16]) >= len(hits[4])
    per_q4 = {}
    for q, n in hits[4]:
        per_q4[q] = per_q4.get(q, 0) + 1
    assert min(per_q4.get(q, 0) for q in range(10)) < 5  # truly approximate


def test_ivf_pq_residual_adc_is_reconstruction_distance(spark):
    """The registered gate's semantic claim, checked through an
    INDEPENDENT route: rebuild the residual pipeline's artifacts
    (seeded coarse centroids -> broadcast-argmin assignment -> residuals
    -> skip-seeded codebook -> codes), then recompute every emitted
    adc_dist in plain Python as the subspace-ordered sum of left-fold
    squared distances between the query's per-list residual and the
    DECODED codebook entries — ||q_res - decode(codes)||^2 summed
    subspace-wise, bitwise equal to the operator's LUT-lookup fold."""
    from bigdatapipeline_steamreviews_spark.operators import similarity as sim
    from bigdatapipeline_steamreviews_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    n_lists, n_sub, dim, cb_k, k = 8, 4, 64, 4, 5
    sd = dim // n_sub
    emb = load_table(spark, SF_DIR, "embeddings").filter(
        (F.size("embedding") == 64) & ~F.exists("embedding", lambda x: x.isNull())
    )
    pred = F.col("vec_id") < 10
    got = sim.ivf_pq_residual_topk(
        emb, pred, k=k, n_lists=n_lists, n_probe=n_lists, n_sub=n_sub,
        codebook_k=cb_k,
    ).collect()
    assert len(got) == 50

    # Independent python model of the same deterministic constructions.
    e_rows = (
        emb.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
        .collect()
    )
    vecs = {r["vec_id"]: [float(x) for x in r["v"]] for r in e_rows}
    cents = {
        i: vecs[vid] for i, vid in enumerate(sorted(vecs)[:n_lists])
    }

    def fold_sq(a, b):
        t = 0.0
        for x, y in zip(a, b):
            t += (x - y) * (x - y)
        return t

    def assign(v):
        return min(cents, key=lambda l: (fold_sq(v, cents[l]), l))

    resid = {
        vid: [a - b for a, b in zip(v, cents[assign(v)])]
        for vid, v in vecs.items()
    }
    seeds = sorted(vecs)[n_lists : n_lists + cb_k]
    cb = {
        s: {ci: resid[vid][s * sd : (s + 1) * sd] for ci, vid in enumerate(seeds)}
        for s in range(n_sub)
    }
    codes = {
        vid: [
            min(
                sorted(cb[s]),
                key=lambda c: (fold_sq(r[s * sd : (s + 1) * sd], cb[s][c]), c),
            )
            for s in range(n_sub)
        ]
        for vid, r in resid.items()
    }
    for row in got:
        qid, nid = row["query_id"], row["neighbor_id"]
        qr = [a - b for a, b in zip(vecs[qid], cents[assign(vecs[nid])])]
        expected = 0.0
        for s in range(n_sub):
            expected += fold_sq(
                qr[s * sd : (s + 1) * sd], cb[s][codes[nid][s]]
            )
        assert row["adc_dist"] == expected, (qid, nid)


def test_persisted_residual_probe_never_rebuilds(spark, monkeypatch):
    """x3_ivf_pq_residual_persisted's contract: with the staged 4-tuple
    present, the probe must re-derive NOTHING — poison every build entry
    point (coarse seeding, corpus assignment, fine codebook, encode, the
    shared residual builder) and the query must still run, its plan
    scanning the staged codes parquet; and the persisted result must
    equal the inline build bitwise (every construction is
    deterministic)."""
    from bigdatapipeline_steamreviews_spark.queries_similarity import (
        _staged_residual_index,
        x3_ivf_pq_residual,
        x3_ivf_pq_residual_persisted,
    )
    from tests.conftest import SF_DIR

    # Warm the stage (build exactly once, outside the poisoned section),
    # and take the inline result BEFORE poisoning.
    _staged_residual_index(spark, SF_DIR, n_lists=16, n_sub=4, codebook_k=4)
    inline = x3_ivf_pq_residual(spark, SF_DIR).orderBy(
        "query_id", "rank"
    ).collect()

    _poison_index_builders(monkeypatch, "persisted probe re-derived an index artifact")
    df = x3_ivf_pq_residual_persisted(spark, SF_DIR)
    assert _scans_staged_codes(df), "plan does not scan the staged codes"
    persisted = df.orderBy("query_id", "rank").collect()
    assert persisted == inline
    assert len(persisted) == 50


def test_coarse_probe_keeps_n_probe_lists_lower_list_id_on_ties(spark):
    """The one coarse probe (IVF, IVF+PQ and residual IVF+PQ all call it)
    keeps exactly ``n_probe`` lists per query, and a distance tie at the
    cut goes to the LOWER list_id — the (dist, list_id) order the
    oracles rank by.  Rows are listed higher-id-first so insertion order
    cannot pass for the tie-break."""
    from bigdatapipeline_steamreviews_spark.operators.similarity import (
        _coarse_probe,
    )

    cents = spark.createDataFrame(
        [(3, [0.0, -2.0]), (2, [1.0, 0.0]), (1, [2.0, 0.0]), (0, [0.0, 2.0])],
        "list_id long, centroid array<double>",
    )
    # query 0 at the origin: list 2 at distance 1, lists 3/1/0 tied at 4.
    # query 1 at (0.5, 1): lists 2/0 tied at 1.25, list 1 at 3.25, list 3
    # at 9.25 (every distance exact in binary floating point).
    q = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.5, 1.0])], "query_id long, qv array<double>"
    )
    expected = {
        1: {0: {2}, 1: {0}},
        2: {0: {2, 0}, 1: {0, 2}},
        3: {0: {2, 0, 1}, 1: {0, 2, 1}},
    }
    for n_probe, want in expected.items():
        got: dict = {}
        for r in _coarse_probe(q, cents, n_probe).collect():
            got.setdefault(r["query_id"], []).append(r["list_id"])
        assert {qid: len(lists) for qid, lists in got.items()} == {0: n_probe, 1: n_probe}
        assert {qid: set(lists) for qid, lists in got.items()} == want, n_probe


def test_residual_probe_join_never_sees_null_list_id(spark, tmp_path):
    """The residual ADC join uses ``<=>`` on list_id (so the optimizer
    infers no isnotnull filter and the argmin fold runs once per row);
    that is the same join as ``==`` only while neither the coded table
    nor the LUT holds a NULL list_id.  Pin it for the inline build, the
    staged build, and an empty corpus, by comparing the two joins."""
    from bigdatapipeline_steamreviews_spark.operators import similarity as sim
    from bigdatapipeline_steamreviews_spark.queries_similarity import (
        _clean_emb,
        _staged_residual_index,
    )
    from tests.conftest import SF_DIR

    n_lists, n_sub, cb_k, dim = 16, 4, 4, 64
    pred = F.col("vec_id") < 10

    def sliced(emb):
        return sim._pq_sliced_corpus(emb, pred, n_sub, dim, "vec_id", "embedding")

    def check(coded, centroids, cb, e, sub_dim, nonempty):
        lut = sim._residual_lut(e, centroids, cb, n_lists, n_sub, sub_dim)
        for side in (coded, lut):
            assert side.filter(F.col("list_id").isNull()).count() == 0
        cols = [coded["vid"], lut["query_id"], coded["list_id"]]
        eq = coded.join(lut, coded["list_id"] == lut["list_id"]).select(cols)
        ns = coded.join(lut, coded["list_id"].eqNullSafe(lut["list_id"])).select(cols)
        eq_rows, ns_rows = sorted(eq.collect()), sorted(ns.collect())
        assert eq_rows == ns_rows
        assert bool(eq_rows) == nonempty

    emb = _clean_emb(spark, SF_DIR)
    e, sub_dim = sliced(emb)
    centroids, cb, coded = sim._residual_index(
        emb, e, n_lists, cb_k, n_sub, sub_dim, "vec_id", "embedding"
    )
    check(coded, centroids, cb, e, sub_dim, nonempty=True)

    asg, centroids, codes, cb = _staged_residual_index(
        spark, SF_DIR, n_lists=n_lists, n_sub=n_sub, codebook_k=cb_k
    )
    coded = codes.join(asg.select("vid", "list_id"), "vid")
    check(coded, centroids, cb, e, sub_dim, nonempty=True)

    # Empty corpus: an embeddings table with no rows, built inline and
    # staged (an empty stage is a legitimate 4-tuple of empty tables).
    empty_dir = str(tmp_path / "sf_empty")
    spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(0).coalesce(1).write.parquet(
        f"{empty_dir}/embeddings.parquet"
    )
    empty = _clean_emb(spark, empty_dir)
    e, sub_dim = sliced(empty)
    centroids, cb, coded = sim._residual_index(
        empty, e, n_lists, cb_k, n_sub, sub_dim, "vec_id", "embedding"
    )
    check(coded, centroids, cb, e, sub_dim, nonempty=False)
    asg, centroids, codes, cb = _staged_residual_index(
        spark, empty_dir, n_lists=n_lists, n_sub=n_sub, codebook_k=cb_k
    )
    coded = codes.join(asg.select("vid", "list_id"), "vid")
    check(coded, centroids, cb, e, sub_dim, nonempty=False)
