"""Dedup + similarity operator library tests: LSH candidate recall vs the
exact Jaccard pairs, and LSH top-k recall vs brute-force cosine."""

from __future__ import annotations

from pyspark.sql import functions as F

from kin_data_pipeline_spark.operators.dedup import (
    dedup_near_duplicates,
    exact_dedup,
    jaccard_pairs,
    lsh_candidates,
    minhash_signatures,
    shingle_postings,
    simhash,
)
from kin_data_pipeline_spark.operators.similarity import cosine_topk, lsh_topk
from kin_data_pipeline_spark.queries.llmops import LSH_BANDS, MINHASH_PARAMS
from kin_data_pipeline_spark.sources.catalog import load_table

def test_exact_dedup_keeps_lowest_id(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    doubled = docs.unionByName(
        docs.limit(20).withColumn("doc_id", F.col("doc_id") + 100000)
    )
    out = exact_dedup(doubled, "text", "doc_id")
    assert out.count() == docs.select(F.md5(F.lower(F.trim("text")))).distinct().count()
    assert out.filter(F.col("doc_id") >= 100000).count() == 0

def test_lsh_candidates_cover_high_jaccard_pairs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    post = shingle_postings(docs, "doc_id", "text", k=3)
    true_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in jaccard_pairs(post, threshold=0.8).collect()
    }
    sigs = minhash_signatures(post, MINHASH_PARAMS)
    cands = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidates(sigs, LSH_BANDS).collect()
    }
    assert true_pairs, "fixture should contain near-duplicate documents"
    recall = len(true_pairs & cands) / len(true_pairs)
    assert recall >= 0.9, f"LSH recall {recall:.2f} over {len(true_pairs)} pairs"

def test_dedup_near_duplicates_drops_one_side(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    post = shingle_postings(docs, "doc_id", "text", k=3)
    pairs = jaccard_pairs(post, threshold=0.8)
    kept = dedup_near_duplicates(docs, "doc_id", pairs)
    dropped = docs.count() - kept.count()
    assert dropped == pairs.select("doc_b").distinct().count()

def test_simhash_close_for_near_dups(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    post = shingle_postings(docs, "doc_id", "text", k=3)
    pair = jaccard_pairs(post, threshold=0.9).first()
    if pair is None:
        return  # no ultra-near dups at this SF
    sigs = {r["doc_id"]: r["simhash"] for r in simhash(docs, "doc_id", "text").collect()}
    a, b = sigs[pair["doc_a"]], sigs[pair["doc_b"]]
    hamming = bin(a ^ b).count("1")
    assert hamming <= 4, f"near-dup pair has Hamming distance {hamming}"

def test_lsh_topk_recall_vs_bruteforce(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk(emb, queries, k=5)
    approx = lsh_topk(emb, queries, k=5, n_planes=3, multiprobe=True)
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    # sign-LSH on near-orthogonal random vectors is a coarse filter; the
    # bar here is structural (buckets + multiprobe wired correctly), not SOTA
    assert recall >= 0.3, f"LSH top-k recall {recall:.2f}"
    assert all(r["rnk"] <= 5 for r in approx.collect())

def test_ivf_topk_recall_vs_bruteforce(spark, sf_dir):
    from kin_data_pipeline_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk(emb, queries, k=5)
    approx = ivf_topk(emb, queries, k=5, centroid_stride=31, nprobe=2)
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.3, f"IVF top-k recall {recall:.2f}"
    assert all(r["rnk"] <= 5 for r in approx.collect())

def test_lsh_near_dup_pairs_subset_of_bruteforce(spark, sf_dir):
    from kin_data_pipeline_spark.operators.similarity import (
        lsh_near_dup_pairs,
        with_norm,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    found = lsh_near_dup_pairs(emb, threshold=0.4, n_bands=4, n_planes=6)
    rows = found.collect()
    assert len(rows) > 0
    assert all(r["id_a"] < r["id_b"] for r in rows)
    assert all(r["sim"] >= 0.4 for r in rows)
    # no pair reported twice despite multi-band collisions
    pairs = [(r["id_a"], r["id_b"]) for r in rows]
    assert len(pairs) == len(set(pairs))

def test_ngram_jaccard_exact_matches_oracle(spark, sf_dir):
    # The uncapped all-pairs form is deliberately UNREGISTERED (quadratic on
    # stopword shingles at open-web scale); this is its only oracle check.
    from kin_data_pipeline_spark.queries.llmops import (
        NGRAM_JACCARD_EXACT_ORACLE,
        ngram_jaccard_exact,
    )
    from tests.oracle import compare_query

    compare_query(spark, sf_dir, ngram_jaccard_exact, NGRAM_JACCARD_EXACT_ORACLE)

def test_capped_jaccard_subset_of_exact_with_lower_scores(spark, sf_dir):
    # The df-cap only removes high-df shingles from intersection counts, so
    # every surviving capped pair exists in the exact set with n_common and
    # jaccard no higher than the exact values.
    from kin_data_pipeline_spark.queries.llmops import (
        ngram_jaccard_exact,
        ngram_jaccard_near_dups,
    )

    exact = {
        (r["doc_a"], r["doc_b"]): (r["n_common"], r["jaccard"])
        for r in ngram_jaccard_exact(spark, sf_dir).collect()
    }
    for r in ngram_jaccard_near_dups(spark, sf_dir).collect():
        key = (r["doc_a"], r["doc_b"])
        assert key in exact, f"capped pair {key} missing from exact set"
        assert r["n_common"] <= exact[key][0]
        assert r["jaccard"] <= exact[key][1]

def test_connected_components_transitive_closure(spark, sf_dir):
    from kin_data_pipeline_spark.operators.dedup import connected_components

    # chain 1-2-3 (1~3 never paired), isolated pair 10-11, and a pair whose
    # lower id arrives on the right side (20,5) — closure must merge the
    # chain, keep the pair separate, and pick the global min as the label.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 5)], ["doc_a", "doc_b"]
    )
    got = {
        (r["node"], r["cluster_id"])
        for r in connected_components(edges).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (5, 5), (20, 5)}

def test_connected_components_long_chain_converges(spark, sf_dir):
    from kin_data_pipeline_spark.operators.dedup import connected_components

    n = 12  # diameter > the 3-5 typical rounds; still must reach fixpoint
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["doc_a", "doc_b"]
    )
    labels = connected_components(edges)
    assert labels.select("cluster_id").distinct().count() == 1
    assert labels.count() == n + 1

def test_connected_components_raises_past_round_budget(spark, sf_dir):
    import pytest

    from kin_data_pipeline_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], ["doc_a", "doc_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iters=5)

def test_star_contraction_matches_label_propagation(spark, sf_dir):
    import random

    from kin_data_pipeline_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    random.seed(11)
    raw = [(random.randrange(80), random.randrange(80)) for _ in range(60)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in raw if a != b], ["doc_a", "doc_b"]
    )
    lp = sorted(
        (r["node"], r["cluster_id"])
        for r in connected_components(edges, max_iters=100).collect()
    )
    star = sorted(
        (r["node"], r["cluster_id"])
        for r in connected_components_star(edges).collect()
    )
    assert lp == star

def test_star_contraction_logarithmic_rounds_on_path(spark, sf_dir):
    import math

    from kin_data_pipeline_spark.operators.dedup import (
        _canonical_edges,
        _star_contraction,
        connected_components_star,
    )

    # 1000-node path: diameter 999. Label propagation would need ~999
    # rounds; star contraction halves chain length per alternation.
    n = 1000
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["doc_a", "doc_b"]
    )
    _, rounds = _star_contraction(
        _canonical_edges(edges, "doc_a", "doc_b"), max_iters=40
    )
    assert rounds <= 2 * math.ceil(math.log2(n + 1)), rounds
    labels = connected_components_star(edges)
    assert labels.select("cluster_id").distinct().count() == 1
    assert labels.count() == n + 1
    assert labels.filter(F.col("cluster_id") != 0).count() == 0


# --- SemDeDup tier (cell-blocked semantic dedup) ---------------------------

def test_semantic_dedup_pairs_are_within_cell_and_ordered(spark, sf_dir):
    from kin_data_pipeline_spark.operators.similarity import (
        assign_cells,
        semantic_dedup_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = semantic_dedup_pairs(emb, threshold=0.30, centroid_stride=31)
    rows = pairs.collect()
    assert rows, "corpus should contain same-cell pairs above 0.30"
    cells = {r["vid"]: r["cid"] for r in assign_cells(emb, centroid_stride=31).collect()}
    for r in rows:
        assert r["id_a"] < r["id_b"]
        assert cells[r["id_a"]] == cells[r["id_b"]] == r["cid"]
        assert r["sim"] >= 0.30

def test_semantic_dedup_survivors_greedy_min_id(spark, sf_dir):
    from kin_data_pipeline_spark.operators.similarity import (
        semantic_dedup_pairs,
        semantic_dedup_survivors,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = semantic_dedup_pairs(emb, threshold=0.30, centroid_stride=31)
    dropped = {r["id_b"] for r in pairs.collect()}
    surv = {
        r["vec_id"]
        for r in semantic_dedup_survivors(
            emb, threshold=0.30, centroid_stride=31
        ).collect()
    }
    all_ids = {r["vec_id"] for r in emb.select("vec_id").collect()}
    assert surv == all_ids - dropped

def test_semantic_dedup_cell_cap_drops_hot_cells(spark, sf_dir):
    from kin_data_pipeline_spark.operators.similarity import semantic_dedup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    capped = semantic_dedup_pairs(emb, threshold=0.0, centroid_stride=31, cell_cap=10)
    # every surviving cell holds <= 10 vectors -> <= 45 pairs per cell
    per_cell = capped.groupBy("cid").count().collect()
    assert all(r["count"] <= 45 for r in per_cell)

def test_prefix_filter_equals_exact_expansion(spark, sf_dir):
    """The AllPairs/PPJoin lemma, checked differentially: prefix-filtered
    candidate generation + verification returns EXACTLY the pairs of the
    uncapped all-pairs expansion — same keys, same scores."""
    from kin_data_pipeline_spark.queries.llmops import (
        ngram_jaccard_exact,
        ngram_jaccard_prefix_filtered,
    )

    exact = {
        (r["doc_a"], r["doc_b"]): (r["n_common"], r["jaccard"])
        for r in ngram_jaccard_exact(spark, sf_dir).collect()
    }
    pref = {
        (r["doc_a"], r["doc_b"]): (r["n_common"], r["jaccard"])
        for r in ngram_jaccard_prefix_filtered(spark, sf_dir).collect()
    }
    assert pref == exact

def test_prefix_filter_positional_bound_is_exact_on_random_corpora(spark):
    # The PPJoin lemma, pinned: over seeded random corpora (skewed token
    # frequencies, varied thresholds) the prefix+positional-filtered join
    # must return EXACTLY the brute-force Jaccard pairs — the positional
    # bound may only prune candidates that cannot qualify.
    import random

    from pyspark.sql import functions as F

    from kin_data_pipeline_spark.operators.dedup import prefix_filter_jaccard_pairs

    rng = random.Random(0xC0FFEE)
    for case in range(6):
        num, den = rng.choice([(1, 2), (1, 3), (2, 3), (3, 4)])
        n_docs = rng.randint(4, 14)
        vocab = [f"t{i}" for i in range(rng.randint(5, 25))]
        docs = []
        for d in range(n_docs):
            k = rng.randint(1, min(10, len(vocab)))
            # skew: low-index tokens are hot
            toks = sorted({rng.choice(vocab[: rng.randint(1, len(vocab))]) for _ in range(k)})
            if toks:
                docs.append((d, toks))
        expected = set()
        for i in range(len(docs)):
            for j in range(i + 1, len(docs)):
                a, b = set(docs[i][1]), set(docs[j][1])
                inter = len(a & b)
                if den * inter >= num * len(a | b):
                    expected.add((docs[i][0], docs[j][0]))
        sh = spark.createDataFrame(
            docs, "doc_id long, shingles array<string>"
        )
        got = {
            (r["doc_a"], r["doc_b"])
            for r in prefix_filter_jaccard_pairs(sh, num, den).collect()
        }
        assert got == expected, (case, num, den, sorted(expected ^ got))


def test_shingles_empty_for_sub_k_docs(spark):
    """Sub-k-word docs yield an EMPTY shingle array (the DuckDB oracles'
    range() semantics) — unguarded, sequence(0, size-k) descends through
    index 0 and slice() aborts the job."""
    from kin_data_pipeline_spark.operators.dedup import shingles

    df = spark.createDataFrame(
        [("hello world",), ("one",), ("a b c d",)], "text string"
    )
    got = df.select(shingles("text", 3).alias("sh")).collect()
    assert [r["sh"] for r in got] == [[], [], ["a b c", "b c d"]]


def _oracle_shingles(text, k):
    """Pure-Python model of the DuckDB oracles' ``_SQL_SHINGLES`` for any
    k: words = string_split(trim(text), ' '); window i joins words[i..i+k-1]
    for i in range(1, len - k + 2). Distinct in first-occurrence order (the
    order Spark's array_distinct keeps). NULL text maps to the EMPTY array,
    the Spark operator's contract."""
    if text is None:
        return []
    w = text.strip(" ").split(" ")
    return list(dict.fromkeys(" ".join(w[i : i + k]) for i in range(len(w) - k + 1)))


_SHINGLE_EDGE_TEXTS = [
    "",
    None,
    " ",
    "one",
    "two words",
    "  leading spaces here",
    "trailing spaces here   ",
    "doubled  spaces   inside  here",
    "x x x x x x x",
    "a b c d e",
]


def test_shingles_match_oracle_reference(spark, sf_dir):
    """shingles() equals the oracle's shingle definition for k in
    {1, 2, 3, 5}, over the fixture corpus plus sub-k docs, leading,
    trailing and doubled spaces, the empty string and NULL."""
    from kin_data_pipeline_spark.operators.dedup import shingles

    texts = [
        r["text"] for r in load_table(spark, sf_dir, "documents").select("text").collect()
    ] + _SHINGLE_EDGE_TEXTS
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, text string")
    for k in (1, 2, 3, 5):
        got = {
            r["i"]: r["sh"]
            for r in df.select("i", shingles("text", k).alias("sh")).collect()
        }
        for i, t in enumerate(texts):
            assert got[i] == _oracle_shingles(t, k), (k, t)


def _lambda_bodies(expr: str) -> list[str]:
    """Every ``lambdafunction(...)`` argument list in an analyzed plan
    string, matched by parenthesis depth."""
    bodies, tag = [], "lambdafunction("
    start = expr.find(tag)
    while start >= 0:
        i = start + len(tag)
        depth = 1
        while depth:
            depth += {"(": 1, ")": -1}.get(expr[i], 0)
            i += 1
        bodies.append(expr[start + len(tag) : i - 1])
        start = expr.find(tag, start + 1)
    return bodies


def test_shingles_lambda_never_resplits_text(spark):
    """No lambda body of the shingle expression references the split:
    Catalyst does not share an outer expression into a lambdafunction, so
    a split inside one re-tokenizes the document once per window —
    quadratic in its length."""
    from kin_data_pipeline_spark.operators.dedup import shingles

    df = spark.createDataFrame([("a b c d",)], "text string")
    for k in (1, 2, 3, 5):
        plan = df.select(shingles("text", k))._jdf.queryExecution().analyzed().toString()
        bodies = _lambda_bodies(plan)
        assert bodies, plan
        assert not [b for b in bodies if "split(" in b], (k, bodies)


def test_star_cc_labels_self_loop_only_nodes(spark):
    """connected_components_star honors the label-prop contract: a node
    whose only edges are self-loops still labels itself; a node with both
    a self-loop and a real edge carries its component label exactly once."""
    from kin_data_pipeline_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    edges = spark.createDataFrame(
        [(7, 7), (1, 2), (2, 2)], "doc_a long, doc_b long"
    )
    star = {(r["node"], r["cluster_id"]) for r in connected_components_star(edges).collect()}
    prop = {(r["node"], r["cluster_id"]) for r in connected_components(edges).collect()}
    assert star == prop == {(7, 7), (1, 1), (2, 1)}


def test_asof_join_refuses_value_col_collision(spark):
    import datetime

    import pytest as _pytest

    from kin_data_pipeline_spark.operators.rangejoin import asof_join

    left = spark.createDataFrame(
        [(1, datetime.date(2024, 1, 5), 999)], "k long, t date, balance long"
    )
    right = spark.createDataFrame(
        [(1, datetime.date(2024, 1, 1), 10)], "k long, t date, balance long"
    )
    with _pytest.raises(ValueError, match="already exist on the left"):
        asof_join(left, right, ["k"], "t", "t", ["balance"])


def test_kmeans_lloyd_converges_covers_and_breaks_ties(spark, sf_dir):
    """Lloyd iterations on the fixed fixture: every vector assigned
    exactly once, total inertia strictly improves over the init-centroid
    assignment, and iters=0 returns the assignment under the initial
    (k-smallest-id) centroids."""
    import pyspark.sql.functions as F

    from kin_data_pipeline_spark.operators.similarity import kmeans_lloyd
    from kin_data_pipeline_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.filter(F.col("embedding").isNotNull()).count()
    a0 = kmeans_lloyd(emb, iters=0)
    a3 = kmeans_lloyd(emb, iters=3)
    assert a3.count() == n  # total, no drops or dups
    assert a3.select("__id").distinct().count() == n
    i0 = a0.agg(F.sum("dist")).collect()[0][0]
    i3 = a3.agg(F.sum("dist")).collect()[0][0]
    assert i3 < i0
    # cluster ids live in [0, K)
    ks = {r["cluster"] for r in a3.select("cluster").distinct().collect()}
    assert ks <= set(range(8)) and ks
