"""Dedup operators: planted duplicates must be found; determinism across
partitionings (LSH/SimHash are seeded, never RNG-at-runtime)."""

from pyspark.sql import functions as F

from logparse_spark.operators import dedup as dd

DOCS = [
    ("d1", "the quick brown fox jumps over the lazy dog tonight"),
    ("d2", "the quick brown fox jumps over the lazy dog tonight"),  # exact dup of d1
    ("d3", "the quick brown fox jumps over the lazy cat tonight"),  # near dup
    ("d4", "completely different content about spark shuffle partitions"),
    ("d5", "totally unrelated text regarding database query optimizers"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id string, text string")


def test_minhash_lsh_finds_planted_pair(spark):
    pairs = {(r["id_a"], r["id_b"]) for r in
             dd.minhash_lsh_candidates(
                 _docs(spark), shingle_n=2, num_hashes=32, bands=16).collect()}
    assert ("d1", "d2") in pairs  # identical -> identical signature
    assert ("d1", "d3") in pairs  # 1-word edit survives banding
    assert ("d4", "d5") not in pairs


def test_minhash_deterministic_across_partitioning(spark):
    a = sorted(map(tuple, dd.minhash_lsh_candidates(_docs(spark).repartition(1)).collect()))
    b = sorted(map(tuple, dd.minhash_lsh_candidates(_docs(spark).repartition(5)).collect()))
    assert a == b


def test_ngram_jaccard(spark):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             dd.ngram_jaccard_pairs(_docs(spark), shingle_n=1, threshold=0.5).collect()}
    assert pairs[("d1", "d2")] == 1.0
    assert ("d1", "d3") in pairs
    assert ("d4", "d5") not in pairs


def test_simhash_near_dups(spark):
    """Identical docs always pair at hamming 0; a 1-word edit in a
    40-word doc lands within banding reach (longer docs -> larger
    per-bit majority margins -> fewer flipped bits); unrelated docs
    never pair.  (Short 10-word docs are inherently noisy under
    SimHash — the d1/d3 edit measures hamming 6, outside the 4-chunk
    pigeonhole guarantee of <=3, and is correctly not claimed.)"""
    long_a = " ".join(f"word{i}" for i in range(40))
    long_b = " ".join(f"word{i}" if i != 7 else "changed" for i in range(40))
    df = spark.createDataFrame(
        DOCS + [("l1", long_a), ("l2", long_b)], "doc_id string, text string")
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
             dd.simhash_near_dups(df, max_hamming=6).collect()}
    assert pairs[("d1", "d2")] == 0
    assert pairs[("l1", "l2")] == 4
    assert ("d4", "d5") not in pairs


def test_simhash_deterministic_rerun(spark):
    df = _docs(spark)
    a = sorted(map(tuple, dd.simhash_sql(df.repartition(1)).collect()))
    b = sorted(map(tuple, dd.simhash_sql(df.repartition(3)).collect()))
    assert len(a) == len(DOCS) and a == b


def test_minhash_near_dups_verified(spark):
    """candidate->verify: only pairs with exact word-Jaccard >= threshold
    survive; the exact dup passes, the unrelated pair never appears."""
    pairs = {(r["id_a"], r["id_b"]) for r in
             dd.minhash_near_dups(_docs(spark), num_hashes=63, bands=21,
                                  shingle_n=1, threshold=0.8).collect()}
    assert ("d1", "d2") in pairs          # identical
    assert ("d1", "d3") in pairs          # 1-word edit: J = 9/11 words... >= 0.8
    assert ("d4", "d5") not in pairs


def test_minhash_bucket_cap_survives_duplicate_heavy_corpus(spark):
    """A degenerate corpus (one huge duplicate class) must not explode
    into O(bucket^2) pair generation: the cap drops the giant buckets,
    the dropped-bucket accounting sees them, and distinct planted near
    dups elsewhere still pair (VERDICT r1 'What's wrong' #3)."""
    rows = [(f"dup-{i:05d}", "all work and no play makes jack a dull boy") for i in range(2000)]
    rows += [("a1", "spark shuffle partitions tuning guide for large clusters"),
             ("a2", "spark shuffle partitions tuning guide for large cluster")]
    df = spark.createDataFrame(rows, "doc_id string, text string").repartition(8)
    kw = dict(shingle_n=2, num_hashes=32, bands=16)
    pairs = {(r["id_a"], r["id_b"]) for r in
             dd.minhash_lsh_candidates(df, max_bucket=100, **kw).collect()}
    assert ("a1", "a2") in pairs
    assert not any(a.startswith("dup-") for a, _ in pairs)  # capped out
    dropped = dd.minhash_dropped_buckets(df, max_bucket=100, **kw).collect()
    assert dropped and all(r["size"] == 2000 for r in dropped)


def test_capped_minhash_cap_never_binds_on_driver_corpus(spark):
    """q_dedup_minhash_capped shares the uncapped ground-truth oracle —
    valid ONLY while no band bucket of the driver corpus exceeds the
    cap.  Pin that premise at both driver scale factors."""
    kw = dict(num_hashes=84, bands=28, shingle_n=3, max_bucket=1000)
    for sf in ("sf0.001", "sf0.01"):
        docs = spark.read.parquet(f"/root/testdata/{sf}/documents.parquet")
        assert dd.minhash_dropped_buckets(docs, **kw).count() == 0, sf


def test_simhash_sql_matches_planted_pairs(spark):
    out = {r["id"]: r["sh"] for r in dd.simhash_sql(_docs(spark)).collect()}
    assert out["d1"] == out["d2"]          # identical text -> identical hash
    assert out["d1"] != out["d4"]
    assert all(0 <= v < (1 << 60) for v in out.values())


def test_embedding_near_dups(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),   # near dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),      # orthogonal
        (4, [0.0, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    pairs = {(r["id_a"], r["id_b"]) for r in
             dd.embedding_near_dups(df, dim=4, n_planes=6, min_cosine=0.95).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (3, 4) not in pairs


# --- connected components / dedup clusters ---------------------------------


def _uf_components(n_nodes, edges):
    """Pure-Python union-find oracle: node -> min id of its component."""
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in range(n_nodes)}


def test_connected_components_vs_union_find(spark):
    import random

    rng = random.Random(7)
    n = 60
    edges = sorted({tuple(sorted(rng.sample(range(n), 2))) for _ in range(45)})
    got = {
        r["id"]: r["component"]
        for r in dd.connected_components(
            spark.createDataFrame(edges, "id_a int, id_b int")
        ).collect()
    }
    want = _uf_components(n, edges)
    touched = {a for e in edges for a in e}
    assert got == {x: want[x] for x in touched}


def test_connected_components_chain_converges(spark):
    # worst case for label propagation: one long chain (diameter = n-1)
    n = 12
    edges = [(i, i + 1) for i in range(n - 1)]
    got = {
        r["id"]: r["component"]
        for r in dd.connected_components(
            spark.createDataFrame(edges, "id_a int, id_b int")
        ).collect()
    }
    assert got == {i: 0 for i in range(n)}


def test_dedup_clusters_canonical(spark):
    out = {
        r["doc_id"]: r["canonical_id"]
        for r in dd.dedup_clusters(
            _docs(spark), num_hashes=63, bands=21, shingle_n=1, threshold=0.8
        ).collect()
    }
    # d1/d2/d3 cluster together (exact + near dup); d4/d5 are singletons
    assert out == {"d1": "d1", "d2": "d1", "d3": "d1", "d4": "d4", "d5": "d5"}


def test_connected_components_nonconvergence_raises(spark):
    import pytest

    edges = [(i, i + 1) for i in range(9)]  # diameter 9 > max_iter 3
    with pytest.raises(RuntimeError, match="did not converge"):
        dd.connected_components(
            spark.createDataFrame(edges, "id_a int, id_b int"), max_iter=3
        ).collect()


def test_connected_components_log_rounds_on_long_chain(spark):
    # pointer-doubling pins O(log diameter): a 100-node chain converges
    # well within 12 rounds (plain neighbor propagation would need 99)
    n = 100
    edges = [(i, i + 1) for i in range(n - 1)]
    got = {
        r["id"]: r["component"]
        for r in dd.connected_components(
            spark.createDataFrame(edges, "id_a int, id_b int"), max_iter=12
        ).collect()
    }
    assert got == {i: 0 for i in range(n)}


def test_spread_text_spreads_single_file_input(spark, tmp_path):
    # a one-file corpus must NOT run the signature kernel in a single
    # task (the sf0.1 documents table is one parquet file)
    path = str(tmp_path / "one_file_docs")
    spark.createDataFrame(
        [(f"d{i}", f"text {i}") for i in range(50)], "doc_id string, text string"
    ).coalesce(1).write.parquet(path)
    one = spark.read.parquet(path)
    assert one.rdd.getNumPartitions() == 1
    spread = dd._spread(one, "doc_id", "text")
    assert spread.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_spread_text_skips_derived_plans(spark):
    # anything downstream of a shuffle is already spread by that shuffle;
    # probing it would eagerly execute the upstream AQE stages, so the
    # helper must leave derived plans alone (no probe, no repartition)
    derived = (
        spark.createDataFrame(
            [(f"d{i}", f"text {i}", i % 3) for i in range(50)],
            "doc_id string, text string, g int",
        )
        .groupBy("doc_id").agg({"text": "max", "g": "max"})
        .withColumnRenamed("max(text)", "text")
    )
    spread = dd._spread(derived, "doc_id", "text")
    plan = spread._jdf.queryExecution().optimizedPlan().toString()
    assert "Repartition" not in plan


def test_spread_text_skips_parquet_backed_derived_plans(spark, tmp_path):
    # ADVICE r4: inputFiles() collects file sources from the WHOLE plan,
    # so a parquet-backed AGGREGATE used to look like a file scan and got
    # probed (eagerly executing the upstream stages).  The plan-based
    # guard must classify it as derived: no probe, no repartition.
    path = str(tmp_path / "agg_docs")
    spark.createDataFrame(
        [(f"d{i}", f"text {i}", i % 3) for i in range(50)],
        "doc_id string, text string, g int",
    ).coalesce(1).write.parquet(path)
    derived = (
        spark.read.parquet(path)
        .groupBy("doc_id").agg({"text": "max"})
        .withColumnRenamed("max(text)", "text")
    )
    assert derived.inputFiles()  # the old heuristic would have probed this
    assert not dd._is_direct_file_scan(derived)
    plan = (
        dd._spread(derived, "doc_id", "text")
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "Repartition" not in plan
    # and the direct scan of the same file IS classified as a scan
    assert dd._is_direct_file_scan(spark.read.parquet(path))
    assert dd._is_direct_file_scan(
        spark.read.parquet(path).where("g = 1").select("doc_id", "text"))


def test_direct_scan_detection_ignores_literals_in_plan_text(spark, tmp_path):
    # a pushed filter literal containing a node-name word ('Sorted' ~
    # 'Sort') must NOT make a plain scan look derived — markers match
    # line-leading node names, not raw substrings (review r5)
    path = str(tmp_path / "lit_docs")
    spark.createDataFrame(
        [("d1", "Sorted Window Generate Join text")],
        "doc_id string, text string",
    ).write.parquet(path)
    scan = spark.read.parquet(path).where(F.col("text").contains("Sorted"))
    assert dd._is_direct_file_scan(scan)


def test_direct_scan_detection_rejects_rebalance_and_offset(spark, tmp_path):
    # ADVICE r5: a rebalance hint plans as RebalancePartitions (a shuffle
    # the probe would eagerly finalize) and Offset changes the row count;
    # neither may be classified as a direct file scan
    path = str(tmp_path / "reb_docs")
    spark.createDataFrame(
        [(f"d{i}", f"text {i}") for i in range(20)],
        "doc_id string, text string",
    ).write.parquet(path)
    assert not dd._is_direct_file_scan(spark.read.parquet(path).hint("rebalance"))
    assert not dd._is_direct_file_scan(
        spark.read.parquet(path).orderBy("doc_id").offset(3))


def test_spread_text_leaves_well_split_input_alone(spark):
    # a well-split input keeps its plan — _spread adds no Exchange
    # of its own beyond whatever the input already contains
    par = spark.sparkContext.defaultParallelism
    many = spark.createDataFrame(
        [(f"d{i}", f"text {i}") for i in range(50)], "doc_id string, text string"
    ).repartition(par)
    spread = dd._spread(many, "doc_id", "text")
    assert spread.rdd.getNumPartitions() == par
    # logical plan (no AQE initial/final duplication): only the input's
    # own Repartition node, none added by _spread
    def n_repart(df):
        return df._jdf.queryExecution().optimizedPlan().toString().count("Repartition")
    assert n_repart(spread) == n_repart(many) == 1


def test_minhash_signature_kernel_matches_plain_reference(spark):
    """r7 kernel rewrite (factorize-unique + chunked Mersenne reduction +
    per-doc min) must be BIT-IDENTICAL to the plain (hash*a+b) % M
    reference on edge-shaped inputs: empty text, single word, repeated
    templates (exercises the factorize dedup), whitespace quirks."""
    import random

    import numpy as np
    import pandas as pd

    texts = [
        "",
        "one",
        "two words",
        "\tleading tab  and   runs of spaces",
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy dog",  # exact repeat
        "the quick brown fox jumps over the lazy cat",  # near repeat
        " ".join(["template line alpha beta"] * 10),
    ]
    num_hashes, shingle_n, seed = 16, 3, 42
    df = spark.createDataFrame(
        [(str(i), t) for i, t in enumerate(texts)], "doc_id string, text string"
    )
    got = {
        r["doc_id"]: list(r["sig"])
        for r in df.select(
            "doc_id", dd.minhash_signature_np("text", num_hashes, shingle_n, seed).alias("sig")
        ).collect()
    }

    # plain reference: same shingling, hash*a+b % M with numpy's own %
    import re as _re

    M = np.uint64((1 << 31) - 1)
    rnd = random.Random(seed)
    a = np.array([rnd.randrange(1, int(M)) for _ in range(num_hashes)], dtype=np.uint64)
    b = np.array([rnd.randrange(0, int(M)) for _ in range(num_hashes)], dtype=np.uint64)
    for i, t in enumerate(texts):
        words = _re.split(r"\s+", str(t or "").lower().strip(" "))
        if len(words) >= shingle_n:
            grams = {" ".join(words[j:j + shingle_n])
                     for j in range(len(words) - shingle_n + 1)}
        else:
            grams = {" ".join(words)} if words else {""}
        hs = pd.util.hash_array(np.array(list(grams), dtype=object)) % M
        sig = (hs[:, None] * a[None, :] + b[None, :]) % M
        ref = sig.min(axis=0).astype(np.int64).tolist()
        assert got[str(i)] == ref, f"doc {i}: kernel diverged from plain reference"


def test_minhash_verify_spreads_shingles_after_join(spark):
    """r7: minhash_near_dups computes word_shingles AFTER the candidate
    melt-join (only candidate docs pay the HOF), and the output is
    unchanged vs the planted ground truth regardless of partitioning."""
    for parts in (1, 5):
        pairs = {
            (r["id_a"], r["id_b"])
            for r in dd.minhash_near_dups(
                _docs(spark).repartition(parts), shingle_n=2, num_hashes=32,
                bands=16, threshold=0.8,
            ).collect()
        }
        assert ("d1", "d2") in pairs
        assert ("d4", "d5") not in pairs


def test_jaccard_mask_path_matches_array_path(spark):
    """The bitmask fast path (vocab <= max_mask_words) must produce the
    EXACT pair set and jaccard doubles of the array_intersect path, on a
    corpus with duplicate words, threshold-straddling overlaps, an empty
    text, shared blocks, and >64 distinct words (multi-lane masks)."""
    import random

    rnd = random.Random(7)
    vocab = [f"w{i}" for i in range(90)]  # 2 mask lanes
    rows = []
    for i in range(60):
        k = rnd.randint(1, 25)
        words = [rnd.choice(vocab) for _ in range(k)]  # dup words likely
        if rnd.random() < 0.4 and len(rows) >= 3:  # plant same-block near-dups
            prev = rows[-3][1].split()  # -3 => same i % 3 block
            words = prev[: max(1, len(prev) - 2)] + words[:2]
        rows.append((f"d{i}", " ".join(words), f"b{i % 3}"))
    rows.append(("empty", "", "b0"))
    docs = spark.createDataFrame(rows, "doc_id string, text string, lang string")
    kw = dict(text_col="text", id_col="doc_id", block_col="lang",
              shingle_n=1, threshold=0.4)
    fast = sorted((r.id_a, r.id_b, r.jaccard) for r in
                  dd.ngram_jaccard_pairs(docs, **kw).collect())
    slow = sorted((r.id_a, r.id_b, r.jaccard) for r in
                  dd.ngram_jaccard_pairs(docs, max_mask_words=0, **kw).collect())
    assert fast == slow and len(fast) > 0
    # over-cap vocab falls back to the array path (still identical)
    capped = sorted((r.id_a, r.id_b, r.jaccard) for r in
                    dd.ngram_jaccard_pairs(docs, max_mask_words=8, **kw).collect())
    assert capped == slow
