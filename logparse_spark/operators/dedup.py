"""Deduplication operators for large-scale training-data pipelines.

Each operator has one kernel.  The MinHash signature is an Arrow
pandas UDF over numpy (a dense numeric kernel: factorize the batch's
shingles, then one Mersenne-reduced permutation matrix); SimHash, the
LSH band/bucket joins and every verify step are JVM built-ins
(whole-stage codegen), SimHash computed so that DuckDB reproduces it
bit-for-bit.

Scale design:
- MinHash-LSH: candidates come from an equi-join on (band, band_hash)
  buckets — never an O(n^2) cross join; verification touches only
  bucket collisions;
- SimHash: banding on 15-bit chunks (pigeonhole: hamming<=3 over 60
  bits guarantees one of 4 chunks equal) -> equi-join, then exact
  hamming verify;
- embedding near-dup: random-hyperplane LSH buckets -> in-bucket
  cosine, hyperplanes derived deterministically from a seed.

Durability: every ``localCheckpoint`` below keeps its blocks in
executor storage, outside the lineage.  A lost executor fails the query
instead of recomputing the table; that is the trade accepted for
evaluating a self-join's (or an iteration's) shared side once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logparse_spark.session import local_frame

# ---------------------------------------------------------------------------
# shingling + MinHash + LSH
# ---------------------------------------------------------------------------

# 2^31-1: keeps a*h+b < 2^62, so the signature kernel's uint64 products
# never wrap and two shift-add folds reduce them exactly
_MERSENNE = (1 << 31) - 1


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column (pure SQL)."""
    words = F.split(F.lower(F.trim(text)), r"\s+")
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0))),
            lambda i: F.array_join(F.slice(words, i + 1, n), " "),
        )
    )


def minhash_signature_np(
    text_col: str, num_hashes: int = 32, shingle_n: int = 3, seed: int = 42,
) -> Column:
    """Vectorized MinHash signature via Arrow pandas UDF + numpy.

    h_i(s) = (a_i * hash(s) + b_i) mod M (Carter-Wegman family, M =
    2^31-1); signature[i] = min over the doc's distinct word n-grams.
    Computed as one (unique shingles x num_hashes) numpy matrix per
    Arrow batch — measured ~10x a SQL higher-order-function version
    (one interpreted lambda per element there): the inner loop is a
    dense numeric kernel, exactly the case Arrow-batched numpy is for.
    """
    import random

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    rnd = random.Random(seed)
    a = np.array([rnd.randrange(1, _MERSENNE) for _ in range(num_hashes)], dtype=np.uint64)
    b = np.array([rnd.randrange(0, _MERSENNE) for _ in range(num_hashes)], dtype=np.uint64)
    M = np.uint64(_MERSENNE)

    import re as _re

    def _shingle_words(t) -> list[str]:
        # EXACT replica of word_shingles' tokenization (lower(trim(.))
        # split on \s+): Spark trim strips spaces only, and the regex
        # split keeps a leading '' token after e.g. a leading tab —
        # plain str.split() would silently compute a different Jaccard
        # than the verify stage/oracle and skew banding recall
        return _re.split(r"\s+", str(t or "").lower().strip(" "))

    def _sig(texts):
        # batch-vectorized: shingle per doc in Python (string work), then
        # hash/permute only the batch's UNIQUE shingles.  Templated
        # corpora repeat shingles heavily across documents (measured 94x
        # at sf1.0), so factorize-first shrinks the permutation matrix
        # from (total_shingles x H) to (unique x H) — and the uint64
        # `% M` that dominated the old kernel (numpy integer modulo is
        # scalar division; 26.8 of 28.8 s serial at sf1.0) is replaced
        # by an exact Mersenne-prime reduction (shift/mask only, chunked
        # to stay in cache).  Per-doc minima then gather tiny (n_grams x
        # H) slices of the unique-signature table, which fits L2.
        # Measured: 28.8 s -> 2.96 s serial on the 50k-doc sf1.0 corpus,
        # bit-identical output (tests/test_dedup.py pins kernel == the
        # plain hash*a+b %M reference).
        grams_per_doc = []
        for t in texts:
            words = _shingle_words(t)
            if len(words) >= shingle_n:
                grams = {" ".join(words[i:i + shingle_n])
                         for i in range(len(words) - shingle_n + 1)}
            else:
                grams = {" ".join(words)} if words else {""}
            grams_per_doc.append(list(grams))
        if not grams_per_doc:
            return pd.Series([], dtype=object)
        counts = np.array([len(g) for g in grams_per_doc], dtype=np.int64)
        flat = np.array([g for doc in grams_per_doc for g in doc], dtype=object)
        codes, uniques = pd.factorize(flat)
        hs_u = pd.util.hash_array(uniques) % M
        n_uniq = len(uniques)
        sig_u = np.empty((n_uniq, num_hashes), dtype=np.uint64)
        shift = np.uint64(31)
        for s in range(0, n_uniq, 16384):
            x = hs_u[s:s + 16384, None] * a[None, :]
            x += b[None, :]
            # exact x mod (2^31-1): x < 2^62, two shift-add folds bound
            # the value by M+1, one conditional subtract finishes
            y = x >> shift; x &= M; x += y
            y = x >> shift; x &= M; x += y
            x[x >= M] -= M
            sig_u[s:s + 16384] = x
        ends = np.cumsum(counts)
        starts = ends - counts
        mins = np.empty((len(counts), num_hashes), dtype=np.uint64)
        for i in range(len(counts)):  # every doc has >=1 gram
            mins[i] = sig_u[codes[starts[i]:ends[i]]].min(axis=0)
        return pd.Series([row.astype(np.int64).tolist() for row in mins])

    _sig.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return pandas_udf(_sig, "array<long>")(F.col(text_col))


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    seed: int = 42,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash-LSH (id_a < id_b).

    shingle -> minhash -> band -> bucket self-equi-join.  Pair
    generation is a JOIN on (band, band_hash) — never a per-bucket
    ``collect_set`` (VERDICT r1: a duplicate-heavy web corpus puts 10^6
    ids in one bucket; one giant array row + O(bucket^2) explode OOMs a
    task, while a join is AQE-skew-splittable).

    `max_bucket` drops buckets larger than the cap BEFORE the join: a
    bucket of B ids contributes B^2 candidate pairs, so one degenerate
    bucket (boilerplate/empty docs) dominates the whole job.  Members of
    dropped buckets still pair through their other `bands-1` buckets;
    collapse exact duplicates first.
    NOT silent: monitor `minhash_dropped_buckets` with the same args.

    Signatures come from :func:`minhash_signature_np`.
    """
    banded = _minhash_banded(df, text_col, id_col, num_hashes, bands, shingle_n, seed)
    if max_bucket is not None:
        # window count over the SAME shuffle the self-join needs, so the
        # cap never forces an extra full evaluation of the signature
        # subtree (a groupBy-and-join-back sizes table would)
        from pyspark.sql import Window

        w = Window.partitionBy("band", "band_hash")
        banded = (
            banded.withColumn("_bsz", F.count("*").over(w))
            .where(F.col("_bsz") <= max_bucket)
            .drop("_bsz")
        )
    # materialize the banded table before the self-join: the planner
    # otherwise evaluates the signature-UDF subtree ONCE PER JOIN SIDE
    # (r7 plan audit: two ArrowEvalPython nodes — AQE broadcast-joins
    # the small banded side, and a broadcast build cannot reuse the
    # other side's shuffle Exchange).  localCheckpoint is per-invocation
    # state (plan-keyed cache reuse across runs would be result
    # caching); the table is (id, band, band_hash) — tens of bytes per
    # doc-band, never the text.  Executor-local: a lost executor fails
    # the query (module docstring).
    banded = banded.localCheckpoint()
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
                 & (F.col("a.band_hash") == F.col("b.band_hash"))
                 & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_dropped_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    seed: int = 42,
    max_bucket: int = 10_000,
) -> DataFrame:
    """(band, band_hash, size) of buckets the cap would drop — the
    accounting side of `max_bucket` so capping is never silent."""
    banded = _minhash_banded(df, text_col, id_col, num_hashes, bands, shingle_n, seed)
    return (
        banded.groupBy("band", "band_hash").agg(F.count("*").alias("size"))
        .where(F.col("size") > max_bucket)
    )


def _spread(df: DataFrame, *cols: str | Column) -> DataFrame:
    """Projection of ``cols``, repartitioned iff the input under-splits
    the cluster — the one under-split guard of the query layer.  The
    per-doc kernels (minhash UDF, simhash explode+md5 map side, shingle
    HOFs, GEMM batches, interpreted higher-order cosine) are the
    CPU-heavy stages of their operators: never let them run at
    input-FILE parallelism.  A small corpus in one parquet file would
    otherwise compute every signature in a single task (measured at
    sf0.1: 15 s serial vs ~1 s spread over the cores; at sf1.0
    q_embed_neardup's whole 20k x 20k GEMM ran serially, ~27 s) — and a
    serial stage is also maximally exposed to single-core noisy-neighbor
    slowdowns.  The repartition shuffles only the projection, and only
    when needed; a large input already split into >= cores/2 tasks
    passes through untouched (no extra Exchange at 100 TB, where inputs
    arrive in thousands of splits).

    The split-count probe (`.rdd.getNumPartitions()`) runs ONLY for
    DIRECT file-scan inputs: on a derived plan (anything downstream of
    a shuffle) the RDD conversion finalizes AQE and eagerly executes
    the upstream query stages — and such inputs are already spread by
    their own shuffle, so they pass through unprobed and untouched.
    `inputFiles()` is NOT the test for this (it collects file sources
    from the WHOLE plan, so a parquet-backed aggregate still reports
    files — ADVICE r4); `_is_direct_file_scan` inspects the optimized
    logical plan for wide/generating operators instead."""
    par = df.sparkSession.sparkContext.defaultParallelism
    narrow = df.select(*cols)
    if _is_direct_file_scan(df) and narrow.rdd.getNumPartitions() < max(2, par // 2):
        narrow = narrow.repartition(par)
    return narrow


# logical-plan node names whose presence means the input is NOT a plain
# scan+project+filter: either a shuffle already spread it, or probing its
# RDD would eagerly execute upstream stages (Aggregate/Join/...), or its
# row count is not the scan's (Generate/Limit/Sample)
_NON_SCAN_NODES = (
    "Aggregate", "Join", "Window", "Sort", "Repartition", "Exchange",
    "Generate", "Deduplicate", "Distinct", "Union", "Intersect", "Except",
    "GlobalLimit", "LocalLimit", "Expand", "Sample", "CoGroup", "MapInPandas",
    "MapInArrow", "FlatMapGroupsInPandas", "MapGroups", "MapElements",
    # ADVICE r5: rebalance hints shuffle (RebalancePartitions), and
    # Offset/Tail change the row count — all three must not be probed
    "Rebalance", "Offset", "Tail",
)


def _plan_node_names(plan: str) -> list[str]:
    """Leading node name of every line of a logical-plan tree string
    (strips the `+- ` / `:  +- ` tree-drawing prefix).  Matching NODE
    names — not raw substrings — matters: a pushed filter literal like
    Contains(text, 'Sorted') must not look like a Sort node."""
    import re

    return re.findall(r"(?m)^[\s:+-]*'?([A-Za-z]\w*)", plan)


def _is_direct_file_scan(df: DataFrame) -> bool:
    """True iff the frame is a plain projection/filter over a file
    relation — the only shape whose RDD partition count is (a) cheap to
    probe (metadata-only, nothing executes) and (b) actually the file
    split count.  Uses the OPTIMIZED logical plan: producing it runs the
    analyzer/optimizer but never launches a job."""
    try:
        if not df.inputFiles():  # no file source anywhere (createDataFrame)
            return False
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    except Exception:  # noqa: BLE001 - non-SQL inputs (e.g. raw RDD frames)
        return False
    return not any(
        node.startswith(_NON_SCAN_NODES) for node in _plan_node_names(plan)
    )


def _minhash_banded(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int,
    bands: int, shingle_n: int, seed: int,
) -> DataFrame:
    """(id, band, band_hash) — one row per document per band."""
    rows_per_band = num_hashes // bands
    sig = _spread(df, F.col(id_col).alias("id"), F.col(text_col).alias("_t")).select(
        "id", minhash_signature_np("_t", num_hashes, shingle_n, seed).alias("sig"))
    return sig.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bi: F.struct(
                    bi.alias("band"),
                    F.xxhash64(
                        F.array_join(F.slice(F.col("sig"), bi * rows_per_band + 1, rows_per_band), ",")
                    ).alias("band_hash"),
                ),
            )
        ).alias("bh"),
    ).select("id", "bh.band", "bh.band_hash")


def minhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 63,
    bands: int = 21,
    shingle_n: int = 1,
    threshold: float = 0.8,
    seed: int = 42,
    max_bucket: int | None = None,
) -> DataFrame:
    """Production shape: LSH candidates -> exact-Jaccard verify.

    Joins each candidate pair back to its shingle sets and keeps pairs
    with exact word-shingle Jaccard >= threshold, so the output is a
    VERIFIED near-dup edge list (exactly checkable against a quadratic
    oracle when banding recall ~1: rows/band=3, 21 bands => a J=0.8
    pair is missed w.p. (1-0.8^3)^21 ~ 3e-7).

    `max_bucket` defaults to None here (unlike the raw candidate
    generator): a cap breaks ground-truth equality on duplicate-heavy
    corpora — docs above the cap share ALL their band buckets, so every
    bucket overflows and their pairs vanish while a quadratic oracle
    keeps them.  Set it only when you accept cap semantics (and collapse
    exact duplicates first so identical docs never form giant buckets).
    """
    cand = minhash_lsh_candidates(
        df, text_col, id_col, num_hashes, bands, shingle_n, seed,
        max_bucket=max_bucket,
    )
    # verify via melt-join: ONE scan of `documents` (round 2 joined two
    # separate shingle projections — two full scans of the corpus for
    # the verify stage alone).  Candidates melt to (pair, id) rows, join
    # the single text projection once, and the pair's two shingle
    # sets meet again in a tiny groupBy keyed by the pair itself
    # (Jaccard is symmetric, so collect_list order doesn't matter).
    #
    # word_shingles is evaluated AFTER the join, so only rows that are
    # half of a candidate pair pay the (interpreted higher-order-fn)
    # shingle expression — and on a spread projection, never at input-
    # file parallelism.  r6 computed shingles for the WHOLE corpus on
    # the raw scan: at sf1.0 that is 50k docs x ~600 us of HOF in ONE
    # task (single-row-group parquet) = 29.8 s measured for a stage
    # whose join keeps ~7k pairs.  No forced broadcast: the melted side
    # is usually small (AQE converts to broadcast at runtime and the
    # spread text then never shuffles), but on a pair-heavy corpus it
    # can grow without bound, and a shuffle join of (id, text) still
    # moves each text at most once — strictly fewer bytes than the old
    # all-docs shingle-array shuffle.
    txt = _spread(df, F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
    melted = cand.select(
        F.struct(F.col("id_a"), F.col("id_b")).alias("pid"),
        F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias("id"),
    )
    par = df.sparkSession.sparkContext.defaultParallelism
    pairs = (
        txt.join(melted, "id")
        # explicit repartition before the shingle HOF: the join output
        # inherits the candidate side's partitioning, which AQE has
        # usually coalesced to ~1 partition (bytes-tiny), putting the
        # whole interpreted shingle expression back on one task (r7
        # measured: 6.6 s of the verify stage).  A user-specified
        # partition count is exempt from AQE coalescing; the shuffle
        # moves only candidate-pair texts.
        .repartition(par)
        .select("pid", word_shingles(F.col("_t"), shingle_n).alias("sh"))
        .groupBy("pid")
        .agg(F.collect_list("sh").alias("shs"))
        # contract: id_col values are unique (duplicate ids would melt to
        # >2 shingle arrays per pair and shs[0]/shs[1] could be two
        # copies of the SAME document -> silent Jaccard=1.0 false
        # positives).  Guard so such inputs drop the pair loudly in
        # parity rather than emit wrong edges.
        .where(F.size("shs") == 2)
    )
    inter = F.size(F.array_intersect(F.col("shs")[0], F.col("shs")[1]))
    union = F.size(F.array_union(F.col("shs")[0], F.col("shs")[1]))
    return (
        pairs.where(inter / F.when(union > 0, union) >= threshold)
        .select(F.col("pid.id_a").alias("id_a"), F.col("pid.id_b").alias("id_b"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = None,
    shingle_n: int = 2,
    threshold: float = 0.5,
    max_mask_words: int = 4096,
) -> DataFrame:
    """Exact word-n-gram Jaccard over blocked candidate pairs.

    `block_col` bounds the join (same-language, length bucket, or an
    LSH bucket from minhash_lsh_candidates); without blocking this is
    quadratic and refuses to pretend otherwise.

    Per-pair cost: when the runtime shingle vocabulary fits in
    `max_mask_words` distinct values (collected per invocation, at most
    `max_mask_words` + 1 of them, one tiny aggregate job), each doc's
    shingle SET is packed into ceil(V/64) bigint bitmask lanes and the
    pair check collapses to bit_count(a&b) / bit_count(a|b) — O(V/64)
    machine ops in
    whole-stage codegen instead of a per-pair array_intersect hash
    build (measured 75 s -> ~2 s on the sf0.1 documents corpus, whose
    31-word vocab makes every doc pair a candidate; prefix filtering
    prunes nothing on such dense inputs).  array_intersect/union have
    SET semantics, so popcounts over set bitmasks produce the same
    integers and the same jaccard doubles — pinned by
    test_jaccard_mask_path_matches_array_path.  A vocabulary above the
    cap (real prose, n>=2 shingles) or a non-positive threshold (the
    mask path drops never-matching all-null/empty docs that
    threshold<=0 would keep) falls back to the array path unchanged.

    Precondition: `id_col` is unique.  Both paths pair rows by `id`, but
    the mask path folds every row of one id into one bitmask (a set
    union) while the array path compares each row on its own, so
    duplicate ids give different pairs and scores on the two paths.
    """
    # _spread: never run the shingle HOF at input-FILE parallelism (a
    # single-row-group parquet file = one serial task)
    narrow = _spread(
        df,
        F.col(id_col).alias("id"),
        (F.col(block_col) if block_col else F.lit(0)).alias("blk"),
        F.col(text_col).alias("_t"),
    )
    sh = narrow.select(
        "id", "blk", word_shingles(F.col("_t"), shingle_n).alias("sh"),
    ).localCheckpoint()  # shingle HOF would otherwise run once per join side
    # (executor-local: a lost executor fails the query, module docstring)
    if threshold > 0:
        # one evaluation of the vocabulary, stopped at the cap: a large
        # one is never collected in full just to be rejected, and a small
        # one is the rank table's input
        words = [r[0] for r in sh.select(F.explode("sh").alias("w")).distinct()
                 .limit(max_mask_words + 1).collect()]
        if 0 < len(words) <= max_mask_words:
            return _jaccard_pairs_masked(sh, words, threshold)
    a, b = sh.alias("a"), sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.array_union(F.col("a.sh"), F.col("b.sh")))
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            (inter / F.when(union > 0, union)).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def _jaccard_pairs_masked(sh: DataFrame, words: list[str | None],
                          threshold: float) -> DataFrame:
    """Bitmask-lane jaccard: docs as ceil(V/64) bigint set masks.

    Rank every distinct shingle of the collected vocabulary ``words``
    (sorted on the driver, null first, then by code point, which is
    Spark's UTF-8 byte order; the rank table is a broadcast
    ``LocalRelation`` — V <= max_mask_words), bit_or the per-doc
    postings into lane columns, then self-join per block with popcount
    arithmetic.  Null shingles (null input text) rank like any other
    value via a null-safe join, matching array_intersect's null-element
    semantics.
    """
    lanes = (len(words) + 63) // 64
    order = sorted(words, key=lambda w: (w is not None, w or ""))
    ranked = local_frame(sh.sparkSession, list(zip(order, range(len(order)))), "w string, r int")
    post = sh.select("id", "blk", F.explode("sh").alias("w"))
    post = post.join(F.broadcast(ranked), on=post["w"].eqNullSafe(ranked["w"]))
    masks = post.groupBy("id", "blk").agg(*[
        # shiftleft with a COLUMN shift amount needs the SQL form (the
        # PySpark wrapper only takes an int literal)
        F.bit_or(F.expr(
            f"CASE WHEN r BETWEEN {j * 64} AND {j * 64 + 63} "
            f"THEN shiftleft(1L, r - {j * 64}) ELSE 0L END"
        )).alias(f"m{j}")
        for j in range(lanes)
    ]).localCheckpoint()  # tiny (id, blk, lanes), one eval; executor-local
    # spread the probe side: the checkpointed table is 1-2 partitions, so
    # the O(pairs-per-block) expansion would otherwise run on one task
    # (AQE still picks the join strategy; the build side broadcasts when
    # small and degrades to a shuffle join on a huge corpus)
    par = masks.sparkSession.sparkContext.defaultParallelism
    a, b = masks.repartition(par).alias("a"), masks.alias("b")
    inter = sum(
        F.bit_count(F.col(f"a.m{j}").bitwiseAND(F.col(f"b.m{j}")))
        for j in range(lanes))
    union = sum(
        F.bit_count(F.col(f"a.m{j}").bitwiseOR(F.col(f"b.m{j}")))
        for j in range(lanes))
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            (inter / F.when(union > 0, union)).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# dedup clustering: connected components over a near-dup edge list
# ---------------------------------------------------------------------------


def connected_components(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components of an undirected edge list -> (id, component)
    where `component` is the MIN node id reachable from `id`.

    Iterative min-label propagation WITH pointer-doubling: every node
    starts labelled with itself; each round a node takes the min of its
    own label, its neighbours' labels, and its label's label (the
    shortcut / path-halving step — labels always name live nodes, so a
    self-join on the label table follows the pointer one hop).  The
    neighbour step alone needs diameter rounds; the shortcut folds the
    pointer chains so convergence is O(log diameter) — a 1M-node chain
    converges in ~20 rounds, not 1M (the same guarantee class as the
    large-star/small-star MapReduce scheme, with a simpler invariant:
    a label is always a smaller-or-equal node id in the same
    component, so the fixpoint is exactly the component minimum).

    Scale notes: each round is two shuffle joins keyed by node id
    (labels x edges, labels x labels) + one groupBy min — no
    collect_list, so a high-degree hub never materializes its
    neighbourhood in one task.  `localCheckpoint` cuts the lineage per
    round (an iterative plan otherwise doubles every iteration); its
    blocks live in executor storage, so a lost executor fails the run
    rather than recomputing a round;
    convergence is detected with a cheap `where(changed).isEmpty()`
    probe, not a full count.  Superseded rounds' checkpoint blocks
    become unreferenced as `labels` is rebound and are reclaimed
    asynchronously by Spark's ContextCleaner; they are MEMORY_AND_DISK,
    so at worst O(log diameter) small (id, component) tables spill to
    disk before cleanup — never an OOM source.
    """
    # canonical undirected adjacency, one row per direction
    fwd = edges.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    rev = edges.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    adj = fwd.unionByName(rev).distinct().localCheckpoint()

    labels = (
        adj.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("component"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        neigh_min = (
            adj.join(labels, adj["dst"] == labels["id"])
            .groupBy("src").agg(F.min("component").alias("neigh_component"))
        )
        stepped = (
            labels.join(neigh_min, labels["id"] == neigh_min["src"], "left")
            .select(
                "id",
                F.col("component").alias("old_component"),
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("neigh_component"), F.col("component")),
                ).alias("component"),
            )
        )
        # pointer-doubling shortcut: component <- label of my component
        # (every label is a live node id, so the lookup always hits)
        lut = labels.select(
            F.col("id").alias("lut_id"), F.col("component").alias("lut_component")
        )
        new_labels = (
            stepped.join(lut, stepped["component"] == lut["lut_id"])
            .select(
                "id",
                F.least(F.col("component"), F.col("lut_component")).alias("component"),
                (
                    F.least(F.col("component"), F.col("lut_component"))
                    < F.col("old_component")
                ).alias("changed"),
            )
        ).localCheckpoint()
        converged = new_labels.where(F.col("changed")).isEmpty()
        labels = new_labels.drop("changed")
        if converged:
            return labels
    # no silent caps: partially-propagated labels are WRONG labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds; "
        "the graph has a component with diameter > max_iter (raise "
        "max_iter, or switch to large-star/small-star for chain-like graphs)"
    )


def dedup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    **minhash_kwargs,
) -> DataFrame:
    """Near-dup clusters with a canonical representative per doc:
    minhash_near_dups edges -> connected components -> every document
    mapped to the min doc id of its cluster (singletons map to
    themselves).  `keep = (doc_id == canonical_id)` is the standard
    keep-one-per-cluster training-data dedup policy."""
    edges = minhash_near_dups(df, text_col, id_col, **minhash_kwargs)
    # prefix the component columns so an id_col named 'id' or 'component'
    # can't collide with connected_components' output schema
    comp = connected_components(edges).select(
        F.col("id").alias("_cc_id"), F.col("component").alias("_cc_component")
    )
    base = df.select(F.col(id_col))
    return (
        base.join(comp, base[id_col] == comp["_cc_id"], "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("_cc_component"), F.col(id_col)).alias("canonical_id"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash (pure SQL, DuckDB-exact)
# ---------------------------------------------------------------------------


def simhash_sql(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                bits: int = 60) -> DataFrame:
    """(id, sh): SimHash computed entirely JVM-side (whole-stage codegen).

    Per-word hash = first 15 hex chars of md5 = 60 bits, chosen because
    DuckDB computes the IDENTICAL value
    (``CAST('0x' || substring(md5(w),1,15) AS BIGINT)``), which makes the
    whole operator exactly oracle-checkable, with no Python on the hot
    path.

    Shape: explode words -> `bits` conditional sums.  A document's words
    stay in its input partition, so partial aggregation collapses each
    doc map-side and the shuffle carries ONE row of `bits` counters per
    document (~8*bits bytes), not the text.  Docs with zero words get no
    simhash (they have no near-dup signal; collapsing exact duplicates
    first covers them).
    """
    words = F.filter(
        F.split(F.lower(F.trim(F.col("_t"))), r"\s+"), lambda w: w != ""
    )
    hv = F.conv(F.substring(F.md5(F.col("word")), 1, 15), 16, 10).cast("bigint")
    exploded = (
        _spread(df, F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
        .select("id", F.explode(words).alias("word"))
        .withColumn("hv", hv)
    )
    # The +-1 counter s_j = 2*ones_j - n_words, so the sign test
    # s_j >= 0 is exactly 2*ones_j >= n_words: summing the raw bit
    # (shiftright+AND, no CASE branch) plus ONE shared count does the
    # same 60 counters with about half the per-word expression work
    # (measured 1.53 -> 1.0 s on the sf0.1 corpus; bit-identical sh,
    # pinned by the DuckDB oracle which still computes the +-1 form).
    aggs = [
        F.sum(F.shiftright(F.col("hv"), j).bitwiseAND(F.lit(1))).alias(f"s{j}")
        for j in range(bits)
    ] + [F.count(F.lit(1)).alias("n_words")]
    bitsum = exploded.groupBy("id").agg(*aggs)
    sh = None
    for j in range(bits):
        term = F.when(
            F.col(f"s{j}") * 2 >= F.col("n_words"), F.lit(1 << j).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
        sh = term if sh is None else sh + term
    return bitsum.select("id", sh.alias("sh"))


def simhash_near_dups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming.

    The hash is :func:`simhash_sql`'s 60-bit md5 simhash (zero Python,
    exactly reproducible in DuckDB).  Pigeonhole banding: split it into
    4 chunks of 15 bits; any pair within hamming 3 shares >=1 exact
    chunk -> equi-join per chunk, union, exact hamming verify (bit_count
    is a JVM builtin).
    """
    width = 15
    # materialize before the chunk self-join: both sides otherwise
    # re-evaluate the full 60-counter bitsum aggregation (one subtree
    # per side in the physical plan — see minhash_lsh_candidates).
    # (id, sh) is 16 bytes/doc; executor-local (module docstring).
    s = simhash_sql(df, text_col, id_col).localCheckpoint()
    mask = (1 << width) - 1
    chunks = s.select(
        "id", "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("sh"), c * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("ckey"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("c"),
    ).select("id", "sh", "c.chunk", "c.ckey")
    a, b = chunks.alias("a"), chunks.alias("b")
    hamming = F.expr("bit_count(a.sh ^ b.sh)")
    return (
        a.join(b, (F.col("a.chunk") == F.col("b.chunk")) & (F.col("a.ckey") == F.col("b.ckey"))
                 & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup (random hyperplane LSH, pure SQL)
# ---------------------------------------------------------------------------


def lsh_planes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic seed-derived random hyperplanes (shared with the
    oracle builder so the DuckDB SQL can embed the same literals)."""
    import random

    rnd = random.Random(seed)
    return [[rnd.gauss(0, 1) for _ in range(dim)] for _ in range(n_planes)]


def embedding_near_dups(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    n_planes: int = 12,
    min_cosine: float = 0.95,
    seed: int = 42,
    round_to: int | None = None,
) -> DataFrame:
    """Cosine near-dups via sign-LSH buckets + in-bucket exact cosine.

    Hyperplanes are seed-derived literal arrays folded into the plan;
    bucket key = n_planes sign bits -> one equi-join shuffle.
    `round_to` rounds the cosine before thresholding (set it when
    comparing against an oracle that sums in a different order).
    """
    from logparse_spark.operators.similarity import cosine, dot

    planes = lsh_planes(dim, n_planes, seed)
    # double math end-to-end: float32 sums drift from a DOUBLE[] oracle
    # and from the float64 GEMM path.  _spread: the plane dots are
    # per-row interpreted HOFs — never at input-file parallelism.
    narrow = _spread(df, F.col(id_col).alias("id"), F.col(vec_col).alias("_t"))
    vec = F.col("_t").cast("array<double>")
    # one F.expr per plane, not one F.lit per scalar: per-literal py4j
    # round-trips are serial DRIVER time (~0.5 s for 12x64 here; see
    # similarity.centroid_literal for the measurement); repr round-trips
    # each double exactly so the plan is bit-identical
    # the D suffix is load-bearing: bare decimals in SQL text parse as
    # DECIMAL, not DOUBLE (see similarity.centroid_literal)
    plane_cols = [
        F.expr("array(" + ", ".join(repr(float(w)) + "D" for w in p) + ")")
        for p in planes
    ]
    bits = [
        F.when(dot(vec, pc) >= 0, 1).otherwise(0) * (1 << i)
        for i, pc in enumerate(plane_cols)
    ]
    bucket = sum(bits[1:], bits[0]).alias("bucket")
    # materialize before the bucket self-join: the n_planes interpreted
    # dot products per row otherwise evaluate once per join side
    # (executor-local: a lost executor fails the query, module docstring)
    v = narrow.select(F.col("id"), vec.alias("v"), bucket).localCheckpoint()
    a, b = v.alias("a"), v.alias("b")
    cos = cosine(F.col("a.v"), F.col("b.v"))
    if round_to is not None:
        cos = F.round(cos, round_to)
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), cos.alias("cosine"))
        .where(F.col("cosine") >= min_cosine)
    )
