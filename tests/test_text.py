"""Text-analysis operators: language ID on known-language samples,
token counts, fingerprint invariance."""

from pyspark.sql import functions as F

from logparse_spark.operators import text as tx


def test_lang_id(spark):
    rows = [
        ("e", "the cat and the dog sat on the mat in the house"),
        ("s", "el perro y el gato en la casa de los vecinos"),
        ("f", "le chat et le chien dans la maison des voisins"),
        ("g", "der hund und die katze mit den nachbarn ist nicht da"),
        ("u", "zzz qqq xxx yyy www"),
    ]
    df = spark.createDataFrame(rows, "id string, text string")
    got = {r["id"]: r["lang"] for r in
           df.select("id", tx.lang_id(F.col("text")).alias("lang")).collect()}
    assert got == {"e": "en", "s": "es", "f": "fr", "g": "de", "u": "und"}


def test_token_counts(spark):
    df = spark.createDataFrame([("a", "Hello world, 42 tokens here!")], "id string, text string")
    r = df.select(
        tx.whitespace_token_count(F.col("text")).alias("ws"),
        tx.bpe_token_count(F.col("text")).alias("bpe"),
    ).collect()[0]
    assert r["ws"] == 5
    # Hello|world|,|42|tokens|here|! -> 7 BPE-ish pieces
    assert r["bpe"] == 7


def test_fingerprint_whitespace_invariant(spark):
    df = spark.createDataFrame(
        [("a", "Hello   world"), ("b", "hello world"), ("c", "hello worlds")],
        "id string, text string")
    got = {r["id"]: r["fp"] for r in
           df.select("id", tx.fingerprint(F.col("text")).alias("fp")).collect()}
    assert got["a"] == got["b"]
    assert got["a"] != got["c"]


def test_chunk_documents_matches_duckdb_oracle(spark):
    import duckdb

    from logparse_spark.operators.text import chunk_documents

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {
        (r["id"], r["chunk_id"]): (r["chunk_text"], r["n_tokens"])
        for r in chunk_documents(docs, chunk_tokens=16, overlap=4).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                "read_parquet('/root/testdata/sf0.001/documents.parquet')")
    want = {
        (r[0], r[1]): (r[2], r[3])
        for r in con.execute("""
            WITH t AS (
                SELECT doc_id AS id,
                       list_filter(string_split_regex(trim(text), '\\s+'),
                                   w -> w <> '') AS toks
                FROM documents
            ), n AS (
                SELECT id, toks, len(toks) AS n,
                       1 + CAST(ceil(greatest(len(toks) - 16, 0) / 12.0) AS INT)
                           AS n_chunks
                FROM t
            )
            SELECT id, k AS chunk_id,
                   array_to_string(toks[k*12+1 : k*12+16], ' ') AS chunk_text,
                   least(n - k*12, 16) AS n_tokens
            FROM n, unnest(generate_series(0, n_chunks - 1)) AS u(k)
        """).fetchall()
    }
    assert got == want
    assert len(got) > docs.count()  # long docs produced multiple chunks


def test_chunk_documents_overlap_and_edges(spark):
    from logparse_spark.operators.text import chunk_documents

    df = spark.createDataFrame(
        [("a", " ".join(f"w{i}" for i in range(10))),  # 10 toks: 2 chunks of 8/stride 6
         ("b", "one two"),                              # shorter than one window
         ("c", " ".join(f"x{i}" for i in range(8)))],   # exactly one window
        "doc_id string, text string",
    )
    out = {(r["id"], r["chunk_id"]): r for r in
           chunk_documents(df, chunk_tokens=8, overlap=2).collect()}
    assert out[("a", 0)]["chunk_text"].split() == [f"w{i}" for i in range(8)]
    # stride 6: second chunk starts at token 6, shares 2 tokens with chunk 0
    assert out[("a", 1)]["chunk_text"].split() == [f"w{i}" for i in range(6, 10)]
    assert out[("a", 1)]["n_tokens"] == 4
    assert out[("b", 0)]["chunk_text"] == "one two" and out[("b", 0)]["n_tokens"] == 2
    assert ("b", 1) not in out
    assert out[("c", 0)]["n_tokens"] == 8 and ("c", 1) not in out


def test_chunk_documents_rejects_bad_overlap(spark):
    import pytest

    from logparse_spark.operators.text import chunk_documents

    df = spark.createDataFrame([("a", "x")], "doc_id string, text string")
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, chunk_tokens=8, overlap=8)


def test_pack_chunks_matches_duckdb_oracle(spark):
    import duckdb

    from logparse_spark.operators.text import chunk_documents, pack_chunks

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    chunks = chunk_documents(docs, chunk_tokens=16, overlap=4)
    got = {(r["id"], r["chunk_id"]): r["pack_id"]
           for r in pack_chunks(chunks, target_tokens=64,
                                allow_global_order=True).collect()}
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                "read_parquet('/root/testdata/sf0.001/documents.parquet')")
    want = {
        (r[0], r[1]): r[2]
        for r in con.execute("""
            WITH t AS (
                SELECT doc_id AS id,
                       list_filter(string_split_regex(trim(text), '\\s+'),
                                   w -> w <> '') AS toks
                FROM documents
            ), n AS (
                SELECT id, toks, len(toks) AS n,
                       1 + CAST(ceil(greatest(len(toks) - 16, 0) / 12.0) AS INT)
                           AS n_chunks
                FROM t
            ), c AS (
                SELECT id, k AS chunk_id, least(n - k*12, 16) AS n_tokens
                FROM n, unnest(generate_series(0, n_chunks - 1)) AS u(k)
            )
            SELECT id, chunk_id,
                   CAST(floor((sum(n_tokens) OVER (ORDER BY id, chunk_id)
                               - n_tokens) / 64.0) AS BIGINT) AS pack_id
            FROM c
        """).fetchall()
    }
    assert got == want
    assert len(set(got.values())) > 1  # corpus spans multiple packs


def test_pack_chunks_greedy_semantics(spark):
    from logparse_spark.operators.text import pack_chunks

    rows = [("a", 0, 30), ("a", 1, 30), ("a", 2, 30), ("b", 0, 70), ("b", 1, 10)]
    df = spark.createDataFrame(rows, "id string, chunk_id int, n_tokens int")
    got = {(r["id"], r["chunk_id"]): r["pack_id"]
           for r in pack_chunks(df, target_tokens=64,
                                allow_global_order=True).collect()}
    # cumsum-30: pack floor((30-30)/64)=0; 60->0; 90->floor(60/64)=0;
    # 160->floor(90/64)=1; 170->floor(160/64)=2
    assert got == {("a", 0): 0, ("a", 1): 0, ("a", 2): 0, ("b", 0): 1, ("b", 1): 2}
    # partition-scoped packs restart per partition value
    scoped = {(r["id"], r["chunk_id"]): r["pack_id"]
              for r in pack_chunks(df, target_tokens=64,
                                   partition_col="id").collect()}
    assert scoped == {("a", 0): 0, ("a", 1): 0, ("a", 2): 0, ("b", 0): 0, ("b", 1): 1}


def test_chunk_pack_property_roundtrip(spark):
    """Property: dropping each chunk's leading `overlap` tokens (except
    chunk 0) and concatenating reconstructs the document's token list
    exactly; every pack's token sum <= target + max chunk size (greedy
    bound).  Randomized docs via hypothesis, checked through Spark in
    one batch (a per-example Spark job would take minutes)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from logparse_spark.operators.text import chunk_documents, pack_chunks

    chunk_tokens, overlap, target = 8, 3, 20
    stride = chunk_tokens - overlap
    word = st.text(alphabet="abcXYZ09", min_size=1, max_size=5)
    corpus: list[tuple[str, str]] = []

    @given(st.lists(word, min_size=1, max_size=40))
    @settings(max_examples=60, deadline=None)
    def collect(words):
        corpus.append((f"d{len(corpus)}", " ".join(words)))

    collect()
    df = spark.createDataFrame(corpus, "doc_id string, text string")
    chunks = chunk_documents(df, chunk_tokens=chunk_tokens, overlap=overlap)
    packed = pack_chunks(chunks, target_tokens=target,
                         allow_global_order=True).collect()

    by_doc: dict[str, list] = {}
    for r in packed:
        by_doc.setdefault(r["id"], []).append(r)
    originals = dict(corpus)
    assert set(by_doc) == set(originals)
    pack_sums: dict[int, int] = {}
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r["chunk_id"])
        want = [w for w in originals[doc_id].split() if w]
        rebuilt = []
        for r in rows:
            toks = r["chunk_text"].split()
            assert len(toks) == r["n_tokens"] <= chunk_tokens
            rebuilt.extend(toks if r["chunk_id"] == 0 else toks[overlap:]
                           if r["chunk_id"] * stride + overlap <= len(want)
                           else toks[len(rebuilt) - r["chunk_id"] * stride:])
            pack_sums[r["pack_id"]] = pack_sums.get(r["pack_id"], 0) + r["n_tokens"]
        assert rebuilt == want, (doc_id, rebuilt, want)
    assert all(s <= target + chunk_tokens for s in pack_sums.values())


def test_pack_chunks_requires_partition_col(spark):
    """Scale-safety default: the one-reducer global-order form must be
    an explicit opt-in, never the silent default (VERDICT r4 #2)."""
    import pytest

    from logparse_spark.operators.text import pack_chunks

    df = spark.createDataFrame([("a", 0, 5)], "id string, chunk_id int, n_tokens int")
    with pytest.raises(ValueError, match="partition_col"):
        pack_chunks(df, target_tokens=64)


def test_pack_chunks_rejects_pack_id_collision(spark):
    import pytest

    from logparse_spark.operators.text import pack_chunks

    df = spark.createDataFrame(
        [("a", 0, 5, 9)], "id string, chunk_id int, n_tokens int, pack_id int")
    with pytest.raises(ValueError, match="pack_id"):
        pack_chunks(df, target_tokens=64, partition_col="id")


def test_pack_chunks_partitioned_plan_has_no_global_sort(spark):
    """The partitioned form must shuffle on the partition key (hash
    exchange) and never collapse to a single partition; the global form
    is exactly the Exchange SinglePartition this pin forbids."""
    from logparse_spark.operators.text import pack_chunks

    df = spark.createDataFrame(
        [("a", "s0", 0, 5), ("b", "s1", 0, 7)],
        "id string, shard string, chunk_id int, n_tokens int")
    scoped = (
        pack_chunks(df, target_tokens=64, partition_col="shard")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange SinglePartition" not in scoped
    glob = (
        pack_chunks(df, target_tokens=64, allow_global_order=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange SinglePartition" in glob  # proves the pin detects it
