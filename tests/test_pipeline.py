"""End-to-end pipeline tests: the binding invariants (BASELINE.json):

- per-row token-array equality on every routed row, every sink;
- every doc_id lands in exactly one sink (never dropped, never duped);
- per-sink aggregate counts == the oracle's counts on the same corpus.
"""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from logparse_spark.main import run_pipeline
from logparse_spark.operators.aggregate import grain_counts, rule_histogram, source_level_rollup
from logparse_spark.operators.route import read_sink
from logparse_spark.oracle import parse_event
from logparse_spark.sources.datagen import generate_pdf, generate_sequences

N = 4000


@pytest.fixture(scope="module")
def pipeline_out(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pipeline"))
    seq = generate_sequences(spark, N, partitions=4)
    metrics = run_pipeline(spark, seq, out, n_buckets=2)
    return out, metrics


@pytest.fixture(scope="module")
def oracle_events():
    pdf = generate_pdf(range(N))
    return [
        parse_event(r.doc_id, list(r.tokens), r.source)
        for r in pdf.itertuples()
    ]


def test_run_metrics_equal_oracle_sums(pipeline_out, oracle_events):
    """The returned counts are sums over the run's manifest rows and
    equal the oracle's over the same corpus, exactly."""
    _, metrics = pipeline_out
    assert metrics["routed_rows"] == len(oracle_events) == N
    assert metrics["total_tokens"] == sum(len(e["tokens"]) for e in oracle_events)
    assert metrics["unknown_rows"] == sum(e["rule_id"] == -1 for e in oracle_events) > 0
    assert set(metrics) == {"routed_rows", "total_tokens", "unknown_rows",
                            "wall_sec", "run_id", "route_sec", "metrics_sec"}


def test_run_metrics_count_what_landed_in_the_sinks(spark, tmp_path, monkeypatch):
    """The returned routed_rows is read back from the sinks, not counted
    on the write plan: a row lost between the write and the metric pass
    is missing from the run's count too."""
    import os

    import pyarrow.parquet as pq

    import logparse_spark.main as main_mod
    from logparse_spark.operators.route import _data_files

    real_route = main_mod.route

    def lossy_route(df, sinks, **kw):
        real_route(df, sinks, **kw)
        victim = _data_files(sinks)[-1]
        t = pq.read_table(victim)
        pq.write_table(t.slice(1), victim, use_deprecated_int96_timestamps=True)
        d, name = os.path.split(victim)  # the stale checksum would fail the read
        os.remove(os.path.join(d, f".{name}.crc"))

    monkeypatch.setattr(main_mod, "route", lossy_route)
    out = str(tmp_path / "lossy")
    m = run_pipeline(spark, generate_sequences(spark, 600, partitions=2), out,
                     n_buckets=2, resume=False)
    assert m["routed_rows"] == read_sink(spark, f"{out}/sinks").count() == 599


def test_every_doc_in_exactly_one_sink(spark, pipeline_out):
    out, _ = pipeline_out
    routed = read_sink(spark, f"{out}/sinks")
    assert routed.count() == N
    assert routed.select("doc_id").distinct().count() == N


def test_token_equality_every_routed_row(spark, pipeline_out, oracle_events):
    """THE binding per-row invariant: tokens bit-identical in every sink."""
    out, _ = pipeline_out
    routed = read_sink(spark, f"{out}/sinks").select("doc_id", "tokens", "n_tok", "family").collect()
    exp = {e["doc_id"]: e for e in oracle_events}
    for r in routed:
        e = exp[r["doc_id"]]
        assert list(r["tokens"]) == e["tokens"], r["doc_id"]
        assert r["n_tok"] == len(e["tokens"]) == len(r["tokens"])
        assert r["family"] == e["family"], r["doc_id"]


def test_rule_histogram_equals_oracle(spark, pipeline_out, oracle_events):
    out, _ = pipeline_out
    routed = read_sink(spark, f"{out}/sinks")
    hist = rule_histogram(grain_counts(routed).toArrow()).to_pylist()
    got = {(r["family"], r["rule_id"]): r["cnt"] for r in hist}
    want = Counter((e["family"], e["rule_id"]) for e in oracle_events)
    assert got == dict(want)


def test_source_level_rollup_equals_oracle(spark, pipeline_out, oracle_events):
    out, _ = pipeline_out
    routed = read_sink(spark, f"{out}/sinks")
    rollup = source_level_rollup(grain_counts(routed).toArrow()).to_pylist()
    got = {(r["source"], r["level"]): r["cnt"] for r in rollup}
    want = Counter()
    for e in oracle_events:
        want[(e["source"], e["level"])] += 1
        want[(e["source"], None)] += 1
        want[(None, None)] += 1
    assert got == dict(want)


def test_enrichment_present(spark, pipeline_out):
    out, _ = pipeline_out
    routed = read_sink(spark, f"{out}/sinks")
    assert routed.where(F.col("datacenter").isNull()).count() == 0
    assert routed.where(F.col("event_category").isNull()).count() == 0
    unk = routed.where(F.col("family") == "unknown")
    assert unk.count() > 0
    assert unk.where(F.col("event_type") != "unknown").count() == 0


def test_fields_map_matches_oracle(spark, pipeline_out, oracle_events):
    out, _ = pipeline_out
    routed = read_sink(spark, f"{out}/sinks").select("doc_id", "fields").collect()
    exp = {e["doc_id"]: e["fields"] for e in oracle_events}
    for r in routed:
        assert (r["fields"] or {}) == exp[r["doc_id"]], r["doc_id"]


def test_route_rebalance_mode_bytes_proportional(spark, tmp_path):
    """cluster='rebalance': AQE runtime stats size files-per-dir by each
    dir's bytes — hot dirs split past the advisory size, the cold tail
    packs several dirs per task but still writes one file per dir — and
    every row/token survives bit-identically (the binding invariant)."""
    import os
    from collections import Counter as C

    from logparse_spark.engine import parse_sequences
    from logparse_spark.operators.enrich import enrich, rules_dim
    from logparse_spark.operators.route import read_sink, route, with_bucket
    from logparse_spark.sources.datagen import nodes_dim

    seq = generate_sequences(spark, 2500, partitions=8)
    enriched = with_bucket(
        enrich(parse_sequences(with_bucket(seq, 2)), nodes_dim(spark), rules_dim(spark)), 2)
    sinks = str(tmp_path / "rebalance_sinks")
    adv = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old = spark.conf.get(adv)
    # tiny advisory -> the zipf-hot dirs must split; each (source,
    # bucket) dir holds every family, so 64k would split cold dirs too
    spark.conf.set(adv, "128k")
    try:
        route(enriched, sinks, n_buckets=2, cluster="rebalance")
    finally:
        spark.conf.set(adv, old)
    before = {r["doc_id"]: r["tokens"]
              for r in enriched.select("doc_id", "tokens").collect()}
    after = {r["doc_id"]: r["tokens"]
             for r in read_sink(spark, sinks).select("doc_id", "tokens").collect()}
    assert after == before  # no row dropped/duped, tokens bit-identical
    per_dir = C()
    for root, _, files in os.walk(sinks):
        for f in files:
            if f.endswith(".parquet"):
                per_dir[root] += 1
    # the zipf-hot slots exceeded 128k and were split by AQE...
    assert max(per_dir.values()) > 1, dict(per_dir)
    # ...while fully-cold slots coalesce to one file per dir
    assert min(per_dir.values()) == 1
    # files-per-dir is bounded by its slot's split count (a cold dir
    # co-hashed with a hot one pays one file per slice), never by the
    # task count: the total stays a small multiple of the dir count,
    # not O(tasks x dirs)
    assert sum(per_dir.values()) < 3 * len(per_dir), sum(per_dir.values())
    assert max(per_dir.values()) <= 8, dict(per_dir)


def test_route_clustering_mode_selection():
    """Scale-adaptivity contract: measured-small inputs keep the pinned
    salt (one file per dir, parallel write); measured-big inputs take
    AQE rebalance (bytes-proportional files); unknown size fails toward
    the protective salt, never toward a serialized tiny rebalance."""
    from logparse_spark.operators.route import _route_clustering

    assert _route_clustering(215 << 20) == (1, True)
    assert _route_clustering(2 << 30) == (1, "rebalance")
    assert _route_clustering(0) == (2, True)


def test_fresh_run_metrics_from_sink_readback(spark, tmp_path):
    """A fresh run derives its metric tables and ledger rows from a
    column-pruned read-back of the sinks it wrote; every one must equal
    the same aggregates computed directly on the enriched frame."""
    from logparse_spark.engine import parse_sequences
    from logparse_spark.manifests import partition_manifests
    from logparse_spark.operators.aggregate import write_metrics
    from logparse_spark.operators.enrich import enrich, rules_dim
    from logparse_spark.operators.route import with_bucket
    from logparse_spark.sources.datagen import nodes_dim

    seq = generate_sequences(spark, 1200, partitions=4)
    out = str(tmp_path / "run")
    run_pipeline(spark, seq, out, n_buckets=2, resume=False)
    direct = with_bucket(enrich(parse_sequences(seq), nodes_dim(spark), rules_dim(spark)), 2)
    ref = str(tmp_path / "direct")
    write_metrics(direct, ref)
    for tbl in ("rule_histogram", "source_level_rollup", "family_metrics"):
        # rollup rows contain NULL grouping cells -> sort None-safe
        a = sorted(map(tuple, spark.read.parquet(f"{out}/metrics/{tbl}").collect()), key=repr)
        b = sorted(map(tuple, spark.read.parquet(f"{ref}/{tbl}").collect()), key=repr)
        assert a == b, f"{tbl}: sink read-back diverged from the enriched frame"
    a = sorted(map(tuple, spark.read.parquet(f"{out}/ledger").select(
        "source", "bucket", "rows").collect()))
    b = sorted(map(tuple, partition_manifests(direct).select(
        "source", "bucket", "routed_rows").collect()))
    assert a == b
