"""P9 resume: kill after K partitions, re-run, outputs identical to an
uninterrupted run; re-running a completed pipeline is a no-op."""

import json
import os
import re
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import logparse_spark.ledger as ledger_mod
from logparse_spark.ledger import Ledger
from logparse_spark.main import run_pipeline
from logparse_spark.operators.route import quantum_dir, read_sink, route, with_bucket
from logparse_spark.operators.views import sink_view
from logparse_spark.sources.datagen import generate_sequences, write_sequences

N = 2000


def _fingerprint(spark, out):
    df = read_sink(spark, f"{out}/sinks").select("doc_id", "rule_id", "family", "n_tok")
    return sorted(map(tuple, df.collect()))


def _ledger_rows(spark, out):
    return sorted(map(tuple, spark.read.parquet(f"{out}/ledger").select(
        "source", "bucket", "rows").collect()))


def _manifest_quanta(spark, out):
    manifests = (json.loads(r["value"]) for r in spark.read.text(f"{out}/manifests").collect())
    return sorted((m["source"], m["bucket"]) for m in manifests)


def _run_crashing_after(monkeypatch, k, spark, seq, out):
    """A run that processes only its first k pending quanta, as one that
    crashed after committing them would have."""
    real = Ledger.pending
    with monkeypatch.context() as m:
        m.setattr(Ledger, "pending",
                  lambda self, parts: real(self, parts).orderBy("source", "bucket").limit(k))
        run_pipeline(spark, seq, out, n_buckets=2)


def test_resume_after_partial_failure(spark, tmp_path, monkeypatch):
    out_full = str(tmp_path / "full")
    out_resumed = str(tmp_path / "resumed")
    seq = generate_sequences(spark, N, partitions=4)

    run_pipeline(spark, seq, out_full, n_buckets=2)

    # crash after only 5 partitions committed...
    _run_crashing_after(monkeypatch, 5, spark, seq, out_resumed)
    ledger = Ledger(spark, f"{out_resumed}/ledger")
    done_before = ledger.done().count()
    assert done_before == 5
    pending = sorted(map(tuple, ledger.pending(with_bucket(seq, 2)).collect()))
    # ...then resume: only pending partitions re-run
    run_pipeline(spark, seq, out_resumed, n_buckets=2)

    assert _fingerprint(spark, out_resumed) == _fingerprint(spark, out_full)
    # the resumed run's metrics cover exactly the quanta it wrote, so the
    # ledger counts every quantum once, as an uninterrupted run's does
    assert _manifest_quanta(spark, out_resumed) == pending
    assert _ledger_rows(spark, out_resumed) == _ledger_rows(spark, out_full)


@pytest.mark.parametrize("sources", [
    ["007", "010", "123"],          # partition inference would retype these
    ["a/b", "x=y", "50%", "q:r"],   # written as %XX escapes in dir names
], ids=["numeric", "escaped"])
def test_source_names_round_trip(spark, tmp_path, monkeypatch, sources):
    """Sinks, manifests and ledger carry the original source strings on
    fresh, crashed and resumed runs, and the sinks hold every row once."""
    seq = generate_sequences(spark, 300, partitions=2).withColumn(
        "source", F.element_at(F.array(*map(F.lit, sources)),
                               F.pmod(F.crc32("doc_id"), F.lit(len(sources))).cast("int") + 1))
    expected = sorted(map(tuple, with_bucket(seq, 2).groupBy("source", "bucket").count().collect()))
    quanta = [(s, b) for s, b, _ in expected]
    fresh, resumed = str(tmp_path / "fresh"), str(tmp_path / "resumed")
    run_pipeline(spark, seq, fresh, n_buckets=2, resume=False)
    assert _manifest_quanta(spark, fresh) == quanta
    _run_crashing_after(monkeypatch, 3, spark, seq, resumed)
    assert _manifest_quanta(spark, resumed) == quanta[:3]
    run_pipeline(spark, seq, resumed, n_buckets=2)
    assert _manifest_quanta(spark, resumed) == quanta[3:]
    for out in (fresh, resumed):
        sinks = f"{out}/sinks"
        back = spark.read.schema("doc_id string, source string, bucket int").option(
            "basePath", sinks).parquet(sinks)
        assert back.select("doc_id").distinct().count() == back.count() == 300
        assert sorted(map(tuple, back.groupBy("source", "bucket").count().collect())) == expected
        assert _ledger_rows(spark, out) == expected

    # the sink readers return partition values as written...
    sinks = f"{resumed}/sinks"
    routed = read_sink(spark, sinks)
    assert sorted(map(tuple, routed.groupBy("source", "bucket").count().collect())) == expected
    gc = {r["source"] for r in sink_view(spark, sinks, "gc").select("source").distinct().collect()}
    assert gc and gc <= set(sources)
    # ...every quantum's dir has the name quantum_dir gives it, and a
    # resume finds every ledger quantum already done
    dirs = {os.path.relpath(root, sinks) for root, _, files in os.walk(sinks)
            if any(f.endswith(".parquet") for f in files)}
    assert dirs == {os.path.relpath(quantum_dir(sinks, s, b), sinks) for s, b in quanta}
    assert Ledger(spark, f"{resumed}/ledger").pending(with_bucket(seq, 2)).count() == 0
    assert run_pipeline(spark, seq, resumed, n_buckets=2)["routed_rows"] == 0


def test_rerun_completed_is_noop(spark, tmp_path):
    out = str(tmp_path / "noop")
    seq = generate_sequences(spark, N, partitions=4)
    run_pipeline(spark, seq, out, n_buckets=2)
    fp1 = _fingerprint(spark, out)
    metrics2 = run_pipeline(spark, seq, out, n_buckets=2)
    assert metrics2["routed_rows"] == 0  # nothing pending
    assert _fingerprint(spark, out) == fp1


def test_pending_partitions_anti_join(spark, tmp_path):
    out = str(tmp_path / "pending")
    seq = with_bucket(generate_sequences(spark, 500, partitions=2), 2)
    ledger = Ledger(spark, f"{out}/ledger")
    counts = seq.groupBy("source", "bucket").agg(F.count(F.lit(1)).alias("rows"))
    n = counts.count()
    assert ledger.pending(seq).count() == n
    first3 = counts.orderBy("source", "bucket").limit(3).cache()
    ledger.commit(first3, "run0")
    assert ledger.pending(seq).count() == n - 3
    # a quantum's latest commit decides: a stale count puts it back
    ledger.commit(first3.limit(1).withColumn("rows", F.col("rows") + 1), "run1")
    assert ledger.pending(seq).count() == n - 2
    ledger.commit(first3.limit(1), "run2")
    assert ledger.pending(seq).count() == n - 3
    first3.unpersist()


def test_done_keeps_each_quantums_latest_commit(spark, tmp_path, monkeypatch):
    """Two commits of one quantum: the one with the later committed_at
    wins, whichever file was written first; a crashed commit's
    dot-prefixed temp file and _meta.json are not commits."""
    path = str(tmp_path / "ledger")
    ledger = Ledger(spark, path)
    for at, rows in ((200.0, 9), (100.0, 5)):  # the later commit is written first
        monkeypatch.setattr(ledger_mod.time, "time", lambda at=at: at)
        ledger.commit(pa.table({"source": ["s1", "s2"], "bucket": [0, 1], "rows": [rows, 3]}), f"r{rows}")
    monkeypatch.undo()
    newest = pq.read_table(os.path.join(path, os.listdir(path)[0]))
    pq.write_table(newest.set_column(4, "committed_at", pa.array([300.0, 300.0])),
                   os.path.join(path, ".part-crashed.parquet"))
    with open(os.path.join(path, "_meta.json"), "w") as f:
        json.dump({"n_buckets": 2}, f)
    assert sorted(map(tuple, ledger.done().collect())) == [("s1", 0, 9), ("s2", 1, 3)]


@pytest.mark.parametrize("blank", [[""], [None], ["", None]], ids=["empty", "null", "both"])
def test_blank_sources_reach_done(spark, tmp_path, monkeypatch, blank):
    """A "" or null source lands in Spark's default partition dir and
    reads back as null, so run_pipeline takes "" as null: a fresh run
    writes both as one quantum per bucket, a resume finds them done,
    and a resume that has them pending routes exactly their rows."""
    seq = generate_sequences(spark, 400, partitions=2)
    pick = F.pmod(F.crc32("doc_id"), F.lit(8))
    for i, s in enumerate(blank):
        seq = seq.withColumn("source", F.when(pick == i, F.lit(s)).otherwise(F.col("source")))
    n_blank = seq.where(F.col("source").isNull() | (F.col("source") == "")).count()
    assert n_blank > 0

    fresh, resumed = str(tmp_path / "fresh"), str(tmp_path / "resumed")
    assert run_pipeline(spark, seq, fresh, n_buckets=2, resume=False)["routed_rows"] == 400
    for _ in range(2):
        assert run_pipeline(spark, seq, fresh, n_buckets=2)["routed_rows"] == 0

    real = Ledger.pending
    with monkeypatch.context() as m:  # a run that crashed before the blank quanta
        m.setattr(Ledger, "pending",
                  lambda self, parts: real(self, parts).where(F.col("source").isNotNull()))
        assert run_pipeline(spark, seq, resumed, n_buckets=2)["routed_rows"] == 400 - n_blank
    assert run_pipeline(spark, seq, resumed, n_buckets=2)["routed_rows"] == n_blank
    assert run_pipeline(spark, seq, resumed, n_buckets=2)["routed_rows"] == 0
    for out in (fresh, resumed):
        back = read_sink(spark, f"{out}/sinks")
        assert back.count() == back.select("doc_id").distinct().count() == 400
        assert back.where(F.col("source").isNull()).count() == n_blank
    assert _fingerprint(spark, resumed) == _fingerprint(spark, fresh)


def _scans(plan):
    """The FileSourceScanExec nodes of an executed plan, through AQE's
    wrappers."""
    found, todo = [], [plan]
    while todo:
        node = todo.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif name.endswith("QueryStageExec"):
            todo.append(node.plan())
        elif name == "FileSourceScanExec":
            found.append(node)
        else:
            children = node.children()
            todo.extend(children.apply(i) for i in range(children.size()))
    return found


def test_resumed_scan_reads_only_the_pending_sources(spark, tmp_path, monkeypatch):
    """A resume over a source-partitioned input scans only the dirs of
    the sources with a pending quantum: the FileScan under the rows
    route writes carries a source partition filter and outputs exactly
    those sources' rows."""
    import logparse_spark.main as mainmod

    src = str(tmp_path / "seq")
    write_sequences(spark, src, 600, n_buckets=2)
    seq = spark.read.parquet(src).drop("bucket")
    sources = sorted(r["source"] for r in seq.select("source").distinct().collect())
    redo = sources[1:3]
    out = str(tmp_path / "out")
    real = Ledger.pending
    with monkeypatch.context() as m:  # a run that crashed before two sources
        m.setattr(Ledger, "pending",
                  lambda self, parts: real(self, parts).where(~F.col("source").isin(redo)))
        run_pipeline(spark, seq, out, n_buckets=2)

    routed, real_route = [], mainmod.route

    def spy(df, *args, **kwargs):
        routed.append(df)
        return real_route(df, *args, **kwargs)

    monkeypatch.setattr(mainmod, "route", spy)
    n_redo = seq.where(F.col("source").isin(redo)).count()
    assert run_pipeline(spark, seq, out, n_buckets=2)["routed_rows"] == n_redo
    assert len(routed) == 1
    routed[0].collect()  # the same plan, executed: its scan's metrics are set
    (scan,) = _scans(routed[0]._jdf.queryExecution().executedPlan())
    assert "source" in scan.metadata().apply("PartitionFilters")
    assert scan.metrics().apply("numOutputRows").value() == n_redo < 600


def test_resume_routes_rows_appended_to_committed_quanta(spark, tmp_path):
    """Resuming over the committed input plus new doc_ids reruns every
    quantum whose row count changed: the sinks hold each row once."""
    def quantum_counts(seq):
        return {(s, b): c for s, b, c in
                with_bucket(seq, 2).groupBy("source", "bucket").count().collect()}

    out = str(tmp_path / "append")
    committed = generate_sequences(spark, 1000, partitions=2)
    run_pipeline(spark, committed, out, n_buckets=2)
    grown = generate_sequences(spark, 1300, partitions=2)  # same first 1000 doc_ids
    before = quantum_counts(committed)
    changed = sum(c for q, c in quantum_counts(grown).items() if before.get(q) != c)

    assert run_pipeline(spark, grown, out, n_buckets=2)["routed_rows"] == changed
    back = read_sink(spark, f"{out}/sinks").select("doc_id")
    assert back.count() == back.distinct().count() == 1300
    assert back.join(grown, "doc_id", "left_anti").count() == 0
    assert Ledger(spark, f"{out}/ledger").pending(with_bucket(grown, 2)).count() == 0


def test_overwrite_mode_split_fresh_static_resume_dynamic(spark, tmp_path, monkeypatch):
    # fresh full runs (resume=False) replace the whole sink tree (static:
    # every quantum dir the write did not stage goes); resume runs
    # replace only the quanta they write (dynamic: partial idempotent
    # rewrite).  Both commit by the same staged write and swap.  Spy on
    # route() to pin which mode each path requests; the mode is a
    # per-write option, so the session conf must be left at its prior
    # value.
    import logparse_spark.main as mainmod
    from logparse_spark.operators import route as routemod

    seen = []
    real_route = routemod.route

    def spy(df, sinks_path, **kw):
        seen.append(kw.get("overwrite_mode"))
        return real_route(df, sinks_path, **kw)

    monkeypatch.setattr(mainmod, "route", spy)
    conf = "spark.sql.sources.partitionOverwriteMode"
    prior = spark.conf.get(conf)
    seq = generate_sequences(spark, 300, partitions=2)
    run_pipeline(spark, seq, str(tmp_path / "fresh"), n_buckets=2, resume=False)
    assert seen == ["static"]
    assert spark.conf.get(conf) == prior
    run_pipeline(spark, seq, str(tmp_path / "res"), n_buckets=2, resume=True)
    assert seen == ["static", "dynamic"]
    assert spark.conf.get(conf) == prior


def _route_rows(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id string, source string, family string, tokens array<int>")


def _inodes(root):
    """relative path -> inode of every file and dir under ``root``."""
    out = {}
    for d, dirs, files in os.walk(root):
        for name in dirs + files:
            path = os.path.join(d, name)
            out[os.path.relpath(path, root)] = os.stat(path).st_ino
    return out


def test_dynamic_rewrite_replaces_quantum_after_family_change(spark, tmp_path):
    """A resumed (source, bucket) replaces every file of its one sink
    dir: a row whose family changed between runs is read back exactly
    once, with its new family.  The dir itself stays (same inode) and
    holds only the new write's data and .crc files; other quanta keep
    their files' inodes, and no staging dir is left beside the sinks."""
    sinks = str(tmp_path / "sinks")
    rows = [("d1", "s1", "gc", [1]), ("d2", "s1", "flush", [2]),
            ("d3", "s2", "gc", [3]), ("d4", "s3", "flush", [4])]
    route(_route_rows(spark, rows), sinks, n_buckets=1, overwrite_mode="static")
    before = _inodes(sinks)
    redo = os.path.relpath(quantum_dir(sinks, "s1", 0), sinks)
    old_files = set(os.listdir(os.path.join(sinks, redo)))
    redo_rows = [("d1", "s1", "compaction", [1]), ("d2", "s1", "flush", [2])]
    route(_route_rows(spark, redo_rows), sinks, n_buckets=1, overwrite_mode="dynamic")

    after = _inodes(sinks)
    assert after[redo] == before[redo]
    new_files = set(os.listdir(os.path.join(sinks, redo)))
    data = {f for f in new_files if f.endswith(".parquet")}
    assert data and new_files == data | {f".{f}.crc" for f in data}
    assert not new_files & old_files
    untouched = {p: i for p, i in before.items() if not p.startswith(redo)}
    assert {p: after[p] for p in untouched} == untouched
    assert os.listdir(tmp_path) == ["sinks"]
    got = sorted(map(tuple, read_sink(spark, sinks).select(
        "doc_id", "source", "family", "tokens").collect()))
    assert got == sorted(redo_rows + rows[2:])
    assert [r["doc_id"] for r in read_sink(spark, sinks, "gc").collect()] == ["d3"]


def test_quantum_dir_names_the_dir_route_writes(spark, tmp_path):
    """quantum_dir escapes a source exactly as Spark names the partition
    dir: every printable and control ASCII character, non-ASCII, and ""
    (Spark's default partition)."""
    sinks = str(tmp_path / "sinks")
    sources = [chr(c) + "x" for c in range(1, 128)] + ["é/ü", ""]
    route(_route_rows(spark, [(f"d{i}", s, "gc", [i]) for i, s in enumerate(sources)]),
          sinks, n_buckets=1, overwrite_mode="static")
    written = {os.path.join(sinks, d, "bucket=0") for d in os.listdir(sinks)
               if d.startswith("source=")}
    assert written == {quantum_dir(sinks, s, 0) for s in sources}
    assert all(os.path.isdir(d) for d in written)


def test_dynamic_write_refuses_family_partitioned_tree(spark, tmp_path):
    """A tree laid out by (family, source, bucket) must not take a
    dynamic (resume) overwrite — its family=* dirs would keep a second
    copy of every rewritten row — whether named by a path or a file:
    URI; a static (fresh) write replaces it."""
    sinks = str(tmp_path / "old_layout")
    df = with_bucket(_route_rows(spark, [("d1", "s1", "gc", [1]), ("d2", "s2", "flush", [2])]), 1)
    df.write.partitionBy("family", "source", "bucket").parquet(sinks)
    for path in (sinks, f"file://{sinks}", f"file:{sinks}"):
        with pytest.raises(ValueError, match=re.escape(sinks)):
            route(df, path, n_buckets=1, overwrite_mode="dynamic")
    assert os.listdir(tmp_path) == ["old_layout"]
    route(df, sinks, n_buckets=1, overwrite_mode="static")
    assert not any(d.startswith("family=") for d in os.listdir(sinks))
    assert sorted(r["doc_id"] for r in read_sink(spark, sinks).collect()) == ["d1", "d2"]


def test_dynamic_write_refuses_a_non_local_path(spark, tmp_path):
    """A resumed write swaps files in with local renames, so a path on
    another file system raises ValueError before any Spark job: a
    non-file scheme, or a bare path while fs.defaultFS is not file:."""
    df = _route_rows(spark, [("d1", "s1", "gc", [1])])
    sc = spark.sparkContext
    sc.setJobGroup("route-non-local", "route-non-local")
    try:
        with pytest.raises(ValueError, match=re.escape("s3a://b/x")):
            route(df, "s3a://b/x", n_buckets=1, overwrite_mode="dynamic")
        spark.conf.set("fs.defaultFS", "s3a://b")
        try:
            with pytest.raises(ValueError, match=re.escape(str(tmp_path / "sinks"))):
                route(df, str(tmp_path / "sinks"), n_buckets=1, overwrite_mode="dynamic")
        finally:
            spark.conf.unset("fs.defaultFS")
        assert list(sc.statusTracker().getJobIdsForGroup("route-non-local")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert os.listdir(tmp_path) == []


def test_route_refuses_an_unclustered_write(spark, tmp_path):
    """Clustering is mandatory (route's file-count discipline):
    `cluster` other than True or "rebalance" raises before any write."""
    df = _route_rows(spark, [("d1", "s1", "gc", [1])])
    for cluster in (False, None, "salt", 1):
        with pytest.raises(ValueError, match="cluster"):
            route(df, str(tmp_path / "sinks"), n_buckets=1, cluster=cluster,
                  overwrite_mode="static")
    assert os.listdir(tmp_path) == []


def _manifest_lines(out):
    with open(os.path.join(out, "manifests", "part-00000.json"), encoding="utf-8") as f:
        return sorted(f)


def test_file_uri_output_lands_under_one_root(spark, tmp_path, monkeypatch):
    """A file:// output is resolved once: the sinks, the ledger with
    _meta.json, the metrics and the manifests all land under its one
    root, nothing lands in the cwd, a resume reads the same ledger, and
    the run equals a bare-path run."""
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    seq = generate_sequences(spark, 300, partitions=2)
    uri_root, bare = str(tmp_path / "uri"), str(tmp_path / "bare")
    run_pipeline(spark, seq, f"file://{uri_root}", n_buckets=2, resume=False)
    run_pipeline(spark, seq, bare, n_buckets=2, resume=False)
    assert os.listdir(cwd) == []
    for out in (uri_root, bare):
        assert sorted(os.listdir(out)) == ["ledger", "manifests", "metrics", "sinks"]
        assert os.path.isfile(os.path.join(out, "ledger", "_meta.json"))
    assert _fingerprint(spark, uri_root) == _fingerprint(spark, bare)
    assert _ledger_rows(spark, uri_root) == _ledger_rows(spark, bare)
    assert _manifest_lines(uri_root) == _manifest_lines(bare)
    assert run_pipeline(spark, seq, f"file:{uri_root}", n_buckets=2)["routed_rows"] == 0
    assert os.listdir(cwd) == []


def test_non_local_output_raises_before_any_job(spark, tmp_path, monkeypatch):
    """An output the driver cannot write with local file calls raises
    ValueError before any Spark job or write."""
    monkeypatch.chdir(tmp_path)
    seq = generate_sequences(spark, 100, partitions=2)
    sc = spark.sparkContext
    sc.setJobGroup("pipeline-non-local", "pipeline-non-local")
    try:
        with pytest.raises(ValueError, match=re.escape("s3a://b/x")):
            run_pipeline(spark, seq, "s3a://b/x", n_buckets=2)
        assert list(sc.statusTracker().getJobIdsForGroup("pipeline-non-local")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert os.listdir(tmp_path) == []


def test_failed_resume_write_leaves_sinks_and_next_resume_recovers(spark, tmp_path, monkeypatch):
    """Crash mid sink write: a resumed run whose write job fails on one
    row raises and leaves every sink file in place; the next resume,
    over a stale staging dir, equals an uninterrupted run."""
    import logparse_spark.main as mainmod

    seq = generate_sequences(spark, 600, partitions=2)
    full, out = str(tmp_path / "full"), str(tmp_path / "out")
    run_pipeline(spark, seq, full, n_buckets=2)
    _run_crashing_after(monkeypatch, 3, spark, seq, out)
    sinks = f"{out}/sinks"
    pending = Ledger(spark, f"{out}/ledger").pending(with_bucket(seq, 2))
    victim = with_bucket(seq, 2).join(pending, ["source", "bucket"], "left_semi").first()["doc_id"]

    real_route = mainmod.route

    def failing_route(df, sinks_path, **kw):
        bad = F.when(F.col("doc_id") == victim, F.raise_error(F.lit("injected sink-write failure")))
        return real_route(df.withColumn("family", bad.otherwise(F.col("family"))), sinks_path, **kw)

    before = _inodes(sinks)
    ledger_before = _ledger_rows(spark, out)
    with monkeypatch.context() as m:
        m.setattr(mainmod, "route", failing_route)
        with pytest.raises(Exception, match="injected sink-write failure"):
            run_pipeline(spark, seq, out, n_buckets=2)
    assert _inodes(sinks) == before
    assert _ledger_rows(spark, out) == ledger_before

    # a stale staged quantum the failed write did not truncate would be
    # swapped in by the next resume and read back as extra rows
    stale = os.path.join(f"{sinks}__staging", "source=stale", "bucket=0")
    os.makedirs(stale, exist_ok=True)
    some_file = next(p for p in before if p.endswith(".parquet"))
    shutil.copy(os.path.join(sinks, some_file), stale)

    run_pipeline(spark, seq, out, n_buckets=2)
    assert sorted(os.listdir(out)) == sorted(os.listdir(full))
    assert _fingerprint(spark, out) == _fingerprint(spark, full)
    assert _ledger_rows(spark, out) == _ledger_rows(spark, full)


@pytest.fixture(scope="module")
def full_run(spark, tmp_path_factory):
    """An uninterrupted run over the N-row corpus: (its input, its out dir)."""
    seq = generate_sequences(spark, N, partitions=4)
    full = str(tmp_path_factory.mktemp("uncrashed") / "full")
    run_pipeline(spark, seq, full, n_buckets=2)
    return seq, full


def _quantum_dirs(sinks):
    """relative path of every source=*/bucket=* dir under ``sinks``."""
    return {os.path.join(s, b) for s in os.listdir(sinks) if s.startswith("source=")
            for b in os.listdir(os.path.join(sinks, s))}


def test_failed_fresh_write_leaves_sinks_and_next_resume_recovers(spark, full_run, tmp_path, monkeypatch):
    """Crash mid sink write, fresh run: a resume=False run over a
    completed output whose write job fails after route's shuffle raises,
    leaves every sink file and dir in place and every quantum pending;
    the next resume routes all rows and equals an uninterrupted run."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    seq, full = full_run
    out = str(tmp_path / "out")
    run_pipeline(spark, seq, out, n_buckets=2)
    sinks = f"{out}/sinks"
    before = _inodes(sinks)
    victim = seq.first()["doc_id"]
    real_sort = ClassicDataFrame.sortWithinPartitions

    def failing_sort(self, *cols, **kw):
        bad = F.when(F.col("doc_id") == victim, F.raise_error(F.lit("injected sink-write failure")))
        return real_sort(self, *cols, **kw).withColumn("family", bad.otherwise(F.col("family")))

    with monkeypatch.context() as m:
        m.setattr(ClassicDataFrame, "sortWithinPartitions", failing_sort)
        with pytest.raises(Exception, match="injected sink-write failure"):
            run_pipeline(spark, seq, out, n_buckets=2, resume=False)
    assert _inodes(sinks) == before
    assert Ledger(spark, f"{out}/ledger").done().count() == 0

    assert run_pipeline(spark, seq, out, n_buckets=2)["routed_rows"] == N
    assert sorted(os.listdir(out)) == sorted(os.listdir(full))
    assert _fingerprint(spark, out) == _fingerprint(spark, full)
    assert _ledger_rows(spark, out) == _ledger_rows(spark, full)


def test_narrower_fresh_run_leaves_the_rest_pending(spark, full_run, tmp_path):
    """A fresh run over half the sources, into a completed output,
    replaces the whole tree: the sinks keep only its quanta (their dirs
    keep their inodes) and the ledger only its commits, so a
    full-input resume routes the other half and equals an uninterrupted
    run."""
    seq, full = full_run
    out = str(tmp_path / "out")
    run_pipeline(spark, seq, out, n_buckets=2)
    sinks = f"{out}/sinks"
    before = _inodes(sinks)
    sources = sorted(r["source"] for r in seq.select("source").distinct().collect())
    half = seq.where(F.col("source").isin(sources[::2]))
    quanta = sorted(map(tuple, with_bucket(half, 2).select("source", "bucket").distinct().collect()))
    n_half = half.count()

    assert run_pipeline(spark, half, out, n_buckets=2, resume=False)["routed_rows"] == n_half
    kept = {os.path.relpath(quantum_dir(sinks, s, b), sinks) for s, b in quanta}
    assert _quantum_dirs(sinks) == kept
    assert {p: _inodes(sinks)[p] for p in kept} == {p: before[p] for p in kept}
    assert read_sink(spark, sinks).count() == n_half
    assert [(s, b) for s, b, _ in _ledger_rows(spark, out)] == quanta

    assert run_pipeline(spark, seq, out, n_buckets=2)["routed_rows"] == N - n_half
    assert _fingerprint(spark, out) == _fingerprint(spark, full)
    assert _ledger_rows(spark, out) == _ledger_rows(spark, full)


@pytest.mark.parametrize("resume", [False, True], ids=["fresh", "resumed"])
def test_crash_mid_swap_then_resume_equals_an_uncrashed_run(spark, full_run, tmp_path, monkeypatch, resume):
    """Crash mid swap: a run whose sink swap fails at its sixth rename,
    into an output a fresh run completed (or a crashed run left
    partial), raises from the swap and commits nothing; the next resume
    equals an uncrashed run in sinks, ledger rows and manifest lines
    (a resume's manifests: the quanta it redid)."""
    seq, full = full_run
    out = str(tmp_path / "out")
    if resume:
        _run_crashing_after(monkeypatch, 3, spark, seq, out)
    else:
        run_pipeline(spark, seq, out, n_buckets=2)
    ledger = Ledger(spark, f"{out}/ledger")
    committed = _ledger_rows(spark, out) if resume else []
    pending = sorted(map(tuple, ledger.pending(with_bucket(seq, 2)).collect()))

    real_rename, calls = os.rename, []

    def failing_rename(src, dst):
        calls.append(src)
        if len(calls) == 6:
            raise OSError("injected swap failure")
        real_rename(src, dst)

    with monkeypatch.context() as m:
        m.setattr(os, "rename", failing_rename)
        with pytest.raises(OSError, match="injected swap failure") as crash:
            run_pipeline(spark, seq, out, n_buckets=2, resume=resume)
    assert "_swap_in" in {entry.name for entry in crash.traceback}
    assert sorted(map(tuple, ledger.done().collect())) == committed

    run_pipeline(spark, seq, out, n_buckets=2)
    assert _fingerprint(spark, out) == _fingerprint(spark, full)
    assert _ledger_rows(spark, out) == _ledger_rows(spark, full)
    if resume:
        assert _manifest_quanta(spark, out) == pending
    else:
        assert _manifest_lines(out) == _manifest_lines(full)
    assert sorted(os.listdir(out)) == sorted(os.listdir(full))


@pytest.mark.parametrize("name", ["plain", "with space", "pct%41"])
def test_input_bytes_decodes_the_input_uris(spark, tmp_path, name):
    """The scanned-input size counts every data file of a local input,
    also under a dir name that inputFiles() percent-encodes."""
    from logparse_spark.main import _input_bytes

    src = str(tmp_path / name)
    generate_sequences(spark, 100, partitions=2).write.parquet(src)
    sizes = [os.path.getsize(os.path.join(src, f)) for f in os.listdir(src) if f.endswith(".parquet")]
    assert _input_bytes(spark.read.parquet(src)) == sum(sizes) > 0


def test_auto_n_buckets_resolution(spark, tmp_path):
    # r6: n_buckets=None resolves by input bytes, persists per output
    # dir, and ALWAYS reuses the persisted value (ledger-key stability)
    from logparse_spark.main import resolve_n_buckets

    out = str(tmp_path / "auto")
    assert resolve_n_buckets(1 << 20, out) == 1          # tiny input
    assert resolve_n_buckets(100 << 40, out) == 1        # reused, not 1024
    out2 = str(tmp_path / "auto2")
    assert resolve_n_buckets(100 << 40, out2) == 1024    # 100 TB -> cap
    out3 = str(tmp_path / "auto3")
    assert resolve_n_buckets(3 << 30, out3) == 8         # 3 GB -> 6x512MB -> 8
    out4 = str(tmp_path / "auto4")
    assert resolve_n_buckets(0, out4) == 4               # unknown: protective

    # end-to-end: an auto run on a tiny parquet input resolves to 1
    # bucket, persists it, and a resume into the same out dir reuses it
    src = str(tmp_path / "seq_src")
    generate_sequences(spark, 300, partitions=2).write.parquet(src)
    seq = spark.read.parquet(src)
    out5 = str(tmp_path / "auto_run")
    run_pipeline(spark, seq, out5, n_buckets=None, resume=True)
    import json as _json
    with open(f"{out5}/ledger/_meta.json") as f:
        assert _json.load(f)["n_buckets"] == 1
    m2 = run_pipeline(spark, seq, out5, n_buckets=None, resume=True)
    assert m2["routed_rows"] == 0  # ledger keys consistent -> no-op


def test_explicit_n_buckets_conflict_with_persisted_meta_raises(spark, tmp_path):
    """ADVICE r6: an explicit n_buckets contradicting the count persisted
    in <out>/ledger/_meta.json must refuse loudly (mismatched resume key
    spaces duplicate or skip partitions)."""
    import pytest as _pytest

    from logparse_spark.main import run_pipeline
    from logparse_spark.sources.datagen import generate_sequences

    import json as _json
    import os as _os

    out = str(tmp_path / "o")
    seq = generate_sequences(spark, 300, partitions=2)
    run_pipeline(spark, seq, out, n_buckets=None, resume=False)  # persists meta
    with open(_os.path.join(out, "ledger", "_meta.json")) as f:
        persisted = int(_json.load(f)["n_buckets"])
    with _pytest.raises(ValueError, match="conflicts with the bucket count"):
        run_pipeline(spark, seq, out, n_buckets=persisted + 1, resume=True)
    # same explicit value as persisted: fine
    run_pipeline(spark, seq, out, n_buckets=persisted, resume=True)


def test_explicit_n_buckets_persists_for_a_later_auto_resume(spark, tmp_path):
    """An explicit n_buckets is persisted like a sized one, so a later
    run that leaves n_buckets to auto resolution reuses it: resuming
    the same input routes nothing and every doc_id stays in the sinks
    exactly once."""
    src = str(tmp_path / "seq_src")
    generate_sequences(spark, 1000, partitions=2).write.parquet(src)
    seq = spark.read.parquet(src)
    out = str(tmp_path / "o")
    run_pipeline(spark, seq, out, n_buckets=2, resume=False)
    m2 = run_pipeline(spark, seq, out, n_buckets=None, resume=True)
    routed = read_sink(spark, f"{out}/sinks")
    assert routed.count() == routed.select("doc_id").distinct().count() == 1000
    assert m2["routed_rows"] == 0
    with open(os.path.join(out, "ledger", "_meta.json")) as f:
        assert json.load(f)["n_buckets"] == 2
