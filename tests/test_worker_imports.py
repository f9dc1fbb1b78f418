"""The parse stage leaves its Python worker without cached
``zipimporter``s, so the next task's ``importlib.invalidate_caches()``
(PySpark's ``worker_util.setup_spark_files``) re-reads no archive: on
Python 3.11 each cached one re-reads its whole zip there."""

import os
import sys
import zipfile
import zipimport

import pyarrow as pa

from logparse_spark import engine
from logparse_spark.sources.datagen import generate_sequences


def test_dropping_zip_importers_keeps_other_finders_and_zip_imports(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("lp_zip_first.py", "X = 1\n")
        z.writestr("lp_zip_second.py", "Y = 2\n")
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    monkeypatch.syspath_prepend(archive)
    try:
        import lp_zip_first

        cache = sys.path_importer_cache
        assert lp_zip_first.X == 1 and isinstance(cache[archive], zipimport.zipimporter)
        others = {p: f for p, f in cache.items() if not isinstance(f, zipimport.zipimporter)}
        assert others and len(others) < len(cache)
        engine._drop_zip_importers()
        assert cache == others
        import lp_zip_second

        assert lp_zip_second.Y == 2
    finally:
        sys.modules.pop("lp_zip_first", None)
        sys.modules.pop("lp_zip_second", None)


def test_a_parse_worker_starts_its_next_task_with_no_zip_importer(spark):
    """Every Python task that runs on a worker after it ran the parse
    function finds no zipimporter in its importer cache (a count: each
    one would cost the task a re-read of its archive)."""
    def parse_pids(batches):
        for _ in engine._parse_batches(batches):
            pass
        yield pa.RecordBatch.from_pydict({"pid": [os.getpid()]})

    def zip_importers(batches):
        import sys, zipimport  # builtins: no path walk

        n = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"pid": [os.getpid()], "zips": [n]})

    # a local relation: no Python task runs but the two below
    seq = spark.createDataFrame(generate_sequences(spark, 400, partitions=4).toArrow())
    parsed = {r["pid"] for r in seq.repartition(4).mapInArrow(parse_pids, "pid long").collect()}
    probes = seq.repartition(16).mapInArrow(zip_importers, "pid long, zips long").collect()
    after = [r["zips"] for r in probes if r["pid"] in parsed]
    assert after and after == [0] * len(after), probes
