"""No test-only library code: every top-level def of ``logparse_spark/``
is reached from a query, the pipeline, perfbench, a tool or a bench
script, except the ones listed here with the reason each stays
(``python tools/loc.py --unreached``)."""

import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _loc():
    spec = importlib.util.spec_from_file_location("loc", os.path.join(ROOT, "tools", "loc.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_only_the_declared_defs_are_test_only():
    assert set(_loc().unreached(ROOT)) == {
        # checks the premise of q_dedup_minhash_capped's oracle: the cap
        # never binds on the driver corpus
        # (test_capped_minhash_cap_never_binds_on_driver_corpus)
        "logparse_spark/operators/dedup.py:minhash_dropped_buckets",
        # the typed family-sink reader the views.py docstring offers
        # reference consumers
        "logparse_spark/operators/views.py:sink_view",
    }


def test_a_def_only_tests_call_is_found(tmp_path):
    """The walk reaches through entry points and library bodies, and
    lists a def that only an unreached def or a test names once that
    caller is gone."""
    pkg = tmp_path / "logparse_spark"
    pkg.mkdir()
    (pkg / "ops.py").write_text(
        "import os\n"
        "LIMIT = used_by_constant()\n\n"
        "def used_by_constant():\n    return helper()\n\n"
        "def helper():\n    return 1\n\n"
        "def used_by_entry():\n    return 2\n\n"
        "def test_only():\n    return orphan_helper()\n\n"
        "def orphan_helper():\n    return os\n"
    )
    (tmp_path / "__spark_entry__.py").write_text(
        "from logparse_spark.ops import test_only, used_by_entry\n\n"
        "def q():\n    return used_by_entry()\n")
    (tmp_path / "tools").mkdir()
    (tmp_path / "perfbench").mkdir()
    (tmp_path / "perfbench" / "tests").mkdir()
    (tmp_path / "perfbench" / "tests" / "test_x.py").write_text("test_only()\n")
    assert _loc().unreached(str(tmp_path)) == {"logparse_spark/ops.py:test_only": 2}
