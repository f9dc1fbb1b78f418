"""P10 deploy: a driver launched by spark-submit keeps the launch's
master; ``get_spark`` picks one only when no launcher did."""

import os
import subprocess
import sys

from pyspark.find_spark_home import _find_spark_home

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = """
from logparse_spark.session import get_spark
spark = get_spark()
print("MASTER=" + spark.sparkContext.master)
spark.stop()
"""


def test_get_spark_keeps_spark_submits_master(tmp_path):
    script = tmp_path / "show_master.py"
    script.write_text(SCRIPT)
    env = {k: v for k, v in os.environ.items() if k != "SPARK_MASTER"}
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")]))
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    submit = os.path.join(_find_spark_home(), "bin", "spark-submit")
    done = subprocess.run([submit, "--master", "local[2]", str(script)], env=env, cwd=tmp_path,
                          capture_output=True, text=True, timeout=300)
    assert done.returncode == 0, done.stderr[-2000:]
    assert "MASTER=local[2]" in done.stdout.splitlines()
