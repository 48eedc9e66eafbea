"""build_session under spark-submit: the launcher's --master is kept."""
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

PROBE = """
from stl_decomp_4j_spark.plans.session import build_session
spark = build_session(app_name="master-probe")
print("MASTER", spark.sparkContext.master, spark.sparkContext.defaultParallelism)
spark.stop()
"""


def test_spark_submit_master_is_kept(tmp_path):
    probe = tmp_path / "probe.py"
    probe.write_text(PROBE)
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    env["PYTHONPATH"] = os.pathsep.join([str(REPO), env.get("PYTHONPATH", "")])
    env["PYSPARK_PYTHON"] = sys.executable
    out = subprocess.run(
        ["spark-submit", "--master", "local[2]", str(probe)],
        env=env, capture_output=True, text=True, timeout=300, check=True,
    ).stdout
    assert "MASTER local[2] 2" in out.splitlines(), out
