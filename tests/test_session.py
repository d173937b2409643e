"""get_spark from outside the repository: a driver that reaches the
package through sys.path alone must still run the package's Python
worker code (workers unpickle it by import path)."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_DRIVER = f"""
import sys
sys.path.insert(0, {REPO!r})
from metrics_database_cron_script_spark import get_spark
from metrics_database_cron_script_spark.functions.multimodal import synthetic_bmp_blobs
spark = get_spark("worker-path")
print("rows", len(synthetic_bmp_blobs(spark.range(3).toDF("doc_id")).collect()))
spark.stop()
"""


def test_workers_import_package_without_pythonpath(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", _DRIVER], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.splitlines()[-1] == "rows 3"
