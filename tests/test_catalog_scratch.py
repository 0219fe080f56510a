"""The catalog keys that write their own tables, files or checkpoints put
them under one per-process root, and the root is gone once the process
exits."""

import os
import subprocess
import sys

_CHILD = """
import os
import sys

from azure_airbnb_cdc_ingestion_pipeline_spark.plans import cdc
from azure_airbnb_cdc_ingestion_pipeline_spark.plans.queries import QUERIES
from azure_airbnb_cdc_ingestion_pipeline_spark.session import get_spark

spark = get_spark("scratch-child", shuffle_partitions=4)
spark.sparkContext.setLogLevel("ERROR")
for key in ("gold_full_refresh", "stream_scd2_coverage", "source_csv_read"):
    assert QUERIES[key](spark, sys.argv[1]).count() > 0, key
root = cdc._SCRATCH_ROOT[0]
assert len(os.listdir(root)) == 3, os.listdir(root)
print("ROOT", root)
"""


def test_keys_leave_no_scratch_dir_after_exit(sf_dir):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g",
               PYTHONPATH=os.pathsep.join(
                   p for p in (repo, os.environ.get("PYTHONPATH")) if p))
    out = subprocess.run(
        [sys.executable, "-c", _CHILD, sf_dir], env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    roots = [ln.split(" ", 1)[1] for ln in out.stdout.splitlines()
             if ln.startswith("ROOT ")]
    assert len(roots) == 1
    assert not os.path.exists(roots[0])
