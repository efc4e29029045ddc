"""Plan-memo lifecycle: ``registry.clear_plan_cache`` must leave every
memo empty even when the session that filled it has stopped.

Runs in a subprocess because it stops its session — the suite's shared
session must survive.
"""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = """
from minispark_spark import registry
from minispark_spark.operators import graph, pq
from minispark_spark.session import get_spark

spark = get_spark("clear-after-stop", master="local[1]", shuffle_partitions=1,
                  extra_conf={"spark.ui.enabled": "false"})
graph._EDGE_CACHE[("app", "sf")] = spark.range(3).cache()
pq._QUANT_CACHE[("app", "sf")] = spark.range(4).cache()
assert graph._EDGE_CACHE[("app", "sf")].count() == 3
spark.stop()
registry.clear_plan_cache()
assert not graph._EDGE_CACHE and not pq._QUANT_CACHE
print("cleared")
"""


def test_clear_plan_cache_survives_stopped_session():
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "512m"}
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    tail = "\n".join(proc.stderr.splitlines()[-15:])
    assert proc.returncode == 0 and "cleared" in proc.stdout, tail
