"""Session defaults of config.build_session.

The shared `spark` fixture passes shuffle_partitions=4 and a master, so
the defaults are pinned here, in a fresh interpreter with its own JVM
(one process holds one SparkContext at a time)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = """
import json, os, sys
sys.path.insert(0, sys.argv[1])
from spamscope_spark.config import build_session

key = "spark.sql.shuffle.partitions"
out = {"cpus": len(os.sched_getaffinity(0))}
s = build_session()
out["no_master"] = [s.sparkContext.master, s.conf.get(key)]
s.stop()
s = build_session(master="local[2]")
out["local2"] = s.conf.get(key)
out["explicit"] = build_session(master="local[2]", shuffle_partitions=3).conf.get(key)
s.stop()
print(json.dumps(out))
"""


def test_shuffle_partitions_default_to_task_slots():
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("SPARK_GRAFT_CPUS", "SPARK_MASTER")
    }
    env["PYSPARK_PYTHON"] = sys.executable
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    r = subprocess.run(
        [sys.executable, "-c", _PROBE, REPO],
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-4000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    cpus = out["cpus"]
    # no master: local[N] over the usable CPUs, one partition per slot
    assert out["no_master"] == [f"local[{cpus}]", str(cpus)]
    assert out["local2"] == "2"
    # an explicit count still wins over the slot count
    assert out["explicit"] == "3"
