"""bench.py's per-query layer record: the routine bench.py runs, in a
child process with bench.py's session settings, over two sf0.001 entries."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from tests.conftest import REPO_ROOT

_CHILD = """
import json, sys
sys.path.insert(0, sys.argv[1])
import bench
from big_data_player_analysis_spark.registry import all_queries
from big_data_player_analysis_spark.session import get_spark

log_dir, sf_dir = sys.argv[2], sys.argv[3]
spark = get_spark("bdpa-bench", extra_conf=bench.session_conf(log_dir))
passes = [bench.run_pass(spark, all_queries(), ["q01_count_per_key", "dedup_exact"], sf_dir, 0)]
spark.stop()
print(json.dumps(bench.layers(log_dir, passes)))
"""


def test_layer_record_has_jobs_stages_and_shuffle(tmp_path, sf_small):
    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    env = {**os.environ, "BDPA_WORKSPACE": str(tmp_path / "ws"), "SPARK_DRIVER_MEMORY": "2g"}
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD, str(REPO_ROOT), str(log_dir), sf_small],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    rec = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(rec) == {"q01_count_per_key", "dedup_exact"}
    for name, r in rec.items():
        assert r["jobs"] >= 1 and r["stages"] >= 1, (name, r)
        assert r["failed_tasks"] == 0, (name, r)
        assert abs(r["build_s"] + r["exec_s"] - r["wall_s"]) <= 0.01, (name, r)
    assert rec["dedup_exact"]["shuffle_write_mb"] > 0, rec["dedup_exact"]
