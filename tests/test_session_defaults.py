"""Process-level defaults of apache_druid_spark.session: the local
master's core count and the scratch directories builders publish into."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(code: str, **env) -> str:
    full = {k: v for k, v in os.environ.items()
            if k != "SPARK_GRAFT_CPUS"}
    full.update(env, PYTHONPATH=ROOT)
    out = subprocess.run([sys.executable, "-c", code], env=full,
                         capture_output=True, text=True, timeout=300,
                         check=True)
    return out.stdout


def test_scratch_dirs_are_removed_at_exit(tmp_path):
    out = _run(
        "from apache_druid_spark.session import scratch_dir\n"
        "d = scratch_dir('seg_')\n"
        "open(d + '/part-0.parquet', 'w').write('x')\n"
        "print(d)\n",
        TMPDIR=str(tmp_path))
    assert out.strip().startswith(str(tmp_path))
    assert os.listdir(tmp_path) == []


def test_default_master_uses_this_process_cpus():
    out = _run(
        "from apache_druid_spark.session import get_spark\n"
        "s = get_spark('cpu_default')\n"
        "print(s.sparkContext.master)\n"
        "print(s.conf.get('spark.sql.shuffle.partitions'))\n"
        "s.stop()\n")
    nproc = len(os.sched_getaffinity(0))
    assert out.split()[-2:] == [f"local[{nproc}]", str(nproc)]
