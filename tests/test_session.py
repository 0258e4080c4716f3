"""``get_spark``'s master: the one spark-submit was given, else local."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest


@pytest.mark.parametrize("submit_args, master", [
    ("--master local[1] pyspark-shell", "local[1]"),
    # spark-submit fills in local[*] when given no master
    ("pyspark-shell", "local[3]"),
])
def test_master_is_the_one_spark_submit_was_given(repo_root, submit_args, master):
    script = (
        "import sys\n"
        f"sys.path.insert(0, {str(repo_root)!r})\n"
        "from cassandra_extractor_spark.session import get_spark\n"
        "print('MASTER', get_spark('submitted-master').sparkContext.master)\n"
    )
    env = {**os.environ, "PYSPARK_SUBMIT_ARGS": submit_args, "SPARK_GRAFT_CPUS": "3"}
    out = subprocess.run([sys.executable, "-c", script], capture_output=True, text=True,
                         timeout=300, env=env)
    assert out.returncode == 0, out.stderr[-2000:]
    assert f"MASTER {master}" in out.stdout.splitlines()
