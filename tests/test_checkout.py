"""The suite tests the checkout it lives in, whichever directory that is."""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import cassandra_extractor_spark


def test_package_is_imported_from_this_checkout(repo_root):
    assert Path(cassandra_extractor_spark.__file__).resolve().is_relative_to(repo_root)


def _paths_added_by_entry(entry: Path, cwd: Path) -> list[str]:
    """Run ``entry`` in a fresh interpreter and list the ``sys.path``
    entries it added."""
    code = (
        "import json, runpy, sys\n"
        "before = list(sys.path)\n"
        f"runpy.run_path({str(entry)!r})\n"
        "print(json.dumps([p for p in sys.path if p not in before]))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=cwd, capture_output=True, text=True, check=True
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_spark_entry_puts_only_its_own_checkout_on_path(repo_root, tmp_path):
    """``__spark_entry__.py`` puts the directory it lives in on ``sys.path``
    and nothing else, so a tool run from one checkout never imports the
    package of another."""
    added = _paths_added_by_entry(repo_root / "__spark_entry__.py", tmp_path)
    assert added and all(Path(p).resolve().is_relative_to(repo_root) for p in added), added

    other = tmp_path / "other_checkout"
    other.mkdir()
    shutil.copy(repo_root / "__spark_entry__.py", other)
    assert _paths_added_by_entry(other / "__spark_entry__.py", tmp_path) == [str(other.resolve())]


def test_warehouse_is_private_to_the_run(spark, tmp_path_factory):
    """Managed tables go under pytest's basetemp, not the checkout's
    ``spark-warehouse``: a complete table directory that a killed run
    left behind cannot fail the next run with LOCATION_ALREADY_EXISTS."""
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    assert Path(wh).resolve().is_relative_to(tmp_path_factory.getbasetemp().resolve()), wh
