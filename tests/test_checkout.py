"""The suite tests the checkout it lives in, whichever directory that is."""

from __future__ import annotations

from pathlib import Path

import cassandra_extractor_spark


def test_package_is_imported_from_this_checkout(repo_root):
    assert Path(cassandra_extractor_spark.__file__).resolve().is_relative_to(repo_root)
