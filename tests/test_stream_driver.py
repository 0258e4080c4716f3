"""The package has one streaming driver: ``pipeline.stream_extract``.

Every streaming path (the service's streaming mode and the store
ingests) runs through it, so ``writeStream`` appears in exactly one
package module.  A second hand-built ``readStream`` → ``foreachBatch``
→ checkpoint skeleton fails this test.
"""

from __future__ import annotations

import ast

PACKAGE = "cassandra_extractor_spark"


def _mentions_write_stream(source: str) -> bool:
    return any(
        (isinstance(n, ast.Attribute) and n.attr == "writeStream")
        or (isinstance(n, ast.Name) and n.id == "writeStream")
        for n in ast.walk(ast.parse(source))
    )


def test_write_stream_lives_in_the_pipeline_only(repo_root):
    pkg = repo_root / PACKAGE
    users = sorted(
        p.relative_to(pkg).as_posix()
        for p in pkg.rglob("*.py")
        if _mentions_write_stream(p.read_text(encoding="utf-8"))
    )
    assert users == ["streaming/pipeline.py"]


def test_a_hand_built_stream_is_seen():
    assert _mentions_write_stream("q = df.writeStream.foreachBatch(f).start()\n")
    assert not _mentions_write_stream('"""df.writeStream in a docstring"""\n')
