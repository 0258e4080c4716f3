"""Registry consistency: the driver contract depends on QUERIES and
ORACLES staying aligned — every oracle points at a real query, and
since round 4 EVERY query has an oracle (the HLL q38 checks an
accuracy contract instead of sketch equality, SURVEY §2.9)."""

from cassandra_extractor_spark.registry import ORACLES, QUERIES


def test_every_oracle_has_a_query():
    assert set(ORACLES) <= set(QUERIES), set(ORACLES) - set(QUERIES)


def test_every_query_has_an_oracle():
    assert set(QUERIES) - set(ORACLES) == set()


def test_oracles_are_nonempty_sql():
    for name, sql in ORACLES.items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name


def test_queries_are_callable():
    for name, fn in QUERIES.items():
        assert callable(fn), name


def test_session_memo_lru_and_invalidation(tmp_path):
    """The shared-chain cache contract: per-(session, key) memoization
    returns the identical object, the LRU cap bounds retained entries,
    and invalidate_dedup_chain / invalidate_table_cache clear by dir."""
    from cassandra_extractor_spark.operators.dedup import (
        _CHAIN_CACHE_CAP,
        invalidate_dedup_chain,
        session_memo,
    )

    class FakeSession:  # session_memo only touches __dict__
        pass

    spark = FakeSession()
    built = []

    def builder(tag):
        def b():
            built.append(tag)
            return f"frame-{tag}"
        return b

    a1 = session_memo(spark, ("bands", "/d1"), builder("a"))
    a2 = session_memo(spark, ("bands", "/d1"), builder("a'"))
    assert a1 is a2 and built == ["a"]  # memo hit, second builder never ran
    # path-spelling normalization: trailing slash / redundant segments
    # resolve to the SAME chain (two spellings must not build twice)
    a3 = session_memo(spark, ("bands", "/d1/"), builder("a-slash"))
    a4 = session_memo(spark, ("bands", "//d1/./"), builder("a-dot"))
    assert a3 is a1 and a4 is a1 and built == ["a"]

    # fill past the cap: oldest evicts, a re-ask rebuilds
    for i in range(_CHAIN_CACHE_CAP):
        session_memo(spark, ("bands", f"/x{i}"), builder(f"x{i}"))
    assert len(spark.__dict__["_ce_dedup_chain"]) == _CHAIN_CACHE_CAP
    session_memo(spark, ("bands", "/d1"), builder("a2"))
    assert built[-1] == "a2"  # /d1 was evicted, rebuilt

    # per-dir invalidation (sf_dir is key[1]) — a DIFFERENT spelling of
    # the dir must still hit the entry (post-rewrite staleness guard)
    invalidate_dedup_chain(spark, "/d1/")
    assert ("bands", "/d1") not in spark.__dict__["_ce_dedup_chain"]
    invalidate_dedup_chain(spark)
    assert spark.__dict__["_ce_dedup_chain"] == {}


def _memo_key_names() -> dict[str, list[str]]:
    """Every ``session_memo(spark, ("<name>", ...), ...)`` call in the
    package: key name → the files that use it."""
    import ast
    from pathlib import Path

    import cassandra_extractor_spark

    found: dict[str, list[str]] = {}
    for path in Path(cassandra_extractor_spark.__file__).parent.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and getattr(node.func, "id", None) == "session_memo"
                and len(node.args) >= 2
            ):
                key = node.args[1]
                assert isinstance(key, ast.Tuple) and isinstance(key.elts[0], ast.Constant), (
                    f"{path}:{node.lineno}: memo key must be a tuple led by a literal name"
                )
                found.setdefault(key.elts[0].value, []).append(path.name)
    return found


def test_every_memo_key_is_declared_once():
    """The shared frames are declared once (``dedup.SHARED_FRAMES``):
    the bench charges, and the invalidation drops, exactly what the
    declaration lists, so a memo key missing from it would be built
    uncharged and survive invalidation, and a key declared twice would
    sit in two charge groups."""
    from cassandra_extractor_spark.operators.dedup import SHARED_FRAMES

    used = _memo_key_names()
    declared = [f.key for f in SHARED_FRAMES]
    assert sorted(set(used) - set(declared)) == []
    assert len(declared) == len(set(declared)), declared
    memo_backed = {f.key for f in SHARED_FRAMES if f.release is None}
    assert memo_backed == set(used), sorted(memo_backed ^ set(used))


def test_shared_frames_follow_their_deps():
    """Each frame's deps are declared before it, and a charge group is
    one contiguous run: charging the groups in declared order never
    builds a frame of a later group inside an earlier group's clock."""
    from cassandra_extractor_spark.operators.dedup import SHARED_FRAMES, shared_groups

    seen: set[str] = set()
    for frame in SHARED_FRAMES:
        assert set(frame.deps) <= seen, (frame.key, set(frame.deps) - seen)
        seen.add(frame.key)
    charges = [f.charge for f in SHARED_FRAMES]
    runs = [c for i, c in enumerate(charges) if i == 0 or charges[i - 1] != c]
    assert runs == list(shared_groups()) == [
        "shared_dedup_chain_build",
        "shared_ann_build",
        "shared_quality_build",
        "shared_bm25_store_build",
    ]


def test_drop_shared_takes_the_frames_built_on_it():
    from cassandra_extractor_spark.operators.dedup import drop_shared, session_memo

    class FakeSession:  # session_memo only touches __dict__
        pass

    spark = FakeSession()
    for name in ("tok_leads", "shingles", "bands", "kgrams", "clf_scores", "ann_emb"):
        for d in ("/a", "/b"):
            session_memo(spark, (name, d), lambda: object())
    drop_shared(spark, ["shingles"], "/a")
    left = {k for k in spark.__dict__["_ce_dedup_chain"] if k[1] == "/a"}
    assert left == {("tok_leads", "/a"), ("kgrams", "/a"), ("clf_scores", "/a"), ("ann_emb", "/a")}
    drop_shared(spark, ["tok_leads"])
    assert set(spark.__dict__["_ce_dedup_chain"]) == {
        ("kgrams", "/a"), ("ann_emb", "/a"), ("kgrams", "/b"), ("ann_emb", "/b")
    }
