"""Property-based tests (hypothesis) for the engine's pure layers."""

from __future__ import annotations

import datetime

from hypothesis import given, settings, strategies as st

from cassandra_extractor_spark.config import env_key, load_properties
from cassandra_extractor_spark.functions.tablespecs import strptime_to_spark
from cassandra_extractor_spark.sinks.jdbc import partition_ddl

_ident = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_.",
    min_size=1,
    max_size=30,
).filter(lambda s: s[0].isalpha())


@given(st.dictionaries(_ident, st.text(
    alphabet=st.characters(blacklist_categories=("Cs", "Cc")), max_size=40
).map(lambda s: s.strip()).filter(lambda s: s and "\n" not in s and "#" not in s and ";" not in s), max_size=10))
@settings(max_examples=50, deadline=None)
def test_properties_roundtrip(d):
    text = "\n".join(f"{k}={v}" for k, v in d.items())
    parsed = load_properties(text, is_text=True)
    assert parsed == {k: v for k, v in d.items()}


@given(_ident)
@settings(max_examples=50, deadline=None)
def test_env_key_is_env_safe(key):
    ek = env_key(key)
    assert ek.isupper() or not any(c.isalpha() for c in ek)
    assert "." not in ek and "-" not in ek


@given(
    st.datetimes(
        min_value=datetime.datetime(1970, 1, 2),
        max_value=datetime.datetime(2100, 1, 1),
    )
)
@settings(max_examples=50, deadline=None)
def test_strptime_translation_agrees_with_python(dt):
    """The translated Spark pattern must format/parse the same instants
    Python's strptime does for the reference's default format."""
    fmt = "%Y-%m-%d %H:%M:%S.%f"
    rendered = dt.strftime(fmt)
    # the Spark pattern is validated against Spark in test_tablespecs;
    # here: translation is total and deterministic for supported formats
    assert strptime_to_spark(fmt) == "yyyy-MM-dd HH:mm:ss.SSSSSS"
    assert datetime.datetime.strptime(rendered, fmt) == dt


@given(st.lists(st.text(min_size=1, max_size=20).filter(lambda s: "\x00" not in s), min_size=1, max_size=5, unique=True))
@settings(max_examples=50, deadline=None)
def test_partition_ddl_always_escapes(values):
    stmts = partition_ddl("t", "c", values)
    assert len(stmts) == len(values)
    for s in stmts:
        body = s.split("FOR VALUES IN (", 1)[1]
        # the quoted literal must contain no bare single quote
        inner = body[1 : body.rindex("')")]
        assert "'" not in inner.replace("''", "")


# --- Solr translator grammar (functions/solr.py) ----------------------

_field = st.text(alphabet="abcdefghijklmnopqrstuvwxyz_", min_size=1, max_size=8).filter(
    lambda s: s not in ("AND", "OR", "NOT", "TO")
)
_value = st.text(alphabet="abcdefghijklmnopqrstuvwxyz0123456789", min_size=1, max_size=8)


def _leaf():
    return st.one_of(
        st.tuples(st.sampled_from(["", "+", "-"]), _field, _value).map(
            lambda t: f"{t[0]}{t[1]}:{t[2]}"
        ),
        st.tuples(_field, st.integers(0, 99), st.integers(100, 999)).map(
            lambda t: f"{t[0]}:[{t[1]} TO {t[2]}]"
        ),
        st.just("*:*"),
    )


_solr_query = st.recursive(
    _leaf(),
    lambda children: st.one_of(
        st.tuples(children, st.sampled_from(["AND", "OR"]), children).map(
            lambda t: f"({t[0]} {t[1]} {t[2]})"
        ),
        children.map(lambda c: f"(NOT {c})"),
    ),
    max_leaves=8,
)


@given(_solr_query)
@settings(max_examples=200, deadline=None)
def test_solr_grammar_always_translates(q):
    from cassandra_extractor_spark.functions.solr import solr_to_sql

    sql = solr_to_sql(q)
    # structural invariants: balanced parens, no Solr remnants, and the
    # operator/operand alternation the translator's own grammar check
    # enforces implies non-empty SQL
    assert sql.count("(") == sql.count(")")
    assert ":" not in sql.replace("':'", "")  # no untranslated field:value
    assert sql.strip()
    # every generated query is inside the supported subset → never raises


# --- CDC merge algebra: the properties the generational store's replay
# safety rests on (streaming/cdc_stream.py) -------------------------------

_cdc_change = st.tuples(
    st.integers(min_value=1, max_value=5),     # key
    st.sampled_from(["U", "D"]),               # op
    st.integers(min_value=1, max_value=50),    # seq (order col)
    st.integers(min_value=-100, max_value=100)  # payload
)


@given(
    changes=st.lists(_cdc_change, min_size=1, max_size=20),
    split=st.integers(min_value=1, max_value=4),
)
@settings(max_examples=10, deadline=None)
def test_cdc_merge_split_invariance_and_idempotence(spark, changes, split):
    """Folding a change log through ANY micro-batch split yields the
    same snapshot as one-shot latest-per-key, and re-merging the last
    batch is a no-op — the two algebraic facts that make the
    generational CDC store replay-safe and arrival-split-independent.
    Ties on (key, seq) are broken deterministically by favoring the
    later (op, bal) tuple ordering, so duplicate seqs are assumed
    away."""
    import pandas as pd

    from cassandra_extractor_spark.streaming.cdc_stream import merge_cdc_batch

    # de-duplicate (key, seq) pairs: a real change log has unique
    # sequence numbers per key; merge order on exact ties is undefined
    seen = set()
    uniq = []
    for k, op, seq, bal in changes:
        if (k, seq) not in seen:
            seen.add((k, seq))
            uniq.append({"k": k, "op": op, "seq": seq, "bal": bal})
    schema = "k LONG, op STRING, seq LONG, bal LONG"

    def df_of(rows):
        return spark.createDataFrame(pd.DataFrame(rows), schema)

    # one-shot truth: latest change per key
    latest = {}
    for r in uniq:
        if r["k"] not in latest or r["seq"] > latest[r["k"]]["seq"]:
            latest[r["k"]] = r
    truth = {
        (r["k"], r["op"], r["seq"], r["bal"]) for r in latest.values()
    }

    # fold through `split` batches in arrival order
    n = max(1, len(uniq) // split)
    store = None
    batches = [uniq[i : i + n] for i in range(0, len(uniq), n)]
    for b in batches:
        store = merge_cdc_batch(store, df_of(b), "k", ["seq"], "op", ["bal"])
    got = {tuple(r) for r in store.collect()}
    assert got == truth

    # idempotence: re-merging the final batch changes nothing
    again = merge_cdc_batch(store, df_of(batches[-1]), "k", ["seq"], "op", ["bal"])
    assert {tuple(r) for r in again.collect()} == truth
