"""Actuator lifecycle + metrics + CLI app (reference §2.8 surface)."""

from __future__ import annotations

import json
import time
import urllib.request

from cassandra_extractor_spark.actuator import Actuator, ExtractionJob, JobState
from cassandra_extractor_spark.metrics import MetricsRegistry


def _wait(cond, timeout=30):
    t0 = time.time()
    while time.time() - t0 < timeout:
        if cond():
            return True
        time.sleep(0.05)
    return False


def test_metrics_exposition():
    m = MetricsRegistry()
    m.inc("rows_processed_total", 5, table="t1")
    m.set_gauge("progress", 0.5, table="t1")
    with m.time("extract_seconds", table="t1"):
        pass
    text = m.exposition()
    assert 'rows_processed_total{table="t1"} 5.0' in text
    assert "extract_seconds_count" in text
    assert "# TYPE cassandra_extractor_spark_progress gauge" in text


def test_summary_keeps_two_numbers_and_prints_as_before():
    """A summary series stores its running count and sum, not every
    observation, and prints what the list of observations printed.  The
    values are multiples of 1/64, so every partial sum is exact and the
    expected text does not depend on how ``sum`` adds floats."""
    m = MetricsRegistry()
    values = [(i % 97) / 64 for i in range(10_000)]
    for v in values:
        m.observe("write_seconds", v, sink="jsonl")
    m.inc("rows_total", 3)
    assert m._histograms == {("write_seconds", (("sink", "jsonl"),)): (10_000, sum(values))}
    ns = "cassandra_extractor_spark"
    assert m.exposition() == (
        f"# TYPE {ns}_rows_total counter\n{ns}_rows_total 3.0\n"
        f"# TYPE {ns}_write_seconds summary\n"
        f'{ns}_write_seconds_count{{sink="jsonl"}} 10000\n'
        f'{ns}_write_seconds_sum{{sink="jsonl"}} {sum(values)}\n'
    )


def test_job_lifecycle(spark):
    actuator = Actuator(spark)
    done = []

    def run(job):
        done.append(spark.range(1000).count())
        job.processed = 1000
        job.total = 1000

    job = actuator.create(ExtractionJob(table="t", run=run))
    assert job.state == JobState.CREATED
    actuator.start("t")
    assert _wait(lambda: job.state == JobState.DONE)
    assert done == [1000]
    stats = actuator.stats()["t"]
    assert stats["progress_pct"] == 100.0


def test_job_failure_reported(spark):
    actuator = Actuator(spark)

    def run(job):
        raise RuntimeError("sink exploded")

    job = actuator.create(ExtractionJob(table="bad", run=run))
    actuator.start("bad")
    assert _wait(lambda: job.state == JobState.FAILED)
    assert "sink exploded" in job.error


def test_pause_cancels_jobs(spark):
    actuator = Actuator(spark)
    started = []

    def run(job):
        started.append(True)
        # long job: pause should cancel the job group mid-flight
        spark.range(2_000_000_000).selectExpr("sum(id * id)").collect()

    job = actuator.create(ExtractionJob(table="slow", run=run))
    actuator.start("slow")
    assert _wait(lambda: bool(started))
    time.sleep(0.3)
    actuator.pause("slow")
    assert _wait(lambda: not job._thread.is_alive(), timeout=60)
    assert job.state == JobState.PAUSED


def test_scale_up_down(spark):
    actuator = Actuator(spark)
    actuator.create(ExtractionJob(table="t", run=lambda j: None))
    base = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert actuator.scale("t", +1)["parallelism"] == base + 1
    assert actuator.scale("t", -1)["parallelism"] == base


def test_rest_endpoints(spark):
    actuator = Actuator(spark)
    actuator.metrics.inc("extractions_total", table="t")
    actuator.masked_config = {"db.password": "hunter2", "db.host": "h"}

    def run(job):
        job.processed = job.total = 10

    actuator.create(ExtractionJob(table="t", run=run))
    server = actuator.serve()
    port = server.server_port
    try:
        def get(path):
            with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}") as r:
                return r.read().decode()

        def post(path, body):
            req = urllib.request.Request(
                f"http://127.0.0.1:{port}{path}",
                data=json.dumps(body).encode(),
                headers={"Content-Type": "application/json"},
            )
            with urllib.request.urlopen(req) as r:
                return json.loads(r.read())

        assert "extractions_total" in get("/metrics")
        # /state dumps HWM + staged config (reference GET /cache, M3)
        from cassandra_extractor_spark.streaming.hwm import HighWaterMarkStore
        import tempfile

        store = HighWaterMarkStore(tempfile.mktemp())
        store.set("t", "2024-01-01 00:00:00")
        actuator.hwm_store = store
        # staged secrets must come back masked, same rule as /config
        actuator.jobs["t"].config = {"db.password": "hunter2", "db.host": "h"}
        state = json.loads(get("/state"))
        assert state["hwm"]["t"] == "2024-01-01 00:00:00"
        assert state["job_config"]["t"]["db.password"] == "***"
        assert state["job_config"]["t"]["db.host"] == "h"
        cfg = json.loads(get("/config"))
        assert cfg["db.password"] == "***" and cfg["db.host"] == "h"
        assert post("/start", {"table": "t"})["status"] == "started"
        assert _wait(lambda: actuator.jobs["t"].state == JobState.DONE)
        assert json.loads(get("/stats"))["t"]["state"] == "done"
        assert post("/scaleup", {"instance": ["t"]})["parallelism"] > 0
        # unknown table -> 404
        try:
            post("/start", {"table": "nope"})
            raise AssertionError("expected 404")
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        server.shutdown()


def test_hot_config_reload(spark):
    actuator = Actuator(spark)
    seen = []

    def run(job):
        seen.append(dict(job.config))

    job = actuator.create(ExtractionJob(table="t", run=run))
    actuator.start("t")
    assert _wait(lambda: len(seen) == 1)
    res = actuator.set_config("t", "cassandra.fetch_size=500\nsink=jsonl")
    assert res["keys"] == ["cassandra.fetch_size", "sink"]
    actuator.resume("t")
    assert _wait(lambda: len(seen) == 2)
    assert seen[0] == {} and seen[1]["cassandra.fetch_size"] == "500"


def test_per_table_config_overlay(tmp_path):
    from cassandra_extractor_spark.config import load_table_properties

    global_props = {
        "filter": "1=1",
        "tables.events.filter": "event_type = 'click'",
        "limit": "5",
        # a dotted config key whose first segment looks like a table
        # name must NOT be treated as an overlay (collision guard)
        "solr.filter": "type:log",
    }
    tdir = tmp_path / "tconf"
    tdir.mkdir()
    (tdir / "orders.properties").write_text("limit=9\nsort=o_orderkey")
    ev = load_table_properties(global_props, "events", str(tdir))
    assert ev["filter"] == "event_type = 'click'"  # namespaced key wins
    assert ev["limit"] == "5"
    solr_tbl = load_table_properties(global_props, "solr", str(tdir))
    assert solr_tbl["filter"] == "1=1"  # 'solr.filter' did NOT leak in
    od = load_table_properties(global_props, "orders", str(tdir))
    assert od["limit"] == "9" and od["sort"] == "o_orderkey"  # file overlay
    assert od["filter"] == "1=1"


def test_cli_app_table_overlay(spark, sf_dir, tmp_path):
    from cassandra_extractor_spark import app as app_mod

    out = str(tmp_path / "out_ov")
    props = tmp_path / "job.properties"
    props.write_text("tables.events.filter=event_type = 'signup'\n")
    rc = app_mod.main(
        ["-T", "events", "--sf-dir", sf_dir, "--output", out, "--properties", str(props)]
    )
    assert rc == 0
    types = {
        r["event_type"]
        for r in spark.read.json(f"{out}/events").select("event_type").distinct().collect()
    }
    assert types == {"signup"}


def test_cli_app(spark, sf_dir, tmp_path, monkeypatch):
    from cassandra_extractor_spark import app as app_mod

    out = str(tmp_path / "out")
    rc = app_mod.main(
        [
            "-T",
            "events",
            "--sf-dir",
            sf_dir,
            "--output",
            out,
            "--filter",
            "event_type = 'click'",
        ]
    )
    assert rc == 0
    back = spark.read.json(f"{out}/events")
    assert back.count() > 0
    assert set(r["event_type"] for r in back.select("event_type").distinct().collect()) == {"click"}


def test_rest_create_and_cache(spark):
    """POST /create (factory-built job, then start) + GET /cache +
    POST /cache/clear — reference management.py:306-333,130-160,394-419."""
    import json
    import tempfile
    import urllib.error
    import urllib.request

    actuator = Actuator(spark)

    def factory(table, props):
        def run(job):
            job.processed = job.total = 5

        return ExtractionJob(table=table, run=run)

    actuator.job_factory = factory
    from cassandra_extractor_spark.streaming.hwm import HighWaterMarkStore

    store = HighWaterMarkStore(tempfile.mktemp())
    store.set("orders", "2024-02-02 00:00:00")
    store.set("events", "2024-03-03 00:00:00")
    actuator.hwm_store = store
    server = actuator.serve()
    port = server.server_port
    try:
        def get(path):
            with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}") as r:
                return json.loads(r.read())

        def post(path, body):
            req = urllib.request.Request(
                f"http://127.0.0.1:{port}{path}",
                data=json.dumps(body).encode(),
                headers={"Content-Type": "application/json"},
            )
            with urllib.request.urlopen(req) as r:
                return json.loads(r.read())

        # create-then-start, properties staged on the job
        out = post("/create", {"table": "orders", "properties": "sinks=jsonl\nlimit=10"})
        assert out == {"status": "created", "table": "orders", "state": "created"}
        assert actuator.jobs["orders"].config["sinks"] == "jsonl"
        assert post("/start", {"table": "orders"})["status"] == "started"
        assert _wait(lambda: actuator.jobs["orders"].state == JobState.DONE)
        # duplicate create -> 500 with explanation
        try:
            post("/create", {"table": "orders"})
            raise AssertionError("expected 500")
        except urllib.error.HTTPError as e:
            assert e.code == 500 and "already exists" in e.read().decode()
        # missing table -> 400
        try:
            post("/create", {})
            raise AssertionError("expected 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
        # GET /cache is the reference route name for the state dump
        cache = get("/cache")
        assert cache["hwm"]["orders"] == "2024-02-02 00:00:00"
        # targeted clear drops one table's HWM + staged config only
        out = post("/cache/clear", {"table": "orders"})
        assert out["hwm"] == ["orders"] and out["job_config"] == ["orders"]
        assert actuator.jobs["orders"].config == {}
        assert store.get("orders") is None
        assert store.get("events") == "2024-03-03 00:00:00"
        # clear-all drops the rest
        out = post("/cache/clear", {})
        assert out["hwm"] == ["events"]
        assert store.dump() == {}
    finally:
        server.shutdown()


def test_maintenance_compact_route(spark, tmp_path):
    """POST /maintenance/compact drives the three stores' maintenance
    jobs over HTTP; unknown kinds fail loudly."""
    import urllib.error

    import pandas as pd
    from pyspark.sql import functions as F

    from cassandra_extractor_spark.streaming import generations
    from cassandra_extractor_spark.streaming.posting_stream import (
        boolean_query_against_store,
        build_doclens,
        build_postings,
        write_posting_store,
    )

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1], "text": ["join scan merge", "join scan"]}),
        "doc_id LONG, text STRING",
    )
    store = str(tmp_path / "store")
    first, second = docs.where(F.col("doc_id") == 0), docs.where(F.col("doc_id") == 1)
    write_posting_store(build_postings(first), build_doclens(first), store, n_buckets=2)
    generations.commit_delta(
        store, 0, {"postings": build_postings(second), "doclens": build_doclens(second)}
    )
    actuator = Actuator(spark, MetricsRegistry())
    server = actuator.serve()
    port = server.server_port
    try:
        def post(path, body):
            req = urllib.request.Request(
                f"http://127.0.0.1:{port}{path}",
                data=json.dumps(body).encode(),
                headers={"Content-Type": "application/json"},
            )
            with urllib.request.urlopen(req) as r:
                return json.loads(r.read())

        out = post("/maintenance/compact", {"store": "posting", "store_dir": store})
        # doc 1's two postings and its one doc length
        assert out == {"status": "compacted", "store": "posting", "absorbed": 3}
        # the folded base answers alone (no delta outstanding)
        assert generations.current(store)["deltas"] == []
        got = {
            r.doc_id
            for r in boolean_query_against_store(spark, store, ("join", "scan")).collect()
        }
        assert got == {0, 1}
        # idempotent second run: nothing to absorb
        out2 = post("/maintenance/compact", {"store": "posting", "store_dir": store})
        assert out2["absorbed"] == 0
        # unknown store kind -> 500 with the error surfaced
        try:
            post("/maintenance/compact", {"store": "bogus"})
            raise AssertionError("expected HTTP 500")
        except urllib.error.HTTPError as e:
            assert e.code == 500
            assert "unknown store kind" in json.loads(e.read())["error"]
    finally:
        server.shutdown()


def test_auto_compaction_policy(spark, tmp_path):
    """Size-ratio auto-compaction (round-11): mode=check reports the
    policy without folding; mode=auto folds exactly once when the
    delta/base byte ratio crosses the threshold and is a no-op when it
    does not (and idempotent when re-run after a fold)."""
    import urllib.request as _rq

    import pandas as pd
    from pyspark.sql import functions as F

    from cassandra_extractor_spark.streaming import generations
    from cassandra_extractor_spark.streaming.posting_stream import (
        build_doclens,
        build_postings,
        write_posting_store,
    )

    docs = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": list(range(8)), "text": ["join scan merge sort"] * 8}
        ),
        "doc_id LONG, text STRING",
    )
    store = str(tmp_path / "store")
    first, last = docs.where(F.col("doc_id") < 7), docs.where(F.col("doc_id") == 7)
    write_posting_store(build_postings(first), build_doclens(first), store, n_buckets=2)
    generations.commit_delta(
        store, 0, {"postings": build_postings(last), "doclens": build_doclens(last)}
    )
    actuator = Actuator(spark, MetricsRegistry())
    server = actuator.serve()
    port = server.server_port
    try:
        def post(body):
            req = _rq.Request(
                f"http://127.0.0.1:{port}/maintenance/compact",
                data=json.dumps(body).encode(),
                headers={"Content-Type": "application/json"},
            )
            with _rq.urlopen(req) as r:
                return json.loads(r.read())

        base = {"store": "posting", "store_dir": store}
        # check: reports, never folds
        chk = post({**base, "mode": "check", "threshold": 0.01})
        assert chk["should_compact"] is True and chk["compacted"] is False
        assert chk["delta_bytes"] > 0 and chk["base_bytes"] > 0
        # below threshold: auto is a no-op
        skip = post({**base, "mode": "auto", "threshold": 1e9})
        assert skip["compacted"] is False and skip["status"] == "policy"
        assert len(generations.current(store)["deltas"]) == 1
        # above threshold: auto folds exactly once
        did = post({**base, "mode": "auto", "threshold": 0.01})
        assert did["compacted"] is True and did["absorbed"] > 0
        assert generations.current(store)["deltas"] == []
        # idempotent re-run: policy sees an empty delta, no fold
        again = post({**base, "mode": "auto", "threshold": 0.01})
        assert again["compacted"] is False and again["delta_bytes"] == 0
        # bad mode fails loudly
        import urllib.error

        try:
            post({**base, "mode": "sometimes"})
            raise AssertionError("expected HTTP 500")
        except urllib.error.HTTPError as e:
            assert "unknown compaction mode" in json.loads(e.read())["error"]
    finally:
        server.shutdown()


def test_posting_policy_counts_doclen_and_validates_pair(spark, tmp_path):
    """(a) a ``store_dir`` that holds no store is rejected with a
    descriptive error (not an opaque failure mid-fold), in every mode
    and on the in-band entry point too; (b) the size-ratio policy counts
    the doc-length part's bytes on both sides, so a batch of zero-token
    documents (doc lengths, no postings) alone trips auto-compaction."""
    import pandas as pd
    import pytest

    from cassandra_extractor_spark.streaming import generations
    from cassandra_extractor_spark.streaming.maintenance import compact, dir_bytes
    from cassandra_extractor_spark.streaming.posting_stream import (
        build_doclens,
        build_postings,
        write_posting_store,
    )

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1], "text": ["join scan", "merge sort"]}),
        "doc_id LONG, text STRING",
    )
    empty = spark.createDataFrame(
        pd.DataFrame({"doc_id": [2, 3], "text": ["", "  "]}), "doc_id LONG, text STRING"
    )
    store = str(tmp_path / "store")
    write_posting_store(build_postings(docs), build_doclens(docs), store, n_buckets=2)
    actuator = Actuator(spark, MetricsRegistry())
    # the descriptive error fires on every entry point: the route in
    # each mode, and the in-band hook's call (a due batch id)
    bad = {"store_dir": str(tmp_path / "nostore")}
    for mode in ("force", "auto", "check"):
        with pytest.raises(FileNotFoundError, match="no store under"):
            actuator.compact_store("posting", {**bad, "mode": mode})
    with pytest.raises(FileNotFoundError, match="no store under"):
        compact(spark, "posting", {**bad, "mode": "auto", "every_n_batches": 1}, 0)

    assert generations.commit_delta(
        store, 0, {"postings": build_postings(empty), "doclens": build_doclens(empty)}
    )
    assert build_postings(empty).count() == 0
    params = {"store_dir": store, "mode": "check"}
    p1 = actuator.compact_store("posting", params)
    base, [delta] = generations.generation_dirs(store)
    # both parts count, on both sides
    assert p1["delta_bytes"] == dir_bytes(delta) > dir_bytes(f"{delta}/postings")
    assert p1["base_bytes"] == dir_bytes(base) > dir_bytes(f"{base}/postings")
    assert p1["compacted"] is False and generations.current(store)["deltas"]
    # the doclen-only delta trips the auto policy and folds
    out = actuator.compact_store("posting", {**params, "mode": "auto", "threshold": 1e-9})
    assert out["compacted"] is True and out["absorbed"] == 2
    assert generations.current(store)["deltas"] == []


def test_signature_and_ann_over_the_compact_route(spark, sf_dir, tmp_path):
    """/maintenance/compact for the signature and ANN stores, in each
    mode: ``check`` reports the store's base/delta bytes and never
    folds, ``auto`` folds when the policy says so, ``force`` folds
    unconditionally, and a second run absorbs nothing."""
    from pyspark.sql import functions as F

    from cassandra_extractor_spark.operators.dedup import (
        bands_for,
        minhash_signatures_for,
        write_signature_store,
    )
    from cassandra_extractor_spark.operators.similarity import (
        N_IVF_CENTROIDS,
        N_QUERIES,
        _load_embeddings,
    )
    from cassandra_extractor_spark.sources.catalog import load_table
    from cassandra_extractor_spark.streaming import generations
    from cassandra_extractor_spark.streaming.ann_stream import (
        _read_centroids,
        assign_cells,
        init_ann_centroids,
    )
    from cassandra_extractor_spark.streaming.maintenance import dir_bytes

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    sig_store = str(tmp_path / "sig")

    def land_signature(b):
        part = docs.where(F.col("doc_id").between(100 * b, 100 * b + 99))
        generations.commit_delta(
            sig_store, b, {"bands": bands_for(minhash_signatures_for(part))}
        )

    e = _load_embeddings(spark, sf_dir)
    cent = e.where(
        (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < N_QUERIES + N_IVF_CENTROIDS)
    ).select(F.col("vec_id").alias("c_id"), F.col("emb").alias("c_emb"))
    corpus = e.where(F.col("vec_id") >= N_QUERIES).select("vec_id", "emb")
    store = str(tmp_path / "ann")
    init_ann_centroids(spark, cent, store)

    def land_ann(b):
        part = corpus.where(F.col("vec_id") % 3 == b)
        generations.commit_delta(
            store, b, {"vectors": assign_cells(part, _read_centroids(spark, store))}
        )

    def base_bytes(store_dir):
        return dir_bytes(generations.generation_dirs(store_dir)[0])

    def delta_bytes(store_dir):
        return sum(map(dir_bytes, generations.generation_dirs(store_dir)[1]))

    # kind → (store dir, land batch b)
    cases = {"signature": (sig_store, land_signature), "ann": (store, land_ann)}
    actuator = Actuator(spark, MetricsRegistry())
    write_signature_store(
        bands_for(minhash_signatures_for(docs.where(F.col("doc_id") < 100))),
        sig_store,
        n_buckets=2,
    )
    for kind, (store_dir, land) in cases.items():
        params = {"store_dir": store_dir}
        if kind == "ann":  # the ANN base comes from a first fold
            land(0)
            assert actuator.compact_store(kind, params)["absorbed"] > 0
        land(1)
        outstanding = delta_bytes(store_dir)
        chk = actuator.compact_store(kind, {**params, "mode": "check", "threshold": 0.0})
        assert chk["store"] == kind and chk["status"] == "policy"
        assert chk["base_bytes"] == base_bytes(store_dir) > 0
        assert chk["delta_bytes"] == outstanding > 0
        assert chk["should_compact"] is True and chk["compacted"] is False
        assert delta_bytes(store_dir) == outstanding  # check never folds
        skip = actuator.compact_store(kind, {**params, "mode": "auto", "threshold": 1e9})
        assert skip["should_compact"] is False and skip["compacted"] is False
        assert delta_bytes(store_dir) == outstanding
        did = actuator.compact_store(kind, {**params, "mode": "auto", "threshold": 0.0})
        assert did["status"] == "compacted" and did["compacted"] is True
        assert did["absorbed"] > 0 and delta_bytes(store_dir) == 0
        land(2)
        forced = actuator.compact_store(kind, params)
        assert list(forced) == ["status", "store", "absorbed"]
        assert forced["absorbed"] > 0 and delta_bytes(store_dir) == 0
        again = actuator.compact_store(kind, params)
        assert again == {"status": "compacted", "store": kind, "absorbed": 0}
        after = actuator.compact_store(kind, {**params, "mode": "check"})
        assert after["delta_bytes"] == 0 and after["base_bytes"] == base_bytes(store_dir)
    # every folded row reached the base, once
    sig = generations.read(spark, sig_store, "bands")
    assert sig.count() == sig.distinct().count()
    want = bands_for(minhash_signatures_for(docs.where(F.col("doc_id") < 300)))
    assert sig.count() == want.count()
    base = generations.read(spark, store, "vectors")
    assert base.count() == base.select("vec_id").distinct().count()
    assert base.count() == assign_cells(corpus, _read_centroids(spark, store)).count()


def test_cdc_retention_over_control_plane(spark, tmp_path):
    """CDC retention ops ride /maintenance/compact (round-11): a purge
    drops tombstones below the horizon AND records the horizon fence —
    a post-purge stale update below the horizon is rejected; a fold op
    settles the store; a retain op prunes old manifests/generations but
    never the current one."""
    import urllib.request as _rq

    import pandas as pd

    from cassandra_extractor_spark.streaming.cdc_stream import (
        _current_manifest,
        _manifest_seqs,
        apply_cdc_batch,
        init_cdc_store,
        read_cdc_view,
    )

    store = str(tmp_path / "cdc")
    seed = spark.createDataFrame(
        pd.DataFrame({"k": [1, 2], "v": ["a", "b"], "op": ["U", "U"], "ts": [0, 0]}),
        "k LONG, v STRING, op STRING, ts LONG",
    )
    init_cdc_store(spark, seed, store, key="k", op_col="op", order_cols=["ts"], n_buckets=2)
    # delete key 1 at ts=5
    apply_cdc_batch(
        spark,
        spark.createDataFrame(
            pd.DataFrame({"k": [1], "v": [None], "op": ["D"], "ts": [5]}),
            "k LONG, v STRING, op STRING, ts LONG",
        ),
        0, store, key="k", order_cols=["ts"], op_col="op",
        payload_cols=["v"], retain_gens=0,
    )
    actuator = Actuator(spark, MetricsRegistry())
    server = actuator.serve()
    port = server.server_port
    try:
        def post(body):
            req = _rq.Request(
                f"http://127.0.0.1:{port}/maintenance/compact",
                data=json.dumps(body).encode(),
                headers={"Content-Type": "application/json"},
            )
            with _rq.urlopen(req) as r:
                return json.loads(r.read())

        out = post({"store": "cdc", "op": "purge_tombstones", "store_dir": store,
                    "order_cols": ["ts"], "horizon": [10]})
        assert out["status"] == "purged" and out["horizon"] == [10]
        assert _current_manifest(store)["horizon"] == [10]
        # horizon fence: stale update (ts=3 < 10) for the purged key is
        # rejected — key 1 stays deleted
        apply_cdc_batch(
            spark,
            spark.createDataFrame(
                pd.DataFrame({"k": [1], "v": ["zombie"], "op": ["U"], "ts": [3]}),
                "k LONG, v STRING, op STRING, ts LONG",
            ),
            1, store, key="k", order_cols=["ts"], op_col="op",
            payload_cols=["v"], retain_gens=0,
        )
        view = {r.k: r.v for r in read_cdc_view(spark, store).collect()}
        assert view == {2: "b"}
        # settle: the apply's background fold (if any) ends, and what
        # it left outstanding is folded — no commit lands after this
        out = post({"store": "cdc", "op": "fold", "store_dir": store})
        assert out["status"] == "folded" and out["deltas"] == 0
        assert out["seq"] == _current_manifest(store)["seq"]
        assert {r.k: r.v for r in read_cdc_view(spark, store).collect()} == {2: "b"}
        # retention: keep only the newest manifest; current survives
        n_before = len(_manifest_seqs(store))
        rep = post({"store": "cdc", "op": "retain", "store_dir": store,
                    "retain_gens": 1})
        assert rep["status"] == "retained"
        assert rep["removed_manifests"] == n_before - 1
        assert len(rep["retained_seqs"]) == 1
        view2 = {r.k: r.v for r in read_cdc_view(spark, store).collect()}
        assert view2 == {2: "b"}
        # unknown op fails loudly
        import urllib.error

        try:
            post({"store": "cdc", "op": "vacuum", "store_dir": store})
            raise AssertionError("expected HTTP 500")
        except urllib.error.HTTPError as e:
            assert "unknown cdc maintenance op" in json.loads(e.read())["error"]
    finally:
        server.shutdown()
