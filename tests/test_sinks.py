"""Sink round-trips and templating (SURVEY §5.2.4)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import Row

from cassandra_extractor_spark.sinks.fanout import fan_out
from cassandra_extractor_spark.sinks.jdbc import (
    JdbcSinkConfig,
    ensure_partitions,
    partition_ddl,
    write_jdbc,
)
from cassandra_extractor_spark.sinks.jsonl import write_json_array_file, write_jsonl
from cassandra_extractor_spark.sinks.kafka import (
    KafkaSinkConfig,
    prepare_kafka_frame,
    weighted_partition_col,
)
from cassandra_extractor_spark.sinks.s3 import S3SinkConfig, prepare_s3_frame

from pyspark.sql import functions as F


def _df(spark):
    return spark.createDataFrame(
        [Row(id=i, name=f"n{i}", part="a" if i % 2 else "b") for i in range(10)]
    )


def test_jsonl_roundtrip(spark, tmp_path):
    df = _df(spark)
    path = str(tmp_path / "out")
    write_jsonl(df, path)
    back = spark.read.json(path)
    assert back.count() == 10
    assert sorted(back.columns) == ["id", "name", "part"]


def test_json_array_file(spark, tmp_path):
    path = str(tmp_path / "arr.json")
    n = write_json_array_file(_df(spark).orderBy("id"), path)
    assert n == 10
    data = json.load(open(path))
    assert isinstance(data, list) and len(data) == 10
    assert data[0]["id"] == 0


def test_kafka_frame(spark):
    cfg = KafkaSinkConfig(
        bootstrap_servers="b:9092",
        topic="t",
        topic_prefix="pre-",
        key_template="%(id)d",
        header_columns=["part"],
        partition_weights={0: 3, 1: 1},
    )
    assert cfg.full_topic == "pre-t"
    frame = prepare_kafka_frame(_df(spark), cfg)
    assert set(frame.columns) == {"key", "value", "headers", "partition"}
    rows = frame.collect()
    assert all(r["partition"] in (0, 1) for r in rows)
    assert json.loads(rows[0]["value"])["name"].startswith("n")


def test_weighted_partition_distribution(spark):
    df = spark.range(10_000).select(F.col("id").cast("string").alias("k"))
    out = df.select(weighted_partition_col({0: 3, 1: 1}, F.col("k")).alias("p"))
    counts = {r["p"]: r["cnt"] for r in out.groupBy("p").agg(F.count("*").alias("cnt")).collect()}
    ratio = counts[0] / counts[1]
    assert 2.5 < ratio < 3.6  # ~3:1 weighting


def test_jdbc_partition_ddl(spark):
    df = _df(spark)
    cfg = JdbcSinkConfig(url="jdbc:x", table="tgt", partition_column="part")
    issued: list[str] = []
    stmts = ensure_partitions(df, cfg, issued.append)
    assert sorted(stmts) == sorted(issued)
    assert any("FOR VALUES IN ('a')" in s for s in issued)
    assert any("PARTITION OF tgt" in s for s in issued)
    assert partition_ddl("t", "c", ["x'y"])[0].count("''") == 1  # escaping


def test_write_jdbc_sends_nested_columns_as_json_text(spark, monkeypatch):
    """A JDBC table has no struct or VARIANT column type: the writer
    gets those columns as JSON text (no database needed: the JDBC
    write itself is captured)."""
    from pyspark.sql.readwriter import DataFrameWriter

    sent = []
    monkeypatch.setattr(DataFrameWriter, "jdbc", lambda self, *a, **k: sent.append(self._df))
    df = spark.sql(
        """SELECT 1 AS id, named_struct('k', 7) AS st, parse_json('{"v": 2.5}') AS var"""
    )
    write_jdbc(df, JdbcSinkConfig(url="jdbc:x", table="t"))
    [frame] = sent
    assert frame.dtypes == [("id", "int"), ("st", "string"), ("var", "string")]
    r = frame.first()
    assert (r.id, r.st, r.var) == (1, '{"k":7}', '{"v":2.5}')


def test_app_csv_sink_writes_a_schema_less_object_column_as_json(spark, sf_dir, tmp_path):
    """The CSV sink of ``app.main`` takes a ``convertTo: "object"``
    column without a schema (VARIANT) and writes it as JSON text."""
    import pyarrow.parquet as pq

    from cassandra_extractor_spark import app as app_mod

    spec = tmp_path / "spec.json"
    spec.write_text(json.dumps({"columns": [{"name": "props", "convertTo": "object"}]}))
    out = str(tmp_path / "out")
    rc = app_mod.main(["-T", "events", "--sf-dir", sf_dir, "--output", out,
                       "--sinks", "csv", "--table-specs", str(spec)])
    assert rc == 0
    back = spark.read.option("header", "true").csv(f"{out}/events_csv")
    got = {int(r.event_id): json.loads(r.props) for r in back.select("event_id", "props").collect()}
    src = pq.read_table(f"{sf_dir}/events.parquet", columns=["event_id", "props"]).to_pylist()
    assert got == {r["event_id"]: json.loads(r["props"]) for r in src}


def test_s3_frame_keying(spark):
    cfg = S3SinkConfig(bucket="b", key_template="exports/%(id)d.json")
    frame = prepare_s3_frame(_df(spark), cfg)
    rows = {r["key"]: r["body"] for r in frame.collect()}
    assert "exports/3.json" in rows
    assert json.loads(rows["exports/3.json"])["name"] == "n3"


def test_fanout_isolated_failures(spark, tmp_path):
    df = _df(spark)
    seen = {}

    def good(d):
        seen["good"] = d.count()

    def bad(d):
        raise ValueError("boom")

    res = fan_out(df, {"good": good, "bad": bad})
    assert res["good"] is None
    assert isinstance(res["bad"], ValueError)
    assert seen["good"] == 10


def test_fanout_frame_failure_reported_for_every_sink(spark):
    """A frame that cannot be computed fails its materialization; every
    sink reports that error and none is called."""
    called = []
    df = spark.range(3).select(F.raise_error(F.lit("bad frame")).alias("x"))
    res = fan_out(df, {"a": called.append, "b": called.append})
    assert called == []
    assert set(res) == {"a", "b"} and all("bad frame" in str(e) for e in res.values())
    assert not df.storageLevel.useMemory


def test_fanout_single_sink_writes_directly_unpersisted(spark):
    df = _df(spark)
    seen = {}

    def only(d):
        seen["cached"] = d.is_cached
        seen["rows"] = d.count()

    assert fan_out(df, {"only": only}) == {"only": None}
    assert seen == {"cached": False, "rows": 10}
    assert not df.is_cached and not df.storageLevel.useMemory


def test_fanout_observation_counts_every_row(spark, tmp_path):
    """The Observation on the input frame must see every row even when
    a sink that only reads cached blocks finishes first.  Handshake:
    the slow sink's tasks consume their partition, touch a flag file
    and sleep; the fast sink waits for the flag, then reads.  Without
    the lone materialization before the sinks start, the slow sink's
    tasks build the cache, and the fast reader's query ends (and sets
    the Observation) before their counts are merged."""
    import os
    import time

    from pyspark.sql import Observation

    n = 4000
    for rep in range(3):
        flag = str(tmp_path / f"flag{rep}")

        def slow(d, flag=flag):
            def part(rows):
                for _ in rows:
                    pass
                open(flag, "a").close()
                time.sleep(2)

            d.foreachPartition(part)

        def fast(d, flag=flag):
            deadline = time.time() + 30
            while not os.path.exists(flag) and time.time() < deadline:
                time.sleep(0.05)
            d.write.format("noop").mode("overwrite").save()

        obs = Observation(f"fanout_rows_{rep}")
        df = spark.range(0, n, 1, 4).observe(obs, F.count(F.lit(1)).alias("rows"))
        assert fan_out(df, {"slow": slow, "fast": fast}) == {"slow": None, "fast": None}
        assert obs.get["rows"] == n, rep


def test_fanout_sinks_overlap(spark):
    """Sink ``a`` waits for an event only sink ``b`` sets: a sequential
    fan-out would time ``a`` out before ``b`` ever starts.  The cache
    outlives every sink."""
    import threading

    df = _df(spark)
    ev = threading.Event()
    seen = {}

    def a(d):
        seen["a_saw_b"] = ev.wait(10)
        seen["a_rows"] = d.count()
        seen["a_cached"] = d.storageLevel.useMemory

    def b(d):
        seen["b_rows"] = d.count()
        ev.set()

    assert fan_out(df, {"a": a, "b": b}) == {"a": None, "b": None}
    assert seen == {"a_saw_b": True, "a_rows": 10, "a_cached": True, "b_rows": 10}
    assert not df.storageLevel.useMemory


def test_fanout_sinks_inherit_job_group_and_pool(spark, tmp_path):
    """Every sink job runs under the caller's job group and FAIR pool,
    so ``cancelJobGroup`` from another thread cancels a blocked sink
    while the other sinks finish."""
    import os
    import threading
    import time

    sc = spark.sparkContext
    group, pool = "fanout-test-group", "fanout-test-pool"
    started, release = str(tmp_path / "started"), str(tmp_path / "release")
    probed = threading.Event()
    seen = {}

    def props(name):
        seen[name] = (sc.getLocalProperty("spark.jobGroup.id"),
                      sc.getLocalProperty("spark.scheduler.pool"))

    def probe(d):
        props("probe")
        d.count()
        probed.set()

    def blocked(d):
        props("blocked")

        def part(rows):
            open(started, "a").close()
            deadline = time.time() + 60
            while not os.path.exists(release) and time.time() < deadline:
                time.sleep(0.05)

        d.coalesce(1).foreachPartition(part)  # holds one task slot

    def cancel():
        # only the blocked job is left in the group once the probe is done
        probed.wait(60)
        deadline = time.time() + 60
        while not os.path.exists(started) and time.time() < deadline:
            time.sleep(0.05)
        sc.cancelJobGroup(group)

    canceller = threading.Thread(target=cancel)
    sc.setJobGroup(group, "fan-out test")
    sc.setLocalProperty("spark.scheduler.pool", pool)
    try:
        canceller.start()
        t0 = time.time()
        res = fan_out(_df(spark), {"probe": probe, "blocked": blocked})
        elapsed = time.time() - t0
    finally:
        open(release, "a").close()
        canceller.join()
        for key in ("spark.scheduler.pool", "spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert seen == {"probe": (group, pool), "blocked": (group, pool)}
    assert res["probe"] is None
    assert res["blocked"] is not None and "cancel" in str(res["blocked"]).lower()
    assert elapsed < 45
    assert sc.statusTracker().getJobIdsForGroup(group)


def _parquet_frame(spark, tmp_path, n=1000):
    """A file snapshot: ``n`` rows in four parquet files, read back."""
    path = str(tmp_path / "src")
    spark.range(0, n, 1, 4).withColumn("name", F.concat(F.lit("n"), F.col("id"))).write.parquet(path)
    return spark.read.parquet(path)


def test_fanout_file_snapshot_sinks_read_the_files_and_count_exactly(spark, tmp_path):
    """A file snapshot's sinks each read the files, uncached; the sink
    that finishes first, seconds before the other, sets the
    Observation, and it counts every row."""
    import time

    from pyspark.sql import Observation

    seen = {}

    def slow(d):
        seen["slow_cached"] = d.storageLevel.useMemory

        def part(rows):
            for _ in rows:
                pass
            time.sleep(2)

        d.foreachPartition(part)
        seen["slow_done"] = time.time()

    def fast(d):
        seen["fast_cached"] = d.storageLevel.useMemory
        d.write.format("noop").mode("overwrite").save()
        seen["fast_done"] = time.time()

    obs = Observation("fanout_snapshot_rows")
    df = _parquet_frame(spark, tmp_path).where("id >= 0").observe(obs, F.count(F.lit(1)).alias("rows"))
    assert fan_out(df, {"slow": slow, "fast": fast}) == {"slow": None, "fast": None}
    assert obs.get["rows"] == 1000
    assert (seen["slow_cached"], seen["fast_cached"]) == (False, False)
    assert seen["slow_done"] - seen["fast_done"] > 1


def _partitioned_table(spark, df):
    df.withColumn("p", F.col("id") % 2).write.partitionBy("p").saveAsTable("fanout_pt")
    return spark.table("fanout_pt")


@pytest.mark.parametrize(
    "shape", ["limit", "orderBy", "uuid", "current_timestamp", "subquery", "partitioned_table"]
)
def test_fanout_file_frame_that_is_no_snapshot_still_persists(spark, tmp_path, shape):
    """A file frame whose queries may read different rows (a limit, a
    sort, a nondeterministic column, a filter on the clock or on a
    second source, a catalog table that lists its partitions per query)
    is cached and materialized before its sinks run."""
    df = _parquet_frame(spark, tmp_path)
    df = {
        "limit": lambda: df.limit(3),
        "orderBy": lambda: df.orderBy(F.col("id").desc()),
        "uuid": lambda: df.withColumn("u", F.expr("uuid()")),
        "current_timestamp": lambda: df.where(
            F.current_timestamp() - F.expr("INTERVAL 5 MINUTES") > F.lit("2000-01-01").cast("timestamp")
        ),
        "subquery": lambda: df.where(F.expr("id IN (SELECT id FROM range(3))")),
        "partitioned_table": lambda: _partitioned_table(spark, df),
    }[shape]()
    seen = {}

    def sink(name):
        def write(d):
            seen[name] = d.storageLevel.useMemory
            d.write.format("noop").mode("overwrite").save()
        return write

    try:
        assert fan_out(df, {"a": sink("a"), "b": sink("b")}) == {"a": None, "b": None}
    finally:
        spark.sql("DROP TABLE IF EXISTS fanout_pt")
    assert seen == {"a": True, "b": True}
    assert not df.storageLevel.useMemory


def test_fanout_file_snapshot_runs_one_job_per_sink(spark, tmp_path):
    """Two sinks of a file snapshot submit two jobs, no materialization
    job; an in-memory frame's fan-out still submits three."""
    sc = spark.sparkContext

    def noop(d):
        d.write.format("noop").mode("overwrite").save()

    def jobs(group, df):
        sc.setJobGroup(group, group)
        try:
            assert fan_out(df, {"a": noop, "b": noop}) == {"a": None, "b": None}
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs("fanout-snapshot-jobs", _parquet_frame(spark, tmp_path)) == 2
    assert jobs("fanout-cached-jobs", _df(spark)) == 3


def test_fanout_cdc_replay_leaves_the_observation_full(spark, tmp_path):
    """A CDC sink replaying a committed batch returns without reading
    the frame: the JSONL sink's write still sets the full count."""
    from pyspark.sql import Observation

    from cassandra_extractor_spark.streaming import cdc_stream
    from cassandra_extractor_spark.streaming.cdc_stream import apply_cdc_batch, init_cdc_store

    store, src = str(tmp_path / "store"), str(tmp_path / "changes")
    schema = "k LONG, op STRING, seq LONG, bal LONG"
    big = spark.range(1000, 21000).selectExpr("id AS k", "'U' AS op", "0L AS seq", "id AS bal")
    init_cdc_store(spark, big, store, key="k", op_col="op", order_cols=["seq"], n_buckets=4)
    spark.createDataFrame([(k, "U", 1, k * 10) for k in range(50)], schema).repartition(2).write.parquet(src)

    def apply(d):
        apply_cdc_batch(spark, d, 0, store, "k", ["seq"], "op", ["bal"])

    apply(spark.read.parquet(src))
    before = cdc_stream._current_manifest(store)
    obs = Observation("fanout_cdc_replay_rows")
    df = spark.read.parquet(src).observe(obs, F.count(F.lit(1)).alias("rows"))
    out = str(tmp_path / "jsonl")
    assert fan_out(df, {"jsonl": lambda d: write_jsonl(d, out), "cdc": apply}) == {
        "jsonl": None, "cdc": None}
    assert obs.get["rows"] == 50
    assert cdc_stream._current_manifest(store) == before
    assert spark.read.json(out).count() == 50
    cdc_stream._wait_for_fold(store)


def test_jdbc_partition_ddl_hostile_values():
    """Data-derived identifiers are whitelisted: quotes/semicolons/parens
    cannot reach the DDL as raw SQL."""
    from cassandra_extractor_spark.sinks.jdbc import partition_ddl

    stmts = partition_ddl("t", "region", ["us-east", "x'); DROP TABLE t; --"])
    assert stmts[0].startswith("CREATE TABLE IF NOT EXISTS t_p_us_east_")
    # identifier fully sanitized, literal single-quotes doubled
    assert "t_p_x____drop_table_t____" in stmts[1]
    assert "IN ('x''); DROP TABLE t; --')" in stmts[1]
    # nothing outside [a-z0-9_] in any generated identifier
    import re
    for s in stmts:
        ident = s.split()[5]
        assert re.fullmatch(r"[a-z0-9_]+", ident), ident


def test_jdbc_partition_ddl_sanitized_collisions_stay_distinct():
    """Distinct raw values whose whitelisted slugs collide ('v1.x' vs
    'v1_x') must yield distinct partition identifiers — otherwise the
    second CREATE .. IF NOT EXISTS silently no-ops and rows with the
    second value have no partition at insert time."""
    from cassandra_extractor_spark.sinks.jdbc import partition_ddl

    stmts = partition_ddl("t", "region", ["v1.x", "v1_x"])
    idents = {s.split()[5] for s in stmts}
    assert len(idents) == 2, idents


def test_jdbc_partition_ddl_long_values_keep_digest_within_63_chars():
    """Long values: the slug is truncated before the digest so the
    identifier fits Postgres's 63-char limit WITH the digest intact —
    otherwise silent server-side truncation cuts the digest off and
    long values whose first 63 chars agree collide again."""
    from cassandra_extractor_spark.sinks.jdbc import partition_ddl

    base = "tenant-" + "x" * 80
    stmts = partition_ddl("t", "region", [base + "-alpha", base + "-beta"])
    idents = [s.split()[5] for s in stmts]
    assert all(len(i) <= 63 for i in idents), idents
    assert len(set(idents)) == 2, idents  # digest survives, keeps them distinct


def test_kafka_producer_options_pass_through():
    """producer_options map to kafka.*-prefixed writer options (the
    reference's flush policies -> linger.ms/batch.size/acks configs);
    already-prefixed keys are not double-prefixed."""
    from cassandra_extractor_spark.sinks.kafka import (
        KafkaSinkConfig,
        kafka_writer_options,
    )

    cfg = KafkaSinkConfig(
        bootstrap_servers="b:9092",
        topic="t",
        topic_prefix="pre.",
        producer_options={
            "linger.ms": "50",
            "acks": "all",
            "kafka.batch.size": "65536",
        },
    )
    opts = kafka_writer_options(cfg)
    assert opts["kafka.bootstrap.servers"] == "b:9092"
    assert opts["topic"] == "pre.t"
    assert opts["kafka.linger.ms"] == "50"
    assert opts["kafka.acks"] == "all"
    assert opts["kafka.batch.size"] == "65536"
    assert "kafka.kafka.batch.size" not in opts


def test_kafka_fractional_linger_rejected_and_reference_acks():
    """The reference derives linger.ms from flush_latency with a
    FRACTIONAL default (0.5 ms, kafkaworker.py) — a librdkafka-only
    capability: Spark's built-in Kafka sink uses the JAVA producer,
    which parses linger.ms as a Long, so '0.5' would throw
    ConfigException at producer construction.  The config must reject
    fractional values UP FRONT with the explanation, accept
    whole-valued floats (emitted as integer text), and pass acks='-1'
    through verbatim (NOT an implied default)."""
    import pytest

    from cassandra_extractor_spark.sinks.kafka import (
        KafkaSinkConfig,
        kafka_writer_options,
    )

    cfg = KafkaSinkConfig(
        bootstrap_servers="b:9092", topic="t", acks="-1", linger_ms=2.0
    )
    opts = kafka_writer_options(cfg)
    assert opts["kafka.acks"] == "-1"
    assert opts["kafka.linger.ms"] == "2"  # whole float → integer text

    with pytest.raises(ValueError, match="Java producer"):
        kafka_writer_options(
            KafkaSinkConfig(bootstrap_servers="b:9092", topic="t", linger_ms=0.5)
        )
    # no implied defaults: omitting the fields emits no kafka.acks/linger
    bare = kafka_writer_options(KafkaSinkConfig(bootstrap_servers="b:9092", topic="t"))
    assert "kafka.acks" not in bare and "kafka.linger.ms" not in bare


def test_kafka_error_split_missing_jar_vs_runtime():
    """Only the missing-jar failure is rewritten to the setup hint;
    runtime failures (auth/broker) propagate unchanged."""
    from cassandra_extractor_spark.sinks.kafka import map_kafka_error

    jar = Exception("[DATA_SOURCE_NOT_FOUND] Failed to find data source: kafka")
    mapped = map_kafka_error(jar)
    assert isinstance(mapped, RuntimeError) and "spark-sql-kafka" in str(mapped)
    assert mapped.__cause__ is jar

    runtime = Exception("TimeoutException: Topic t not present in metadata")
    assert map_kafka_error(runtime) is runtime


def test_write_kafka_missing_jar_raises_setup_hint(spark):
    """End-to-end through write_kafka: with no kafka jar on the
    classpath the save fails and surfaces as the setup-hint
    RuntimeError."""
    import pytest

    from cassandra_extractor_spark.sinks.kafka import KafkaSinkConfig, write_kafka

    df = spark.createDataFrame([("a", 1)], "k string, v int")
    with pytest.raises(RuntimeError, match="spark-sql-kafka") as ei:
        write_kafka(df, KafkaSinkConfig(bootstrap_servers="b:9092", topic="t"))
    # the actual Spark failure must survive on the cause chain — a
    # regression here drops the real Kafka error from tracebacks
    cause = ei.value.__cause__
    assert cause is not None and cause is not ei.value
    assert "kafka" in str(cause).lower() or "DATA_SOURCE" in str(cause)


def test_kafka_acks_linger_first_class_fields(spark, tmp_path, monkeypatch):
    """K1 delivery knobs (reference flush/ack policy,
    kafkaworker.py:85-106): the first-class ``acks``/``linger_ms``
    fields must reach the writer option map — through the REAL
    write_kafka path (file transport) — and win over the same key in
    the generic producer_options map.  Broker-side behavior is config
    pass-through (no broker in the sandbox; see README parity notes)."""
    from cassandra_extractor_spark.sinks import kafka as K

    cfg = K.KafkaSinkConfig(
        bootstrap_servers=f"file://{tmp_path}",
        topic="t",
        acks="all",
        linger_ms=25,
        producer_options={"acks": "0", "batch.size": "65536"},
    )
    opts = K.kafka_writer_options(cfg)
    assert opts["kafka.acks"] == "all"  # explicit field beats the map
    assert opts["kafka.linger.ms"] == "25"
    assert opts["kafka.batch.size"] == "65536"

    seen: list[dict[str, str]] = []
    from cassandra_extractor_spark.sinks import kafka_file as KF

    real = KF.write_file_transport

    def capture(frame, o):
        seen.append(dict(o))
        return real(frame, o)

    monkeypatch.setattr(KF, "write_file_transport", capture)
    df = spark.createDataFrame([("a", 1)], "k string, v int")
    K.write_kafka(df, cfg)
    assert seen and seen[0]["kafka.acks"] == "all"
    assert seen[0]["kafka.linger.ms"] == "25"
    out = KF.read_kafka_log(spark, cfg.bootstrap_servers, "t")
    assert out.count() == 1
