"""End-to-end streaming extraction: rate-limited multi-batch drain,
multi-sink fan-out, and checkpoint-resume idempotence (SURVEY D1/D3/D6
— the behavior VERDICT r02 noted was only verified piecewise)."""

from __future__ import annotations

import pandas as pd

from cassandra_extractor_spark.streaming.pipeline import stream_extract

SCHEMA = "event_id LONG, user_id LONG, ts TIMESTAMP"


def _write_file(spark, src_dir, file_no: int, ids: range) -> None:
    pdf = pd.DataFrame(
        {
            "event_id": list(ids),
            "user_id": [i % 3 for i in ids],
            "ts": pd.to_datetime([1_700_000_000_000 + i * 60_000 for i in ids], unit="ms"),
        }
    )
    spark.createDataFrame(pdf, SCHEMA).coalesce(1).write.mode("overwrite").parquet(
        f"{src_dir}/f{file_no}"
    )


def _run(spark, src_dir, ckpt, sink_a, sink_b, batch_ids):
    def collect_into(store):
        def write(df, batch_id):
            batch_ids.append(batch_id)
            store.extend(r["event_id"] for r in df.select("event_id").collect())

        return write

    q = stream_extract(
        spark,
        source_path=str(src_dir),
        schema=SCHEMA,
        sinks={"a": collect_into(sink_a), "b": collect_into(sink_b)},
        checkpoint_dir=str(ckpt),
        ts_col="ts",
        max_files_per_trigger=1,  # rate limit -> one file per micro-batch
        path_glob="*.parquet",
    )
    q.awaitTermination(120)
    return q


def test_stream_extract_fanout_rate_limit_and_checkpoint_resume(spark, tmp_path):
    src = tmp_path / "src"
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    # file source treats subdirs as partitions; write flat files instead
    for i, ids in enumerate([range(0, 5), range(5, 9), range(9, 12)]):
        _write_file(spark, tmp_path / "stage", i, ids)
        part = next((tmp_path / "stage" / f"f{i}").glob("*.parquet"))
        part.rename(src / f"data_{i}.parquet")

    a: list[int] = []
    b: list[int] = []
    batches: list[int] = []
    _run(spark, src, ckpt, a, b, batches)
    # every row exactly once, in BOTH sinks (fan-out), one file per batch
    assert sorted(a) == list(range(12))
    assert sorted(b) == list(range(12))
    assert len(set(batches)) >= 3, batches  # rate limit forced >=3 micro-batches

    # resume from the same checkpoint with one new file: ONLY it drains
    _write_file(spark, tmp_path / "stage", 9, range(12, 15))
    part = next((tmp_path / "stage" / "f9").glob("*.parquet"))
    part.rename(src / "data_3.parquet")
    a2: list[int] = []
    b2: list[int] = []
    _run(spark, src, ckpt, a2, b2, [])
    assert sorted(a2) == [12, 13, 14]
    assert sorted(b2) == [12, 13, 14]

    # idempotent restart: no new data -> no re-emission
    a3: list[int] = []
    _run(spark, src, ckpt, a3, a3, [])
    assert a3 == []


def test_stream_extract_sink_error_fails_the_batch_and_replays(spark, tmp_path):
    """One of two sinks raises: the micro-batch fails with that error
    and its offsets are not committed, so a rerun on the same checkpoint
    with the sink fixed delivers the batch to both sinks (at-least-once;
    the sink that had succeeded sees it again)."""
    import pytest
    from pyspark.errors import StreamingQueryException

    src = tmp_path / "src"
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    _write_file(spark, tmp_path / "stage", 0, range(0, 6))
    next((tmp_path / "stage" / "f0").glob("*.parquet")).rename(src / "data_0.parquet")

    got: dict[str, list[int]] = {"a": [], "b": []}
    broken = {"b": True}

    def sink(name):
        def write(df, batch_id):
            if broken.get(name):
                raise RuntimeError(f"sink {name} is down")
            got[name].extend(r["event_id"] for r in df.select("event_id").collect())

        return write

    def run():
        q = stream_extract(
            spark,
            source_path=str(src),
            schema=SCHEMA,
            sinks={"a": sink("a"), "b": sink("b")},
            checkpoint_dir=str(ckpt),
            path_glob="*.parquet",
        )
        q.awaitTermination(120)
        return q

    with pytest.raises(StreamingQueryException, match="sink b is down"):
        run()
    assert got == {"a": list(range(6)), "b": []}

    broken["b"] = False
    run()
    assert sorted(got["a"]) == sorted(list(range(6)) * 2)
    assert sorted(got["b"]) == list(range(6))


def test_app_streaming_with_schema_less_object_column(spark, sf_dir, tmp_path):
    """``app.main --streaming`` with a schema-less ``convertTo: "object"``:
    the table spec builds on the streaming frame (nothing to sample)
    and every row arrives with its JSON object as written."""
    import glob
    import json

    import pyarrow.parquet as pq

    from cassandra_extractor_spark import app as app_mod

    spec = tmp_path / "spec.json"
    spec.write_text(json.dumps({"columns": [{"name": "props", "convertTo": "object"}]}))
    out = tmp_path / "out"
    rc = app_mod.main(["-T", "events", "--sf-dir", sf_dir, "--output", str(out),
                       "--streaming", "--table-specs", str(spec)])
    assert rc == 0
    got = {}
    for f in glob.glob(f"{out}/events/batch=*/*.json"):
        with open(f) as fh:
            for line in fh:
                row = json.loads(line)
                got[row["event_id"]] = row["props"]
    src = pq.read_table(f"{sf_dir}/events.parquet", columns=["event_id", "props"]).to_pylist()
    assert got == {r["event_id"]: json.loads(r["props"]) for r in src}


def test_app_streaming_runs_one_job_per_micro_batch(spark, sf_dir, tmp_path, monkeypatch):
    """``app.main --streaming`` counts a micro-batch's rows on its write
    (an ``Observation``), so each micro-batch is ONE Spark job, and
    ``job.processed`` is the number of rows delivered."""
    import glob

    from pyspark.sql.streaming import StreamingQueryListener

    from cassandra_extractor_spark import app as app_mod

    runs: list[str] = []

    class _Runs(StreamingQueryListener):
        def onQueryStarted(self, event):
            runs.append(str(event.runId))

        def onQueryProgress(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    actuators = []

    class _Actuator(app_mod.Actuator):
        def __init__(self, *args, **kwargs):
            super().__init__(*args, **kwargs)
            actuators.append(self)

    monkeypatch.setattr(app_mod, "Actuator", _Actuator)
    listener = _Runs()
    spark.streams.addListener(listener)
    out = tmp_path / "out"
    try:
        rc = app_mod.main(["-T", "events", "--sf-dir", sf_dir, "--output", str(out),
                           "--streaming"])
    finally:
        spark.streams.removeListener(listener)
    assert rc == 0 and len(runs) == 1
    batches = glob.glob(f"{out}/events/batch=*")
    delivered = 0
    for f in glob.glob(f"{out}/events/batch=*/*.json"):
        with open(f) as fh:
            delivered += sum(1 for _ in fh)
    # the stream execution runs every job of its query in the job group
    # named after the query's run id
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(runs[0])
    assert batches and len(jobs) == len(batches)
    assert actuators[0].jobs["events"].processed == delivered > 0


def test_app_streaming_reads_a_table_stored_as_a_directory(spark, sf_dir, tmp_path):
    """``app.main --streaming`` over ``events.parquet/`` holding two part
    files delivers every row, as batch mode does."""
    import glob
    import json

    import pyarrow.parquet as pq

    from cassandra_extractor_spark import app as app_mod

    table = pq.read_table(f"{sf_dir}/events.parquet")
    src = tmp_path / "src"
    (src / "events.parquet").mkdir(parents=True)
    half = table.num_rows // 2
    pq.write_table(table.slice(0, half), src / "events.parquet" / "part-0.parquet")
    pq.write_table(table.slice(half), src / "events.parquet" / "part-1.parquet")
    out = tmp_path / "out"
    rc = app_mod.main(["-T", "events", "--sf-dir", str(src), "--output", str(out),
                       "--streaming"])
    assert rc == 0
    got = []
    for f in glob.glob(f"{out}/events/batch=*/*.json"):
        with open(f) as fh:
            got += [json.loads(line)["event_id"] for line in fh]
    assert sorted(got) == sorted(table.column("event_id").to_pylist())


def test_app_streaming_writes_every_sink_of_sinks(spark, sf_dir, tmp_path, monkeypatch):
    """``app.main --streaming --sinks jsonl,parquet,csv`` delivers each
    micro-batch to every sink under ``<sink dir>/batch=<id>``: every
    source row lands exactly once in each sink, and ``job.processed``
    is the number of rows delivered."""
    import glob
    import json

    import pyarrow.parquet as pq

    from cassandra_extractor_spark import app as app_mod

    actuators = []

    class _Actuator(app_mod.Actuator):
        def __init__(self, *args, **kwargs):
            super().__init__(*args, **kwargs)
            actuators.append(self)

    monkeypatch.setattr(app_mod, "Actuator", _Actuator)
    out = tmp_path / "out"
    rc = app_mod.main(["-T", "events", "--sf-dir", sf_dir, "--output", str(out),
                       "--streaming", "--sinks", "jsonl,parquet,csv"])
    assert rc == 0
    src = sorted(pq.read_table(f"{sf_dir}/events.parquet").column("event_id").to_pylist())
    jsonl = []
    for f in glob.glob(f"{out}/events/batch=*/*.json"):
        with open(f) as fh:
            jsonl += [json.loads(line)["event_id"] for line in fh]
    assert sorted(jsonl) == src
    parquet = [r.event_id for r in spark.read.parquet(f"{out}/events_parquet").collect()]
    assert sorted(parquet) == src
    assert glob.glob(f"{out}/events_csv/batch=*")
    csv = spark.read.option("header", "true").csv(f"{out}/events_csv")
    assert sorted(int(r.event_id) for r in csv.collect()) == src
    assert actuators[0].jobs["events"].processed == len(src)
