"""The benchmark's workloads.  Each operation calls the program's public
entry points the way ``app.py`` does: build the extraction spec, count
rows with an ``Observation`` riding on the first write, fan the frame
out to the sinks in a fixed order, then commit the high-water mark.

A workload supplies: ``generate`` (write the seeded inputs), ``prepare``
(untimed set-up over them), ``before_op`` (untimed), ``op`` (timed;
returns source rows delivered to every sink), ``after_op`` (untimed
per-op checks; returns error messages), ``cleanup`` (delete an op's
outputs, untimed, before the next op), ``final_check`` (the full output
check on the last op, after the timed window) and, in a traced run,
``layer_metrics``.
"""

from __future__ import annotations

import json
import os
import shutil

import duckdb
from pyspark.sql import Observation, functions as F

from cassandra_extractor_spark.plans import spec as spec_mod
from cassandra_extractor_spark.plans.spec import ExtractionSpec
from cassandra_extractor_spark.sinks.fanout import fan_out
from cassandra_extractor_spark.sinks.jsonl import write_jsonl
from cassandra_extractor_spark.sinks.kafka import KafkaSinkConfig, write_kafka
from cassandra_extractor_spark.sinks.kafka_file import read_kafka_log
from cassandra_extractor_spark.sinks.s3 import S3SinkConfig, write_s3
from cassandra_extractor_spark.sources.catalog import read_source
from cassandra_extractor_spark.streaming import hwm as hwm_mod
from cassandra_extractor_spark.streaming.cdc_stream import apply_cdc_batch, init_cdc_store, read_cdc_view
from cassandra_extractor_spark.streaming.hwm import HighWaterMarkStore

from perfbench import checks, inputs
from perfbench.tracing import EventLog, span_tasks

#: the FIXTURES.md table spec, with a timestamp format that parses the
#: catalog's microsecond event times (the fixture's ``%z`` does not)
TABLE_SPEC = {
    "columns": [
        {"name": "event_id", "renameTo": "id"},
        {"name": "props", "convertTo": "object"},
        {"name": "ts", "convertTo": "timestamp", "timestamp_format": "%Y-%m-%d %H:%M:%S.%f"},
        {"name": "user_id", "remove": True},
    ]
}
SINKS = ("jsonl", "kafka", "s3")


def dir_stats(path: str) -> tuple[int, int]:
    """(data bytes, data files) under ``path``, skipping Spark's markers."""
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return size, files


def observe_rows(df, name: str):
    obs = Observation(name)
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


def run_fan_out(tracer, df, sinks: dict) -> None:
    with tracer.span("fanout"):
        results = fan_out(df, {n: tracer_wrap(tracer, f"sink.{n}", w) for n, w in sinks.items()})
    failed = {k: repr(v) for k, v in results.items() if v is not None}
    if failed:
        raise RuntimeError(f"sink failures: {failed}")


def tracer_wrap(tracer, name: str, write):
    def traced(df):
        with tracer.span(name):
            write(df)
    return traced


class ExtractFanout:
    """Full batch extractions of ``events`` (100k rows) through the table
    spec to the JSONL, Kafka (file transport) and bulk S3 sinks."""

    name = "extract_fanout"

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.sf_dir = os.path.join(work, "in")
        self.out_root = os.path.join(work, "ops")
        self.con = duckdb.connect()
        self.expected: dict[str, checks.Fingerprint] = {}
        self.sizes: dict[int, dict[str, tuple[int, int]]] = {}
        tracer.patch(spec_mod, "load_table", "catalog.read")
        tracer.patch(spec_mod, "apply_table_spec", "tablespecs.apply")

    def generate(self) -> None:
        self.events = inputs.write_events(self.sf_dir, self.seed)

    def prepare(self) -> None:
        sql = checks.expected_events_sql(self.events)
        self.expected = {"rows": checks.fingerprint(self.con, sql, checks.EVENT_COLS),
                         "s3": checks.fingerprint(self.con, sql, checks.S3_COLS)}

    def _out(self, k: int) -> str:
        return os.path.join(self.out_root, f"op-{k}")

    def before_op(self, k: int) -> None:
        pass

    def op(self, k: int) -> int:
        out, tr = self._out(k), self.tracer
        spec = ExtractionSpec(table="events", table_spec=TABLE_SPEC)
        with tr.span("spec.build"):
            df = spec.build(self.spark, self.sf_dir)
        df, obs = observe_rows(df, f"extract_{k}")
        kafka = KafkaSinkConfig(bootstrap_servers="file://" + os.path.join(out, "kafka"), topic="events")
        s3 = S3SinkConfig(bucket="extract", key_template="events/%(id)s.json")
        run_fan_out(tr, df, {
            "jsonl": lambda d: write_jsonl(d, os.path.join(out, "jsonl")),
            "kafka": lambda d: write_kafka(d, kafka),
            "s3": lambda d: write_s3(d, s3, path_prefix=os.path.join(out, "s3")),
        })
        return int(obs.get["rows"])

    def after_op(self, k: int, rows: int) -> list[str]:
        if self.tracer.enabled:
            self.sizes[k] = {s: dir_stats(os.path.join(self._out(k), s)) for s in SINKS}
        if rows != self.expected["rows"].rows:
            return [f"observed {rows} rows, source has {self.expected['rows'].rows}"]
        return []

    def cleanup(self, k: int) -> None:
        shutil.rmtree(self._out(k), ignore_errors=True)

    def final_check(self, k: int) -> list[str]:
        """Every sink of op ``k`` holds exactly the table spec over the source."""
        out = self._out(k)
        kafka = (read_kafka_log(self.spark, "file://" + os.path.join(out, "kafka"), "events")
                 .select(F.col("value").cast("string").alias("v")).toArrow())
        self.con.register("kafka_values", kafka)
        try:
            found = [
                checks.compare(self.con, "jsonl", self.expected["rows"],
                               checks.events_from_json_sql(
                                   checks.json_lines(os.path.join(out, "jsonl", "*.json"))),
                               checks.EVENT_COLS),
                checks.compare(self.con, "kafka", self.expected["rows"],
                               checks.events_from_json_sql("kafka_values", "v"), checks.EVENT_COLS),
                checks.compare(self.con, "s3", self.expected["s3"],
                               checks.s3_events_sql(os.path.join(out, "s3")), checks.S3_COLS),
            ]
        finally:
            self.con.unregister("kafka_values")
        return [e for e in found if e]

    def layer_metrics(self, k: int, log: EventLog) -> dict[str, float]:
        m = {}
        for s in SINKS:
            m[f"sink.{s}.bytes"], m[f"sink.{s}.files"] = map(float, self.sizes[k][s])
        return m


class IncrementalCdc:
    """Incremental runs over a growing change log of ``orders``: each op
    lands a 5k-row change slice, extracts the rows past the high-water
    mark, writes them to JSONL and merges them into the CDC store."""

    name = "incremental_cdc"
    key = "o_orderkey"
    payload = ["cid", *inputs.ORDER_COLUMNS]

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.base = os.path.join(work, "in", "orders_base.parquet")
        self.src = os.path.join(work, "in", "changes")
        self.store = os.path.join(work, "cdc_store")
        self.hwm_path = os.path.join(work, "hwm.json")
        self.out_root = os.path.join(work, "ops")
        self.con = duckdb.connect()
        self.slice_bytes: dict[int, int] = {}
        self.rows: dict[int, int] = {}
        self.layers: dict[int, dict[str, float]] = {}
        tracer.patch(hwm_mod, "capture_hwm", "hwm.capture")

    def generate(self) -> None:
        self.changes = inputs.OrderChanges(self.seed)
        shutil.rmtree(self.src, ignore_errors=True)
        inputs.land(self.changes.base(), self.base)

    def prepare(self) -> None:
        self.hwm = HighWaterMarkStore(self.hwm_path)
        init_cdc_store(self.spark, read_source(self.spark, self.base), self.store,
                       key=self.key, op_col="op", order_cols=["ts"])

    def _slice(self, k: int) -> str:
        return os.path.join(self.src, f"slice-{k:05d}.parquet")

    def before_op(self, k: int) -> None:
        self.slice_bytes[k] = inputs.land(self.changes.next_slice(), self._slice(k))
        self._manifest_before = self._manifest() if self.tracer.enabled else None

    def op(self, k: int) -> int:
        out, tr = self._out(k), self.tracer
        with tr.span("catalog.read"):
            source = read_source(self.spark, self.src)
        spec = ExtractionSpec(table="orders_changes", hwm_column="ts")
        with tr.span("spec.build"):
            df = spec.build(self.spark, hwm_store=self.hwm, source_df=source)
        df, obs = observe_rows(df, f"cdc_{k}")
        run_fan_out(tr, df, {
            "jsonl": lambda d: write_jsonl(d, out),
            "cdc": lambda d: apply_cdc_batch(self.spark, d, k, self.store, self.key, ["ts"], "op",
                                             self.payload),
        })
        with tr.span("hwm.commit"):
            spec._hwm_commit()
        return int(obs.get["rows"])

    def _out(self, k: int) -> str:
        return os.path.join(self.out_root, f"op-{k}")

    def after_op(self, k: int, rows: int) -> list[str]:
        """The run delivered exactly the rows of the slice landed before it."""
        if self.tracer.enabled:
            self.rows[k] = rows
            self.layers[k] = self._store_metrics(k, self._out(k))
        want = checks.fingerprint(self.con, checks.slice_sql(self._slice(k)), checks.CHANGE_COLS)
        errors = [checks.compare(self.con, "window", want, checks.window_sql(self._out(k)),
                                 checks.CHANGE_COLS)]
        if rows != want.rows:
            errors.append(f"observed {rows} rows, slice has {want.rows}")
        return [e for e in errors if e]

    def cleanup(self, k: int) -> None:
        shutil.rmtree(self._out(k), ignore_errors=True)

    def _manifest(self) -> dict:
        mdir = os.path.join(self.store, "manifest")
        seq = max(int(n[len("gen="):-len(".json")]) for n in os.listdir(mdir) if n.startswith("gen="))
        with open(os.path.join(mdir, f"gen={seq}.json"), encoding="utf-8") as f:
            return json.load(f)

    def _store_metrics(self, k: int, out: str) -> dict[str, float]:
        before, after = self._manifest_before, self._manifest()
        touched = sum(1 for b, p in after["buckets"].items() if before["buckets"].get(b) != p)
        data = os.path.join(self.store, "data")
        new_bytes = dir_stats(os.path.join(data, f"g{k}"))[0]
        store_bytes = sum(dir_stats(os.path.join(data, p))[0] for p in after["buckets"].values())
        jsonl_bytes, jsonl_files = dir_stats(out)
        return {
            "cdc.touched_ratio": touched / after["n_buckets"],
            "cdc.write_amp": new_bytes / self.slice_bytes[k],
            "cdc.store_bytes": float(store_bytes),
            "sink.jsonl.bytes": float(jsonl_bytes),
            "sink.jsonl.files": float(jsonl_files),
        }

    def final_check(self, k: int) -> list[str]:
        """The served view is last-writer-wins over the base and every slice."""
        view = read_cdc_view(self.spark, self.store).select(*checks.VIEW_COLS).toArrow()
        self.con.register("cdc_view", view)
        try:
            want = checks.fingerprint(
                self.con, checks.expected_view_sql(self.base, os.path.join(self.src, "*.parquet")),
                checks.VIEW_CAST_COLS)
            err = checks.compare(self.con, "cdc view", want, "SELECT * FROM cdc_view",
                                 checks.VIEW_CAST_COLS)
        finally:
            self.con.unregister("cdc_view")
        return [err] if err else []

    def layer_metrics(self, k: int, log: EventLog) -> dict[str, float]:
        """Source records the HWM capture and the first sink read, per row emitted."""
        op = f"op-{k}"
        scanned = sum(t.records_read for span in ("hwm.capture", "sink.jsonl")
                      for t in span_tasks(log, op, span))
        return {**self.layers[k], "hwm.scan_ratio": scanned / self.rows[k]}


WORKLOADS = {w.name: w for w in (ExtractFanout, IncrementalCdc)}
