"""CLI application — the reference's ``app.py`` entry point, Spark-first.

    python -m cassandra_extractor_spark.app -T events,orders \
        --sf-dir /root/testdata/sf0.001 --output /tmp/out \
        --filter "o_orderstatus = 'F'" --properties job.properties

Mirrors the reference CLI surface (app.py:545-633): table list,
projection, filter, sort, limit, table-specs JSON, incremental HWM
column, sink selection, actuator port — with the same CLI > env >
properties precedence (app.py:151-198).
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import sys

from cassandra_extractor_spark.actuator import Actuator, ExtractionJob
from cassandra_extractor_spark.config import load_properties, load_table_properties, resolve
from cassandra_extractor_spark.functions.tablespecs import nested_to_json
from cassandra_extractor_spark.metrics import MetricsRegistry
from cassandra_extractor_spark.plans.spec import ExtractionSpec
from cassandra_extractor_spark.session import get_spark
from cassandra_extractor_spark.sinks.fanout import fan_out
from cassandra_extractor_spark.sinks.jsonl import write_jsonl
from cassandra_extractor_spark.streaming.hwm import HighWaterMarkStore


def _truthy(v) -> bool:
    """A config flag: ``True`` from the CLI, or a true-looking string
    from env/properties."""
    return v is True or str(v).strip().lower() in ("true", "1", "yes")


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="PySpark-native extraction engine")
    p.add_argument("-T", "--tables", help="comma-separated table list")
    p.add_argument("--sf-dir", help="parquet source dir (test mode)")
    p.add_argument("--columns", help="comma-separated projection")
    p.add_argument("--filter", help="SQL predicate (P2)")
    p.add_argument("--solr-filter", help="Solr-subset query, translated to SQL (P2)")
    p.add_argument(
        "--solr-default-field",
        help="text column for bare full-text Solr terms (CONTAINS mapping)",
    )
    p.add_argument("--sort", help="comma-separated sort expressions (O1)")
    p.add_argument("--limit", type=int, help="row cap (S6)")
    p.add_argument("--table-specs", help="table-specs JSON file (T1-T10)")
    p.add_argument("--hwm-column", help="incremental timestamp column (P3)")
    p.add_argument("--hwm-state", help="HWM state path (per-table logs in <path>.d)")
    p.add_argument("--output", help="output directory root")
    p.add_argument(
        "--sinks",
        help="comma-separated sink list: jsonl,parquet,csv (default jsonl); "
        "fan-out writes each (D1), in batch and streaming mode alike; a "
        "stream writes <sink dir>/batch=<id>",
    )
    # default=None (not False) so env/properties can still enable these
    # under the CLI > env > properties precedence
    p.add_argument(
        "--streaming", action="store_true", default=None,
        help="incremental streaming mode (checkpointed)",
    )
    p.add_argument("--checkpoint", help="streaming checkpoint root")
    p.add_argument("--properties", help="properties file (lowest precedence)")
    p.add_argument(
        "--table-properties-dir",
        help="dir of per-table {table}.properties overlays (app.py:365-540)",
    )
    p.add_argument("--actuator-port", type=int, help="serve REST control plane")
    p.add_argument(
        "--no-auto-start", action="store_true", default=None,
        help="create jobs but wait for POST /start",
    )
    return p


def main(argv: list[str] | None = None) -> int:
    args = vars(build_parser().parse_args(argv))
    props = load_properties(args["properties"]) if args.get("properties") else {}
    cli = {k.replace("_", "."): v for k, v in args.items() if v is not None}

    def cfg(key: str, default=None, cast=None):
        return resolve(key, cli, props, default=default, cast=cast)

    tables = (cfg("tables") or "").split(",")
    if not tables or not tables[0]:
        print("no tables given (-T)", file=sys.stderr)
        return 2
    sf_dir = cfg("sf.dir")
    output = cfg("output", default="./out")
    hwm_store = HighWaterMarkStore(cfg("hwm.state", default=f"{output}/_hwm.json"))

    spark = get_spark("extractor-app")
    metrics = MetricsRegistry()
    actuator = Actuator(spark, metrics)
    actuator.masked_config = {**props, **cli}
    actuator.hwm_store = hwm_store

    def build_job(table: str, extra_props: dict | None = None) -> ExtractionJob:
        """Build one table's ExtractionJob — used by the startup loop
        AND as the actuator's runtime POST /create factory (reference
        management.py:306-333)."""
        # per-table overlay: {dir}/{table}.properties and
        # "{table}."-prefixed global keys override the global config;
        # runtime-created jobs overlay their posted properties last
        tprops = load_table_properties(props, table, cfg("table.properties.dir"))
        if extra_props:
            tprops = {**tprops, **extra_props}

        def tcfg(key: str, default=None, cast=None):
            return resolve(key, cli, tprops, default=default, cast=cast)

        table_spec = None
        if tcfg("table.specs"):
            with open(tcfg("table.specs"), encoding="utf-8") as f:
                table_spec = json.load(f)

        spec = ExtractionSpec(
            table=table,
            columns=tcfg("columns").split(",") if tcfg("columns") else None,
            filter=tcfg("filter"),
            solr_filter=tcfg("solr.filter"),
            solr_default_field=tcfg("solr.default.field"),
            sort=tcfg("sort").split(",") if tcfg("sort") else [],
            limit=tcfg("limit", cast=int),
            table_spec=table_spec,
            hwm_column=tcfg("hwm.column"),
        )

        sink_names = (tcfg("sinks", default="jsonl") or "jsonl").split(",")

        def make_sinks(suffix: str):
            # a stream passes suffix "/batch=<id>": each micro-batch
            # overwrites its own paths, so a replayed one is idempotent
            writers = {
                "jsonl": lambda d: write_jsonl(d, f"{output}/{table}{suffix}"),
                "parquet": lambda d: d.write.mode("overwrite").parquet(
                    f"{output}/{table}_parquet{suffix}"
                ),
                # CSV has no nested type: structs, arrays, maps and
                # VARIANT go out as JSON text
                "csv": lambda d: nested_to_json(d).write.mode("overwrite")
                .option("header", "true")
                .csv(f"{output}/{table}_csv{suffix}"),
            }
            unknown = set(sink_names) - set(writers)
            if unknown:
                raise ValueError(f"unknown sinks: {sorted(unknown)}")
            return {n: writers[n] for n in sink_names}

        def deliver(df, suffix: str) -> int:
            """Fan ``df`` out to the sinks; returns the rows written.
            The count rides the writes themselves (reference's processed
            counter, metrics.py:5-35): no second scan."""
            from pyspark.sql import Observation, functions as F

            obs = Observation(f"extract_{table}")
            results = fan_out(
                df.observe(obs, F.count(F.lit(1)).alias("rows")), make_sinks(suffix)
            )
            failed = {k: str(v) for k, v in results.items() if v is not None}
            if failed:
                raise RuntimeError(f"sink failures: {failed}")
            return int(obs.get["rows"])

        def run(job: ExtractionJob):
            if _truthy(tcfg("streaming")):
                from cassandra_extractor_spark.sources.catalog import DEFAULT_SF_DIR
                from cassandra_extractor_spark.streaming.pipeline import stream_extract

                make_sinks("")  # reject an unknown sink before the stream starts
                src_dir = sf_dir or DEFAULT_SF_DIR
                table_path = os.path.join(src_dir, f"{table}.parquet")
                schema = spark.read.parquet(table_path).schema
                # the file source reads a directory: a table stored as
                # one file is picked out of its parent by name, a table
                # stored as a directory is that directory's files
                if os.path.isdir(table_path):
                    stream_dir, path_glob = table_path, "*.parquet"
                else:
                    stream_dir, path_glob = src_dir, f"{table}.parquet"
                # sort/limit are batch-only; streaming applies the
                # projection/filter/transform subset of the spec
                stream_spec = dataclasses.replace(spec, sort=[], limit=None, hwm_column=None)
                counts: list[int] = []
                q = stream_extract(
                    spark,
                    stream_dir,
                    schema,
                    {"extract": lambda d, b: counts.append(deliver(d, f"/batch={b}"))},
                    tcfg("checkpoint", default=f"{output}/_ckpt/{table}"),
                    transform=(lambda d: stream_spec.build(spark, source_df=d))
                    if (spec.columns or spec.filter or spec.solr_filter or spec.table_spec)
                    else None,
                    ts_col=spec.hwm_column,
                    path_glob=path_glob,
                )
                q.awaitTermination()
                # rows processed THIS run (not the cumulative output dir)
                job.processed = sum(counts)
            else:
                job.processed = deliver(
                    spec.build(spark, sf_dir, hwm_store if spec.hwm_column else None), ""
                )
                if spec._hwm_commit is not None:
                    spec._hwm_commit()  # crash-safe: mark advances post-write
            metrics.inc("rows_processed_total", job.processed, table=table)

        return ExtractionJob(table=table, run=run)

    actuator.job_factory = build_job
    for table in tables:
        actuator.create(build_job(table))
        if not _truthy(cfg("no.auto.start")):
            actuator.start(table)

    server = actuator.serve(cfg("actuator.port", cast=int)) if cfg("actuator.port") is not None else None
    for job in list(actuator.jobs.values()):
        if job._thread is not None:
            job._thread.join()
    if server is not None:
        print(f"actuator on port {server.server_port}; Ctrl-C to exit", file=sys.stderr)
        try:
            import time

            while True:
                time.sleep(1)
        except KeyboardInterrupt:
            server.shutdown()
    states = {t: j.state.value for t, j in actuator.jobs.items()}
    print(json.dumps({"jobs": states}))
    return 0 if all(s == "done" for s in states.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
