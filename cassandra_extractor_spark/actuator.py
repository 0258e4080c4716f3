"""Control plane (reference §2.8: ``management.py``).

The reference runs a Flask "actuator" exposing lifecycle + observability
endpoints per extractor.  Spark-first equivalent: a registry of
extraction jobs keyed by table, where

- start     → submit the job (thread running the batch/streaming write)
- pause     → ``sparkContext.cancelJobGroup`` (batch) /
              ``StreamingQuery.stop`` (streaming) — resumable from
              checkpoint/HWM, which is what the reference's page-state
              pause amounts to (D5, worker.py:46-78)
- abort     → cancel + drop state
- scaleup / scaledown → adjust the job's shuffle-partition hint (the
  reference's worker-thread ±1, D8 — Spark's task parallelism is the
  worker pool)
- stats / config / metrics → JSON + Prometheus text

HTTP layer: stdlib ``http.server`` (no Flask in this environment); the
handler only dispatches to ``Actuator`` methods, so everything is
testable without sockets too.
"""

from __future__ import annotations

import json
import threading
from dataclasses import dataclass, field
from enum import Enum
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any, Callable

from cassandra_extractor_spark.metrics import MetricsRegistry
from cassandra_extractor_spark.streaming.maintenance import compact


class JobState(str, Enum):
    CREATED = "created"
    RUNNING = "running"
    PAUSED = "paused"
    DONE = "done"
    ABORTED = "aborted"
    FAILED = "failed"


@dataclass
class ExtractionJob:
    """One table's extraction (reference ``Extractor``, extractor.py:11-60)."""

    table: str
    run: Callable[["ExtractionJob"], Any]  # executes the extraction
    state: JobState = JobState.CREATED
    group_id: str = ""
    error: str | None = None
    processed: int = 0
    total: int = 0
    parallelism: int = 0  # 0 = session default
    config: dict[str, Any] = field(default_factory=dict)  # hot-reloadable (D9)
    _thread: threading.Thread | None = None

    def progress(self) -> dict[str, Any]:
        pct = round(100.0 * self.processed / self.total, 2) if self.total else None
        return {
            "table": self.table,
            "state": self.state.value,
            "processed": self.processed,
            "total": self.total,
            "progress_pct": pct,
            "error": self.error,
        }


class Actuator:
    """Job registry + lifecycle operations (management.py:164-419)."""

    def __init__(self, spark, metrics: MetricsRegistry | None = None):
        self.spark = spark
        self.metrics = metrics or MetricsRegistry()
        self.jobs: dict[str, ExtractionJob] = {}
        self.masked_config: dict[str, Any] = {}
        self.hwm_store = None  # set by the app when incremental mode is on
        #: builds an ExtractionJob from (table, properties) — wire this
        #: to enable runtime POST /create (reference management.py:306-333)
        self.job_factory: Callable[[str, dict[str, Any]], ExtractionJob] | None = None
        self._start_lock = threading.Lock()

    def create(self, job: ExtractionJob) -> ExtractionJob:
        job.group_id = f"extract-{job.table}"
        self.jobs[job.table] = job
        return job

    def create_from_config(self, table: str, raw_properties: str = "") -> dict[str, Any]:
        """Runtime extractor creation (reference POST /create,
        management.py:306-333): parse the posted properties, build the
        job through the app-wired factory, register it (start stays a
        separate call, as in the reference's create-then-start flow)."""
        from cassandra_extractor_spark.config import load_properties

        # ThreadingHTTPServer handles POSTs concurrently: the existence
        # check and registration must be one atomic section or two
        # simultaneous /create for the same table both pass the check
        # and the later one silently overwrites the earlier job
        with self._start_lock:
            if table in self.jobs:
                raise ValueError(f"table {table!r} already exists; shutdown it first")
            if self.job_factory is None:
                raise RuntimeError("no job factory wired; runtime create is disabled")
            props = load_properties(raw_properties, is_text=True) if raw_properties else {}
            job = self.job_factory(table, props)
            job.config = {**getattr(job, "config", {}), **props}
            self.create(job)
        self.metrics.inc("creates_total", table=table)
        return {"status": "created", "table": table, "state": job.state.value}

    def start(self, table: str) -> dict[str, Any]:
        job = self.jobs[table]
        with self._start_lock:
            # check-and-set under a lock, and flip to RUNNING *before*
            # spawning: two rapid start/resume calls must not both pass
            if job.state == JobState.RUNNING or (
                job._thread is not None and job._thread.is_alive()
            ):
                return {"status": "already running"}
            job.state = JobState.RUNNING

        def runner():
            # per-table FAIR pool: scheduler.mode=FAIR only shares
            # between pools — without this every job lands in the
            # single default pool and still runs FIFO (D10)
            self.spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", f"pool-{job.table}"
            )
            self.spark.sparkContext.setJobGroup(job.group_id, f"extraction {job.table}", True)
            try:
                with self.metrics.time("extract_seconds", table=job.table):
                    job.run(job)
                if job.state == JobState.RUNNING:
                    job.state = JobState.DONE
            except Exception as exc:  # noqa: BLE001
                # cancellation arrives as a Py4J job-cancelled error
                if job.state not in (JobState.PAUSED, JobState.ABORTED):
                    job.state = JobState.FAILED
                    job.error = str(exc)[:500]
            self.metrics.inc("extractions_total", table=job.table)

        job._thread = threading.Thread(target=runner, daemon=True)
        job._thread.start()
        return {"status": "started"}

    def _cancel(self, job: ExtractionJob, new_state: JobState) -> None:
        job.state = new_state
        self.spark.sparkContext.cancelJobGroup(job.group_id)

    def pause(self, table: str) -> dict[str, Any]:
        self._cancel(self.jobs[table], JobState.PAUSED)
        return {"status": "paused"}

    def resume(self, table: str) -> dict[str, Any]:
        return self.start(table)  # checkpoint/HWM state makes this a resume

    def abort(self, table: str) -> dict[str, Any]:
        self._cancel(self.jobs[table], JobState.ABORTED)
        return {"status": "aborted"}

    def shutdown(self, table: str) -> dict[str, Any]:
        self.abort(table)
        self.jobs.pop(table, None)
        return {"status": "shutdown"}

    def scale(self, table: str, delta: int) -> dict[str, Any]:
        job = self.jobs[table]
        base = job.parallelism or int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        job.parallelism = max(1, base + delta)
        return {"parallelism": job.parallelism}

    def set_config(self, table: str, raw_properties: str) -> dict[str, Any]:
        """Hot reconfiguration (D9, management.py:370-393 →
        extractor.py:54-57): parse raw properties and stage them on the
        job; the next start/resume builds with the new config (the
        reference's workers likewise swap config between tasks)."""
        from cassandra_extractor_spark.config import load_properties

        job = self.jobs[table]
        new_props = load_properties(raw_properties, is_text=True)
        job.config = {**getattr(job, "config", {}), **new_props}
        self.metrics.inc("config_reloads_total", table=table)
        return {"status": "config staged", "keys": sorted(new_props)}

    def stats(self) -> dict[str, Any]:
        return {t: j.progress() for t, j in self.jobs.items()}

    @staticmethod
    def _mask(cfg: dict[str, Any]) -> dict[str, Any]:
        # passwords masked as in config.py:143-153 of the reference
        return {
            k: ("***" if any(s in k.lower() for s in ("password", "secret", "token")) else v)
            for k, v in cfg.items()
        }

    def state_dump(self) -> dict[str, Any]:
        """Checkpoint-state dump (reference M3 GET /cache: the Redis
        page-state view, datacrawler.py:349-360) — here the HWM store
        contents plus per-job staged config (secrets masked, same rule
        as GET /config)."""
        out: dict[str, Any] = {"hwm": {}, "job_config": {}}
        if self.hwm_store is not None:
            out["hwm"] = self.hwm_store.dump()
        out["job_config"] = {t: self._mask(j.config) for t, j in self.jobs.items()}
        return out

    def config(self) -> dict[str, Any]:
        return self._mask(self.masked_config)

    def cache_clear(self, table: str | None = None) -> dict[str, Any]:
        """Reference POST /cache/clear (management.py:394-419: flush the
        Redis page-state): drop HWM marks and staged job config — for
        one table, or everything when no table is given.  The next run
        re-extracts from scratch.  Also unpins every source schema the
        session memoized (``catalog.read_source``; the memo is keyed by
        path, not table), so the next run reads a changed schema."""
        from cassandra_extractor_spark.sources.catalog import unpin_source_schemas

        unpin_source_schemas(self.spark)
        cleared_hwm: list[str] = []
        if self.hwm_store is not None:
            marks = self.hwm_store.dump()
            for t in list(marks):
                if table is None or t == table:
                    self.hwm_store.clear(t)
                    cleared_hwm.append(t)
        cleared_cfg: list[str] = []
        for t, job in self.jobs.items():
            if (table is None or t == table) and job.config:
                job.config = {}
                cleared_cfg.append(t)
        return {"status": "cleared", "hwm": sorted(cleared_hwm), "job_config": sorted(cleared_cfg)}

    def compact_store(self, kind: str, params: dict[str, Any]) -> dict[str, Any]:
        """Operational entry point for the incremental stores'
        maintenance jobs.  ``signature``, ``ann`` and ``posting`` run
        ``streaming.maintenance.compact`` — the same function the
        ingest streams call in-band from their own serial
        ``foreachBatch`` hook (``auto_compact``).  Every store's fold
        commits a new base on top of whatever committed since
        (``streaming/generations.py``), so it may run beside an active
        ingest and its reads:

        - ``signature``: fold the streamed band deltas into the
          bucketed LSH base (params: ``store_dir``);
        - ``ann``: fold cell-partitioned vector deltas into the base
          (params: ``store_dir``);
        - ``posting``: fold posting and doc-length deltas into the
          bucketed bases in one commit (params: ``store_dir``);
        - ``cdc``: maintenance ops on the generational snapshot store,
          whose applies start a background fold of their per-batch
          deltas when the size-ratio policy says so (params:
          ``store_dir`` plus ``op``: ``fold`` waits for a running
          background fold, then folds what is outstanding — a settled
          store [+ ``retain_gens``]; ``purge_tombstones`` waits the
          same way, folds outstanding deltas, then drops tombstones
          below the horizon, and needs ``order_cols``/``horizon``
          [+ ``op_col``]; ``retain`` needs ``retain_gens`` and keeps
          every base and delta directory a retained manifest
          references, and every one still being written).

        ``mode`` (signature/ann/posting only): ``force`` (default)
        folds unconditionally; ``auto`` evaluates the size-ratio policy
        and folds only when it says so; ``check`` evaluates the policy
        and NEVER folds — the queryable half of auto-compaction.

        Extends the reference's maintenance surface (POST /cache/clear,
        `management.py:394-419`) to the stores this engine adds.
        """
        if kind != "cdc" or params.get("mode", "force") != "force":
            return compact(self.spark, kind, params)
        from cassandra_extractor_spark.streaming.cdc_stream import (
            cleanup_generations,
            fold_cdc_store,
            purge_tombstones,
        )

        op = params.get("op", "")
        if op == "fold":
            rep = fold_cdc_store(
                self.spark, params["store_dir"], int(params.get("retain_gens", 3))
            )
            return {"status": "folded", "store": kind, **rep}
        if op == "purge_tombstones":
            purge_tombstones(
                self.spark,
                params["store_dir"],
                params["order_cols"],
                params.get("op_col", "op"),
                params["horizon"],
            )
            return {
                "status": "purged",
                "store": kind,
                "horizon": list(params["horizon"]),
            }
        if op == "retain":
            rep = cleanup_generations(params["store_dir"], int(params["retain_gens"]))
            return {"status": "retained", "store": kind, **rep}
        raise ValueError(f"unknown cdc maintenance op {op!r}")

    # --- HTTP ----------------------------------------------------------

    def serve(self, port: int = 0) -> ThreadingHTTPServer:
        """Start the REST layer; returns the server (``server_port`` has
        the bound port; call ``shutdown()`` to stop)."""
        actuator = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):  # quiet
                pass

            def _send(self, code: int, body: str, ctype: str = "application/json"):
                data = body.encode()
                self.send_response(code)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def do_GET(self):
                if self.path == "/metrics":
                    self._send(200, actuator.metrics.exposition(), "text/plain")
                elif self.path == "/stats":
                    self._send(200, json.dumps(actuator.stats()))
                elif self.path == "/config":
                    self._send(200, json.dumps(actuator.config()))
                elif self.path in ("/state", "/cache"):
                    # /cache is the reference's name (GET /cache dumps
                    # the Redis page-state); /state is kept as an alias
                    self._send(200, json.dumps(actuator.state_dump()))
                else:
                    self._send(404, '{"error": "not found"}')

            def do_POST(self):
                length = int(self.headers.get("Content-Length") or 0)
                payload = json.loads(self.rfile.read(length) or b"{}")
                table = payload.get("table") or payload.get("instance")
                if isinstance(table, list):
                    table = table[0]
                # routes that must NOT require an existing job
                try:
                    if self.path == "/create":
                        if not table:
                            self._send(400, '{"error": "table required"}')
                        else:
                            self._send(
                                200,
                                json.dumps(
                                    actuator.create_from_config(
                                        table, payload.get("properties", "")
                                    )
                                ),
                            )
                        return
                    if self.path == "/cache/clear":
                        self._send(200, json.dumps(actuator.cache_clear(table)))
                        return
                    if self.path == "/maintenance/compact":
                        kind = payload.get("store", "")
                        self._send(
                            200, json.dumps(actuator.compact_store(kind, payload))
                        )
                        return
                except Exception as exc:  # noqa: BLE001
                    self._send(500, json.dumps({"error": str(exc)[:200]}))
                    return
                actions = {
                    "/start": actuator.start,
                    "/pause": actuator.pause,
                    "/resume": actuator.resume,
                    "/abort": actuator.abort,
                    "/shutdown": actuator.shutdown,
                    "/scaleup": lambda t: actuator.scale(t, +1),
                    "/scaledown": lambda t: actuator.scale(t, -1),
                    "/set-config": lambda t: actuator.set_config(
                        t, payload.get("properties", "")
                    ),
                }
                fn = actions.get(self.path)
                if fn is None:
                    self._send(404, '{"error": "not found"}')
                    return
                if table not in actuator.jobs:
                    self._send(404, json.dumps({"error": f"unknown table {table!r}"}))
                    return
                try:
                    self._send(200, json.dumps(fn(table)))
                except Exception as exc:  # noqa: BLE001
                    self._send(500, json.dumps({"error": str(exc)[:200]}))

        server = ThreadingHTTPServer(("127.0.0.1", port), Handler)
        threading.Thread(target=server.serve_forever, daemon=True).start()
        return server
