"""Per-run context: arguments, the HTTP stub, the Spark session and its
set-up measurement, tracing switches and the result line."""

from __future__ import annotations

import importlib
import json
import os
import sys
import time

from perfbench.common import (
    RssSampler,
    Session,
    Tracer,
    cpu_jiffies,
    effective_cores,
    load1,
)
from perfbench.reference import load_oracle

TOKEN = "bench-token"
NOW_EPOCH = 1_700_000_000
PINNED_UUID = "00000000-0000-4000-8000-000000000000"
UNITS = {"setup_s": "s", "wall_s": "s", "throughput_per_s": "1/s",
         "latency_p50_s": "s", "peak_rss_mb": "MB"}
# per-layer metrics; a layer a workload does not run reports 0
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "batch.list_files_s": "s", "batch.files_listed": "count",
    "batch.plan_s": "s", "batch.read_s": "s",
    "routing.route_s": "s", "routing.files_routed": "count",
    "routing.files_unmatched": "count",
    "compiler.compile_s": "s", "compiler.transform_s": "s",
    "compiler.rows_in": "count", "compiler.events_ok": "count",
    "compiler.events_dlq": "count", "compiler.ok_ratio": "ratio",
    "sink.self_s": "s", "sink.requests": "count",
    "sink.events_per_request": "count", "sink.gz_bytes_per_event": "B",
    "sink.retries": "count", "sink.dlq_events": "count",
    "sink.server_busy_s": "s",
    "bus.messages_read": "count", "bus.latest_offset_s": "s",
    "bus.get_batch_s": "s", "bus.dedup_keep_ratio": "ratio",
    "stream.micro_batches": "count", "stream.trigger_s_p50": "s",
    "stream.add_batch_s_p50": "s", "stream.query_planning_s": "s",
    "stream.commit_s": "s", "stream.files_per_batch_p50": "count",
    "stream.backlog_files_max": "count",
    "lake.write_s": "s", "lake.files_written": "count",
    "lake.bytes_written": "B",
    "trace.overhead_s": "s", "trace.unattributed_s": "s",
}


class Context:
    def __init__(self, args, root: str, work: str) -> None:
        from perfbench.stub import Stub

        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.root, self.work = root, work
        self.token, self.now_epoch = TOKEN, NOW_EPOCH
        self.oracle = load_oracle(root)
        self.tracer = Tracer(f"{args.workload}-seed{args.seed}-{os.getpid()}")
        self.stub = Stub()
        self.session: Session | None = None
        self.setup_s: float | None = None
        self.host = {"cores": effective_cores(), "load1_start": load1()}
        self._jiffies = cpu_jiffies()

    # -- program configuration ------------------------------------------
    def opts(self):
        from pyspark.sql import functions as F

        from gcs_parquet_dataflow_spark.plans.compiler import CompilerOptions

        return CompilerOptions(token=TOKEN, now_epoch=F.lit(NOW_EPOCH),
                               uuid=F.lit(PINNED_UUID))

    def http_cfg(self, backoff_cap_s: float = 0.05):
        from gcs_parquet_dataflow_spark.sinks.http_batch import HttpSinkConfig

        return HttpSinkConfig(url=self.stub.url, timeout_s=30,
                              backoff_cap_s=backoff_cap_s)

    # -- set-up -----------------------------------------------------------
    def setup(self, warm):
        """Session start on a cold JVM plus ``warm(spark, stub)`` on
        other-seed inputs; → (spark, stub). Once per run: a cold set-up
        costs 31-51 s on a 4-core host, so repeats would dwarf the run."""
        t0 = time.perf_counter()
        self.session = Session(self.work, self.tracer if self.traced else None)
        warm(self.session.spark, self.stub)
        self.setup_s = time.perf_counter() - t0
        self.get_spark_s = self.session.get_spark_s
        return self.session.spark, self.stub

    def rss(self) -> RssSampler:
        return RssSampler(self.session.jvm_pid)

    # -- run --------------------------------------------------------------
    def execute(self) -> dict:
        mod = importlib.import_module(
            {"backfill_http": "perfbench.backfill",
             "notify_stream": "perfbench.stream"}[self.workload]
        )
        if self.traced:
            self.tracer.enabled = False
            out = mod.run_traced(self)
            self.tracer.dump(os.path.join(
                self.root, ".perfbench_work", "traces",
                f"{self.workload}-seed{self.seed}.json"))
            return out
        return mod.run(self)

    def result(self, errors: list[str], attempted: int, failed: int,
               metrics: dict, units: dict | None = None,
               info: dict | None = None) -> dict:
        """Build the result line; metric values are floats as measured."""
        if not self.traced:
            metrics = {"setup_s": self.setup_s, **metrics}
            units = UNITS
            missing = set(UNITS) - set(metrics)
            if missing:
                raise RuntimeError(f"metrics not measured: {sorted(missing)}")
        self.host["load1_end"] = load1()
        steal, total = (b - a for a, b in zip(self._jiffies, cpu_jiffies()))
        self.host["steal_share"] = steal / max(total, 1)
        for e in errors[:20]:
            print(f"perfbench check failed: {e}", file=sys.stderr)
        record = json.dumps({"workload": self.workload, "seed": self.seed,
                             "trace": int(self.traced), "host": self.host,
                             "info": info or {}})
        print(record, file=sys.stderr)
        with open(os.path.join(self.root, ".perfbench_work", "runs.jsonl"),
                  "a", encoding="utf-8") as f:
            f.write(record + "\n")
        return {
            "correct": not errors,
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {k: {"value": float(v), "unit": units[k]}
                        for k, v in metrics.items()},
        }

    def layer_result(self, errors: list[str], attempted: int, failed: int,
                     values: dict, info: dict | None = None,
                     units: dict = LAYER_UNITS) -> dict:
        """Per-layer result line: every metric of ``units``, 0 for a
        layer the workload does not run."""
        unknown = set(values) - set(units)
        if unknown:
            raise RuntimeError(f"undeclared per-layer metrics: {sorted(unknown)}")
        metrics = {k: values.get(k, 0.0) for k in units}
        return self.result(errors, attempted, failed, metrics, units, info)

    def close(self) -> None:
        self.tracer.restore()
        try:
            if self.session is not None:
                self.session.close()
        finally:
            self.stub.close()
