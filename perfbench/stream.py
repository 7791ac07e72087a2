"""``notify_stream``: open-loop notification stream. A publisher thread
writes file-create notifications into the notification_bus log at a
fixed rate (with seeded re-deliveries and unrouted URIs) while
``run_notification_stream`` dedups, routes, reads, transforms and posts
each micro-batch to the HTTP stub. Latency is per file, from the
publish of its first notification to the stub's acknowledgement of the
file's last event."""

from __future__ import annotations

import json
import os
import threading
import time
from datetime import datetime, timezone

import numpy as np

from perfbench import gen
from perfbench.common import median, parquet_rows, percentile, reset_dir
from perfbench.reference import check_sample

RATE_PER_S = 6.0          # notifications of new files per second
ROWS = (200, 1500)        # rows per file, evenly spread
REDELIVER_SHARE = 0.15
UNROUTED_SHARE = 0.05
TRIGGER_S = 5             # processing-time trigger
N_CONFIGS = 2             # two configs keep a micro-batch near one trigger
DRAIN_TIMEOUT_S = 60.0
WARM_FILES = 8
SAMPLE_FILES = 4


class Stream:
    def __init__(self, ctx, seed: int, n_files: int, rate: float, tag: str):
        self.ctx = ctx
        self.root = os.path.join(ctx.work, tag)
        self.fs = gen.stream_inputs(os.path.join(self.root, "in"), seed, n_files,
                                    ROWS, UNROUTED_SHARE, N_CONFIGS)
        self.cfg_path = gen.write_configs(self.fs.configs,
                                          os.path.join(self.root, "sources.json"))
        self.rate = rate
        self.plan = gen.schedule(seed, n_files, rate, REDELIVER_SHARE)
        self.bus = os.path.join(self.root, "bus")
        self.dlq_dir = os.path.join(self.root, "dlq")
        self.keys = [None] * n_files  # file index -> key
        for k, p in self.fs.path.items():
            self.keys[int(k.split(".")[1])] = k
        rng = np.random.default_rng(seed + 3)
        routed = sorted(self.fs.ok)
        self.sample = [routed[i] for i in rng.choice(len(routed), SAMPLE_FILES, replace=False)]

    def _publish(self, seq: int, path: str) -> None:
        ts = datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M:%S.%f")
        tmp = os.path.join(self.bus, f".{seq:08d}.tmp")
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(json.dumps({"uri": path, "ts": ts}) + "\n")
        os.rename(tmp, os.path.join(self.bus, f"{seq:08d}.jsonl"))

    def publisher(self, stub, start: float | None) -> None:
        """Open loop: each notification at its due time, however the
        stream is doing (``start`` None: all at once). A file's latency
        runs from the due time of its first notification, so a stalled
        publisher cannot hide a slow stream; backlog = routed files
        published, not done."""
        for seq, (due, i) in enumerate(self.plan):
            due_at = time.perf_counter() if start is None else start + due
            delay = due_at - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            key = self.keys[i]
            self._publish(seq, self.fs.path[key])
            self.lateness = max(self.lateness, time.perf_counter() - due_at)
            if key in self.fs.ok and key not in self.published:
                self.published[key] = due_at
            self.backlog.append((due, len(self.published) - stub.files_done))

    def run_stream(self, spark, stub, open_loop: bool = True) -> dict:
        from gcs_parquet_dataflow_spark.config.model import load_configs
        from gcs_parquet_dataflow_spark.sources.notification_bus import (
            read_notification_bus,
        )
        from gcs_parquet_dataflow_spark.streaming import pipeline

        ctx, fs = self.ctx, self.fs
        for d in (self.bus, self.dlq_dir, os.path.join(self.root, "ckpt")):
            reset_dir(d)
        os.rmdir(self.dlq_dir)
        self.published: dict[str, float] = {}
        self.backlog: list[tuple[float, int]] = []
        self.lateness = 0.0
        stub.reset(fs.ok, sample_keys=self.sample)
        configs = load_configs(self.cfg_path)
        schemas = {}
        for c in configs:
            first = next(p for k, p in fs.path.items() if fs.config_of.get(k) == c.config_id)
            schemas[c.config_id] = spark.read.parquet(first).schema
        if not open_loop:
            self.publisher(stub, None)
        q = pipeline.run_notification_stream(
            spark, configs, schemas, read_notification_bus(spark, self.bus),
            os.path.join(self.root, "ckpt"), opts=ctx.opts(),
            http_cfg=ctx.http_cfg(), dlq_dir=self.dlq_dir,
            trigger_seconds=TRIGGER_S,
        )
        error, start = None, time.perf_counter()
        try:
            if open_loop:
                while q.lastProgress is None and q.isActive:  # stream is up
                    time.sleep(0.05)
                # triggers fire on multiples of TRIGGER_S since the epoch:
                # start publishing just after one, so every run sees the
                # same publish-to-trigger phase
                now = time.time()
                time.sleep((now // TRIGGER_S + 1) * TRIGGER_S - now + 0.05)
                start = time.perf_counter()
                pub = threading.Thread(target=self.publisher, args=(stub, start))
                pub.start()
                pub.join()
            deadline = time.perf_counter() + DRAIN_TIMEOUT_S
            while stub.files_done < len(fs.ok) and q.isActive \
                    and time.perf_counter() < deadline:
                time.sleep(0.02)
            # let the micro-batch that delivered the last file commit, so
            # its progress is recorded (a warm-up ends at the last ack)
            while open_loop and q.isActive and q.status["isTriggerActive"] \
                    and time.perf_counter() < deadline:
                time.sleep(0.05)
        finally:
            q.stop()
            progress = q.recentProgress
            exc = q.exception()
            if exc is not None:
                error = f"stream died: {exc}"
        snap = stub.snapshot()
        end = max(snap["done_at"].values(), default=start)
        return {"start": start, "wall": end - start, "snap": snap,
                "progress": progress, "error": error,
                "published": self.published, "backlog": self.backlog,
                "lateness": self.lateness}

    def check(self, r: dict) -> list[str]:
        fs, snap = self.fs, r["snap"]
        errs = [r["error"]] if r["error"] else []
        acked = snap["acked"]
        for cfg, want in fs.expected_ok_by_config().items():
            got = sum(v for k, v in acked.items() if fs.config_of.get(k) == cfg)
            if got != want:
                errs.append(f"{cfg}: sent {got} != {want}")
        for k, v in acked.items():
            if v > fs.ok.get(k, 0):
                errs.append(f"file {k} delivered {v} events, expected {fs.ok.get(k, 0)}")
        if snap["rejected"]:
            errs.append(f"stub rejected events: {snap['rejected']}")
        at_trigger = self.trigger_backlogs(r)
        if len(at_trigger) >= 2 and at_trigger[-1] - at_trigger[0] > RATE_PER_S * TRIGGER_S:
            errs.append(f"backlog grew: {at_trigger} files waiting as the triggers fired")
        n_dlq = parquet_rows(self.dlq_dir)
        if n_dlq != sum(fs.dlq.values()):
            errs.append(f"transform DLQ {n_dlq} != planted {sum(fs.dlq.values())}")
        cfgs = {c["config_id"]: c for c in fs.configs}
        compared, bad = check_sample(self.ctx.oracle, cfgs, fs.config_of, fs.path,
                                     snap["sampled"], self.ctx.token, self.ctx.now_epoch)
        if compared == 0:
            errs.append("no sampled event was compared with the oracle")
        errs.extend(bad[:5])
        return errs

    def trigger_backlogs(self, r: dict) -> list[int]:
        """Routed files published but not yet acknowledged at the last
        publish before each trigger fires, one per whole trigger interval
        of the run. At a sustainable rate each batch is done before the
        next trigger, so this stays near one interval's worth of files."""
        whole = int(len(self.keys) / self.rate / TRIGGER_S + 1e-9)
        at: dict[int, int] = {}
        for due, n in r["backlog"]:
            at[int(due // TRIGGER_S)] = n
        return [at[k] for k in range(whole) if k in at]

    def latencies(self, r: dict) -> list[float]:
        done = r["snap"]["done_at"]
        return [done[k] - t for k, t in r["published"].items() if k in done]

    def failed_events(self, r: dict) -> int:
        acked = r["snap"]["acked"]
        return sum(abs(want - acked.get(k, 0)) for k, want in self.fs.ok.items())


def run(ctx) -> dict:
    def warm(spark, stub):
        w = Stream(ctx, ctx.seed + 7919, WARM_FILES, 50.0, "warm")
        w.run_stream(spark, stub, open_loop=False)

    n_files = int(RATE_PER_S * ctx.seconds)
    main = Stream(ctx, ctx.seed, n_files, RATE_PER_S, "main")
    spark, stub = ctx.setup(warm)
    with ctx.rss() as rss:
        r = main.run_stream(spark, stub)
    errors = main.check(r)
    lat = main.latencies(r)
    events = sum(main.fs.ok.values())
    return ctx.result(
        errors, attempted=events, failed=main.failed_events(r),
        metrics={
            "wall_s": r["wall"],
            "throughput_per_s": events / r["wall"],
            "latency_p50_s": percentile(lat, 50),
            "peak_rss_mb": rss.peak_mb,
        },
        info={"files": len(lat), "latency_p90_s": percentile(lat, 90),
              "rate_per_s": RATE_PER_S,
              "publisher_late_max_s": r["lateness"],
              "backlog_at_trigger": main.trigger_backlogs(r),
              "backlog_max": max(n for _, n in r["backlog"]),
              "micro_batches": sum(1 for p in r["progress"] if p["numInputRows"]),
              "rss": rss.peak_parts},
    )


def _data_batches(progress: list[dict]) -> list[dict]:
    return [p for p in progress if p["numInputRows"]]


def run_traced(ctx) -> dict:
    """Traced run: the stream once untraced (micro-batch phases come from
    its StreamingQuery progress) and once with spans at the entry points
    ``streaming.pipeline`` resolves."""
    from gcs_parquet_dataflow_spark.streaming import pipeline

    tr = ctx.tracer

    def warm(spark, stub):
        Stream(ctx, ctx.seed + 7919, WARM_FILES, 50.0, "warm").run_stream(
            spark, stub, open_loop=False)

    main = Stream(ctx, ctx.seed, int(RATE_PER_S * ctx.seconds), RATE_PER_S, "main")
    spark, stub = ctx.setup(warm)
    untraced = main.run_stream(spark, stub)
    errors = main.check(untraced)
    per_batch: list[int] = []

    def count_routes(res, args, kwargs):
        routed, unmatched = res
        n_routed, n_unmatched = routed.count(), unmatched.count()
        tr.add("routing.files_routed", n_routed)
        tr.add("routing.files_unmatched", n_unmatched)
        per_batch.append(n_routed + n_unmatched)

    tr.wrap(pipeline, "route_uris", "routing.route", after=count_routes)
    tr.wrap(pipeline, "compile_config", "compiler.compile")
    tr.enabled = True
    traced = main.run_stream(spark, stub)
    tr.enabled = False
    tr.restore()
    errors += main.check(traced)

    batches = _data_batches(untraced["progress"])
    dur = [p["durationMs"] for p in batches]
    snap = untraced["snap"]
    reqs = snap["requests"]
    n_events = sum(q[3] for q in reqs)
    messages = sum(p["numInputRows"] for p in batches)
    busy = sum(p["durationMs"]["triggerExecution"] for p in
               _data_batches(traced["progress"])) / 1e3
    n_dlq = parquet_rows(main.dlq_dir)
    ok_events = sum(snap["acked"].values())
    unique_files = sum(per_batch)
    return ctx.layer_result(errors, attempted=2 * sum(main.fs.ok.values()),
                            failed=main.failed_events(untraced)
                            + main.failed_events(traced), values={
        "session.get_spark_s": ctx.get_spark_s,
        "routing.route_s": tr.total("routing.route"),
        "routing.files_routed": tr.counts.get("routing.files_routed", 0),
        "routing.files_unmatched": tr.counts.get("routing.files_unmatched", 0),
        "compiler.compile_s": tr.total("compiler.compile"),
        "compiler.rows_in": ok_events + n_dlq,
        "compiler.events_ok": ok_events,
        "compiler.events_dlq": n_dlq,
        "compiler.ok_ratio": ok_events / (ok_events + n_dlq),
        "sink.requests": len(reqs),
        "sink.events_per_request": n_events / len(reqs),
        "sink.gz_bytes_per_event": sum(q[2] for q in reqs) / n_events,
        "sink.retries": sum(1 for q in reqs if q[4] == 503),
        "sink.dlq_events": sum(snap["rejected"].values()),
        "sink.server_busy_s": sum(q[1] - q[0] for q in reqs),
        "bus.messages_read": messages,
        "bus.latest_offset_s": sum(d["latestOffset"] for d in dur) / 1e3,
        "bus.get_batch_s": sum(d["getBatch"] for d in dur) / 1e3,
        "bus.dedup_keep_ratio": unique_files / len(main.plan),
        "stream.micro_batches": len(batches),
        "stream.trigger_s_p50": median([d["triggerExecution"] for d in dur]) / 1e3,
        "stream.add_batch_s_p50": median([d["addBatch"] for d in dur]) / 1e3,
        "stream.query_planning_s": sum(d["queryPlanning"] for d in dur) / 1e3,
        "stream.commit_s": sum(d["commitOffsets"] + d["walCommit"] for d in dur) / 1e3,
        "stream.files_per_batch_p50": median([p["numInputRows"] for p in batches]),
        "stream.backlog_files_max": max(n for _, n in untraced["backlog"]),
        "trace.overhead_s": traced["wall"] - untraced["wall"],
        "trace.unattributed_s": traced["wall"] - busy,
    }, info={"wall_untraced_s": untraced["wall"], "wall_traced_s": traced["wall"],
             "messages_published": len(main.plan)})
