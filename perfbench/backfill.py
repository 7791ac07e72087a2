"""``backfill_http``: batch backfill glob -> route -> read Parquet ->
compiled transform -> gzip NDJSON HTTP sink, plus the transform DLQ
written to a Parquet lake. One pass processes the whole seeded file
set; passes repeat until the run's time is used."""

from __future__ import annotations

import os
import time

import numpy as np

from perfbench import gen
from perfbench.common import median, parquet_rows, percentile, reset_dir
from perfbench.reference import check_sample

FILES_PER_CONFIG = 10
# 240k rows a pass, so the scan, transform and sink outweigh the fixed
# per-pass cost of listing, routing and planning
ROWS_PER_FILE = 6000
# the warm-up runs every config over 64k rows: after a warm-up of 16k rows
# the first timed pass ran 25-35% slower than the next ones, after 64k
# rows about 10% slower
WARM_FILES, WARM_ROWS = 2, 8000
RETRIES_PER_PASS = 3  # batches the stub answers 503 once
BACKOFF_CAP_S = 0.05  # sink retry sleep; keeps a scripted 503 cheap
SAMPLE_FILES = 4


class Backfill:
    def __init__(self, ctx, seed: int, files_per_config: int, rows: int, tag: str):
        self.ctx = ctx
        root = os.path.join(ctx.work, tag)
        self.fs, self.pattern = gen.backfill_inputs(
            os.path.join(root, "in"), seed, files_per_config, rows
        )
        self.cfg_path = gen.write_configs(self.fs.configs, os.path.join(root, "sources.json"))
        self.dlq_dir = os.path.join(root, "dlq")
        rng = np.random.default_rng(seed + 2)
        pool = self.fs.ok_iids
        picks = rng.choice(len(pool), RETRIES_PER_PASS + 1, replace=False)
        self.poison = [pool[picks[0]]]
        self.retry = [pool[i] for i in picks[1:]]
        keys = sorted(self.fs.ok)
        self.sample = [keys[i] for i in rng.choice(len(keys), SAMPLE_FILES, replace=False)]

    def run_pass(self, spark, stub) -> dict:
        """configs -> run_batch -> post_events (forced) + transform DLQ
        lake write + unmatched count; timed from start to last output."""
        from gcs_parquet_dataflow_spark.config.model import load_configs
        from gcs_parquet_dataflow_spark.sinks import http_batch, parquet_lake
        from gcs_parquet_dataflow_spark.sources import batch

        ctx, span = self.ctx, self.ctx.tracer.span
        reset_dir(self.dlq_dir)
        stub.reset(self.fs.ok, self.retry, self.poison, self.sample)
        t0 = time.perf_counter()
        configs = load_configs(self.cfg_path)
        with span("pass.run_batch"):
            ok, dlq, unmatched = batch.run_batch(spark, configs, self.pattern, ctx.opts())
        with span("pass.post_events"):
            outcomes = http_batch.post_events(ok, ctx.http_cfg(BACKOFF_CAP_S))
            status = dict(outcomes.groupBy("status").count().collect())
        with span("pass.write_dlq"):
            parquet_lake.write_dlq(dlq, self.dlq_dir)
        with span("pass.unmatched"):
            n_unmatched = unmatched.count()
        t1 = time.perf_counter()
        snap = stub.snapshot()
        return {"t0": t0, "wall": t1 - t0, "status": status,
                "unmatched": n_unmatched, "snap": snap}

    def check(self, spark, r: dict, sample: bool) -> list[str]:
        """Output checks of one pass → failures (empty = correct)."""
        fs, snap, errs = self.fs, r["snap"], []
        acked, rejected = snap["acked"], snap["rejected"]
        for cfg, want in fs.expected_ok_by_config().items():
            got = sum(v for k, v in acked.items() if fs.config_of.get(k) == cfg)
            rej = sum(v for k, v in rejected.items() if fs.config_of.get(k) == cfg)
            if got + rej != want:
                errs.append(f"{cfg}: sent {got} + rejected {rej} != {want}")
        for k, v in acked.items():
            if k not in fs.ok or v + rejected.get(k, 0) > fs.ok[k]:
                errs.append(f"file {k} delivered {v} events, expected {fs.ok.get(k)}")
        n_rej = sum(rejected.values())
        if n_rej == 0 or r["status"].get("dlq", 0) != n_rej:
            errs.append(f"sink DLQ {r['status'].get('dlq', 0)} != 400-batch events {n_rej}")
        if r["status"].get("sent", 0) != sum(acked.values()):
            errs.append("sink 'sent' outcomes differ from events the stub acknowledged")
        n_503 = sum(1 for q in snap["requests"] if q[4] == 503)
        if not 1 <= n_503 <= RETRIES_PER_PASS:  # a trigger can share a batch
            errs.append(f"{n_503} scripted 503s answered, armed {RETRIES_PER_PASS}")
        n_dlq = parquet_rows(self.dlq_dir)
        if n_dlq != sum(fs.dlq.values()):
            errs.append(f"transform DLQ {n_dlq} != planted {sum(fs.dlq.values())}")
        if r["unmatched"] != len(fs.unrouted):
            errs.append(f"unmatched files {r['unmatched']} != planted {len(fs.unrouted)}")
        if sample:
            cfgs = {c["config_id"]: c for c in fs.configs}
            compared, bad = check_sample(
                self.ctx.oracle, cfgs, fs.config_of, fs.path, snap["sampled"],
                self.ctx.token, self.ctx.now_epoch,
            )
            if compared == 0:
                errs.append("no sampled event was compared with the oracle")
            errs.extend(bad[:5])
        return errs


def failed_events(fs, r: dict) -> int:
    """Expected events neither acknowledged nor rejected by the scripted
    poison batch, plus events delivered more than once."""
    acked, rejected = r["snap"]["acked"], r["snap"]["rejected"]
    failed = 0
    for k, want in fs.ok.items():
        failed += abs(want - acked.get(k, 0) - rejected.get(k, 0))
    return failed


def latencies(r: dict) -> list[float]:
    return [t - r["t0"] for t in r["snap"]["done_at"].values()]


def run(ctx) -> dict:
    """Timed runs (trace off): end-to-end metrics."""
    warm = Backfill(ctx, ctx.seed + 7919, WARM_FILES, WARM_ROWS, "warm")
    main = Backfill(ctx, ctx.seed, FILES_PER_CONFIG, ROWS_PER_FILE, "main")
    spark, stub = ctx.setup(lambda s, st: warm.run_pass(s, st))
    passes, errors = [], []
    deadline = time.perf_counter() + ctx.seconds
    with ctx.rss() as rss:
        # passes start until the deadline; the last one may run past it
        while not passes or time.perf_counter() < deadline:
            r = main.run_pass(spark, stub)
            errors += main.check(spark, r, sample=not passes)
            passes.append(r)
    lat = [x for r in passes for x in latencies(r)]
    events = sum(main.fs.ok.values())
    walls = [r["wall"] for r in passes]
    return ctx.result(
        errors,
        attempted=events * len(passes),
        failed=sum(failed_events(main.fs, r) for r in passes),
        metrics={
            "wall_s": median(walls),
            "throughput_per_s": median([events / w for w in walls]),
            "latency_p50_s": percentile(lat, 50),
            "peak_rss_mb": rss.peak_mb,
        },
        info={"passes": len(passes), "latency_samples": len(lat),
              "latency_p90_s": percentile(lat, 90),
              "walls": walls, "rss": rss.peak_parts},
    )


def _noop(df) -> float:
    """Force ``df`` through a noop write; → seconds."""
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def run_traced(ctx) -> dict:
    """Traced run: one untraced pass, one traced pass with spans at the
    library's public entry points, then the scan / scan+transform /
    scan+transform+sink stages forced by noop writes for self times."""
    from gcs_parquet_dataflow_spark.config.model import load_configs
    from gcs_parquet_dataflow_spark.sinks import http_batch, parquet_lake
    from gcs_parquet_dataflow_spark.sources import batch

    tr = ctx.tracer
    warm = Backfill(ctx, ctx.seed + 7919, WARM_FILES, WARM_ROWS, "warm")
    main = Backfill(ctx, ctx.seed, FILES_PER_CONFIG, ROWS_PER_FILE, "main")
    spark, stub = ctx.setup(lambda s, st: warm.run_pass(s, st))
    untraced = main.run_pass(spark, stub)
    errors = main.check(spark, untraced, sample=False)

    def count_routes(res, args, kwargs):
        routed, unmatched = res
        tr.add("routing.files_routed", routed.count())
        tr.add("routing.files_unmatched", unmatched.count())

    tr.wrap(batch, "plan_batch", "batch.plan")
    tr.wrap(batch, "list_files", "batch.list_files",
            after=lambda res, a, k: tr.add("batch.files_listed", res.count()))
    tr.wrap(batch, "route_uris", "routing.route", after=count_routes)
    tr.wrap(batch, "compile_config", "compiler.compile")
    tr.wrap(parquet_lake, "write_partitioned", "lake.write")
    tr.enabled = True
    traced = main.run_pass(spark, stub)
    tr.enabled = False
    tr.restore()
    errors += main.check(spark, traced, sample=False)
    top = sum(s["end"] - s["start"] for s in tr.spans
              if s["parent"] is None and s["name"].startswith("pass."))

    # forced stages over the same plan: scan, scan+transform (ok events),
    # scan+transform+sink; self time of a layer = stage minus the one below
    configs = load_configs(main.cfg_path)
    batches, _ = batch.plan_batch(spark, configs, main.pattern, ctx.opts())
    read_s = sum(_noop(b.df) for b in batches)
    ok, _, _ = batch.run_batch(spark, configs, main.pattern, ctx.opts())
    ok_s = _noop(ok)
    stub.reset(main.fs.ok, main.retry, main.poison)
    sink_s = _noop(http_batch.post_events(ok, ctx.http_cfg(BACKOFF_CAP_S)))
    rows_in = sum(b.df.count() for b in batches)

    snap = traced["snap"]
    reqs = snap["requests"]
    n_events = sum(q[3] for q in reqs)
    ok_events = sum(snap["acked"].values()) + sum(snap["rejected"].values())
    dlq_events = parquet_rows(main.dlq_dir)
    lake_files = [os.path.join(d, f) for d, _, fs in os.walk(main.dlq_dir)
                  for f in fs if f.endswith(".parquet")]
    return ctx.layer_result(errors, attempted=2 * sum(main.fs.ok.values()),
                            failed=failed_events(main.fs, untraced)
                            + failed_events(main.fs, traced), values={
        "session.get_spark_s": ctx.get_spark_s,
        "batch.list_files_s": tr.total("batch.list_files"),
        "batch.files_listed": tr.counts.get("batch.files_listed", 0),
        "batch.plan_s": tr.total("batch.plan"),
        "batch.read_s": read_s,
        "routing.route_s": tr.total("routing.route"),
        "routing.files_routed": tr.counts.get("routing.files_routed", 0),
        "routing.files_unmatched": tr.counts.get("routing.files_unmatched", 0),
        "compiler.compile_s": tr.total("compiler.compile"),
        "compiler.transform_s": ok_s - read_s,
        "compiler.rows_in": rows_in,
        "compiler.events_ok": ok_events,
        "compiler.events_dlq": dlq_events,
        "compiler.ok_ratio": ok_events / rows_in,
        "sink.self_s": sink_s - ok_s,
        "sink.requests": len(reqs),
        "sink.events_per_request": n_events / len(reqs),
        "sink.gz_bytes_per_event": sum(q[2] for q in reqs) / n_events,
        "sink.retries": sum(1 for q in reqs if q[4] == 503),
        "sink.dlq_events": traced["status"].get("dlq", 0),
        "sink.server_busy_s": sum(q[1] - q[0] for q in reqs),
        "lake.write_s": tr.total("lake.write"),
        "lake.files_written": len(lake_files),
        "lake.bytes_written": sum(os.path.getsize(f) for f in lake_files),
        "trace.overhead_s": traced["wall"] - untraced["wall"],
        "trace.unattributed_s": traced["wall"] - top,
    }, info={"wall_untraced_s": untraced["wall"], "wall_traced_s": traced["wall"],
             "sink_transform_share_of_wall":
                 (sink_s - read_s) / untraced["wall"]})
