"""Pipeline benchmark of gcs_parquet_dataflow_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Inputs are generated from ``--seed``
under ``.perfbench_work/`` in the checkout; the last line of stdout is
one JSON object {correct, attempted, failed, metrics}. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer metrics of a
separate traced run. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("backfill_http", "notify_stream")


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _missing_program() -> str | None:
    for rel in ("gcs_parquet_dataflow_spark/__init__.py",
                "tests/reference_semantics.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            return rel
    return None


def main(argv=None) -> int:
    args = _parse(argv)
    missing = _missing_program()
    if missing:
        print(f"perfbench: {missing} not found under {ROOT}; run from the "
              "root of a full checkout", file=sys.stderr)
        return 2
    # SIGTERM unwinds through the finally below: the JVM and its workers
    # are stopped and waited for
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sys.path.insert(0, ROOT)
    from perfbench.common import prepare_env

    prepare_env(ROOT, work)
    from perfbench.context import Context

    ctx = Context(args, ROOT, work)
    try:
        out = ctx.execute()
    finally:
        try:
            ctx.close()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out), flush=True)
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
