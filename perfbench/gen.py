"""Seeded input generators. The same seed gives byte-identical inputs;
the program under test sees only the files and configs written here.

Every event row carries ``iid`` = ``<key>.<row>`` (mapped to
``$insert_id``) where ``<key>`` = ``<tag><config>.<file>`` names its
file, so the HTTP stub attributes each delivered event to a file and a
config without parsing JSON.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the four PARQUET source shapes; together they cover every cast ladder
# of the compiler: boolean truthy set, int/float omit-on-failure, lenient
# timestamp strings, NaN -> null, and wildcard passthrough
CONFIG_SPECS = [
    {
        "name": "web",
        "mixpanel_event_name_from_field": "event_type",
        "field_mappings": [
            {"source_field": "user_id", "mixpanel_field": "$user_id",
             "type": "string", "is_required_in_source": True},
            {"source_field": "ts", "mixpanel_field": "time",
             "type": "unix_timestamp_auto"},
            {"source_field": "flag", "mixpanel_field": "flag", "type": "boolean"},
            {"source_field": "qty", "mixpanel_field": "qty", "type": "integer"},
            {"source_field": "price", "mixpanel_field": "price", "type": "float"},
            {"source_field": "iid", "mixpanel_field": "$insert_id",
             "type": "string_or_uuid"},
            {"source_field": "*", "mixpanel_field": "*"},
        ],
    },
    {
        "name": "app",
        "mixpanel_event_name": "app_open",
        "field_mappings": [
            {"source_field": "user_id", "mixpanel_field": "$user_id",
             "type": "string", "is_required_in_source": True},
            {"source_field": "device", "mixpanel_field": "$device_id",
             "type": "string"},
            {"source_field": "ts", "mixpanel_field": "time",
             "type": "unix_timestamp_auto"},
            {"source_field": "active", "mixpanel_field": "active",
             "type": "boolean"},
            {"source_field": "amount", "mixpanel_field": "amount", "type": "float"},
            {"source_field": "level", "mixpanel_field": "level", "type": "integer"},
            {"source_field": "iid", "mixpanel_field": "$insert_id",
             "type": "string_or_uuid"},
            {"source_field": "*", "mixpanel_field": "*"},
        ],
    },
    {
        "name": "server",
        "mixpanel_event_name_from_field": "action",
        "field_mappings": [
            {"source_field": "user_id", "mixpanel_field": "$user_id",
             "type": "string"},
            {"source_field": "ts", "mixpanel_field": "time",
             "type": "unix_timestamp_auto"},
            {"source_field": "ok", "mixpanel_field": "ok", "type": "boolean"},
            {"source_field": "latency", "mixpanel_field": "latency",
             "type": "float"},
            {"source_field": "code", "mixpanel_field": "code", "type": "string"},
            {"source_field": "iid", "mixpanel_field": "$insert_id",
             "type": "string_or_uuid"},
            {"source_field": "*", "mixpanel_field": "*"},
        ],
    },
    {
        "name": "mobile",
        "mixpanel_event_name_from_field": "name",
        "field_mappings": [
            {"source_field": "user_id", "mixpanel_field": "$user_id",
             "type": "string", "is_required_in_source": True},
            {"source_field": "ts", "mixpanel_field": "time",
             "type": "unix_timestamp_auto"},
            {"source_field": "premium", "mixpanel_field": "premium",
             "type": "boolean"},
            {"source_field": "count", "mixpanel_field": "count",
             "type": "integer"},
            {"source_field": "ratio", "mixpanel_field": "ratio", "type": "float"},
            {"source_field": "iid", "mixpanel_field": "$insert_id",
             "type": "string_or_uuid"},
            {"source_field": "*", "mixpanel_field": "*"},
        ],
    },
]

EVENT_NAMES = np.array(["view", "click", "purchase", "signup", "search"], object)
BOOL_STRINGS = np.array(
    ["true", "True", "YES", "t", "y", "1", "0", "false", "no", " true"], object
)
INT_STRINGS = np.array(["42", "-7", " 8 ", "1_000", "12.5", "abc", "0"], object)
FLOAT_STRINGS = np.array(["12.50", "1e3", ".5", "3", "-0.25", "oops"], object)
# formats the JVM ladder and dateutil read alike, plus unparseable text
# (-> time defaults to the pinned now)
TS_STRINGS_A = np.array(
    ["2024-03-05 12:34:56", "2024-03-05T01:02:03", "2024-03-05",
     "2024/03/06 23:59:59", "not a date"], object
)
TS_STRINGS_B = np.array(
    ["03/07/2024", "03/07/2024 10:11:12", "05 Mar 2024 12:00:00",
     "2024-02-29T08:00:00.250", "n/a"], object
)
COUNTRIES = np.array(["DE", "US", "BR", "IN", "JP", None], object)


def _maybe_null(rng, values: np.ndarray, share: float) -> np.ndarray:
    out = values.astype(object)
    out[rng.random(len(out)) < share] = None
    return out


def _nan_some(rng, values: np.ndarray, share: float) -> np.ndarray:
    out = values.astype(float)
    out[rng.random(len(out)) < share] = np.nan
    return out


def _sizes(rng, n: int, lo: int, hi: int) -> list[int]:
    """``n`` file sizes evenly spread over [lo, hi], in seeded order: the
    seed moves rows between files but keeps the total fixed, so runs on
    different seeds do the same amount of work."""
    return [int(x) for x in rng.permutation(np.linspace(lo, hi, n).round())]


def _iids(key: str, n: int) -> np.ndarray:
    return np.char.add(key + ".", np.arange(n).astype(str)).astype(object)


def make_table(cfg: int, key: str, n: int, rng, dlq_share: float) -> tuple[pa.Table, np.ndarray]:
    """Rows for config ``cfg``; → (table, mask of planted DLQ rows). A
    DLQ row has a falsy event name or a null required field."""
    users = np.char.add("u", rng.integers(0, 50_000, n).astype(str)).astype(object)
    bad = rng.random(n) < dlq_share
    iid = _iids(key, n)
    if cfg == 0:
        ev = rng.choice(EVENT_NAMES, n)
        which = rng.random(n)
        ev[bad & (which < 0.5)] = None
        ev[bad & (which >= 0.5) & (which < 0.75)] = ""
        users[bad & (which >= 0.75)] = None
        cols = {
            "event_type": ev, "user_id": users,
            "ts": rng.choice(TS_STRINGS_A, n),
            "flag": _maybe_null(rng, rng.choice(BOOL_STRINGS, n), 0.05),
            "qty": rng.choice(INT_STRINGS, n),
            "price": _nan_some(rng, np.round(rng.random(n) * 100, 2), 0.1),
            "country": rng.choice(COUNTRIES, n),
            "score": _nan_some(rng, np.round(rng.normal(size=n), 3), 0.1),
            "iid": iid,
        }
    elif cfg == 1:
        users[bad] = None
        cols = {
            "user_id": users,
            "device": np.char.add("d", rng.integers(0, 9_999, n).astype(str)).astype(object),
            "ts": rng.integers(1_600_000_000, 1_700_000_000, n),
            "active": rng.integers(0, 3, n),
            "amount": rng.choice(FLOAT_STRINGS, n),
            "level": _nan_some(rng, np.round(rng.random(n) * 20, 1), 0.1),
            "plan": rng.choice(np.array(["free", "pro", None], object), n),
            "sessions": rng.integers(0, 500, n),
            "iid": iid,
        }
    elif cfg == 2:
        act = rng.choice(EVENT_NAMES, n)
        act[bad] = ""
        cols = {
            "action": act, "user_id": _maybe_null(rng, users, 0.05),
            "ts": pa.array(
                rng.integers(1_600_000_000_000_000, 1_700_000_000_000_000, n),
                pa.timestamp("us", tz="UTC"),
            ),
            "ok": rng.random(n) < 0.9,
            "latency": _nan_some(rng, np.round(rng.exponential(50, n), 2), 0.05),
            "code": rng.choice(np.array([200, 201, 404, 500]), n),
            "region": rng.choice(np.array(["eu", "us", "ap"], object), n),
            "bytes": rng.integers(0, 1 << 20, n),
            "iid": iid,
        }
    else:
        nm = rng.choice(EVENT_NAMES, n)
        which = rng.random(n)
        nm[bad & (which < 0.5)] = None
        users[bad & (which >= 0.5)] = None
        cols = {
            "name": nm, "user_id": users,
            "ts": rng.choice(TS_STRINGS_B, n),
            "premium": rng.choice(BOOL_STRINGS, n),
            "count": _maybe_null(rng, rng.choice(INT_STRINGS, n), 0.05),
            "ratio": rng.choice(FLOAT_STRINGS, n),
            "os": rng.choice(np.array(["ios", "android"], object), n),
            "battery": _nan_some(rng, np.round(rng.random(n), 2), 0.2),
            "iid": iid,
        }
    table = pa.table({k: pa.array(v) if not isinstance(v, pa.Array) else v
                      for k, v in cols.items()})
    return table, bad


def config_dicts(prefixes: list[str], extra: list[dict] = ()) -> list[dict]:
    out = []
    for i, (spec, prefix) in enumerate(zip(CONFIG_SPECS, prefixes)):
        d = {k: v for k, v in spec.items() if k != "name"}
        d["config_id"] = f"c{i}_{spec['name']}"
        d["source_gcs_prefix"] = prefix
        out.append(d)
    out.extend(extra)
    return out


def write_configs(configs: list[dict], path: str) -> str:
    """Write configs in the ``sources.json`` shape; → the path."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        json.dump(configs, f, indent=1)
    return path


@dataclass
class FileSet:
    """Generated event files and what the pipeline must make of them."""

    configs: list[dict]
    ok: dict[str, int] = field(default_factory=dict)   # file key -> ok rows
    dlq: dict[str, int] = field(default_factory=dict)  # file key -> DLQ rows
    path: dict[str, str] = field(default_factory=dict)  # file key -> path
    config_of: dict[str, str] = field(default_factory=dict)
    unrouted: list[str] = field(default_factory=list)   # paths
    ok_iids: list[str] = field(default_factory=list)   # ids of non-DLQ rows

    def expected_ok_by_config(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for k, n in self.ok.items():
            out[self.config_of[k]] = out.get(self.config_of[k], 0) + n
        return out


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=1 << 20)


def backfill_inputs(root: str, seed: int, files_per_config: int,
                    rows_per_file: int) -> tuple[FileSet, str]:
    """Four routed PARQUET prefixes, one prefix routed to a JSON config
    (skipped by the parquet-only router) and one unrouted prefix.
    → (file set, glob pattern)."""
    rng = np.random.default_rng(seed)
    lake = os.path.join(root, "lake")
    uri = "file:" + lake
    configs = config_dicts(
        [f"{uri}/p{i}/" for i in range(4)],
        [{"config_id": "c4_legacy_json", "source_gcs_prefix": f"{uri}/p4/",
          "file_type": "JSON", "mixpanel_event_name": "legacy",
          "field_mappings": [{"source_field": "*", "mixpanel_field": "*"}]}],
    )
    fs = FileSet(configs)
    for c in range(4):
        sizes = _sizes(rng, files_per_config, rows_per_file * 3 // 4,
                       rows_per_file * 5 // 4)
        for f in range(files_per_config):
            key = f"b{c}.{f:05d}"
            n = sizes[f]
            table, bad = make_table(c, key, n, rng, dlq_share=0.02)
            path = os.path.join(lake, f"p{c}", f"part-{f:05d}.parquet")
            _write(table, path)
            fs.ok[key], fs.dlq[key] = n - int(bad.sum()), int(bad.sum())
            fs.path[key], fs.config_of[key] = path, configs[c]["config_id"]
            if f % 7 == 0:
                fs.ok_iids.extend(f"{key}.{r}" for r in np.flatnonzero(~bad)[:2])
    # p4 routes to the JSON config, which the parquet-only router skips;
    # p9 matches no prefix. Neither may deliver an event.
    for d in ("p4", "p9"):
        for f in range(3):
            table, _ = make_table(f % 4, f"x{f}.{f:05d}", 200, rng, 0.0)
            path = os.path.join(lake, d, f"part-{f:05d}.parquet")
            _write(table, path)
            if d == "p9":
                fs.unrouted.append(path)
    return fs, f"{lake}/*/*.parquet"


def stream_inputs(root: str, seed: int, n_files: int, rows_range: tuple[int, int],
                  unrouted_share: float, n_configs: int) -> FileSet:
    """Small per-notification files under ``n_configs`` routed prefixes
    plus unrouted ones; the bus publishes plain paths."""
    rng = np.random.default_rng(seed)
    data = os.path.join(root, "data")
    configs = config_dicts([f"{data}/p{i}/" for i in range(n_configs)])
    fs = FileSet(configs)
    sizes = _sizes(rng, n_files, *rows_range)
    n_unrouted = round(n_files * unrouted_share)
    unrouted = set(rng.choice(n_files, n_unrouted, replace=False).tolist())
    for f in range(n_files):
        if f in unrouted:
            table, _ = make_table(0, f"x9.{f:05d}", 50, rng, 0.0)
            path = os.path.join(data, "unrouted", f"n-{f:05d}.parquet")
            _write(table, path)
            fs.unrouted.append(path)
            fs.path[f"x9.{f:05d}"] = path
            continue
        c = f % n_configs
        key = f"s{c}.{f:05d}"
        n = sizes[f]
        table, bad = make_table(c, key, n, rng, dlq_share=0.02)
        path = os.path.join(data, f"p{c}", f"n-{f:05d}.parquet")
        _write(table, path)
        fs.ok[key], fs.dlq[key] = n - int(bad.sum()), int(bad.sum())
        fs.path[key], fs.config_of[key] = path, configs[c]["config_id"]
    return fs


def schedule(seed: int, n_files: int, rate: float, redeliver_share: float) -> list[tuple[float, int]]:
    """Open-loop publish schedule → sorted (due offset s, file index);
    a re-delivery repeats a file 0.5-3 s after its first publish, well
    inside the 5-minute dedup horizon."""
    rng = np.random.default_rng(seed + 1)
    due = [(i / rate, i) for i in range(n_files)]
    for i in range(n_files):
        if rng.random() < redeliver_share:
            due.append((i / rate + float(rng.uniform(0.5, 3.0)), i))
    return sorted(due)
