"""Expected event for one source row, built from the pure-Python cast
oracle in ``tests/reference_semantics.py`` — an implementation
independent of the Spark compiler, used to check delivered events."""

from __future__ import annotations

import importlib.util
import json
import os

_NONE_PROCESSED = {"$user_id", "$device_id", "$insert_id"}


def load_oracle(root: str):
    path = os.path.join(root, "tests", "reference_semantics.py")
    spec = importlib.util.spec_from_file_location("reference_semantics", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def expected_event(ref, cfg: dict, row: dict, token: str, now: int) -> dict | None:
    """→ {"event", "properties"} or None when the row belongs in the DLQ."""
    row = {k: ref.clean_nan(v) for k, v in row.items()}
    src = cfg.get("mixpanel_event_name_from_field")
    if src:
        event = row.get(src)
        if not event:
            return None
    else:
        event = cfg.get("mixpanel_event_name") or "generic_event"
    cast = {
        "string": ref.ref_string, "integer": ref.ref_integer,
        "float": ref.ref_float, "boolean": ref.ref_boolean,
        "unix_timestamp_auto": ref.ref_unix_timestamp_auto,
        "string_or_uuid": ref.ref_string,
    }
    props: dict = {"token": token}
    consumed = set()
    wildcard = False
    for m in cfg["field_mappings"]:
        if m["source_field"] == "*":
            wildcard = True
            continue
        consumed.add(m["source_field"])
        value = row.get(m["source_field"])
        if m.get("is_required_in_source") and value is None:
            return None
        target = m["mixpanel_field"]
        if value is None and not m.get("include_if_none") \
                and target not in _NONE_PROCESSED:
            continue
        fn = cast.get(m.get("type", "passthrough"))
        out = fn(value) if fn else value
        if out is not ref.OMIT:
            props[target] = out
    if wildcard:
        for k, v in row.items():
            if k not in consumed:
                props[k] = v
    if props.get("time") is None:
        props["time"] = now
    return {"event": event,
            "properties": {k: v for k, v in props.items() if v is not None}}


def check_sample(ref, configs: dict[str, dict], config_of: dict[str, str],
                 paths: dict[str, str], lines: list[bytes], token: str,
                 now: int) -> tuple[int, list[str]]:
    """Compare delivered event lines of sampled files against the oracle;
    → (events compared, mismatch descriptions)."""
    import pyarrow.parquet as pq

    delivered = {}
    for line in lines:
        ev = json.loads(line)
        delivered[ev["properties"]["$insert_id"]] = ev
    errors, compared = [], 0
    keys = {iid.rsplit(".", 1)[0] for iid in delivered}
    for key in sorted(keys):
        cfg = configs[config_of[key]]
        for i, row in enumerate(pq.read_table(paths[key]).to_pylist()):
            iid = f"{key}.{i}"
            want = expected_event(ref, cfg, row, token, now)
            got = delivered.get(iid)
            if got is None:
                continue  # a DLQ row, or a row of a rejected batch
            compared += 1
            if got != want:
                errors.append(f"{iid}: got {got} want {want}")
    return compared, errors
