"""Schema registry: DEFINE-time event-type schemas, versioned, JSON-persisted.

The reference keeps a registry of `event_type -> (uid, version, MiniSchema)`
(reference: src/engine/schema/registry.rs:13-30, 182-196). Here the registry
is a plain JSON file under the engine data root — schemas are tiny metadata,
not data, so driver-side storage is the right call even at 100 TB.
"""

from __future__ import annotations

import json
import os
import re
import tempfile

from pyspark.sql import types as T

from sneldb_spark.errors import SchemaError
from sneldb_spark.schema.types import FieldType, parse_field_spec

_EVENT_TYPE_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_\-]*$")

# Core columns the engine adds to every event at ingest.
CORE_FIELDS = ("context_id", "event_type", "timestamp", "event_id")

CORE_STRUCT = [
    T.StructField("context_id", T.StringType(), False),
    T.StructField("event_type", T.StringType(), False),
    T.StructField("timestamp", T.LongType(), False),  # epoch seconds, server-assigned
    T.StructField("event_id", T.LongType(), False),  # monotonic, shard-aware
]


class EventSchema:
    def __init__(
        self,
        name: str,
        version: int,
        fields: dict[str, FieldType],
        shadowed: dict[str, str] | None = None,
    ):
        self.name = name
        self.version = version
        self.fields = fields
        # [schema] allow_core_shadow: original payload name -> physical
        # column ("timestamp" -> "payload_timestamp") for payload fields
        # that shadow a core column (reference scenarios store such
        # payloads; its storage namespaces payload columns per-uid, this
        # engine's flat table cannot — the rename is the compat mapping)
        self.shadowed = shadowed or {}
        self.uid = f"{name}_v{version}"

    @property
    def spark_struct(self) -> T.StructType:
        """Full table schema: core columns + typed payload columns."""
        payload = [
            T.StructField(fname, ft.spark_type, True)
            for fname, ft in sorted(self.fields.items())
        ]
        return T.StructType(CORE_STRUCT + payload)

    def to_json(self):
        out = {
            "name": self.name,
            "version": self.version,
            "fields": {k: v.to_json() for k, v in self.fields.items()},
        }
        if self.shadowed:
            out["shadowed"] = dict(self.shadowed)
        return out

    @staticmethod
    def from_json(obj) -> "EventSchema":
        return EventSchema(
            obj["name"],
            obj["version"],
            {k: FieldType.from_json(v) for k, v in obj["fields"].items()},
            shadowed=obj.get("shadowed"),
        )


class SchemaRegistry:
    """In-memory registry with optional JSON-file persistence."""

    def __init__(self, path: str | None = None, allow_core_shadow: bool = False):
        self._path = path
        # [schema] allow_core_shadow: payload fields named after a core
        # column are accepted and stored under "payload_<name>" instead
        # of rejected (reference-compat; queries naming the original
        # resolve to the payload column, reference-style)
        self.allow_core_shadow = allow_core_shadow
        # name -> {version -> EventSchema}
        self._schemas: dict[str, dict[int, EventSchema]] = {}
        # bumped by every DEFINE: a compiled plan is only reusable under
        # the registry revision it was compiled against
        self.revision = 0
        if path and os.path.exists(path):
            self._load()

    # -- define -----------------------------------------------------------
    def define(self, event_type: str, fields: dict, version: int | None = None) -> EventSchema:
        if not _EVENT_TYPE_RE.match(event_type or ""):
            raise SchemaError(f"invalid event type name: {event_type!r}")
        if not fields:
            raise SchemaError("schema must have at least one field")
        parsed: dict[str, FieldType] = {}
        shadowed: dict[str, str] = {}
        for fname, spec in fields.items():
            if fname in CORE_FIELDS:
                if not self.allow_core_shadow:
                    raise SchemaError(f"field name {fname!r} is reserved")
                phys = f"payload_{fname}"
                if phys in fields:
                    raise SchemaError(
                        f"field name {fname!r} shadows a core column and "
                        f"{phys!r} is also defined — rename one"
                    )
                shadowed[fname] = phys
                parsed[phys] = parse_field_spec(spec)
                continue
            parsed[fname] = parse_field_spec(spec)
        existing = self._schemas.setdefault(event_type, {})
        if version is None:
            version = max(existing) + 1 if existing else 1
        # Additive evolution only: a field kept across versions must keep
        # its storage type. The reference stores each (type, version) under
        # its own uid with separate column files; here all versions share
        # one Parquet dataset, so a type flip would make old files
        # unreadable under the current read schema.
        if existing:
            latest = existing[max(existing)]
            for fname, ft in parsed.items():
                old = latest.fields.get(fname)
                if old is not None and old.kind != ft.kind:
                    raise SchemaError(
                        f"field {fname!r} changes type {old.kind!r} -> {ft.kind!r} "
                        f"across versions of {event_type!r}; add a new field instead"
                    )
        schema = EventSchema(event_type, version, parsed, shadowed=shadowed)
        existing[version] = schema
        self.revision += 1
        self._save()
        return schema

    # -- lookup -----------------------------------------------------------
    def get(self, event_type: str, version: int | None = None) -> EventSchema:
        versions = self._schemas.get(event_type)
        if not versions:
            raise SchemaError(f"No schema defined for event type '{event_type}'")
        if version is None:
            version = max(versions)
        if version not in versions:
            raise SchemaError(f"no version {version} for event type {event_type!r}")
        return versions[version]

    def has(self, event_type: str) -> bool:
        return event_type in self._schemas

    def event_types(self) -> list[str]:
        return sorted(self._schemas)

    # -- persistence ------------------------------------------------------
    def _load(self):
        with open(self._path) as f:
            data = json.load(f)
        for item in data["schemas"]:
            s = EventSchema.from_json(item)
            self._schemas.setdefault(s.name, {})[s.version] = s

    def _save(self):
        if not self._path:
            return
        data = {
            "format_version": STORE_FORMAT_VERSION,
            "schemas": [
                s.to_json()
                for versions in self._schemas.values()
                for s in versions.values()
            ],
        }
        d = os.path.dirname(self._path)
        os.makedirs(d, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(data, f, indent=1, sort_keys=True)
        os.replace(tmp, self._path)


# -- store diagnostics / repair (reference: src/bin/schema_store_tool.rs,
#    SchemaStore::diagnose / repair_to) -----------------------------------

STORE_FORMAT_VERSION = 1


def diagnose_store(path: str) -> dict:
    """Inspect a schema-store file without loading it into a registry.

    Returns the reference tool's report shape: ``version`` (the store's
    format version, None when the file predates the field or is too
    corrupt to tell), ``valid_records`` / ``skipped_records`` counts,
    and ``issues`` (one line per problem). Tolerates a truncated or
    corrupted file by salvaging every parseable record from the
    ``schemas`` array (a crash mid-write can leave a partial JSON
    document; the registry itself writes atomically, but a store copied
    or hand-edited outside the engine may not be)."""
    try:
        with open(path, encoding="utf-8", errors="replace") as f:
            text = f.read()
    except OSError as e:
        raise SchemaError(f"failed to open schema store: {e}")

    issues: list[str] = []
    version = None
    try:
        doc = json.loads(text)
        records = doc.get("schemas", [])
        version = doc.get("format_version")
        if not isinstance(records, list):
            issues.append("'schemas' is not an array")
            records = []
        if version is None:
            issues.append("store has no format_version field (pre-1 layout)")
    except json.JSONDecodeError as e:
        issues.append(f"store is not valid JSON ({e.msg} at char {e.pos}); salvaging records")
        records = _salvage_records(text)

    valid: list[dict] = []
    skipped = 0
    seen: dict[tuple[str, int], int] = {}
    by_name: dict[str, dict[int, "EventSchema"]] = {}
    for i, item in enumerate(records):
        try:
            if not isinstance(item, dict):
                raise SchemaError("record is not an object")
            s = EventSchema.from_json(item)
            if not _EVENT_TYPE_RE.match(s.name or ""):
                raise SchemaError(f"invalid event type name: {s.name!r}")
            if not isinstance(s.version, int) or s.version < 1:
                raise SchemaError(f"invalid version: {s.version!r}")
            if not s.fields:
                raise SchemaError("schema has no fields")
            for fname in s.fields:
                if fname in CORE_FIELDS:
                    raise SchemaError(f"field name {fname!r} is reserved")
            key = (s.name, s.version)
            if key in seen:
                raise SchemaError(
                    f"duplicate record for {s.name} v{s.version} (first at index {seen[key]})"
                )
            # additive evolution: a field kept across versions keeps its type
            for v, prior in sorted(by_name.get(s.name, {}).items()):
                for fname, ft in s.fields.items():
                    old = prior.fields.get(fname)
                    if old is not None and old.kind != ft.kind:
                        raise SchemaError(
                            f"field {fname!r} flips type {old.kind!r} -> {ft.kind!r} "
                            f"between {s.name} v{v} and v{s.version}"
                        )
            seen[key] = i
            by_name.setdefault(s.name, {})[s.version] = s
            valid.append(s.to_json())
        except (SchemaError, KeyError, TypeError, AttributeError) as e:
            skipped += 1
            issues.append(f"record {i}: {e}")

    return {
        "version": version,
        "valid_records": len(valid),
        "skipped_records": skipped,
        "issues": issues,
        "_valid": valid,  # consumed by repair_store, stripped from reports
    }


def _salvage_records(text: str) -> list:
    """Best-effort recovery of schema records from a broken store file:
    decode one JSON object at a time from inside the `schemas` array,
    stopping at the first undecodable span."""
    marker = text.find('"schemas"')
    if marker < 0:
        return []
    start = text.find("[", marker)
    if start < 0:
        return []
    decoder = json.JSONDecoder()
    out = []
    pos = start + 1
    while True:
        while pos < len(text) and text[pos] in " \t\r\n,":
            pos += 1
        if pos >= len(text) or text[pos] == "]":
            break
        try:
            obj, pos = decoder.raw_decode(text, pos)
        except json.JSONDecodeError:
            break
        out.append(obj)
    return out


def repair_store(input_path: str, output_path: str) -> dict:
    """Write a clean store containing only the valid records of
    `input_path` (atomic temp+rename, current format version). Returns
    the diagnose report with `repaired_to` set."""
    report = diagnose_store(input_path)
    data = {
        "format_version": STORE_FORMAT_VERSION,
        "schemas": report.pop("_valid"),
    }
    d = os.path.dirname(os.path.abspath(output_path))
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
    os.replace(tmp, output_path)
    report["repaired_to"] = output_path
    return report
