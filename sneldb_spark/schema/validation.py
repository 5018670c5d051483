"""STORE-time payload validation + normalization.

Strict semantics per the reference (reference: src/command/handlers/store.rs:234-270
and scenarios `store_with_missing_field`, `enum_store_wrong_case_rejected`):

- every non-nullable schema field must be present and non-null;
- undeclared keys are rejected;
- enum values are case-sensitive and must be declared variants;
- `u64` must be a non-negative integer;
- `f64` must be a finite number (an overflowing literal is rejected);
- `datetime`/`date` accept RFC3339 / date-only / numeric epochs and
  normalize to epoch seconds (dates snap to midnight UTC);
- booleans are not accepted where numbers are expected and vice versa.

Returns a normalized payload dict typed to match the schema's Spark struct.
"""

from __future__ import annotations

import math

from sneldb_spark.errors import ValidationError
from sneldb_spark.schema.normalization import (
    normalize_date_to_midnight,
    parse_time_value,
)
from sneldb_spark.schema.registry import EventSchema
from sneldb_spark.schema.types import FieldType

_I64_MIN, _I64_MAX = -(2**63), 2**63 - 1


def _type_err(fname: str, detail: str) -> str:
    # Reference error shape (src/command/handlers/store.rs:243) with the
    # specific reason appended for humans.
    return f"Field '{fname}' does not match expected type ({detail})"


def _check_scalar(fname: str, ft: FieldType, value):
    kind = ft.kind
    if kind == "string":
        if not isinstance(value, str):
            raise ValidationError(_type_err(fname, f"expected string, got {value!r}"))
        return value
    if kind == "enum":
        if not isinstance(value, str) or value not in ft.enum_values:
            raise ValidationError(_type_err(fname, f"{value!r} is not a declared enum variant"))
        return value
    if kind == "bool":
        if not isinstance(value, bool):
            raise ValidationError(_type_err(fname, f"expected bool, got {value!r}"))
        return value
    if kind == "i64":
        if isinstance(value, bool) or not isinstance(value, int):
            raise ValidationError(_type_err(fname, f"expected integer, got {value!r}"))
        if not (_I64_MIN <= value <= _I64_MAX):
            raise ValidationError(_type_err(fname, "integer out of i64 range"))
        return value
    if kind == "u64":
        if isinstance(value, bool) or not isinstance(value, int):
            raise ValidationError(_type_err(fname, f"expected integer, got {value!r}"))
        if value < 0:
            raise ValidationError(_type_err(fname, "u64 must be non-negative"))
        if value > _I64_MAX:
            # Spark LongType is signed; the engine documents the u64 domain
            # as [0, 2^63) (SURVEY §7 risk (d)).
            raise ValidationError(_type_err(fname, "u64 value exceeds supported range"))
        return value
    if kind == "f64":
        if isinstance(value, bool) or not isinstance(value, (int, float)):
            raise ValidationError(_type_err(fname, f"expected number, got {value!r}"))
        # a literal past the double range (1e999 decodes to inf; a long
        # integer literal overflows float()) is rejected, never stored
        try:
            value = float(value)
        except OverflowError:
            value = math.inf
        if not math.isfinite(value):
            raise ValidationError(_type_err(fname, "number out of f64 range"))
        return value
    if kind == "datetime":
        return parse_time_value(value, what=f"datetime field {fname!r}")
    if kind == "date":
        return normalize_date_to_midnight(
            parse_time_value(value, what=f"date field {fname!r}")
        )
    raise ValidationError(f"field {fname!r}: unsupported kind {kind!r}")


def validate_payload(schema: EventSchema, payload: dict) -> dict:
    if not isinstance(payload, dict):
        raise ValidationError("Payload must be a JSON object")
    if schema.shadowed:
        # allow_core_shadow: incoming payload keys that shadow a core
        # column land in their prefixed physical column; a payload
        # naming BOTH would silently collapse to one value — reject
        for orig, phys in schema.shadowed.items():
            if orig in payload and phys in payload:
                raise ValidationError(
                    f"payload sets both {orig!r} and its shadow column "
                    f"{phys!r}; use one"
                )
        payload = {schema.shadowed.get(k, k): v for k, v in payload.items()}
    extra = set(payload) - set(schema.fields)
    if extra:
        raise ValidationError(
            "Payload contains fields not defined in schema: "
            + ", ".join(sorted(extra))
        )
    out: dict = {}
    for fname, ft in schema.fields.items():
        if fname not in payload or payload[fname] is None:
            if ft.nullable:
                out[fname] = None
                continue
            raise ValidationError(f"Missing field '{fname}' in payload")
        out[fname] = _check_scalar(fname, ft, payload[fname])
    return out
