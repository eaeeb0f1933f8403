"""ClickHouse JSON vocabulary (JSONExtract* / JSONHas / JSONLength /
JSONExtractKeys / JSONExtractRaw / JSONType; visitParam* fast-path
aliases).  Metrica deployments carry JSON in params/event columns and
the CH JSON family is the standard way to query it
(/root/reference/ddl/hits.sql ships string param columns; the JSON
functions are engine vocabulary, not reference queries).

Implementation: Spark 4 VariantType.  ``try_parse_json`` shreds the
JSON once into a binary variant (invalid JSON -> NULL -> every
function returns its CH default), ``variant_get`` navigates, and
``schema_of_variant`` provides the exact type gate CH's simdjson
layer applies -- all JVM expressions inside whole-stage codegen, no
UDFs, so the family is safe in a 100 TB scan's hot path.

Pinned semantics (CH-documented defaults, deviations noted):

- missing path / wrong type / invalid JSON  =>  '' / 0 / 0.0 / false
  (the CH "0 or empty string" rule);
- ``json_extract_int``: numeric values truncate toward zero (CH reads
  1.9 -> 1, -3.7 -> -3); strings NEVER coerce ("42" -> 0), the
  strict simdjson behavior;
- ``json_has`` counts a JSON null as present (CH: JSONHas('{"a":null}',
  'a') = 1);
- integer path components are 1-based per CH; negative (from-end)
  indexing is NOT supported here (variant paths are 0-based
  forward-only) -- documented deviation, raises ValueError;
- ``json_extract_keys`` returns keys SORTED: the variant encoding
  normalizes object key order (CH preserves document order) --
  documented deviation, deterministic on both engines.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from .ch import ColumnOrName, _col


def _json_path(path: tuple) -> str:
    """CH (key | 1-based index)* varargs -> a JSON path string."""
    out = "$"
    for p in path:
        if isinstance(p, bool):  # bool is an int subclass; reject first
            raise ValueError(f"JSON path component must be str or int, got {p!r}")
        if isinstance(p, int):
            if p < 1:
                raise ValueError(
                    "CH negative/zero JSON indices are not supported "
                    f"(variant paths are forward-only): {p}"
                )
            out += f"[{p - 1}]"
        elif isinstance(p, str):
            if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", p):
                raise ValueError(f"JSON key must be identifier-like, got {p!r}")
            out += f".{p}"
        else:
            raise ValueError(f"JSON path component must be str or int, got {p!r}")
    return out


def _variant_at(j: ColumnOrName, path: tuple) -> Column:
    return F.variant_get(F.try_parse_json(_col(j)), _json_path(path), "variant")


def _variant_type(j: ColumnOrName, path: tuple) -> Column:
    """schema_of_variant of the value at path; NULL when missing."""
    return F.schema_of_variant(_variant_at(j, path))


# Type gates compare schema_of_variant output, which for SCALAR values
# is exactly one of the tokens below (DECIMAL renders with a precision
# suffix, e.g. "DECIMAL(3,1)").  Formulated as isin/startswith instead
# of rlike (r19 opt): same truth table over schema_of_variant's output
# grammar, but equality/prefix tests instead of a Java regex engine per
# row per gate (the battery carries ~10 gates/row at full width).
_INT_TYPES = ("BIGINT", "INT", "SMALLINT", "TINYINT")
_FLOAT_TYPES = ("DOUBLE", "FLOAT")


def _is_int_type(st: Column) -> Column:
    return st.isin(*_INT_TYPES)


def _is_float_type(st: Column) -> Column:
    return st.isin(*_FLOAT_TYPES) | st.startswith("DECIMAL")


def _is_numeric_type(st: Column) -> Column:
    return st.isin(*_INT_TYPES, *_FLOAT_TYPES) | st.startswith("DECIMAL")


def json_has(j: ColumnOrName, *path: str | int) -> Column:
    """``JSONHas``: 1 if the path exists (a JSON null counts), else 0."""
    return _variant_at(j, path).isNotNull().cast("int")


# NOTE on the gate shape used below (round 10): the strict type gate
# is ADDITIVE -- `try_cast(...) <+/concat> when(type_ok, <zero/''>)` --
# instead of `when(type_ok, cast(...))`.  Same results: try_cast never
# throws (plain cast on an OBJECT variant raises INVALID_VARIANT_CAST),
# any coerced value from a wrong-typed variant is annulled by the NULL
# arm of the when, and coalesce supplies the CH default.  The reason is
# performance: on this Spark build an expensive subtree under a
# data-dependent CASE WHEN branch evaluates ~10-50x slower than the
# same subtree unconditionally in the projection (measured on
# geohash_decode, functions/ch.py; ~40% per extraction here).


def json_extract_string(j: ColumnOrName, *path: str | int) -> Column:
    """``JSONExtractString``: the string value at path, '' unless the
    value exists AND is a JSON string (strict -- numbers don't coerce)."""
    v = _variant_at(j, path)
    return F.coalesce(
        F.concat(
            v.try_cast("string"),
            F.when(F.schema_of_variant(v) == "STRING", F.lit("")),
        ),
        F.lit(""),
    )


def json_extract_int(j: ColumnOrName, *path: str | int) -> Column:
    """``JSONExtractInt``: numeric value truncated toward zero, else 0.

    Integer-typed variants cast DIRECTLY to long (exact over the full
    Int64 range, matching CH's exact Int64 return — ADVICE r7: the old
    route through DOUBLE lost precision for |n| > 2^53); only
    floating/decimal values take the double-truncation path."""
    v = _variant_at(j, path)
    st = F.schema_of_variant(v)
    return F.coalesce(
        v.try_cast("long") + F.when(_is_int_type(st), F.lit(0)),
        v.try_cast("double").cast("long")
        + F.when(_is_float_type(st), F.lit(0)),
        F.lit(0).cast("long"),
    )


def json_extract_float(j: ColumnOrName, *path: str | int) -> Column:
    """``JSONExtractFloat``: numeric value as double, else 0.0."""
    v = _variant_at(j, path)
    return F.coalesce(
        v.try_cast("double")
        + F.when(_is_numeric_type(F.schema_of_variant(v)), F.lit(0.0)),
        F.lit(0.0),
    )


def json_extract_bool(j: ColumnOrName, *path: str | int) -> Column:
    """``JSONExtractBool``: 1/0 for a JSON true/false, else 0 (CH
    returns UInt8)."""
    v = _variant_at(j, path)
    return F.coalesce(
        v.try_cast("boolean").cast("int")
        + F.when(F.schema_of_variant(v) == "BOOLEAN", F.lit(0)),
        F.lit(0),
    )


def json_extract_raw(j: ColumnOrName, *path: str | int) -> Column:
    """``JSONExtractRaw``: the value re-serialized as JSON text, ''
    when missing.  Deviation: object keys re-serialize sorted (variant
    normalization); scalars and arrays round-trip exactly."""
    return F.coalesce(F.to_json(_variant_at(j, path)), F.lit(""))


def json_extract_array_raw(j: ColumnOrName, *path: str | int) -> Column:
    """``JSONExtractArrayRaw``: each element of the array at path
    re-serialized as JSON text; [] when the path is missing or not an
    array.  Deviation (same as json_extract_raw): OBJECT elements
    re-serialize with variant-normalized (sorted) keys; scalars and
    nested arrays round-trip exactly."""
    arr = F.try_variant_get(_variant_at(j, path), "$", "array<variant>")
    return F.coalesce(
        F.transform(arr, lambda x: F.to_json(x)),
        F.array().cast("array<string>"),
    )


def json_extract_keys(j: ColumnOrName, *path: str | int) -> Column:
    """``JSONExtractKeys``: keys of the object at path, SORTED
    (documented deviation -- CH preserves document order); [] when the
    path is missing or not an object.

    Keys come straight off the variant via a ``map<string,variant>``
    extraction (r19 opt): ``try_variant_get`` is NULL for any
    non-object, exactly like ``json_object_keys`` of the rendered text
    was, and the shredded object's fields are already key-sorted -- no
    JSON text render + reparse per row (measured ~0.45 s/1.5M rows off
    the battery).  ``array_sort`` stays as the documented-order
    guarantee rather than an implicit property of variant
    normalization."""
    ks = F.map_keys(
        F.try_variant_get(_variant_at(j, path), "$", "map<string,variant>")
    )
    return F.array_sort(F.coalesce(ks, F.array().cast("array<string>")))


def json_length(j: ColumnOrName, *path: str | int) -> Column:
    """``JSONLength``: element count of the array / key count of the
    object at path, else 0."""
    v = _variant_at(j, path)
    t = F.schema_of_variant(v)
    # additive gates (see NOTE above): BOTH arms read their count
    # straight off the variant (r19 opt) -- try_variant_get ->
    # array<variant> / map<string,variant> is NULL for any
    # wrong-shaped value, exactly like json_array_length /
    # json_object_keys of the rendered text were, so neither arm pays
    # a to_json render + JSON reparse per row, and the object arm's
    # map extraction is byte-identical to json_extract_keys'
    # (subexpression elimination shares one evaluation when both are
    # projected).  The when() arms only annul a scalar's spurious
    # length (the gate guards the VARIANT/OBJECT ambiguity).
    return F.coalesce(
        F.array_size(F.try_variant_get(v, "$", "array<variant>"))
        + F.when(t.startswith("ARRAY"), F.lit(0)),
        F.array_size(F.map_keys(F.try_variant_get(v, "$", "map<string,variant>")))
        + F.when(t.startswith("OBJECT") | (t == "VARIANT"), F.lit(0)),
        F.lit(0),
    )


def json_type(j: ColumnOrName, *path: str | int) -> Column:
    """``JSONType``: CH type-name of the value at path ('Object',
    'Array', 'String', 'Int64', 'Double', 'Bool', 'Null'); '' when the
    path is missing or the JSON is invalid (CH raises on invalid
    documents for the non-simdjson build; '' composes with the rest of
    the family's defaults)."""
    t = _variant_type(j, path)
    return F.coalesce(
        F.when(t.startswith("OBJECT") | (t == "VARIANT"), F.lit("Object"))
        .when(t.startswith("ARRAY"), F.lit("Array"))
        .when(t == "STRING", F.lit("String"))
        .when(t == "BOOLEAN", F.lit("Bool"))
        .when(t == "VOID", F.lit("Null"))
        .when(_is_int_type(t), F.lit("Int64"))
        .when(_is_float_type(t), F.lit("Double")),
        F.lit(""),
    )


# visitParam* fast-path family: identical results on flat documents
# with unique keys (the regime CH documents them for); implemented as
# the strict parsers above.
visit_param_extract_string = json_extract_string
visit_param_extract_int = json_extract_int
visit_param_extract_float = json_extract_float
visit_param_extract_bool = json_extract_bool
visit_param_has = json_has
visit_param_extract_raw = json_extract_raw
