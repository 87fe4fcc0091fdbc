"""Arrow-batched Python twin of :mod:`dynamic_json` (r15 trial).

The Catalyst form is one zero-shuffle projection, but all of its
per-entry rule work runs through INTERPRETED higher-order-function
lambdas (transform/filter close over CASE chains with regexes —
~20 us/row at ~25 entries across 3 nesting levels; the same trap the
module docstrings in llm/ record for transform/aggregate). This twin
applies the IDENTICAL rule contract in plain Python over
``mapInPandas`` batches (guide §4.2: let Spark do distribution, hand
batches to native/Python code), so the per-row cost is one
``json.loads`` + a dict walk.

Byte-compatibility notes (pinned row-for-row against the Catalyst
form by tests/test_properties.py::test_dynamic_json_python_twin_byte_equal):

- ``from_json(col, "map<string,string>")`` renders non-string scalars
  as their canonical token text (booleans ``true``/``false``, integers
  unchanged) and nested objects/arrays as their COMPACT re-rendered
  fragment; ``json.dumps(..., separators=(",", ":"),
  ensure_ascii=False)`` reproduces it on this payload domain (no
  non-canonical float literals inside passthrough fragments — a
  payload carrying ``1.50`` inside a below-depth object would re-render
  as ``1.5`` here; the fixture generator emits none, and the oracle
  pins the domain).
- ``F.trim`` strips 0x20 spaces only → ``str.strip(" ")``.
- Spark string ordering (array_sort on the key struct) is UTF-8 byte
  order == Python code-point order.
- rlike patterns are ^..$-anchored → ``re.fullmatch`` semantics.
- Jackson's ALLOW_NON_NUMERIC_NUMBERS is on in from_json: NaN /
  Infinity / -Infinity parse and render as QUOTED strings (probed);
  the ``_JConst`` sentinel reproduces that exactly.
- Documented divergence (out of the payload domain): Jackson also
  enables ALLOW_SINGLE_QUOTES, so a payload written with
  single-quoted strings parses in the Column form but passes through
  verbatim here (strict JSON only). Neither the fixture generator nor
  the reference's API payloads emit single-quoted JSON; the
  byte-equality test pins the domain.
"""

from __future__ import annotations

import json
import re
from collections.abc import Iterator

from pyspark.sql import DataFrame

from ad_data_lake_spark.functions.dynamic_json import (
    COLLECTION_KEYS,
    NUMERIC_EXCLUSIONS,
    SANITIZE_DEPTH,
)

_INT_RE = re.compile(r"-?[0-9]{1,18}")
_DEC_RE = re.compile(r"-?[0-9]+\.[0-9]+")
_EXCL = frozenset(NUMERIC_EXCLUSIONS)
_COLL = frozenset(COLLECTION_KEYS)


class _JConst(str):
    """NaN / Infinity / -Infinity literal (Jackson's
    ALLOW_NON_NUMERIC_NUMBERS is on in from_json): Spark renders the
    map VALUE as the quoted string ``"NaN"`` (quotes included), and
    nested fragments re-render it as the same quoted string — both
    probed against from_json directly."""


class _JObj:
    """Parsed JSON object as a PAIR LIST: Spark's MapData keeps
    duplicate keys (from_json never dedups), and map_entries feeds
    every occurrence through the rules — a plain dict would silently
    keep only the last (probed: ``{"dup":1,"dup":2}`` sanitizes to
    both entries, sorted by (key, rendered value))."""

    __slots__ = ("pairs",)

    def __init__(self, pairs):
        self.pairs = pairs


def _parse_constant(s: str) -> _JConst:
    return _JConst(s)


def _loads(raw: str):
    return json.loads(
        raw, parse_constant=_parse_constant, object_pairs_hook=_JObj
    )


def _jstr(s: str) -> str:
    return json.dumps(s, ensure_ascii=False)


def _render_json(x) -> str:
    """Compact re-render of a parsed tree — the fragment string
    from_json yields for nested objects/arrays (Jackson re-serializes
    compactly; probed)."""
    if isinstance(x, _JObj):
        return "{" + ",".join(
            _jstr(k) + ":" + _render_json(v) for k, v in x.pairs
        ) + "}"
    if isinstance(x, list):
        return "[" + ",".join(_render_json(e) for e in x) + "]"
    if isinstance(x, _JConst):
        return '"' + x + '"'
    if x is None:
        return "null"
    if x is True:
        return "true"
    if x is False:
        return "false"
    if isinstance(x, str):
        return _jstr(x)
    if isinstance(x, int):
        return str(x)
    return json.dumps(x)  # floats: shortest-repr (see module notes)


def _vstr(x) -> str:
    """The string ``from_json(.., map<string,string>)`` yields for a
    parsed JSON value (strings pass through decoded; containers render
    compact; booleans lowercase; non-numeric number literals arrive
    quoted)."""
    if isinstance(x, _JConst):
        return '"' + x + '"'
    if isinstance(x, str):
        return x
    if x is True:
        return "true"
    if x is False:
        return "false"
    if isinstance(x, (_JObj, list)):
        return _render_json(x)
    if isinstance(x, int):
        return str(x)
    return json.dumps(x)  # floats: shortest-repr


def _quote(s: str) -> str:
    return '"' + s.replace("\\", "\\\\").replace('"', '\\"') + '"'


def _norm_collection(x: list) -> str:
    kept = []
    for e in x:
        if e is None:
            continue
        t = _vstr(e).strip(" ")
        if t != "":
            kept.append(_quote(t))
    return "[" + ",".join(kept) + "]"


def _render_value(key: str, x, depth: int) -> str | None:
    """None means 'drop this key' — the same contract as the Column
    twin's NULL. Structural containers take the tree branches directly
    (a parsed _JObj/list IS what the Column form would re-render and
    re-parse — the string round-trip is skipped, same bytes out);
    string scalars that merely LOOK like objects/arrays still go
    through the parse, exactly as from_json does."""
    if x is None:
        return None
    if isinstance(x, _JObj):
        # v = compact render always starts with "{": the is_obj branch
        return _sanitize_obj(x, depth - 1) if depth > 1 else _render_json(x)
    if isinstance(x, list):
        # the is_arr branch
        if key in _COLL:
            return _norm_collection(x)
        return _render_json(x)
    v = _vstr(x)
    t = v.strip(" ")
    if t == "":
        return None
    if t.startswith("{"):
        return _sanitize(v, depth - 1) if depth > 1 else v
    if t.startswith("["):
        if key in _COLL:
            # from_json(v, 'array<string>'): parseable arrays normalize,
            # anything else passes verbatim
            try:
                arr = _loads(v)
            except ValueError:
                return v
            if not isinstance(arr, list):
                return v
            return _norm_collection(arr)
        return v
    if key in _EXCL or key.endswith("_id") or key.endswith("_ids"):
        return _quote(v)
    if _INT_RE.fullmatch(t):
        return str(int(t))
    if _DEC_RE.fullmatch(t):
        return t
    if t in ("true", "false"):
        return t
    return _quote(v)


def _sanitize_obj(obj: _JObj, depth: int) -> str:
    """Rule application over a parsed object's pair list. Rendered
    entries sort by (key, rendered value) — exactly array_sort on the
    Column form's (k, r) struct (duplicate keys both survive)."""
    rendered = []
    for k, x in obj.pairs:
        r = _render_value(k, x, depth)
        if r is not None:
            rendered.append((k, r))
    rendered.sort()
    return "{" + ",".join('"' + k + '":' + r for k, r in rendered) + "}"


def _sanitize(raw: str, depth: int = SANITIZE_DEPTH) -> str:
    """Twin of ``sanitize_json_fragment``: unparseable input passes
    through unchanged (the map parse's null contract)."""
    try:
        obj = _loads(raw)
    except ValueError:
        return raw
    if not isinstance(obj, _JObj):
        return raw
    return _sanitize_obj(obj, depth)


def sanitize_dynamic_json_pandas(
    df: DataFrame, json_col: str = "payload", out_col: str = "sanitized"
) -> DataFrame:
    """mapInPandas application: all input columns pass through, the
    sanitized column appends — schema-compatible with the Column form's
    ``withColumn``. Null payloads stay null (the Column twin's
    from_json(NULL) -> NULL -> passthrough NULL)."""
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType(df.schema.fields + [StructField(out_col, StringType())])

    def run(batches: Iterator) -> Iterator:
        san = _sanitize  # local bind
        for pdf in batches:
            pdf = pdf.copy(deep=False)
            pdf[out_col] = [
                None if p is None else san(p) for p in pdf[json_col]
            ]
            yield pdf

    return df.mapInPandas(run, schema)
