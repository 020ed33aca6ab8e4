"""Pure-Python JSON Schema (Draft 4) generation + unification algebra.

This is the semantic kernel of the engine: a from-scratch re-expression of the
capabilities of the reference library ``garetht/jsons-to-schema`` (Haskell,
``src/JSONSchema/Draft4/SchemaConverter.hs`` and
``src/JSONSchema/Draft4/SchemaUnification.hs`` upstream; the local checkout at
/root/reference was empty at build time — see SURVEY.md §0 — so every corner
case the survey marks (LC) is PINNED here, each in its own small function, so a
future session can flip any single decision in one place).

Design constraints that matter for the Spark engine built on top:

*   Two ways to compute ``jsonsToSchema``, one answer.  The accumulator
    (:class:`SchemaNode`, :func:`absorb`, :func:`finish`) walks each document
    once into a mutable node per path and builds the schema dict once; it is
    what :func:`jsons_to_schema` and the engine's per-document JSON fallback
    run.  The reference fold ``schemas_to_schema(map(json_to_schema, docs))``
    (generate a dict per document, then ``unify`` pairwise) is kept as the
    oracle the accumulator is property-tested against, as canonical JSON,
    under every config.
*   ``unify`` is **idempotent, commutative and associative** (property-tested in
    ``tests/test_algebra_laws.py``).  That is the license for combining
    finished per-batch and per-partition draft schemas with
    ``RDD.treeAggregate`` — partial merges may arrive in any grouping/order
    and must give a byte-identical result.
*   ``canonical_json`` is a pinned, bit-for-bit stable encoding (sorted keys,
    ``separators=(',', ':')``, no float drift — ints stay ints).  Fixture
    comparison and cross-partition equality checks use this encoding.
*   No Spark imports here.  The module is plain Python + stdlib so the algebra
    is unit-testable in microseconds and shippable to executors via --py-files.

Public API (mirrors the reference's exported surface 1:1):

===============================  ==================================================
reference (Haskell)              this module
===============================  ==================================================
``jsonToSchema``                 :func:`json_to_schema`
``jsonToSchemaWithConfig``       :func:`json_to_schema` (``config=`` kwarg)
``jsonsToSchema``                :func:`jsons_to_schema`
``jsonsToSchemaWithConfig``      :func:`jsons_to_schema` (``config=`` kwarg)
``schemasToSchema``              :func:`schemas_to_schema`
``unifySchemas``                 :func:`unify`
``SchemaGenerationConfig(..)``   :class:`SchemaGenerationConfig`
``defaultSchemaGenerationConfig``  ``SchemaGenerationConfig()``
===============================  ==================================================
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Any, Iterable, Optional

Schema = dict  # a Draft-4 schema fragment as a plain dict

# Canonical order of JSON type names (Draft 4 primitive types).
_TYPE_ORDER = ("array", "boolean", "integer", "null", "number", "object", "string")


@dataclass(frozen=True)
class SchemaGenerationConfig:
    """The reference's only two knobs (upstream
    ``src/JSONSchema/Draft4/SchemaGenerationConfig.hs``): both default False.

    type_arrays_as_tuples: positional ``items`` list instead of unified items.
    seal_object_properties: emit ``additionalProperties: false`` on every
        generated object schema.
    """

    type_arrays_as_tuples: bool = False
    seal_object_properties: bool = False


DEFAULT_CONFIG = SchemaGenerationConfig()


# ---------------------------------------------------------------------------
# Generation (reference G1–G5)
# ---------------------------------------------------------------------------

def _number_type(x: float) -> str:
    """G2 — integral numbers are "integer", others "number".

    PINNED: integrality is a property of the *value* (7.0 → integer), matching
    the reference's ``Scientific`` integrality test.  The Spark front-end must
    therefore classify from raw tokens / Arrow physical types, never after a
    lossy double round-trip (SURVEY.md §7 hard part 1).
    """
    if isinstance(x, int):
        return "integer"
    return "integer" if float(x).is_integer() else "number"


def json_to_schema(value: Any, config: SchemaGenerationConfig = DEFAULT_CONFIG) -> Schema:
    """G1–G5 — generate a Draft-4 schema for one JSON value (one document)."""
    if value is None:
        return {"type": "null"}
    if isinstance(value, bool):  # bool before int: bool is an int subclass
        return {"type": "boolean"}
    if isinstance(value, (int, float)):
        return {"type": _number_type(value)}
    if isinstance(value, str):
        return {"type": "string"}
    if isinstance(value, (list, tuple)):
        return _array_to_schema(list(value), config)
    if isinstance(value, dict):
        return _object_to_schema(value, config)
    raise TypeError(f"not a JSON value: {type(value)!r}")


def _object_to_schema(obj: dict, config: SchemaGenerationConfig) -> Schema:
    """G3 — properties = recursive gen per key; required = ALL present keys."""
    schema: Schema = {"type": "object"}
    if obj:
        schema["properties"] = {k: json_to_schema(v, config) for k, v in obj.items()}
        schema["required"] = sorted(obj.keys())
    if config.seal_object_properties:
        schema["additionalProperties"] = False
    return schema


def _array_to_schema(arr: list, config: SchemaGenerationConfig) -> Schema:
    """G4/G5 — unified (default) vs positional-tuple items; empty ⇒ no items."""
    schema: Schema = {"type": "array"}
    if not arr:
        return schema
    if config.type_arrays_as_tuples:
        schema["items"] = [json_to_schema(v, config) for v in arr]
    else:
        item = json_to_schema(arr[0], config)
        for v in arr[1:]:
            item = unify(item, json_to_schema(v, config))
        schema["items"] = item
    return schema


# ---------------------------------------------------------------------------
# Unification (reference U0–U8) — a join-semilattice up to canonicalization
# ---------------------------------------------------------------------------

def _type_set(schema: Schema) -> frozenset:
    t = schema.get("type")
    if t is None:
        return frozenset()
    if isinstance(t, str):
        return frozenset((t,))
    return frozenset(t)


def _unify_type(a: Schema, b: Schema, out: Schema) -> None:
    """U1 — union of type-name sets; singleton stays a scalar string.

    PINNED (LC corner, fixture A7): "integer" and "number" BOTH stay in the
    set — no absorption of integer into number.  Flip in one place here if a
    populated reference checkout ever shows absorption.
    """
    ts = _type_set(a) | _type_set(b)
    if not ts:
        return
    if len(ts) == 1:
        out["type"] = next(iter(ts))
    else:
        out["type"] = sorted(
            ts, key=lambda t: (_TYPE_ORDER.index(t) if t in _TYPE_ORDER else len(_TYPE_ORDER), t)
        )


def _unify_properties(a: Schema, b: Schema, out: Schema) -> None:
    """U2 — key-wise union; shared keys unify recursively."""
    pa, pb = a.get("properties"), b.get("properties")
    if pa is None and pb is None:
        return
    pa = pa or {}
    pb = pb or {}
    merged = {}
    for k in pa.keys() | pb.keys():
        if k in pa and k in pb:
            merged[k] = unify(pa[k], pb[k])
        else:
            merged[k] = pa.get(k, pb.get(k))
    out["properties"] = merged


def _unify_required(a: Schema, b: Schema, out: Schema) -> None:
    """U3 — set INTERSECTION; absent treated as the empty set; empty ⇒ omitted.

    PINNED: intersecting with an absent ``required`` drops the keyword.  This
    is the sound direction (an object generated from ``{}`` has no required
    keys; keeping the other side's list would reject it).
    """
    ra, rb = a.get("required"), b.get("required")
    if ra is None or rb is None:
        return
    inter = sorted(set(ra) & set(rb))
    if inter:
        out["required"] = inter


def _unify_items(a: Schema, b: Schema, out: Schema) -> None:
    """U4 — items merge.

    dict × dict  → recursive unify.
    list × list  → positional zip-unify; the longer tail is kept as-is.
    dict × list  → PINNED (LC): widen — fold the list positions into the dict
                   (collapse tuple typing to unified form).
    one side absent → PINNED: keep the present side.  Sound for generated
                   schemas: an empty array vacuously satisfies any ``items``.
    """
    ia, ib = a.get("items"), b.get("items")
    if ia is None and ib is None:
        return
    if ia is None or ib is None:
        out["items"] = ia if ia is not None else ib
        return
    if isinstance(ia, dict) and isinstance(ib, dict):
        out["items"] = unify(ia, ib)
    elif isinstance(ia, list) and isinstance(ib, list):
        short, long_ = (ia, ib) if len(ia) <= len(ib) else (ib, ia)
        merged = [unify(x, y) for x, y in zip(ia, ib)]
        merged.extend(long_[len(short):])
        out["items"] = merged
    else:
        lst, dct = (ia, ib) if isinstance(ia, list) else (ib, ia)
        folded = dct
        for s in lst:
            folded = unify(folded, s)
        out["items"] = folded


def _unify_additional(a: Schema, b: Schema, out: Schema, key: str) -> None:
    """U5 — permissive-OR: ``false`` survives only if BOTH sides are sealed.

    PINNED (LC): sealed ∪ unsealed → keyword omitted (permissive).
    """
    if a.get(key) is False and b.get(key) is False:
        out[key] = False


def _unify_range(a: Schema, b: Schema, out: Schema) -> None:
    """U6 — range union: min of minimums / max of maximums; a bound absent on
    either side is widened away.  Exclusive flags (PINNED, LC): the surviving
    bound carries its own flag; on a tie both sides must be exclusive.
    """
    for key, excl_key, pick in (
        ("minimum", "exclusiveMinimum", min),
        ("maximum", "exclusiveMaximum", max),
    ):
        va, vb = a.get(key), b.get(key)
        if va is None or vb is None:
            continue
        winner = pick(va, vb)
        out[key] = winner
        if va == vb:
            excl = bool(a.get(excl_key)) and bool(b.get(excl_key))
        elif winner == va:
            excl = bool(a.get(excl_key))
        else:
            excl = bool(b.get(excl_key))
        if excl:
            out[excl_key] = True


def _unify_enum(a: Schema, b: Schema, out: Schema) -> None:
    """U7 — union of enum value lists, deduped.

    PINNED (LC) ordering: sorted by canonical JSON encoding — order-of-appearance
    would break commutativity, which treeAggregate requires.
    Absent on either side ⇒ omitted (absent = "anything", which absorbs).
    """
    ea, eb = a.get("enum"), b.get("enum")
    if ea is None or eb is None:
        return
    seen = {}
    for v in list(ea) + list(eb):
        seen.setdefault(canonical_json_value(v), v)
    out["enum"] = [seen[k] for k in sorted(seen)]


def _unify_unique_items(a: Schema, b: Schema, out: Schema) -> None:
    """uniqueItems — true survives only if both sides assert it (join)."""
    if a.get("uniqueItems") is True and b.get("uniqueItems") is True:
        out["uniqueItems"] = True


def _unify_pattern(a: Schema, b: Schema, out: Schema) -> None:
    """pattern (ENGINE EXTENSION, Draft-4 §5.2.3) — same flat semilattice
    as format: byte-identical patterns survive, different ones drop (the
    union admits strings matching either, which neither pattern alone
    expresses), absent absorbs.  Generation never emits pattern, so
    reference fixture parity is untouched."""
    pa, pb = a.get("pattern"), b.get("pattern")
    if pa is not None and pa == pb:
        out["pattern"] = pa


def _unify_format(a: Schema, b: Schema, out: Schema) -> None:
    """format (ENGINE EXTENSION, Draft-4 §7) — equal formats survive the
    merge, unequal formats drop to absent (the union of an email column
    and a uri column asserts neither).  Absent absorbs (absent ∪ x =
    absent), so reference-generated schemas — which never carry format —
    unify exactly as before and fixture parity is untouched.  Associative
    + commutative + idempotent: the rule is a semilattice meet on the
    flat domain {absent} ∪ formats."""
    fa, fb = a.get("format"), b.get("format")
    if fa is not None and fa == fb:
        out["format"] = fa


def unify(a: Schema, b: Schema) -> Schema:
    """U0 — binary schema unification (the reference's ``unifySchemas``).

    Associative + commutative + idempotent up to canonical encoding; this is
    the combiner of the engine's ``treeAggregate`` and the reducer of the
    grouped applyInPandas fallback.
    """
    out: Schema = {}
    _unify_type(a, b, out)
    _unify_properties(a, b, out)
    _unify_required(a, b, out)
    _unify_items(a, b, out)
    _unify_additional(a, b, out, "additionalProperties")
    _unify_additional(a, b, out, "additionalItems")
    _unify_range(a, b, out)
    _unify_enum(a, b, out)
    _unify_unique_items(a, b, out)
    _unify_format(a, b, out)
    _unify_pattern(a, b, out)
    return out


def schemas_to_schema(schemas: Iterable[Schema]) -> Schema:
    """U8 — n-ary fold (``foldr1 unifySchemas``); input must be non-empty."""
    it = iter(schemas)
    try:
        acc = next(it)
    except StopIteration:
        raise ValueError("schemas_to_schema: empty input (reference takes NonEmpty)")
    for s in it:
        acc = unify(acc, s)
    return acc


def jsons_to_schema(
    values: Iterable[Any], config: SchemaGenerationConfig = DEFAULT_CONFIG
) -> Schema:
    """gen ∘ fold — the reference's flagship ``jsonsToSchema``, computed by
    the fused accumulator (``absorb`` every value, ``finish`` once)."""
    node = SchemaNode()
    for v in values:
        absorb(node, v, config)
    return finish(node, config)


# ---------------------------------------------------------------------------
# Fused accumulator — generation + unification in one walk per document
# ---------------------------------------------------------------------------
#
# ``schemas_to_schema(json_to_schema(v) for v in values)`` builds a dict per
# document and merges it into the accumulator.  For generated schemas the
# fold's result at each path depends only on a few aggregates of the values
# seen there, so the accumulator keeps exactly those (GenSON's incremental
# ``SchemaBuilder.add_object`` is the same idea):
#
# * U1 type:      the set of type names;
# * U2 properties: one child node per key seen in a non-empty object;
# * U3 required:  the key intersection, emptied for good by any value that
#                 is not a non-empty object (generation gives those no
#                 ``required``, and an absent side drops the keyword);
# * U4 items:     one node for every element (default), or one node per
#                 position (``type_arrays_as_tuples``: zip-unify, the longer
#                 tail kept);
# * U5 additionalProperties: ``false`` iff every value was an object, i.e.
#                 the type set is exactly {"object"} — no separate flag.
#
# ``finish`` builds the dict once.  The two-step fold stays as the test
# oracle (tests/test_algebra_laws.py pins canonical equality under all four
# configs), and ``unify`` stays the combiner of finished partial schemas.

_REQUIRED_DROPPED = frozenset()
_SCALAR_TYPE_NAMES = {
    str: "string",
    int: "integer",
    bool: "boolean",
    type(None): "null",
}


class SchemaNode:
    """Mutable accumulator for every value seen at one document path."""

    __slots__ = ("types", "properties", "required", "items")

    def __init__(self) -> None:
        self.types: set = set()
        self.properties: Optional[dict] = None  # key -> SchemaNode
        self.required: Optional[set] = None  # None until the first value
        self.items = None  # SchemaNode, or list of SchemaNode (tuples)


def absorb(
    node: SchemaNode, value: Any, config: SchemaGenerationConfig = DEFAULT_CONFIG
) -> None:
    """Fold one JSON value into ``node`` (G1–G5 and U0–U5 in one walk)."""
    t = type(value)
    if t is dict:
        _absorb_object(node, value, config)
        return
    if t is list:
        _absorb_array(node, value, config)
        return
    name = _SCALAR_TYPE_NAMES.get(t)
    if name is None:
        if t is float:
            name = "integer" if value.is_integer() else "number"
        elif isinstance(value, dict):
            _absorb_object(node, value, config)
            return
        elif isinstance(value, (list, tuple)):
            _absorb_array(node, value, config)
            return
        else:  # subclasses of scalar types; TypeError for non-JSON values
            name = json_to_schema(value)["type"]
    node.types.add(name)
    node.required = _REQUIRED_DROPPED


def _absorb_object(node: SchemaNode, obj: dict, config: SchemaGenerationConfig) -> None:
    node.types.add("object")
    if not obj:
        node.required = _REQUIRED_DROPPED
        return
    props = node.properties
    if props is None:
        props = node.properties = {}
    for k, v in obj.items():
        child = props.get(k)
        if child is None:
            child = props[k] = SchemaNode()
        absorb(child, v, config)
    req = node.required
    if req is None:
        node.required = set(obj)
    elif req:
        req.intersection_update(obj)


def _absorb_array(node: SchemaNode, arr, config: SchemaGenerationConfig) -> None:
    node.types.add("array")
    node.required = _REQUIRED_DROPPED
    if not arr:
        return
    if config.type_arrays_as_tuples:
        items = node.items
        if items is None:
            items = node.items = []
        while len(items) < len(arr):
            items.append(SchemaNode())
        for child, v in zip(items, arr):
            absorb(child, v, config)
        return
    items = node.items
    if items is None:
        items = node.items = SchemaNode()
    for v in arr:
        absorb(items, v, config)


def finish(node: SchemaNode, config: SchemaGenerationConfig = DEFAULT_CONFIG) -> Schema:
    """The Draft-4 schema of everything absorbed into ``node``."""
    types = node.types
    if not types:
        raise ValueError("jsons_to_schema: empty input (reference takes NonEmpty)")
    schema: Schema = {
        "type": next(iter(types)) if len(types) == 1
        else [t for t in _TYPE_ORDER if t in types]
    }
    if node.properties is not None:
        schema["properties"] = {
            k: finish(child, config) for k, child in node.properties.items()
        }
    if node.required:
        schema["required"] = sorted(node.required)
    items = node.items
    if items is not None:
        schema["items"] = (
            [finish(child, config) for child in items]
            if isinstance(items, list)
            else finish(items, config)
        )
    if config.seal_object_properties and types == {"object"}:
        schema["additionalProperties"] = False
    return schema


# ---------------------------------------------------------------------------
# Canonical encoding (bit-for-bit fixture comparisons, BASELINE.json:6)
# ---------------------------------------------------------------------------

def _canonicalize_numbers(x: Any) -> Any:
    """Pin number formatting: integral floats encode as ints (7.0 → 7)."""
    if isinstance(x, bool):
        return x
    if isinstance(x, float) and x.is_integer():
        return int(x)
    if isinstance(x, dict):
        return {k: _canonicalize_numbers(v) for k, v in x.items()}
    if isinstance(x, list):
        return [_canonicalize_numbers(v) for v in x]
    return x


def canonical_json_value(value: Any) -> str:
    """Pinned canonical encoding of any JSON value."""
    return json.dumps(
        _canonicalize_numbers(value),
        sort_keys=True,
        separators=(",", ":"),
        ensure_ascii=False,
    )


def canonical_json(schema: Schema) -> str:
    """Pinned canonical encoding of a schema (what fixtures compare against)."""
    return canonical_json_value(schema)


def parse_schema(text: str) -> Schema:
    return json.loads(text)


# ---------------------------------------------------------------------------
# Validation (reference V1 — upstream checks generated schemas with the
# hjsonschema validator in its test loop; here it is a first-class operator)
# ---------------------------------------------------------------------------

def _json_pointer(root: Any, ref: str) -> Any:
    """Resolve a local JSON Pointer ('#', '#/definitions/addr', …) against
    the document root, with ~0/~1 unescaping per RFC 6901."""
    if ref == "#":
        return root
    if not ref.startswith("#/"):
        raise ValueError(f"resolve_refs: malformed local $ref {ref!r}")
    node = root
    for raw in ref[2:].split("/"):
        key = raw.replace("~1", "/").replace("~0", "~")
        if isinstance(node, list):
            try:
                node = node[int(key)]
                continue
            except (ValueError, IndexError):
                raise ValueError(f"resolve_refs: unresolvable $ref {ref!r}")
        if isinstance(node, dict) and key in node:
            node = node[key]
        else:
            raise ValueError(f"resolve_refs: unresolvable $ref {ref!r}")
    return node


def _has_ref(node: Any) -> bool:
    if isinstance(node, dict):
        return "$ref" in node or any(_has_ref(v) for v in node.values())
    if isinstance(node, list):
        return any(_has_ref(v) for v in node)
    return False


def resolve_refs(schema: Schema) -> Schema:
    """Inline every LOCAL ``$ref`` (``#/definitions/…`` and friends) so the
    validators, the merge lattice, and the Catalyst compiler never see a
    reference — Draft-4 §7/RFC 6901 local pointers only.  Per spec, a
    ``$ref`` object is REPLACED by its target (sibling keywords ignored).

    Cycles raise: a recursive schema denotes an unbounded structure that
    cannot compile to a bounded Catalyst expression (and cannot be
    inlined); remote/external references raise as documented out of
    scope.  The root ``definitions`` container is dropped from the output
    (it is dead weight once inlined); a PROPERTY literally named
    'definitions' is untouched (the walk never special-cases keys below
    the root)."""
    def deref(node: Any, stack: frozenset) -> Any:
        if isinstance(node, dict):
            ref = node.get("$ref")
            if isinstance(ref, str):
                if not ref.startswith("#"):
                    raise ValueError(
                        f"resolve_refs: non-local $ref {ref!r} unsupported"
                    )
                if ref in stack:
                    raise ValueError(f"resolve_refs: $ref cycle at {ref!r}")
                return deref(_json_pointer(schema, ref), stack | {ref})
            return {k: deref(v, stack) for k, v in node.items()}
        if isinstance(node, list):
            return [deref(v, stack) for v in node]
        return node

    out = deref(schema, frozenset())
    if isinstance(out, dict):
        out.pop("definitions", None)
    return out


def validate(value: Any, schema: Schema) -> list[str]:
    """Validate one JSON value against the engine's Draft-4 keyword set.

    Returns a list of violation strings (empty = valid).  Local ``$ref``
    schemas are inlined first (``resolve_refs``); paths use
    JSON-pointer-ish syntax.
    """
    if _has_ref(schema):
        schema = resolve_refs(schema)
    errors: list[str] = []
    _validate_at(value, schema, "$", errors)
    return errors


def _json_type_of(value: Any) -> str:
    if value is None:
        return "null"
    if isinstance(value, bool):
        return "boolean"
    if isinstance(value, int):
        return "integer"
    if isinstance(value, float):
        return "integer" if value.is_integer() else "number"
    if isinstance(value, str):
        return "string"
    if isinstance(value, (list, tuple)):
        return "array"
    return "object"


def _validate_at(value: Any, schema: Schema, path: str, errors: list[str]) -> None:
    ts = _type_set(schema)
    if ts:
        vt = _json_type_of(value)
        ok = vt in ts or (vt == "integer" and "number" in ts)
        if not ok:
            errors.append(f"{path}: type {vt} not in {sorted(ts)}")
            return
    if isinstance(value, bool):
        pass
    elif isinstance(value, (int, float)):
        mn, mx = schema.get("minimum"), schema.get("maximum")
        if mn is not None:
            if value < mn or (value == mn and schema.get("exclusiveMinimum")):
                errors.append(f"{path}: {value} < minimum {mn}")
        if mx is not None:
            if value > mx or (value == mx and schema.get("exclusiveMaximum")):
                errors.append(f"{path}: {value} > maximum {mx}")
        if "multipleOf" in schema:
            # Draft-4 §5.1.1; % matches the compiled pmod bitwise (both
            # are fmod-plus-sign-adjust on identical doubles)
            m = schema["multipleOf"]
            if m and value % m != 0:
                errors.append(f"{path}: {value} not a multiple of {m}")
    elif isinstance(value, str):
        # engine-side validation keywords (never GENERATED — the reference
        # emits none of these, so fixture parity is unaffected)
        if "minLength" in schema and len(value) < schema["minLength"]:
            errors.append(f"{path}: length {len(value)} < minLength")
        if "maxLength" in schema and len(value) > schema["maxLength"]:
            errors.append(f"{path}: length {len(value)} > maxLength")
        if "format" in schema:
            # Draft-4 §7 optional assertion; annotated via
            # operators.formats.annotate_formats.  Same Java∩RE2∩re
            # dialect patterns as the Spark rlike path; unknown format
            # names are ignored per spec (format is open-vocabulary).
            import re

            from .operators.formats import FORMAT_PATTERNS

            pat = FORMAT_PATTERNS.get(schema["format"])
            if pat is not None and not re.match(pat, value):
                errors.append(
                    f"{path}: value does not match format "
                    f"{schema['format']!r}"
                )
        if "pattern" in schema:
            # Draft-4 §5.2.3: UNANCHORED search semantics (re.search ≡
            # Spark rlike ≡ DuckDB regexp_matches).  User-supplied
            # patterns must stay in the Java∩RE2∩re common dialect for
            # the compiled path to agree.
            import re

            if not re.search(schema["pattern"], value):
                errors.append(
                    f"{path}: value does not match pattern "
                    f"{schema['pattern']!r}"
                )
    elif isinstance(value, dict):
        import re as _re

        props = schema.get("properties", {})
        pprops = schema.get("patternProperties", {})
        if "minProperties" in schema and len(value) < schema["minProperties"]:
            errors.append(f"{path}: {len(value)} keys < minProperties")
        if "maxProperties" in schema and len(value) > schema["maxProperties"]:
            errors.append(f"{path}: {len(value)} keys > maxProperties")
        for k in schema.get("required", []):
            if k not in value:
                errors.append(f"{path}: missing required key {k!r}")
        if schema.get("additionalProperties") is False:
            # Draft-4 §5.4.4: "additional" = matched by neither properties
            # nor any patternProperties pattern
            for k in value:
                if k not in props and not any(
                    _re.search(p, k) for p in pprops
                ):
                    errors.append(f"{path}: additional property {k!r} not allowed")
        for k, v in value.items():
            if k in props:
                _validate_at(v, props[k], f"{path}.{k}", errors)
            for pat, sub in pprops.items():
                # a key can match several patterns AND properties; the child
                # must validate against every applicable subschema (§8.3.3)
                if _re.search(pat, k):
                    _validate_at(v, sub, f"{path}.{k}<pp:{pat}>", errors)
        for dk, dv in schema.get("dependencies", {}).items():
            if dk not in value:
                continue
            if isinstance(dv, (list, tuple)):
                for need in dv:
                    if need not in value:
                        errors.append(
                            f"{path}: key {dk!r} requires key {need!r}"
                            " (dependencies)"
                        )
            elif isinstance(dv, dict):
                _validate_at(value, dv, f"{path}<dep:{dk}>", errors)
    elif isinstance(value, (list, tuple)):
        if "minItems" in schema and len(value) < schema["minItems"]:
            errors.append(f"{path}: {len(value)} items < minItems")
        if "maxItems" in schema and len(value) > schema["maxItems"]:
            errors.append(f"{path}: {len(value)} items > maxItems")
        if schema.get("uniqueItems") is True:
            seen = {canonical_json_value(v) for v in value}
            if len(seen) != len(value):
                errors.append(f"{path}: items not unique")
        items = schema.get("items")
        if isinstance(items, dict):
            for i, v in enumerate(value):
                _validate_at(v, items, f"{path}[{i}]", errors)
        elif isinstance(items, list):
            for i, (v, s) in enumerate(zip(value, items)):
                _validate_at(v, s, f"{path}[{i}]", errors)
            if schema.get("additionalItems") is False and len(value) > len(items):
                errors.append(f"{path}: {len(value) - len(items)} additional items not allowed")
    if "enum" in schema:
        cv = canonical_json_value(value)
        if cv not in {canonical_json_value(e) for e in schema["enum"]}:
            errors.append(f"{path}: value not in enum")
    # Draft-4 §5.5 combinators (ENGINE EXTENSION — generation never emits
    # them, unify drops them (absent absorbs = the loosening union), but a
    # user-authored schema may carry them and both validators must agree).
    if "allOf" in schema:
        for i, sub in enumerate(schema["allOf"]):
            _validate_at(value, sub, f"{path}<allOf[{i}]>", errors)
    if "anyOf" in schema:
        if not any(_is_valid(value, sub) for sub in schema["anyOf"]):
            errors.append(f"{path}: value matches no anyOf branch")
    if "oneOf" in schema:
        n = sum(_is_valid(value, sub) for sub in schema["oneOf"])
        if n != 1:
            errors.append(
                f"{path}: value matches {n} oneOf branches (need exactly 1)"
            )
    if "not" in schema:
        if _is_valid(value, schema["not"]):
            errors.append(f"{path}: value matches the 'not' schema")


def _is_valid(value: Any, schema: Schema) -> bool:
    """Boolean validity for combinator branches — branch-internal errors
    must not leak into the parent's error list (Draft-4 §5.5: anyOf is
    satisfied by ANY valid branch; the failing branches are not faults)."""
    errs: list[str] = []
    _validate_at(value, schema, "$", errs)
    return not errs


# NOTE: {} is NOT a unify identity — ``required``/``minimum``/``enum`` treat
# an absent keyword as absorbing (absent ∪ x = absent), so unify({}, s)
# widens s.  The reference sidesteps this with a NonEmpty input type; the
# engine's distributed folds use ``None`` as the true identity via unify_opt
# (empty partitions contribute None, never {}).


def unify_opt(a: Optional[Schema], b: Optional[Schema]) -> Optional[Schema]:
    """Unify where None is the fold identity (empty partitions)."""
    if a is None:
        return b
    if b is None:
        return a
    return unify(a, b)


# ---------------------------------------------------------------------------
# Schema diff — what widened between two drafts (drift alerting)
# ---------------------------------------------------------------------------

def schema_diff(old: Optional[Schema], new: Schema, path: str = "$") -> list[dict]:
    """Structural changes from ``old`` to ``new`` (expected: new = unify(old,
    batch), so changes are WIDENINGS).  Each entry: {path, change, from, to}.
    Changes reported: new_schema (old is None), type_widened, new_property,
    required_dropped, items_widened (recursed), bounds_widened, enum_grown,
    unsealed.  Drives the streaming drift alerts; pure and Spark-free."""
    if old is None:
        return [{"path": path, "change": "new_schema", "from": None,
                 "to": canonical_json(new)}]
    out: list[dict] = []
    ot, nt = _type_set(old), _type_set(new)
    if ot != nt:
        out.append({"path": path, "change": "type_widened",
                    "from": sorted(ot), "to": sorted(nt)})
    op, np_ = old.get("properties") or {}, new.get("properties") or {}
    for k in sorted(np_.keys() - op.keys()):
        out.append({"path": f"{path}.{k}", "change": "new_property",
                    "from": None, "to": canonical_json(np_[k])})
    for k in sorted(op.keys() & np_.keys()):
        out.extend(schema_diff(op[k], np_[k], f"{path}.{k}"))
    orq, nrq = set(old.get("required") or ()), set(new.get("required") or ())
    dropped = sorted(orq - nrq)
    if dropped:
        out.append({"path": path, "change": "required_dropped",
                    "from": sorted(orq), "to": sorted(nrq)})
    oi, ni = old.get("items"), new.get("items")
    if isinstance(oi, dict) and isinstance(ni, dict):
        out.extend(schema_diff(oi, ni, f"{path}[]"))
    elif oi != ni:
        if ni is not None:
            out.append({"path": f"{path}[]", "change": "items_widened",
                        "from": canonical_json_value(oi) if oi is not None else None,
                        "to": canonical_json_value(ni)})
    for bound in ("minimum", "maximum"):
        if old.get(bound) != new.get(bound):
            out.append({"path": path, "change": "bounds_widened",
                        "from": old.get(bound), "to": new.get(bound)})
    oe, ne = old.get("enum"), new.get("enum")
    if oe is not None and ne is not None and len(ne) > len(oe):
        out.append({"path": path, "change": "enum_grown",
                    "from": len(oe), "to": len(ne)})
    if old.get("additionalProperties") is False and (
        new.get("additionalProperties") is not False
    ):
        out.append({"path": path, "change": "unsealed", "from": False,
                    "to": new.get("additionalProperties")})
    return out


# ---------------------------------------------------------------------------
# Subschema decision — static compatibility analysis (EP3-style surface)
# ---------------------------------------------------------------------------

def _admits_type(schema: Schema, t: str) -> bool:
    """Can a value of JSON type ``t`` pass this schema's type check?"""
    ts = _type_set(schema)
    if not ts:
        return True
    return t in ts or (t == "integer" and "number" in ts)


def _unconstraining(schema: Schema) -> bool:
    """True iff the schema provably accepts EVERY value (no constraining
    keyword).  properties/required/items etc. all constrain."""
    return not any(
        k in schema
        for k in (
            "type", "enum", "minimum", "maximum", "properties", "required",
            "additionalProperties", "items", "additionalItems", "minItems",
            "maxItems", "uniqueItems", "minLength", "maxLength",
        )
    )


def subschema_violations(a: Schema, b: Schema, path: str = "$") -> list[str]:
    """Reasons ``a ⊑ b`` is NOT provable (empty list = proven: every value
    valid under ``a`` is valid under ``b`` per this engine's validator).

    A SOUND, conservative decision procedure over the keyword subset the
    algebra emits: an empty result is a proof; a non-empty result is only
    "unprovable here" (the checks are complete on generated-schema shapes,
    conservative on hand-written corner cases).

    Draft-4 subtlety this makes explicit: ``unify`` is NOT a semantic join —
    adding a property key NARROWS an open object ({"type":"object"} accepts
    {"x":"s"}; unify with {properties:{x:{type:"integer"}}} then rejects
    it), and absent-keyword absorption (absent ∪ x = absent) can OPEN an
    object mid-fold, so ``is_subschema(a, unify(a, b))`` fails even on
    generated schemas (measured ~30% of random generated pairs).  The
    generator's real guarantee is DOC-level — every doc in A validates
    under jsons_to_schema(A ∪ B) — which is strictly weaker than semantic
    inclusion of the schemas.  That gap is exactly why snapshot-compat
    checking needs this decision procedure instead of ``unify(a,b) == b``:
    a widened snapshot can still break readers on documents the old
    corpus never contained.  Property-tested (soundness + reflexivity +
    the doc-level law) in tests/test_algebra_laws.py.
    """
    out: list[str] = []

    # enum fast path: a's admissible values ⊆ a.enum, so checking each enum
    # value against BOTH schemas is complete for every other keyword.
    if "enum" in a:
        for e in a["enum"]:
            if not validate(e, a) and validate(e, b):
                out.append(f"{path}: enum value {canonical_json_value(e)} "
                           f"valid under a but not b")
        return out

    ats, bts = _type_set(a), _type_set(b)
    if bts:
        if not ats:
            out.append(f"{path}: a is type-unconstrained, b requires {sorted(bts)}")
        else:
            for t in sorted(ats):
                if not _admits_type(b, t):
                    out.append(f"{path}: a admits type {t}, b does not")

    if "enum" in b:
        out.append(f"{path}: b has enum, a does not")

    # numeric bounds (vacuous when a admits no numeric values)
    if _admits_type(a, "integer") or _admits_type(a, "number"):
        if "minimum" in b:
            am, bm = a.get("minimum"), b["minimum"]
            strict_b = bool(b.get("exclusiveMinimum"))
            if am is None:
                out.append(f"{path}: b minimum {bm}, a unbounded below")
            elif am < bm or (am == bm and strict_b and not a.get("exclusiveMinimum")):
                out.append(f"{path}: a minimum {am} weaker than b minimum {bm}")
        if "maximum" in b:
            am, bm = a.get("maximum"), b["maximum"]
            strict_b = bool(b.get("exclusiveMaximum"))
            if am is None:
                out.append(f"{path}: b maximum {bm}, a unbounded above")
            elif am > bm or (am == bm and strict_b and not a.get("exclusiveMaximum")):
                out.append(f"{path}: a maximum {am} weaker than b maximum {bm}")

    # string length bounds (vacuous when a admits no strings)
    if _admits_type(a, "string"):
        if "minLength" in b and a.get("minLength", -1) < b["minLength"]:
            out.append(f"{path}: minLength weaker ({a.get('minLength')} < {b['minLength']})")
        if "maxLength" in b and (
            a.get("maxLength") is None or a["maxLength"] > b["maxLength"]
        ):
            out.append(f"{path}: maxLength weaker ({a.get('maxLength')} > {b['maxLength']})")

    # object keywords (vacuous when a admits no objects)
    if _admits_type(a, "object"):
        ap, bp = a.get("properties") or {}, b.get("properties") or {}
        a_sealed = a.get("additionalProperties") is False
        for k in b.get("required") or []:
            if k not in (a.get("required") or []):
                out.append(f"{path}: b requires {k!r}, a does not")
        for k, bsub in bp.items():
            if k in ap:
                out.extend(subschema_violations(ap[k], bsub, f"{path}.{k}"))
            elif a_sealed:
                pass  # field k can never appear under a — vacuously fine
            elif not _unconstraining(bsub):
                out.append(f"{path}.{k}: unconstrained under a, constrained by b")
        if b.get("additionalProperties") is False:
            if not a_sealed:
                out.append(f"{path}: b seals additionalProperties, a is open")
            else:
                for k in ap:
                    if k not in bp:
                        out.append(f"{path}: a allows property {k!r}, b seals it out")

    # array keywords (vacuous when a admits no arrays)
    if _admits_type(a, "array"):
        ai, bi = a.get("items"), b.get("items")
        a_tuple_closed = isinstance(ai, list) and a.get("additionalItems") is False
        if "minItems" in b and a.get("minItems", -1) < b["minItems"]:
            out.append(f"{path}: minItems weaker")
        if "maxItems" in b:
            amax = a.get("maxItems")
            if a_tuple_closed:
                amax = min(amax, len(ai)) if amax is not None else len(ai)
            if amax is None or amax > b["maxItems"]:
                out.append(f"{path}: maxItems weaker")
        if b.get("uniqueItems") is True and a.get("uniqueItems") is not True:
            out.append(f"{path}: b requires uniqueItems")
        if isinstance(bi, dict) and not _unconstraining(bi):
            if isinstance(ai, dict):
                out.extend(subschema_violations(ai, bi, f"{path}[]"))
            elif isinstance(ai, list):
                for i, asub in enumerate(ai):
                    out.extend(subschema_violations(asub, bi, f"{path}[{i}]"))
                if not a_tuple_closed:
                    out.append(f"{path}[]: open tuple tail unconstrained under a")
            else:
                out.append(f"{path}[]: elements unconstrained under a")
        elif isinstance(bi, list):
            for i, bsub in enumerate(bi):
                if _unconstraining(bsub):
                    continue
                if isinstance(ai, dict):
                    out.extend(subschema_violations(ai, bsub, f"{path}[{i}]"))
                elif isinstance(ai, list) and i < len(ai):
                    out.extend(subschema_violations(ai[i], bsub, f"{path}[{i}]"))
                elif isinstance(ai, list) and a_tuple_closed:
                    pass  # position i can never exist under a
                else:
                    out.append(f"{path}[{i}]: unconstrained under a, constrained by b")
            if b.get("additionalItems") is False:
                if not a_tuple_closed or len(ai) > len(bi):
                    out.append(f"{path}: b closes additionalItems, a tail is open")

    return out


def is_subschema(a: Schema, b: Schema) -> bool:
    """True iff provably every value valid under ``a`` is valid under ``b``
    (see subschema_violations)."""
    return not subschema_violations(a, b)


def compat_report(old: Optional[Schema], new: Schema) -> dict:
    """Snapshot-evolution compatibility verdict between two unified schemas.

    backward_compatible: documents valid under OLD stay valid under NEW
    (old ⊑ new) — readers pinned to the new schema accept all old data.
    forward_compatible: new documents are valid under OLD (new ⊑ old) —
    old readers keep working.  changes: the schema_diff paths that moved.
    """
    if old is None:
        return {
            "backward_compatible": True,
            "forward_compatible": False,
            "n_changes": 1,
            "breaking_for_old_readers": ["$: no previous schema"],
        }
    back = subschema_violations(old, new)
    fwd = subschema_violations(new, old)
    return {
        "backward_compatible": not back,
        "forward_compatible": not fwd,
        "n_changes": len(schema_diff(old, new)),
        "breaking_for_old_readers": fwd,
    }
