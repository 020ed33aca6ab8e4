"""Hypothesis property tests — the laws that license treeAggregate.

Mirrors the reference's QuickCheck properties (SURVEY.md §5.1): unification is
idempotent, commutative and associative (up to canonical JSON encoding), and
the generated schema validates its own inputs (soundness).  Associativity +
commutativity are what make the engine's per-partition fold → treeAggregate
legal at any partitioning (BASELINE.json:6 "associative schema-merge lattice").
"""

import json

import pytest
from hypothesis import given, settings, strategies as st

from jsons_to_schema_spark.schema_algebra import (
    SchemaGenerationConfig,
    SchemaNode,
    absorb,
    canonical_json,
    finish,
    json_to_schema,
    jsons_to_schema,
    schemas_to_schema,
    unify,
    unify_opt,
    validate,
)

json_values = st.recursive(
    st.none()
    | st.booleans()
    | st.integers(min_value=-(2**53), max_value=2**53)
    | st.floats(allow_nan=False, allow_infinity=False, width=32)
    | st.text(max_size=8),
    lambda children: st.lists(children, max_size=4)
    | st.dictionaries(st.text(max_size=4), children, max_size=4),
    max_leaves=12,
)

ALL_CONFIGS = [
    SchemaGenerationConfig(),
    SchemaGenerationConfig(type_arrays_as_tuples=True),
    SchemaGenerationConfig(seal_object_properties=True),
    SchemaGenerationConfig(type_arrays_as_tuples=True, seal_object_properties=True),
]
configs = st.sampled_from(ALL_CONFIGS)


def c(schema):
    return canonical_json(schema)


@settings(max_examples=300, deadline=None)
@given(json_values, configs)
def test_idempotent(v, cfg):
    s = json_to_schema(v, cfg)
    assert c(unify(s, s)) == c(s)


@settings(max_examples=300, deadline=None)
@given(json_values, json_values, configs)
def test_commutative(a, b, cfg):
    sa, sb = json_to_schema(a, cfg), json_to_schema(b, cfg)
    assert c(unify(sa, sb)) == c(unify(sb, sa))


@settings(max_examples=300, deadline=None)
@given(json_values, json_values, json_values, configs)
def test_associative(a, b, d, cfg):
    sa, sb, sd = (json_to_schema(x, cfg) for x in (a, b, d))
    assert c(unify(unify(sa, sb), sd)) == c(unify(sa, unify(sb, sd)))


@settings(max_examples=150, deadline=None)
@given(st.lists(json_values, min_size=1, max_size=8))
def test_soundness(docs):
    schema = jsons_to_schema(docs)
    for doc in docs:
        assert validate(doc, schema) == [], (doc, schema)


@settings(max_examples=100, deadline=None)
@given(st.lists(json_values, min_size=1, max_size=12), st.randoms())
def test_fold_order_invariance(docs, rng):
    """Any shuffling + any binary tree grouping gives the same schema —
    the exact property a shuffled treeAggregate relies on."""
    schemas = [json_to_schema(d) for d in docs]
    linear = schemas_to_schema(schemas)
    shuffled = list(schemas)
    rng.shuffle(shuffled)
    # random binary tree fold via unify_opt with None identity mixed in
    acc = None
    for s in shuffled:
        acc = unify_opt(acc, s) if rng.random() < 0.5 else unify_opt(s, acc)
    assert c(acc) == c(linear)


@settings(max_examples=100, deadline=None)
@given(json_values)
def test_canonical_roundtrip(v):
    """Canonical encoding is stable under parse → re-encode."""
    s = json_to_schema(v)
    once = canonical_json(s)
    assert canonical_json(json.loads(once)) == once


def test_schema_diff_detects_exactly_the_widenings():
    """Invariant: diff(old, unify(old, new)) is empty iff the unify was a
    no-op — over a battery of random document folds."""
    import random

    from jsons_to_schema_spark.schema_algebra import (
        canonical_json,
        jsons_to_schema,
        schema_diff,
        unify,
    )

    rng = random.Random(5)

    def doc():
        keys = rng.sample(["a", "b", "c", "d"], rng.randint(1, 4))
        out = {}
        for k in keys:
            out[k] = rng.choice(
                [1, 2.5, "s", True, None, [1, 2], {"x": 1}, [], {}]
            )
        return out

    for _ in range(300):
        old = jsons_to_schema([doc() for _ in range(rng.randint(1, 4))])
        merged = unify(old, jsons_to_schema([doc() for _ in range(rng.randint(1, 3))]))
        changes = schema_diff(old, merged)
        unchanged = canonical_json(old) == canonical_json(merged)
        assert (not changes) == unchanged, (old, merged, changes)


@given(st.lists(json_values, min_size=1, max_size=5),
       st.lists(json_values, min_size=1, max_size=5))
@settings(max_examples=150, deadline=None)
def test_subschema_sound_on_generated_pairs(A, B):
    """Soundness of the subschema decision: whenever is_subschema(sa, sb)
    claims containment, no document that generated sa may violate sb.
    (The reverse — completeness — is intentionally not claimed: the
    procedure is conservative; see subschema_violations docstring.)"""
    from jsons_to_schema_spark.schema_algebra import (
        is_subschema,
        jsons_to_schema,
        validate,
    )

    sa, sb = jsons_to_schema(A), jsons_to_schema(B)
    assert is_subschema(sa, sa) and is_subschema(sb, sb)  # reflexivity
    if is_subschema(sa, sb):
        for d in A:
            if not validate(d, sa):
                assert not validate(d, sb), (d, sa, sb)


@given(st.lists(json_values, min_size=1, max_size=5),
       st.lists(json_values, min_size=1, max_size=5))
@settings(max_examples=150, deadline=None)
def test_doc_level_upper_bound_law(A, B):
    """The generator's real guarantee (strictly weaker than schema-level
    inclusion): every doc of A ∪ B validates under jsons_to_schema(A ∪ B)."""
    from jsons_to_schema_spark.schema_algebra import jsons_to_schema, validate

    merged = jsons_to_schema(A + B)
    for d in A + B:
        assert not validate(d, merged), (d, merged)


# ---------------------------------------------------------------------------
# The fused accumulator (absorb/finish) against the reference fold
# ---------------------------------------------------------------------------

def _accumulated(docs, cfg):
    node = SchemaNode()
    for d in docs:
        absorb(node, d, cfg)
    return finish(node, cfg)


def _reference(docs, cfg):
    return schemas_to_schema(json_to_schema(d, cfg) for d in docs)


@settings(max_examples=400, deadline=None)
@given(st.lists(json_values, min_size=1, max_size=8), configs)
def test_accumulator_equals_reference_fold(docs, cfg):
    assert c(_accumulated(docs, cfg)) == c(_reference(docs, cfg))


ACCUMULATOR_CASES = {
    "null_next_to_value": [{"a": None}, {"a": 1}, None, {"a": "s"}],
    "int_valued_float": [{"a": 7.0}, {"a": 7}, {"b": [7.0, 2.5]}],
    "empty_object_top": [{}, {"a": 1}],
    "empty_array_top": [[], [1]],
    "empty_nested": [{"o": {}, "xs": []}, {"o": {"b": 1}, "xs": [[], [{}]]}],
    "optional_key": [{"a": 1, "b": 2}, {"a": 3}, {"a": 4, "c": True}],
    "mixed_scalar_types": [{"a": 1}, {"a": "s"}, {"a": 2.5}, {"a": False}],
    "object_against_scalar": [{"a": {"x": 1}}, {"a": 3}, {"a": {"x": 2}}],
    "object_against_array": [{"a": {"x": 1}}, {"a": [{"x": 1}]}],
    "arrays_of_objects": [{"xs": [{"a": 1}, {"a": 2, "b": "s"}]}, {"xs": [{"a": None}]}],
    "tuples_unequal_length": [[1, "s"], [2], [3.5, "t", None], []],
    "top_level_scalars": [1, "s", True, None, 2.5],
    "top_level_arrays": [[1, 2], ["a"], [[1], {"k": 1}]],
    "top_level_object_and_scalar": [{"k": 1}, 3, {"k": 2}],
    "python_tuples": [(1, "s"), {"t": (True, None)}, [2.5]],
}


@pytest.mark.parametrize("cfg", ALL_CONFIGS, ids=["default", "tuple", "seal", "tuple_seal"])
@pytest.mark.parametrize("docs", ACCUMULATOR_CASES.values(), ids=ACCUMULATOR_CASES.keys())
def test_accumulator_corner_cases(docs, cfg):
    assert c(_accumulated(docs, cfg)) == c(_reference(docs, cfg))


def test_accumulator_pins_the_corner_semantics():
    assert _accumulated([7.0], SchemaGenerationConfig()) == {"type": "integer"}
    # a scalar at an object path drops required there, keeps properties
    s = _accumulated(ACCUMULATOR_CASES["object_against_scalar"], SchemaGenerationConfig())
    a = s["properties"]["a"]
    assert a["type"] == ["integer", "object"] and "required" not in a
    assert a["properties"] == {"x": {"type": "integer"}}
    # sealed only where every value was an object
    sealed = SchemaGenerationConfig(seal_object_properties=True)
    s = _accumulated([{"a": {}}, {"a": 1}], sealed)
    assert s["additionalProperties"] is False
    assert "additionalProperties" not in s["properties"]["a"]
    with pytest.raises(ValueError, match="NonEmpty"):
        finish(SchemaNode())
    with pytest.raises(TypeError, match="not a JSON value"):
        absorb(SchemaNode(), {"a": object()})
