"""Distributed inference — correctness vs the pure-Python algebra, and
partition invariance (the treeAggregate license, fixture A15)."""

import json

import pytest

from jsons_to_schema_spark.operators.infer import (
    infer_from_json_column,
    infer_from_struct,
    infer_grouped,
)
from jsons_to_schema_spark.schema_algebra import (
    canonical_json,
    jsons_to_schema,
    validate,
)
from jsons_to_schema_spark.sources.spans import ensure_corpus
from jsons_to_schema_spark.sources.tables import load_spans, load_table

from .conftest import SF_SMOKE

DOCS = [
    {"a": 1, "b": "x"},
    {"a": 2.5, "c": [1, 2]},
    {"a": 3, "b": "y", "c": ["z"]},
    {},
    {"d": {"e": None, "f": True}},
] * 40  # 200 docs


@pytest.fixture(scope="module")
def json_df(spark):
    rows = [(json.dumps(d),) for d in DOCS]
    return spark.createDataFrame(rows, "doc string")


def test_json_inference_matches_pure_python(spark, json_df):
    expected = canonical_json(jsons_to_schema(DOCS))
    schema, n = infer_from_json_column(json_df, "doc")
    assert n == len(DOCS)
    assert canonical_json(schema) == expected


@pytest.mark.parametrize("k", [1, 2, 8, 32, 300])
def test_partition_invariance(spark, json_df, k):
    """A15 — byte-identical unified schema at any partitioning; k=300 takes
    _tree_merge's treeAggregate branch (more than 256 partials)."""
    expected = canonical_json(jsons_to_schema(DOCS))
    schema, n = infer_from_json_column(json_df.repartition(k), "doc")
    assert canonical_json(schema) == expected
    assert n == len(DOCS)


def test_struct_inference_spans(spark):
    """Arrow-native structured inference over the canonical spans table."""
    corpus = ensure_corpus(2000)
    df = load_spans(spark, corpus)
    schema, n = infer_from_struct(df)
    assert n == df.count()
    # shape assertions: object with doc_id (required, string) and spans array
    assert schema["type"] == "object"
    assert schema["properties"]["doc_id"] == {"type": "string"}
    assert "doc_id" in schema["required"]
    spans = schema["properties"]["spans"]
    assert spans["type"] == "array"
    item = spans["items"]
    assert item["type"] == "object"
    assert item["properties"]["offset"] == {"type": "integer"}
    assert item["properties"]["kind"] == {"type": "string"}
    # text/media_ref are null on some spans → not required
    req = set(item.get("required", []))
    assert "kind" in req and "offset" in req
    assert "text" not in req and "media_ref" not in req


def test_struct_inference_validates_sample(spark):
    """Soundness at the Spark boundary: docs reconstructed from rows validate."""
    corpus = ensure_corpus(2000)
    df = load_spans(spark, corpus)
    schema, _ = infer_from_struct(df)
    for row in df.limit(50).collect():
        doc = {
            "doc_id": row.doc_id,
            "spans": [
                {k: v for k, v in s.asDict().items() if v is not None}
                for s in row.spans
            ],
        }
        assert validate(doc, schema) == []


def test_events_props_sf0001(spark):
    df = load_table(spark, SF_SMOKE, "events")
    schema, n = infer_from_json_column(df, "props")
    assert n == 1000
    assert canonical_json(schema) == (
        '{"properties":{"k":{"type":"integer"}},"required":["k"],"type":"object"}'
    )


def test_infer_grouped_by_event_type(spark):
    df = load_table(spark, SF_SMOKE, "events")
    out = infer_grouped(df, "event_type", "props").collect()
    assert len(out) == df.select("event_type").distinct().count()
    for r in out:
        s = json.loads(r.unified_schema)
        assert s["properties"]["k"]["type"] == "integer"


def test_infer_grouped_salt_invariant(spark):
    """The salted two-stage grouped fold (skew path for hot groups) must
    produce exactly the single-stage result — associativity in action."""
    df = load_table(spark, SF_SMOKE, "events")
    single = {
        (r.event_type, r.unified_schema, r.n_docs)
        for r in infer_grouped(df, "event_type", "props", salt=1).collect()
    }
    salted = {
        (r.event_type, r.unified_schema, r.n_docs)
        for r in infer_grouped(df, "event_type", "props", salt=16).collect()
    }
    assert single == salted


def test_malformed_json_fail_and_skip(spark):
    """on_error='fail' names the bad document; on_error='skip' drops it from
    the fold AND the count (a malformed doc also knocks the whole batch off
    the columnar fast path — the Python fallback must handle both modes)."""
    import pytest as _pytest

    from jsons_to_schema_spark.operators.infer import infer_from_json_column
    from jsons_to_schema_spark.schema_algebra import canonical_json, jsons_to_schema

    good = [{"k": 1}, {"k": 2}, {"k": 3}]
    rows = [(json.dumps(d),) for d in good] + [("{not json",)]
    df = spark.createDataFrame(rows, "doc string")

    with _pytest.raises(Exception, match="not json|malformed"):
        infer_from_json_column(df, "doc", on_error="fail")

    schema, n = infer_from_json_column(df, "doc", on_error="skip")
    assert n == len(good)
    assert canonical_json(schema) == canonical_json(jsons_to_schema(good))


def test_empty_input_raises_nonempty_contract(spark):
    from jsons_to_schema_spark.operators.infer import (
        infer_from_json_column,
        infer_from_struct,
    )

    import pytest as _pytest

    empty = spark.createDataFrame([], "doc string")
    with _pytest.raises(ValueError, match="NonEmpty"):
        infer_from_json_column(empty, "doc")
    with _pytest.raises(ValueError, match="[Nn]o rows"):
        infer_from_struct(empty)
