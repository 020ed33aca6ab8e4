"""Distributed schema inference — the engine's flagship operator.

Re-expresses the reference's ``jsonsToSchema`` fold (upstream
``SchemaConverter.hs::jsonsToSchema`` = per-doc generation + ``foldr1
unifySchemas``) as idiomatic Spark:

1.  ``df.mapInArrow`` — Arrow record batches cross the JVM→Python boundary
    once; inside, each batch yields one draft (columnar fast path, or the
    fused ``schema_algebra`` accumulator that does generation G1-G5 and
    unification U0-U8 in one walk per document), and the batch drafts unify
    to ONE draft per partition.  Output: a tiny DataFrame of (draft json,
    doc count) — one row per non-empty partition.
2.  The partials merge on the driver: a plain ``collect()`` of the
    KB-scale rows at up to 256 partials (no Python worker runs for it), and
    ``RDD.treeAggregate`` above that — a logarithmic merge tree so the
    driver never sees more than a handful of accumulators at once.  Legal
    because unify is associative + commutative (property-tested); this is the
    direct analog of the reference's fold, parallelized.

Every worker-side function here starts with
``session.trim_worker_import_cache()``, so a Python worker pays pyspark's
per-task import setup about once per process, not once per task.

Two front-ends:

* ``infer_from_json_column`` — a StringType column of JSON documents.  The
  unavoidable ``json.loads`` runs inside the Arrow batch (batched transfer,
  no per-row Python UDF in the Spark sense).
* ``infer_from_struct`` — structured (parquet/Iceberg) rows.  Fully
  vectorized: the draft schema is derived from the Arrow *type* plus
  per-batch validity bitmaps and integrality checks — no per-row Python at
  all.  A null Spark value is treated as "key absent from the document"
  (PINNED), so ``required`` = never-null fields, matching the reference's
  required = keys-present-in-every-doc.
"""

from __future__ import annotations

import json
from typing import Iterator, Optional

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from ..schema_algebra import (
    SchemaGenerationConfig,
    DEFAULT_CONFIG,
    Schema,
    SchemaNode,
    absorb,
    canonical_json,
    finish,
    parse_schema,
    unify,
    unify_opt,
)
from ..session import trim_worker_import_cache

PARTIAL_SCHEMA = "draft string, n_docs long"


# ---------------------------------------------------------------------------
# Arrow-native draft derivation (structured front-end) — vectorized
# ---------------------------------------------------------------------------

_INT_TYPES = (
    pa.int8(), pa.int16(), pa.int32(), pa.int64(),
    pa.uint8(), pa.uint16(), pa.uint32(), pa.uint64(),
)


def _arrow_array_to_draft(arr: pa.Array, config: SchemaGenerationConfig) -> Optional[Schema]:
    """Draft schema of the *present* (non-null) values of one Arrow array.

    Returns None when every value is null (key absent from all docs).
    Vectorized: type from the Arrow type; integer-vs-number from a whole-array
    integrality check on the raw values (never through pandas float coercion —
    SURVEY.md §7 hard part 1).
    """
    arr = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
    n_valid = len(arr) - arr.null_count
    if n_valid == 0:
        return None
    t = arr.type
    if pa.types.is_boolean(t):
        return {"type": "boolean"}
    if pa.types.is_integer(t):
        return {"type": "integer"}
    if pa.types.is_decimal(t):
        # EXACT integrality over Decimal objects — the float64 round-trip
        # silently classified huge non-integral decimals as integers (r3
        # review; violates the module's no-lossy-double rule)
        ints = all(
            v == v.to_integral_value() for v in arr.drop_null().to_pylist()
        )
        return {"type": "integer" if ints else "number"}
    if pa.types.is_floating(t):
        vals = arr.drop_null().to_numpy(zero_copy_only=False).astype(np.float64)
        return {"type": "integer" if np.all(vals == np.floor(vals)) else "number"}
    if (
        pa.types.is_string(t)
        or pa.types.is_large_string(t)
        or pa.types.is_timestamp(t)
        or pa.types.is_date(t)
        or pa.types.is_binary(t)
        or pa.types.is_large_binary(t)
    ):
        # timestamps/dates/binary are strings to the reference's data model
        return {"type": "string"}
    if pa.types.is_null(t):
        return {"type": "null"}
    if pa.types.is_struct(t):
        return _arrow_struct_to_draft(arr, config)
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        values = arr.flatten()  # child values of the non-null lists
        schema: Schema = {"type": "array"}
        item = _arrow_array_to_draft(values, config)
        if item is not None:
            items_schema = item
            # lists whose elements include nulls: element type gains "null"
            if values.null_count > 0:
                items_schema = unify(item, {"type": "null"})
            schema["items"] = items_schema
        elif len(values) > 0:
            schema["items"] = {"type": "null"}
        return schema
    if pa.types.is_map(t):
        # map<string, V> — JSON object with data-dependent keys: type object,
        # no stable properties (PINNED: properties omitted, keys are data)
        return {"type": "object"}
    raise TypeError(f"unsupported arrow type for inference: {t}")


def _arrow_struct_to_draft(arr: pa.Array, config: SchemaGenerationConfig) -> Schema:
    """Struct array → object draft.  required = fields non-null in every
    present (non-null) struct row; a field null in some rows is optional."""
    arr = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
    if arr.null_count > 0:
        arr = arr.drop_null()
    n = len(arr)
    schema: Schema = {"type": "object"}
    props = {}
    required = []
    for i, field in enumerate(arr.type):
        child = arr.field(i)
        sub = _arrow_array_to_draft(child, config)
        if sub is None:
            continue  # field never present
        props[field.name] = sub
        if child.null_count == 0 and n > 0:
            required.append(field.name)
    if props:
        schema["properties"] = props
        if required:
            schema["required"] = sorted(required)
    if config.seal_object_properties:
        schema["additionalProperties"] = False
    return schema


def _batch_to_draft_struct(batch: pa.RecordBatch, config: SchemaGenerationConfig) -> Optional[Schema]:
    if batch.num_rows == 0:
        return None
    struct = pa.StructArray.from_arrays(
        [batch.column(i) for i in range(batch.num_columns)],
        names=batch.schema.names,
    )
    return _arrow_struct_to_draft(struct, config)


# ---------------------------------------------------------------------------
# JSON front-end batch accumulation — two kernels, one batch draft
#
# Fast path: the whole Arrow batch of JSON strings is parsed in ONE
# pyarrow.json C++ call (newline-joined — raw newlines are illegal inside
# JSON strings, so the join is unambiguous) and the batch draft is derived
# columnar-ly.  The fast path BAILS whenever Arrow's column-level inference
# would lose per-document information:
#
# * any null anywhere — Arrow cannot distinguish a literal ``null`` value
#   (type "null", key present/required) from an absent key (not required);
# * parse failure / non-record documents / mixed-type columns — Arrow errors;
# * tuple-typing config — positional items have no columnar analog.
#
# What it CAN recover exactly: integer-vs-number per G2 is a property of the
# VALUE (7.0 → integer, PINNED), so a float64 column classifies by whole-
# column integrality masks; empty arrays are fine because U4 keeps the
# present side's ``items``.
#
# Fallback: ``json.loads`` per document, each absorbed into ONE
# ``schema_algebra.SchemaNode`` per batch (the fused accumulator), finished
# to a dict once.  ``unify`` only combines finished drafts: batch drafts
# within a partition, then partition drafts in ``_tree_merge``.  The
# reference two-step fold ``schemas_to_schema(map(json_to_schema, docs))``
# is the oracle both kernels are held to, as canonical JSON, in
# tests/test_infer_fastpath.py on crafted + randomized documents.
# ---------------------------------------------------------------------------

def _json_arrow_value_draft(
    arr, config: SchemaGenerationConfig
) -> Optional[Schema]:
    """Draft for one parsed-JSON Arrow column; None = outside the fast path
    (caller falls back to the per-document accumulator)."""
    import numpy as np

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if arr.null_count > 0:
        return None  # literal-null vs absent-key is not recoverable
    t = arr.type
    if pa.types.is_boolean(t):
        return {"type": "boolean"}
    if pa.types.is_integer(t):
        return {"type": "integer"}
    if pa.types.is_floating(t):
        vals = arr.to_numpy(zero_copy_only=False)
        integral = vals == np.floor(vals)
        if integral.all():
            return {"type": "integer"}
        if not integral.any():
            return {"type": "number"}
        return {"type": ["integer", "number"]}  # U1 order: _TYPE_ORDER
    if (
        pa.types.is_string(t)
        or pa.types.is_large_string(t)
        or pa.types.is_timestamp(t)
        or pa.types.is_date(t)
        or pa.types.is_time(t)
    ):
        # Arrow's JSON reader may infer timestamps/dates from ISO strings;
        # the reference data model has only strings there.
        return {"type": "string"}
    if pa.types.is_struct(t):
        schema: Schema = {"type": "object"}
        props, required = {}, []
        for i, field in enumerate(t):
            sub = _json_arrow_value_draft(arr.field(i), config)
            if sub is None:
                return None
            props[field.name] = sub
            required.append(field.name)
        if props:
            schema["properties"] = props
            schema["required"] = sorted(required)
        if config.seal_object_properties:
            schema["additionalProperties"] = False
        return schema
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        values = arr.flatten()
        schema = {"type": "array"}
        if len(values) > 0:
            item = _json_arrow_value_draft(values, config)
            if item is None:
                return None
            schema["items"] = item
        # all-empty arrays: items absent (G4); a mix of empty and non-empty
        # is exact because U4 keeps the present side's items
        return schema
    return None


def _fast_json_batch_draft(
    texts, config: SchemaGenerationConfig
) -> Optional[tuple[Schema, int]]:
    """One C++ parse + columnar draft for a batch of JSON document strings;
    None = use the per-document accumulator."""
    import io

    from pyarrow import json as pj

    if config.type_arrays_as_tuples:
        return None
    n = len(texts)
    if n == 0:
        return None
    payload = "\n".join(texts.to_pylist()).encode("utf-8")
    try:
        tbl = pj.read_json(
            io.BytesIO(payload),
            parse_options=pj.ParseOptions(newlines_in_values=False),
        )
    except pa.ArrowException:  # invalid JSON / mixed types / overflow / ...
        return None
    if tbl.num_rows != n or tbl.num_columns == 0:
        return None
    schema: Schema = {"type": "object"}
    props, required = {}, []
    try:
        subs = {
            name: _json_arrow_value_draft(tbl.column(name), config)
            for name in tbl.column_names
        }
    except pa.ArrowException:  # odd layouts arrow parsed but can't flatten
        return None
    for name, sub in subs.items():
        if sub is None:
            return None
        props[name] = sub
        required.append(name)
    schema["properties"] = props
    schema["required"] = sorted(required)
    if config.seal_object_properties:
        schema["additionalProperties"] = False
    return schema, n


def _batch_to_draft_json(
    batch: pa.RecordBatch, col: str, config: SchemaGenerationConfig, on_error: str
) -> tuple[Optional[Schema], int]:
    texts = batch.column(col).drop_null()
    fast = _fast_json_batch_draft(texts, config)
    if fast is not None:
        return fast
    node = SchemaNode()
    n = 0
    for s in texts.to_pylist():
        try:
            doc = json.loads(s)
        except json.JSONDecodeError as exc:
            if on_error == "skip":
                continue
            raise ValueError(
                f"malformed JSON document (set on_error='skip' to drop): "
                f"{s[:120]!r} — {exc}"
            ) from None
        absorb(node, doc, config)
        n += 1
    return (finish(node, config) if n else None), n


# ---------------------------------------------------------------------------
# Partition accumulators (run on executors inside mapInArrow)
# ---------------------------------------------------------------------------

def _partial_batch(draft: Optional[Schema], n: int) -> Iterator[pa.RecordBatch]:
    if draft is None:
        return
    yield pa.RecordBatch.from_pydict(
        {"draft": [canonical_json(draft)], "n_docs": [n]},
        schema=pa.schema([("draft", pa.string()), ("n_docs", pa.int64())]),
    )


def _make_json_accumulator(col: str, config: SchemaGenerationConfig, on_error: str):
    def accumulate(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        trim_worker_import_cache()
        acc: Optional[Schema] = None
        n = 0
        for batch in batches:
            d, k = _batch_to_draft_json(batch, col, config, on_error)
            acc = unify_opt(acc, d)
            n += k
        yield from _partial_batch(acc, n)

    return accumulate


def _make_struct_accumulator(config: SchemaGenerationConfig):
    def accumulate(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        trim_worker_import_cache()
        acc: Optional[Schema] = None
        n = 0
        for batch in batches:
            acc = unify_opt(acc, _batch_to_draft_struct(batch, config))
            n += batch.num_rows
        yield from _partial_batch(acc, n)

    return accumulate


# ---------------------------------------------------------------------------
# Merge (treeAggregate) + public API
# ---------------------------------------------------------------------------

def _tree_merge(partials: DataFrame, n_parts: int) -> tuple[Optional[Schema], int]:
    """Merge of per-partition (draft, count) rows; ``n_parts`` is the input's
    partition count, which ``mapInArrow`` keeps.

    Up to 256 partials (one KB-scale row each) the driver folds a plain
    DataFrame ``collect()``: the JVM serializes the rows, so no Python worker
    runs for the merge.  At 10^5+ partitions a treeAggregate keeps every
    merge fan-in bounded instead of funneling all partials straight to the
    driver — same associative fold.
    """
    if n_parts <= 256:
        acc: Optional[Schema] = None
        n = 0
        for r in partials.collect():
            acc = unify_opt(acc, parse_schema(r["draft"]))
            n += r["n_docs"]
        return acc, n
    depth = max(2, int(np.ceil(np.log(n_parts) / np.log(4))))
    rdd = partials.rdd.map(lambda r: (r["draft"], int(r["n_docs"])))
    schema, n_docs = rdd.treeAggregate(
        (None, 0), _merge_seq, _merge_comb, depth=depth
    )
    return schema, n_docs


def _merge_seq(acc, item):
    """treeAggregate seqOp: fold one (draft json, count) partial."""
    trim_worker_import_cache()
    draft, n = item
    return (unify_opt(acc[0], parse_schema(draft)), acc[1] + n)


def _merge_comb(a, b):
    """treeAggregate combOp: unify two (schema, count) accumulators."""
    trim_worker_import_cache()
    return (unify_opt(a[0], b[0]), a[1] + b[1])


def _ensure_parallelism(df: DataFrame) -> tuple[DataFrame, int]:
    """The Python fold's cost is per document, not per byte — a small input
    file must not serialize the fold onto one worker.  If the scan yields
    fewer partitions than default parallelism, shuffle the (already
    column-pruned) input out to the cores; the shuffle moves only the column
    being folded and is legal because unify is order-insensitive.

    Returns the DataFrame and its partition count, planned once here."""
    target = df.sparkSession.sparkContext.defaultParallelism
    n_parts = df.rdd.getNumPartitions()
    if n_parts < target:
        return df.repartition(target), target
    return df, n_parts


def infer_from_json_column(
    df: DataFrame,
    column: str,
    config: SchemaGenerationConfig = DEFAULT_CONFIG,
    on_error: str = "fail",
) -> tuple[Schema, int]:
    """Unified Draft-4 schema over a JSON-string column.  Returns
    (schema dict, number of documents folded).

    on_error: 'fail' raises a clear error naming the bad document;
    'skip' drops undecodable documents (they are excluded from the count)."""
    src, n_parts = _ensure_parallelism(df.select(column))
    partials = src.mapInArrow(
        _make_json_accumulator(column, config, on_error), PARTIAL_SCHEMA
    )
    schema, n = _tree_merge(partials, n_parts)
    if schema is None:
        raise ValueError("infer_from_json_column: no documents (reference takes NonEmpty)")
    return schema, n


def infer_from_struct(
    df: DataFrame,
    config: SchemaGenerationConfig = DEFAULT_CONFIG,
    columns: Optional[list[str]] = None,
    engine: str = "auto",
) -> tuple[Schema, int]:
    """Unified Draft-4 schema over structured rows (each row = one JSON
    object; null = key absent).

    engine='native' (default via 'auto'): the inference compiles to ONE
    whole-stage-codegen multi-aggregate — no data ever crosses into Python
    (see infer_native.py; this is what scales).  engine='arrow': the
    mapInArrow per-partition accumulator + treeAggregate (general fallback,
    handles any nesting).  'auto' tries native and falls back.
    """
    if engine not in ("auto", "native", "arrow"):
        raise ValueError(f"engine must be 'auto', 'native' or 'arrow', got {engine!r}")
    if columns:
        df = df.select(*columns)
        columns = None
    if engine in ("auto", "native"):
        from .infer_native import UnsupportedSchema, infer_from_struct_native

        try:
            return infer_from_struct_native(df, config)
        except UnsupportedSchema:
            if engine == "native":
                raise
    src, n_parts = _ensure_parallelism(df)
    partials = src.mapInArrow(_make_struct_accumulator(config), PARTIAL_SCHEMA)
    schema, n = _tree_merge(partials, n_parts)
    if schema is None:
        raise ValueError("infer_from_struct: no rows (reference takes NonEmpty)")
    return schema, n


def infer_as_dataframe(spark: SparkSession, schema: Schema, n_docs: int) -> DataFrame:
    """Wrap an inference result as a 1-row DataFrame (driver contract)."""
    return spark.createDataFrame(
        [Row(unified_schema=canonical_json(schema), n_docs=n_docs)],
        "unified_schema string, n_docs long",
    )


def _group_row(group_col: str, key, acc: Optional[Schema], n: int):
    import pandas as pd

    return pd.DataFrame(
        {
            group_col: [key],
            "unified_schema": [canonical_json(acc) if acc is not None else None],
            "n_docs": [n],
        }
    )


def _make_group_fold(group_col: str, json_col: str, config, on_error: str):
    def fold(pdf):
        trim_worker_import_cache()
        texts = pa.array(pdf[json_col], type=pa.string())
        acc, n = _batch_to_draft_json(
            pa.RecordBatch.from_arrays([texts], [json_col]), json_col, config, on_error
        )
        return _group_row(group_col, pdf[group_col].iloc[0], acc, n)

    return fold


def _make_group_merge(group_col: str):
    def merge(pdf):
        trim_worker_import_cache()
        acc: Optional[Schema] = None
        n = 0
        for s, k in zip(pdf["unified_schema"], pdf["n_docs"]):
            if s is None:
                continue
            acc = unify_opt(acc, parse_schema(s))
            n += int(k)
        return _group_row(group_col, pdf[group_col].iloc[0], acc, n)

    return merge


def infer_grouped(
    df: DataFrame,
    group_col: str,
    json_col: str,
    config: SchemaGenerationConfig = DEFAULT_CONFIG,
    salt: int = 16,
    on_error: str = "fail",
) -> DataFrame:
    """Per-group unified schema (e.g. schema per event_type / per source).

    Salted two-stage fold: stage 1 groups by (key, hash(doc) % salt) so a
    HOT group's documents fold on up to ``salt`` tasks in parallel instead
    of funneling one reducer — exactly the skew treatment uniqueness gets,
    legal here because unify is associative+commutative.  Stage 2 unifies
    the ≤ salt partial drafts per group (KB-scale rows).  salt=1 degrades to
    the single-stage fold.

    The group column keeps its INPUT type (r3 review: a hardcoded string
    DDL broke integer keys at Arrow conversion), and ``on_error`` matches
    infer_from_json_column: 'fail' raises naming the bad document, 'skip'
    drops it.
    """
    if on_error not in ("fail", "skip"):
        raise ValueError(f"on_error must be 'fail' or 'skip', got {on_error!r}")

    fold = _make_group_fold(group_col, json_col, config, on_error)
    key_type = df.schema[group_col].dataType.simpleString()
    out_schema = f"{group_col} {key_type}, unified_schema string, n_docs long"
    src = df.select(group_col, json_col)
    if salt <= 1:
        return src.groupBy(group_col).applyInPandas(fold, out_schema)

    partials = (
        src.withColumn("_salt", F.pmod(F.xxhash64(F.col(json_col)), F.lit(salt)))
        .groupBy(group_col, "_salt")
        .applyInPandas(
            lambda pdf: fold(pdf.drop(columns=["_salt"])),
            out_schema,
        )
    )

    return partials.groupBy(group_col).applyInPandas(
        _make_group_merge(group_col), out_schema
    )


def apply_schema(df: DataFrame, json_col: str, schema) -> DataFrame:
    """Schema-on-read enforcement: parse a JSON text column into a TYPED
    struct column using the engine's inferred draft schema — the
    consumption half of the infer → validate → enforce loop (ddl.py is the
    write half).

    The draft maps to a Spark type via ddl.draft_to_spark_type (same
    heterogeneous-degrades-to-STRING convention), then ``from_json`` runs
    JVM-side — codegen JSON parsing, no Python.  Values that do not fit the
    declared type come back null (from_json's PERMISSIVE mode), which is
    exactly the separation of duties the engine wants: typed extraction
    here, conformance VERDICTS from the validator (a null is not silently a
    verdict)."""
    from ..ddl import draft_to_spark_type

    return df.withColumn(
        "parsed", F.from_json(F.col(json_col), draft_to_spark_type(schema))
    )
