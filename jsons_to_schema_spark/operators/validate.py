"""Constraint validation over the interleaved-docs table (north_rule core).

Every check is expressed with built-in Catalyst expressions (higher-order
array functions — zero Python in the hot path), producing:

* per-row pass flags (one boolean column per check),
* violation-row DataFrames (`filter(NOT pass)`), capped deterministically,
* per-partition pass/fail verdicts (`groupBy(spark_partition_id())`).

The span-sequence invariant (BASELINE.json input_hint: "(kind, text,
media_ref, order) preserved exactly through every engine pass") holds by
construction — checks only ever SELECT/FILTER, never rewrite `spans` — and is
asserted by round-trip in tests/test_validate_spans.py.

Schema-conformance validation of JSON documents against a broadcast unified
schema (reference V1: the generated schema must validate its source docs)
lives in :func:`validate_json_against_schema`.
"""

from __future__ import annotations

import json
import re
from typing import Iterator, Optional

import pyarrow as pa

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..schema_algebra import Schema, validate as validate_value
from ..session import trim_worker_import_cache

# ---------------------------------------------------------------------------
# Span-level constraint checks (pure Catalyst expressions).  Column factories,
# not module constants: Column construction needs a live SparkSession.
# ---------------------------------------------------------------------------

def _monotonic_offsets():
    """Strictly increasing offsets: sorted AND all-distinct.

    Expression choice is measured, not aesthetic: the lambda-HOF form
    (transform → slice ×2 → zip_with → exists) repeated the ``transform``
    subtree four times — HOF lambdas block codegen subexpression elimination
    — and cost 7.9s over the 8M-doc corpus; this form (one
    GetArrayStructFields + sort_array/array_distinct, no lambdas) costs 1.1s
    and scales with cores.  Null offsets order nulls-first (sort_array
    semantics) — the corpus generator never emits them."""
    offs = F.col("spans")["offset"]
    return (F.sort_array(offs) == offs) & (
        F.size(F.array_distinct(offs)) == F.size(offs)
    )


def _text_present():
    """kind='text' spans must carry text.  ``exists`` iterates the struct
    array in place (no intermediate array allocation — measured faster and
    better-scaling than zip_with over extracted field arrays)."""
    return ~F.exists("spans", lambda s: (s["kind"] == "text") & s["text"].isNull())


def _media_ref_present():
    """non-text spans must carry media_ref."""
    return ~F.exists("spans", lambda s: (s["kind"] != "text") & s["media_ref"].isNull())


ROW_CHECKS = {
    "monotonic_offsets": _monotonic_offsets,
    "text_present": _text_present,
    "media_ref_present": _media_ref_present,
}


def with_check_flags(spans_df: DataFrame) -> DataFrame:
    """Append one boolean pass-column per row-local check.  Single narrow
    projection — no shuffle.

    Deliberately does NOT stamp ``spark_partition_id()`` here: that
    expression is nondeterministic, so a projection carrying it becomes a
    barrier Catalyst will not push filters or nested-column pruning through —
    measured as the difference between a 0.06s pruned scan and a 10s
    full-materialization scan on the 8M-doc corpus.  Consumers that need the
    partition id (verdicts, capped violations) attach it themselves at the
    point where every surviving row is about to be consumed."""
    out = spans_df
    for name, make_expr in ROW_CHECKS.items():
        out = out.withColumn(f"ok_{name}", make_expr())
    return out


def row_violations(flagged: DataFrame, cap_per_check: Optional[int] = 1000) -> DataFrame:
    """Violation rows (doc_id, check), deterministically capped per check via
    row_number over doc_id order — bounded output at any input scale.

    ONE scan: rows failing ANY check are filtered FIRST (a plain boolean
    disjunction the scan evaluates row-by-row with zero allocation), and only
    those — rare by construction — pay the (check, ok) struct-array build +
    explode.  The earlier form that built the array for every row was
    allocation-bound and ANTI-scaled with cores (GC: 2.6s@8 → 7.9s@32 on the
    2M-doc corpus); this form tracks the verdict pass (~0.2s).

    The cap is a two-stage window: (check, scan-partition) then (check).
    Stage 1 keeps the cap smallest doc_ids inside each scan partition —
    distributed over n_partitions × n_checks keys — so the final (check)-only
    window sees ≤ cap × n_partitions pre-filtered rows instead of every
    violation.  Identical output to the single window (any overall-top-cap
    row is top-cap within its own partition), but no 3-reducer funnel when a
    corpus is pathologically violation-dense."""
    fail_any = None
    for name in ROW_CHECKS:
        c = ~F.col(f"ok_{name}")
        fail_any = c if fail_any is None else fail_any | c
    checks_arr = F.array(
        *[
            F.struct(F.lit(name).alias("check"), F.col(f"ok_{name}").alias("ok"))
            for name in ROW_CHECKS
        ]
    )
    # _pid AFTER the filter: filter/project are narrow, so the task (and
    # therefore spark_partition_id) is the same as at the scan — and the
    # nondeterministic column no longer blocks pushdown (see with_check_flags).
    v = flagged.filter(fail_any).select(
        "doc_id",
        F.spark_partition_id().alias("_pid"),
        F.explode(F.filter(checks_arr, lambda c: ~c["ok"])).alias("_c"),
    ).select("doc_id", "_pid", F.col("_c.check").alias("check"))
    if cap_per_check is not None:
        w1 = Window.partitionBy("check", "_pid").orderBy("doc_id")
        w2 = Window.partitionBy("check").orderBy("doc_id")
        v = (
            v.withColumn("_rn", F.row_number().over(w1))
            .filter(F.col("_rn") <= cap_per_check)
            .withColumn("_rn2", F.row_number().over(w2))
            .filter(F.col("_rn2") <= cap_per_check)
            .drop("_rn", "_rn2")
        )
    return v.drop("_pid")


def _with_totals(out: DataFrame) -> DataFrame:
    fail_total = None
    for name in ROW_CHECKS:
        c = F.col(f"fail_{name}")
        fail_total = c if fail_total is None else fail_total + c
    return out.withColumn("n_failed", fail_total).withColumn(
        "passed", F.col("n_failed") == 0
    )


def partition_verdicts(flagged: DataFrame) -> DataFrame:
    """Per-partition pass/fail: a partition passes iff every row passes every
    row-local check.  One aggregation over the scan — partial aggregates
    map-side, the shuffle carries one row per (partition, check)."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for name in ROW_CHECKS:
        aggs.append(F.sum((~F.col(f"ok_{name}")).cast("long")).alias(f"fail_{name}"))
    out = flagged.groupBy(
        F.spark_partition_id().alias("partition_id")
    ).agg(*aggs)
    return _with_totals(out)


# A local ``file:`` scheme prefix, however many slashes follow it.  Java's and
# Python's regex engines read this pattern the same way, so split_column()
# (on executors) and split_of() (on the driver) give one split identity.
_FILE_SCHEME = r"^file:/+"


def split_of(uri: str) -> str:
    """Driver-side twin of :func:`split_column` for one file URI — e.g. an
    entry of ``DataFrame.inputFiles()``, which reports ``file:///…`` where
    ``_metadata.file_path`` reports ``file:/…``; both normalize to the same
    key."""
    return re.sub(_FILE_SCHEME, "/", uri)


def split_column() -> "F.Column":
    """Stable content-split id: the FULL path of the scan's input file, with
    a local ``file:``-scheme prefix normalized away so it string-matches what
    DuckDB's ``read_parquet(..., filename=true)`` reports.  Unlike
    ``spark_partition_id()`` this survives AQE re-plans, different core
    counts, and resume, and being deterministic it does not block Catalyst
    pushdown when projected.  The full path (not the basename — ADVICE r2)
    keeps Hive-partitioned ``date=*/part-00000.parquet`` layouts as distinct
    splits and matches the key the checkpoint store uses (checkpoint.py
    SPLIT_COL uses this same expression, and lists files through
    :func:`split_of`).  Non-local schemes (s3://, hdfs://) pass through as
    complete URIs — still globally unique."""
    return F.regexp_replace(F.col("_metadata.file_path"), _FILE_SCHEME, "/")


def split_verdicts(spans_df: DataFrame) -> DataFrame:
    """Per-SPLIT pass/fail verdicts (split = input file): the run-invariant
    form of partition_verdicts.  Same single multi-aggregate pass; the
    grouping key is the content split id, so verdicts are comparable across
    runs, cluster sizes, and engines (a SQL oracle can reproduce them)."""
    flagged = with_check_flags(spans_df.withColumn("split", split_column()))
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for name in ROW_CHECKS:
        aggs.append(F.sum((~F.col(f"ok_{name}")).cast("long")).alias(f"fail_{name}"))
    return _with_totals(flagged.groupBy("split").agg(*aggs))


def fail_and_sample_aggs(cap_per_check: Optional[int]) -> list:
    """The per-check (fail count, capped failing-doc_id sample) aggregate
    expressions — ONE definition shared by verdict_report and the fused
    audit pass (r3 review: two hand-copies of the cap-sentinel/sort logic
    could drift and silently diverge the fused vs unfused outputs).  The
    sample aggregate is ``collect_list(when(fail, doc_id))``: nulls on
    passing rows are dropped by collect_list, so only failures buffer."""
    aggs = []
    for name in ROW_CHECKS:
        fail = ~F.col(f"ok_{name}")
        aggs.append(F.sum(fail.cast("long")).alias(f"fail_{name}"))
        aggs.append(
            F.slice(
                F.array_sort(F.collect_list(F.when(fail, F.col("doc_id")))),
                1,
                cap_per_check if cap_per_check is not None else 2147483647,
            ).alias(f"sample_{name}")
        )
    return aggs


def verdict_report(
    spans_df: DataFrame, cap_per_check: Optional[int] = 1000
) -> DataFrame:
    """Per-partition verdicts AND capped violation samples in ONE scan — the
    north-star "single multi-aggregate pass" over the row-local checks.

    One groupBy(scan partition): row counts, per-check fail counts, and a
    per-check sample of the ``cap`` smallest failing doc_ids.  The sample
    aggregate is ``collect_list(when(fail, doc_id))`` — `when` yields null on
    passing rows and collect_list drops nulls, so only the failures are ever
    buffered.  The slice caps the OUTPUT at cap rows per (partition, check);
    the pre-slice aggregation buffer still grows with the partition's failure
    count, so on violation-DENSE data use row_violations (two-stage window
    cap, bounded end-to-end) instead.  Output is tiny (one row per scan
    partition) — persist it and derive both the verdict table and the
    violation rows without rescanning 10^12 docs."""
    flagged = with_check_flags(spans_df)
    aggs: list = [F.count(F.lit(1)).alias("n_rows")]
    aggs.extend(fail_and_sample_aggs(cap_per_check))
    return flagged.groupBy(F.spark_partition_id().alias("partition_id")).agg(*aggs)


def verdicts_from_report(report: DataFrame, key_col: str = "partition_id") -> DataFrame:
    """partition_verdicts shape derived from the verdict_report (no rescan)."""
    out = report.select(
        key_col, "n_rows", *[f"fail_{name}" for name in ROW_CHECKS]
    )
    return _with_totals(out)


def violations_from_report(
    report: DataFrame, cap_per_check: Optional[int] = 1000
) -> DataFrame:
    """row_violations shape derived from the verdict_report: explode the
    per-partition samples (≤ cap × n_partitions rows — driver-scale) and
    re-cap globally per check.  Same output as row_violations: any
    overall-top-cap doc_id is top-cap within its own partition."""
    per_check = [
        report.select(
            F.explode(f"sample_{name}").alias("doc_id"),
            F.lit(name).alias("check"),
        )
        for name in ROW_CHECKS
    ]
    v = per_check[0]
    for p in per_check[1:]:
        v = v.unionByName(p)
    if cap_per_check is not None:
        w = Window.partitionBy("check").orderBy("doc_id")
        v = (
            v.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= cap_per_check)
            .drop("_rn")
        )
    return v.select("doc_id", "check")


def dangling_media_refs(
    spans_df: DataFrame, catalog: DataFrame, broadcast_catalog: bool = True
) -> DataFrame:
    """Referential check media_ref → media_catalog via ANTI JOIN.

    Small catalog → broadcast (no shuffle of the exploded fact side beyond
    the explode projection); huge catalog → sort-merge with AQE skew-join
    splitting (the Zipf-skewed hot refs are exactly the AQE target).
    Returns (doc_id, media_ref) of dangling references.
    """
    # explode the media_ref FIELD array (GetArrayStructFields), not a
    # lambda-filtered struct array: nested-column pruning then reads only the
    # media_ref subfield from parquet instead of the whole span struct.
    refs = (
        spans_df.select(
            "doc_id", F.explode(F.col("spans")["media_ref"]).alias("media_ref")
        )
        .filter(F.col("media_ref").isNotNull())
    )
    dim = catalog.select("media_ref")
    if broadcast_catalog:
        dim = F.broadcast(dim)
    return refs.join(dim, "media_ref", "left_anti")


def duplicate_doc_ids(spans_df: DataFrame) -> DataFrame:
    """Uniqueness check on doc_id.  Returns (doc_id, cnt) with cnt > 1.

    One groupBy: Spark's partial+final HashAggregate IS the two-stage salted
    count — the map side pre-aggregates per (doc_id, scan partition) before
    the shuffle, so a hot doc_id contributes one partial row per partition,
    never a funnel.  An earlier hand-rolled salt
    (``groupBy(doc_id, spark_partition_id())``) re-implemented exactly that,
    and — because spark_partition_id is nondeterministic — blocked column
    pruning, turning a ~100 MB doc_id-only scan into a full nested-table
    read.  Let Catalyst do it."""
    return (
        spans_df.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
    )


def all_violations(
    spans_df: DataFrame,
    catalog: DataFrame,
    cap_per_check: Optional[int] = 1000,
    broadcast_catalog: bool = True,
) -> DataFrame:
    """EVERY violation source as one DataFrame (doc_id, check) — row-local
    checks ∪ duplicate doc_ids ∪ dangling media refs.  One action materializes
    the whole violation report instead of three, which matters when fixed
    per-job overhead competes with compute (small-batch / interactive runs);
    the branches still share the scan via Spark's ReusedExchange where
    eligible."""
    flagged = with_check_flags(spans_df)
    v = row_violations(flagged, cap_per_check)
    dups = duplicate_doc_ids(spans_df).select(
        "doc_id", F.lit("duplicate_doc_id").alias("check")
    )
    dang = dangling_media_refs(spans_df, catalog, broadcast_catalog).select(
        "doc_id", F.lit("dangling_media_ref").alias("check")
    )
    return v.unionByName(dups).unionByName(dang)


def validate_spans(
    spans_df: DataFrame,
    catalog: DataFrame,
    cap_per_check: Optional[int] = 1000,
    broadcast_catalog: bool = True,
) -> dict[str, DataFrame]:
    """The full constraint pass over the canonical table: row-local checks,
    per-partition verdicts, uniqueness, referential — each returned as a
    DataFrame so callers compose/materialize as needed."""
    flagged = with_check_flags(spans_df)
    return {
        "violations": row_violations(flagged, cap_per_check),
        "partition_verdicts": partition_verdicts(flagged),
        "duplicate_doc_ids": duplicate_doc_ids(spans_df),
        "dangling_media_refs": dangling_media_refs(
            spans_df, catalog, broadcast_catalog
        ),
    }


# ---------------------------------------------------------------------------
# Schema-conformance validation (reference V1) — broadcast schema, Arrow batch
# ---------------------------------------------------------------------------

def _make_verdicts(column: str, schema_blob: str):
    """mapInArrow body of ``validate_json_against_schema``: a batch of JSON
    documents → (doc, valid, errors) verdict rows, one per input row."""
    out_schema = pa.schema(
        [("doc", pa.string()), ("valid", pa.bool_()), ("errors", pa.list_(pa.string()))]
    )

    def verdicts(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        trim_worker_import_cache()
        sch = json.loads(schema_blob)
        for batch in batches:
            docs, valids, errs = [], [], []
            for s in batch.column(column).to_pylist():
                # a validator must VERDICT bad input, not crash on it or
                # silently drop it (r3 review): null docs and malformed
                # JSON come back as valid=False rows, one per input row
                if s is None:
                    docs.append(None)
                    valids.append(False)
                    errs.append(["$: null document"])
                    continue
                try:
                    v = json.loads(s)
                except json.JSONDecodeError as exc:
                    docs.append(s)
                    valids.append(False)
                    errs.append([f"$: invalid JSON ({exc.msg})"])
                    continue
                errors = validate_value(v, sch)
                docs.append(s)
                valids.append(not errors)
                errs.append(errors)
            if docs:
                yield pa.RecordBatch.from_pydict(
                    {"doc": docs, "valid": valids, "errors": errs}, schema=out_schema
                )

    return verdicts


def validate_json_against_schema(
    df: DataFrame, column: str, schema: Schema
) -> DataFrame:
    """Per-document verdicts of a JSON-string column against a Draft-4
    schema.  The schema rides to executors inside the serialized closure
    (KB-scale — the broadcast analog); verdicts are computed batch-at-a-time
    in Arrow.  Returns (doc json, valid boolean, errors array<string>).
    """
    # inline local $refs ONCE here, not per document in the hot loop
    from ..schema_algebra import _has_ref, resolve_refs

    if _has_ref(schema):
        schema = resolve_refs(schema)
    schema_blob = json.dumps(schema)
    return df.select(column).mapInArrow(
        _make_verdicts(column, schema_blob),
        "doc string, valid boolean, errors array<string>",
    )


# ---------------------------------------------------------------------------
# Schema-COMPILED validation: draft schema → Catalyst boolean checks
# ---------------------------------------------------------------------------

from pyspark.sql import types as _T

_STRINGISH = (_T.StringType, _T.VarcharType, _T.CharType)

def _compile_value_check(schema: Schema, col: "F.Column", dt) -> "F.Column":
    """Boolean Column: does a (present) value of Spark type ``dt`` conform to
    the draft schema?  Static type facts resolve at compile time (a string
    column can never satisfy {"type":"integer"} → lit(False)); data-dependent
    facts (float integrality, bounds, enum, array elements) become codegen
    expressions.  A NULL value is handled by the caller (absent-key
    semantics)."""
    from pyspark.sql import types as T

    types = schema.get("type")
    tset = {types} if isinstance(types, str) else set(types or ())

    def type_ok() -> "F.Column":
        if not tset:
            return F.lit(True)
        if isinstance(dt, T.BooleanType):
            return F.lit("boolean" in tset)
        if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
            return F.lit(bool({"integer", "number"} & tset))
        if isinstance(dt, (T.DoubleType, T.FloatType, T.DecimalType)):
            if "number" in tset:
                return F.lit(True)
            if "integer" in tset:
                # integral values are "integer"; x % 1 == 0 is exact for ALL
                # doubles (FLOOR(double) returns a saturating BIGINT, which
                # misclassified |x| >= 2^63 — r3 review)
                return (col % F.lit(1.0)) == F.lit(0.0)
            return F.lit(False)
        if isinstance(dt, (T.StringType, T.TimestampType, T.TimestampNTZType,
                           T.DateType, T.BinaryType)):
            return F.lit("string" in tset)
        if isinstance(dt, T.StructType) or isinstance(dt, T.MapType):
            return F.lit("object" in tset)
        if isinstance(dt, T.ArrayType):
            return F.lit("array" in tset)
        if isinstance(dt, T.NullType):
            return F.lit("null" in tset)
        return F.lit(False)

    ok = type_ok()
    if "minimum" in schema and isinstance(
        dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType,
             T.DoubleType, T.FloatType, T.DecimalType)
    ):
        bound = col >= F.lit(schema["minimum"])
        if schema.get("exclusiveMinimum"):
            bound = col > F.lit(schema["minimum"])
        ok = ok & bound
    if "maximum" in schema and isinstance(
        dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType,
             T.DoubleType, T.FloatType, T.DecimalType)
    ):
        bound = col <= F.lit(schema["maximum"])
        if schema.get("exclusiveMaximum"):
            bound = col < F.lit(schema["maximum"])
        ok = ok & bound
    if schema.get("multipleOf") and isinstance(
        dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType,
             T.DoubleType, T.FloatType, T.DecimalType)
    ):
        # Draft-4 §5.1.1.  pmod(a, m) and Python's a % m both reduce to
        # fmod-plus-sign-adjust on the same doubles, so compiled and pure
        # agree bitwise — including the float cases where the remainder is
        # mathematically surprising (0.3 % 0.1 != 0 in IEEE, both engines).
        ok = ok & (F.pmod(col, F.lit(schema["multipleOf"])) == F.lit(0))
    # Draft-4 §5.5 combinators: recursive composition of compiled checks.
    # Evaluated for PRESENT values only (the caller owns null = absent),
    # mirroring _validate_at; empty anyOf/oneOf lists are unsatisfiable in
    # both validators, empty allOf is vacuous truth.
    if "allOf" in schema:
        for sub in schema["allOf"]:
            ok = ok & _compile_value_check(sub, col, dt)
    if "anyOf" in schema:
        any_ok = None
        for sub in schema["anyOf"]:
            c = _compile_value_check(sub, col, dt)
            any_ok = c if any_ok is None else (any_ok | c)
        ok = ok & (any_ok if any_ok is not None else F.lit(False))
    if "oneOf" in schema:
        total = F.lit(0)
        for sub in schema["oneOf"]:
            total = total + _compile_value_check(sub, col, dt).cast("int")
        ok = ok & (total == F.lit(1))
    if "not" in schema:
        ok = ok & ~_compile_value_check(schema["not"], col, dt)
    if "enum" in schema:
        if not isinstance(dt, (T.StructType, T.ArrayType, T.MapType)):
            # null-safe membership: SQL IN yields NULL (not False) for a
            # non-match when the list contains null, silently uncounting
            # invalid rows downstream (r3 review).  Null enum members are
            # handled by the caller's null-branch; values whose Python type
            # cannot inhabit this column type are unmatchable and dropped
            # (same convention as _enum_literal_match).
            members = [
                e
                for e in schema["enum"]
                if e is not None and not isinstance(e, (dict, list))
            ]
            ok = ok & (
                F.coalesce(col.isin(members), F.lit(False))
                if members
                else F.lit(False)
            )
        else:
            # enum over complex types: compile each enum value to a typed
            # structural-equality expression (canonical-JSON equality in the
            # pure validator).  Values whose shape cannot be represented by
            # ``dt`` can never match and are dropped; no representable value
            # ⇒ lit(False), matching _validate_at.
            match = None
            for e in schema["enum"]:
                m = _enum_literal_match(e, col, dt)
                if m is not None:
                    match = m if match is None else (match | m)
            ok = ok & (match if match is not None else F.lit(False))
    if isinstance(dt, _STRINGISH):
        if "minLength" in schema:
            ok = ok & (F.length(col) >= F.lit(schema["minLength"]))
        if "maxLength" in schema:
            ok = ok & (F.length(col) <= F.lit(schema["maxLength"]))
        if "format" in schema:
            # Draft-4 §7 format (engine extension, operators/formats.py):
            # same Java∩RE2∩re dialect pattern the pure validator applies;
            # unknown format names are ignored per spec (open vocabulary),
            # keeping compiled/pure parity.
            from .formats import FORMAT_PATTERNS

            _pat = FORMAT_PATTERNS.get(schema["format"])
            if _pat is not None:
                ok = ok & col.rlike(_pat)
        if "pattern" in schema:
            # Draft-4 §5.2.3: rlike is unanchored search, matching the
            # pure validator's re.search (common-dialect contract)
            ok = ok & col.rlike(schema["pattern"])
    if isinstance(dt, T.ArrayType):
        if "minItems" in schema:
            ok = ok & (F.size(col) >= F.lit(schema["minItems"]))
        if "maxItems" in schema:
            ok = ok & (F.size(col) <= F.lit(schema["maxItems"]))
        if schema.get("uniqueItems") is True:
            ok = ok & (F.size(F.array_distinct(col)) == F.size(col))
    # Object/array keyword checks apply whenever the SPARK type is
    # struct/array, NOT only when the schema declares that type — matching
    # _validate_at, where a legal type-LESS subschema still enforces
    # properties/required/items on dict/list values.  (When the schema
    # declares a conflicting type, type_ok() is already lit(False) and the
    # extra conjuncts cannot change the verdict.)
    if isinstance(dt, T.StructType):
        props = schema.get("properties") or {}
        required = schema.get("required") or []
        for name, sub in props.items():
            if name in dt.fieldNames():
                fdt = dt[name].dataType
                fcol = col[name]
                sub_ok = F.when(
                    fcol.isNull(), F.lit(name not in required)
                ).otherwise(_compile_value_check(sub, fcol, fdt))
                ok = ok & sub_ok
            elif name in required:
                ok = F.lit(False)
        for req in required:
            if req not in dt.fieldNames():
                ok = F.lit(False)
            elif req not in props:
                # required WITHOUT a properties entry still demands
                # presence (pre-existing gap: the props loop was the only
                # place required-ness compiled, so bare-required keys went
                # unchecked — caught by the dependencies parity test)
                ok = ok & col[req].isNotNull()
        pprops = schema.get("patternProperties") or {}
        if pprops:
            # field names are STATIC in a struct type, so pattern matching
            # on names resolves at compile time (Python re; the dialect
            # contract applies to patterns that must also run on values)
            import re as _re

            for pat, sub in pprops.items():
                for fname in dt.fieldNames():
                    if _re.search(pat, fname):
                        fdt2 = dt[fname].dataType
                        fc = col[fname]
                        ok = ok & F.when(fc.isNull(), F.lit(True)).otherwise(
                            _compile_value_check(sub, fc, fdt2)
                        )
        if schema.get("additionalProperties") is False:
            # nested sealed object: any PRESENT field matched by neither
            # properties nor patternProperties fails (null = absent key,
            # the engine's pinned convention).
            import re as _re

            for fname in dt.fieldNames():
                if fname not in props and not any(
                    _re.search(p, fname) for p in pprops
                ):
                    ok = ok & col[fname].isNull()
        for dk, dv in (schema.get("dependencies") or {}).items():
            # Draft-4 §5.4.5: triggered only when the key is PRESENT
            if dk not in dt.fieldNames():
                continue
            trigger = col[dk].isNotNull()
            if isinstance(dv, (list, tuple)):
                need_ok = F.lit(True)
                for need in dv:
                    need_ok = need_ok & (
                        col[need].isNotNull()
                        if need in dt.fieldNames()
                        else F.lit(False)
                    )
                ok = ok & (~trigger | need_ok)
            elif isinstance(dv, dict):
                ok = ok & (~trigger | _compile_value_check(dv, col, dt))
        if "minProperties" in schema or "maxProperties" in schema:
            # present-key count under the null = absent convention
            present = F.lit(0)
            for fname in dt.fieldNames():
                present = present + F.when(
                    col[fname].isNotNull(), 1
                ).otherwise(0)
            if "minProperties" in schema:
                ok = ok & (present >= F.lit(schema["minProperties"]))
            if "maxProperties" in schema:
                ok = ok & (present <= F.lit(schema["maxProperties"]))
    if isinstance(dt, T.ArrayType):
        items = schema.get("items")
        if isinstance(items, dict):
            edt = dt.elementType
            elem_schema = items
            ok = ok & F.forall(
                col,
                lambda e: F.when(
                    e.isNull(), F.lit(_null_value_ok(elem_schema))
                ).otherwise(_compile_value_check(elem_schema, e, edt)),
            )
        elif isinstance(items, list):
            # tuple-typed items: position i validates against items[i]; the
            # tail beyond len(items) is unconstrained unless additionalItems
            # is false (Draft-4 semantics, mirrored from _validate_at).
            for i, s in enumerate(items):
                e = F.element_at(col, i + 1)
                ok = ok & F.when(F.size(col) <= F.lit(i), F.lit(True)).otherwise(
                    F.when(e.isNull(), F.lit(_null_value_ok(s))).otherwise(
                        _compile_value_check(s, e, dt.elementType)
                    )
                )
            if schema.get("additionalItems") is False:
                ok = ok & (F.size(col) <= F.lit(len(items)))
    return ok


def _null_value_ok(schema: Schema) -> bool:
    """Verdict of the pure validator on a JSON ``null`` (used for null array
    elements): type must be absent or include "null"; enum (if any) must
    contain null; every other keyword is vacuous on null."""
    ts = _schema_type_set(schema)
    if ts and "null" not in ts:
        return False
    if "enum" in schema:
        return any(e is None for e in schema["enum"])
    return True


def _enum_literal_match(value, col: "F.Column", dt) -> Optional["F.Column"]:
    """Compile one enum VALUE into a Catalyst equality over a complex-typed
    column, with the engine's materialization conventions: a struct's null
    field is an ABSENT key (so a dict value with an explicit null member can
    never match a struct row), while a null ARRAY element is a JSON null.
    Returns None when ``dt`` cannot represent the value (never matches).
    MapType is unsupported (inference never emits maps) and returns None."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        if not isinstance(value, dict):
            return None
        names = set(dt.fieldNames())
        if any(k not in names for k in value) or any(v is None for v in value.values()):
            return None
        out = F.lit(True)
        for f in dt.fields:
            if f.name in value:
                sub = _enum_literal_match(value[f.name], col[f.name], f.dataType)
                if sub is None:
                    return None
                out = out & sub
            else:
                out = out & col[f.name].isNull()
        return out
    if isinstance(dt, T.ArrayType):
        if not isinstance(value, (list, tuple)):
            return None
        out = F.size(col) == F.lit(len(value))
        for i, v in enumerate(value):
            e = F.element_at(col, i + 1)
            if v is None:
                out = out & e.isNull()
            else:
                sub = _enum_literal_match(v, e, dt.elementType)
                if sub is None:
                    return None
                out = out & sub
        return out
    if isinstance(dt, T.MapType):
        return None
    if isinstance(value, bool):
        return (col == F.lit(value)) if isinstance(dt, T.BooleanType) else None
    if isinstance(value, (int, float)):
        numeric = (T.LongType, T.IntegerType, T.ShortType, T.ByteType,
                   T.DoubleType, T.FloatType, T.DecimalType)
        return (col == F.lit(value)) if isinstance(dt, numeric) else None
    if isinstance(value, str):
        return (col == F.lit(value)) if isinstance(dt, _STRINGISH) else None
    if value is None:
        return col.isNull()
    return None


def _schema_type_set(schema: Schema) -> set:
    t = schema.get("type")
    return {t} if isinstance(t, str) else set(t or ())


def struct_conformance_flags(df: DataFrame, schema: Schema) -> DataFrame:
    """Reference V1 for STRUCTURED rows, compiled to Catalyst: each row is a
    JSON object (null column = absent key); appends one ``ok_schema`` boolean
    per row — whole-stage codegen, no Python (the Arrow twin for raw JSON
    strings is validate_json_against_schema).

    PINNED to the engine's inference conventions: a null Spark value means
    the key is ABSENT (so a null in a required column fails; a null in an
    optional column passes regardless of declared type)."""
    from pyspark.sql import types as T

    from ..schema_algebra import _has_ref, resolve_refs

    if _has_ref(schema):
        # inline local $refs once at compile time; cycles/remote refs raise
        schema = resolve_refs(schema)

    # ONE compile path: wrap the row as a struct literal and reuse
    # _compile_value_check's StructType branch — before this refactor the
    # root level hand-rolled a subset of the object keywords, so later
    # additions (patternProperties, dependencies, min/maxProperties,
    # combinators) silently applied only to NESTED structs.  Catalyst's
    # SimplifyExtractValueOps collapses GetStructField(CreateNamedStruct),
    # so the wrapper costs nothing at runtime.
    row_struct = F.struct(*[F.col(f.name) for f in df.schema.fields])
    row_dt = T.StructType(list(df.schema.fields))
    ok = _compile_value_check(schema, row_struct, row_dt)
    return df.withColumn("ok_schema", ok)


def struct_conformance_report(df: DataFrame, schema: Schema) -> DataFrame:
    """(valid, n_docs) verdict aggregation over struct_conformance_flags —
    the structured twin of validate_json_against_schema's verdict shape."""
    return (
        struct_conformance_flags(df, schema)
        .groupBy(F.col("ok_schema").alias("valid"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# User-definable rule DSL — arbitrary constraint checks over any table
# ---------------------------------------------------------------------------

def rule_verdicts(
    df: DataFrame,
    rules: "dict[str, F.Column]",
    by: "Optional[str]" = None,
) -> DataFrame:
    """Declarative data-quality rules over ANY table: each rule is a boolean
    Column that must hold per row (e.g. ``F.col("value") >= 0``, or a
    conditional ``~cond | predicate`` implication); output is one verdict
    row per rule — n_rows, violations, pass flag — or per (group, rule)
    when ``by`` names a grouping column (a split id, a date partition).

    This generalizes the engine's built-in span checks (ROW_CHECKS) into
    the user surface: rules stay Catalyst expressions, so the whole check
    suite is ONE multi-aggregate scan with map-side partials — adding a
    rule adds an aggregate expression, never a pass over the data.  A NULL
    rule value (predicate not evaluable on that row) counts as a violation
    only if the rule says so — wrap with ``coalesce(pred, lit(False))`` or
    ``...isNotNull() & pred`` to choose; the engine does not guess."""
    def _bq(n: str) -> "F.Column":  # rule names may contain dots/backticks
        return F.col("`" + n.replace("`", "``") + "`")

    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for name, pred in rules.items():
        aggs.append(
            F.sum((~F.coalesce(pred, F.lit(False))).cast("long")).alias(
                f"viol_{name}"
            )
        )
    wide = df.groupBy(by).agg(*aggs) if by else df.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(name).alias("rule"),
                F.col("n_rows").alias("n_rows"),
                _bq(f"viol_{name}").alias("n_violations"),
                (_bq(f"viol_{name}") == 0).alias("passed"),
            )
            for name in rules
        ]
    )
    keys = [F.col(by)] if by else []
    return wide.select(*keys, F.explode(entries).alias("e")).select(
        *([by] if by else []), "e.*"
    )


def rule_violation_rows(
    df: DataFrame,
    rules: "dict[str, F.Column]",
    id_col: str,
    cap_per_rule: int = 100,
) -> DataFrame:
    """The row-level companion: (id, rule) for each violating row, capped
    per rule — ONE scan (fail-any filter, then a struct-array explode of
    only the failing rules) and the same two-stage (rule, scan-partition)
    → (rule) WindowGroupLimit cap row_violations uses, so a violation-
    dense corpus never funnels through one reducer per rule (r3 review:
    the first form unioned one scan branch PER rule and used a single
    global window per rule)."""
    from pyspark.sql import Window

    if not rules:  # mirror rule_verdicts: empty suite -> empty result
        return df.select(
            F.col(id_col).alias("id"), F.lit("").alias("rule")
        ).limit(0)
    oks = {name: F.coalesce(pred, F.lit(False)) for name, pred in rules.items()}
    fail_any = None
    for ok in oks.values():
        c = ~ok
        fail_any = c if fail_any is None else (fail_any | c)
    checks_arr = F.array(
        *[
            F.struct(F.lit(name).alias("rule"), ok.alias("ok"))
            for name, ok in oks.items()
        ]
    )
    v = (
        df.filter(fail_any)
        .select(
            F.col(id_col).alias("id"),
            F.spark_partition_id().alias("_pid"),
            F.explode(F.filter(checks_arr, lambda c: ~c["ok"])).alias("_c"),
        )
        .select("id", "_pid", F.col("_c.rule").alias("rule"))
    )
    w1 = Window.partitionBy("rule", "_pid").orderBy("id")
    w2 = Window.partitionBy("rule").orderBy("id")
    return (
        v.withColumn("_r", F.row_number().over(w1))
        .filter(F.col("_r") <= cap_per_rule)
        .withColumn("_r2", F.row_number().over(w2))
        .filter(F.col("_r2") <= cap_per_rule)
        .drop("_r", "_r2", "_pid")
    )


SUGGESTION_SCHEMA = (
    "column string, suggestion string, n_rows long, n_nonnull long, n_distinct long"
)


def suggest_constraints(
    df: DataFrame, cols: "list[str]", enum_max: int = 16
) -> DataFrame:
    """Profile ``cols`` and emit suggested constraints — the deequ-style
    closing of the validation loop: run this on a trusted snapshot, feed
    the output through ``rules_from_suggestions`` into ``rule_verdicts``
    on every later batch.

    Suggestions per column: NOT NULL (no nulls observed), UNIQUE
    (distinct == non-null), IS IN (...) for low-cardinality STRING
    columns (≤ ``enum_max`` values; string-only so the rendered set is
    formatting-stable across engines), NON NEGATIVE for numerics with
    min ≥ 0, RANGE [lo, hi] for integral types (float bounds are
    observation noise, integral bounds are usually domain facts).

    Scale shape: ONE multi-aggregate scan (map-side partials) for all
    counters, plus a SECOND scan collecting sorted value sets for only
    the columns the first pass proved low-cardinality — at 10^12 rows the
    second pass aggregates a ≤ enum_max-element set per qualifying
    column, never a wide collect.  The driver handles two bounded rows."""
    spark = df.sparkSession
    aggs = [F.count(F.lit(1)).alias("_n")]
    numeric, integral, stringy = set(), set(), set()
    for c in cols:
        dt = df.schema[c].dataType
        if isinstance(dt, _T.NumericType):
            numeric.add(c)
            if isinstance(dt, _T.IntegralType):
                integral.add(c)
            aggs += [F.min(c).alias(f"_mn_{c}"), F.max(c).alias(f"_mx_{c}")]
        elif isinstance(dt, _T.StringType):
            stringy.add(c)
        aggs += [
            F.count(c).alias(f"_nn_{c}"),
            F.count_distinct(F.col(c)).alias(f"_nd_{c}"),
        ]
    row = df.agg(*aggs).first()
    total = row["_n"]
    enum_cols = [
        c for c in cols if c in stringy and 1 <= row[f"_nd_{c}"] <= enum_max
    ]
    enum_sets = {}
    if enum_cols:
        r2 = df.agg(
            *[
                F.sort_array(F.collect_set(F.col(c).cast("string"))).alias(c)
                for c in enum_cols
            ]
        ).first()
        enum_sets = {c: list(r2[c]) for c in enum_cols}
    out = []
    for c in cols:
        nn, nd = int(row[f"_nn_{c}"]), int(row[f"_nd_{c}"])
        if total and nn == total:
            out.append((c, "NOT NULL", total, nn, nd))
        if nn > 0 and nd == nn:
            out.append((c, "UNIQUE", total, nn, nd))
        if c in enum_sets:
            # JSON-quote each member so values containing the ", "
            # separator (or quotes) survive the round-trip through
            # rules_from_suggestions (r4 review)
            # ensure_ascii=False matches DuckDB's to_json raw-UTF-8 output
            rendered = ", ".join(
                json.dumps(v, ensure_ascii=False) for v in enum_sets[c]
            )
            out.append((c, f"IS IN ({rendered})", total, nn, nd))
        if c in numeric and row[f"_mn_{c}"] is not None and row[f"_mn_{c}"] >= 0:
            out.append((c, "NON NEGATIVE", total, nn, nd))
        if c in integral and row[f"_mn_{c}"] is not None:
            out.append(
                (
                    c,
                    f"RANGE [{int(row[f'_mn_{c}'])}, {int(row[f'_mx_{c}'])}]",
                    total,
                    nn,
                    nd,
                )
            )
    return spark.createDataFrame(out, SUGGESTION_SCHEMA)


def rules_from_suggestions(suggestions: "list[tuple] | DataFrame") -> "dict[str, F.Column]":
    """Compile suggestion rows back into ``rule_verdicts`` predicates.
    Row-local suggestions (NOT NULL / NON NEGATIVE / RANGE / IS IN)
    become boolean Columns named ``<column>:<kind>``; UNIQUE is not a
    row-local property — enforce it with the uniqueness operators
    (``duplicate_doc_ids`` et al.), so it is skipped here.  Value rules
    are NULL-TOLERANT (``isNull() | pred``): the profiling conditions
    they derive from ignore nulls, and null-ness is governed by the
    separate NOT NULL suggestion — otherwise a nullable enum column
    would fail its own snapshot."""
    rows = (
        [(r["column"], r["suggestion"]) for r in suggestions.collect()]
        if isinstance(suggestions, DataFrame)
        else [(c, s) for c, s, *_ in suggestions]
    )
    rules: "dict[str, F.Column]" = {}
    for c, s in rows:
        col = F.col(c)
        if s == "NOT NULL":
            rules[f"{c}:not_null"] = col.isNotNull()
        elif s == "NON NEGATIVE":
            rules[f"{c}:non_negative"] = col.isNull() | (col >= 0)
        elif s.startswith("RANGE ["):
            lo, hi = s[len("RANGE [") : -1].split(", ")
            rules[f"{c}:range"] = col.isNull() | col.between(int(lo), int(hi))
        elif s.startswith("IS IN ("):
            vals = json.loads("[" + s[len("IS IN (") : -1] + "]")
            rules[f"{c}:isin"] = col.isNull() | col.cast("string").isin(vals)
    return rules


def table_diff(
    df_a: DataFrame,
    df_b: DataFrame,
    key_cols: "list[str]",
    compare_cols: "list[str] | None" = None,
) -> DataFrame:
    """Snapshot reconciliation: which keyed rows were ADDED, REMOVED, or
    CHANGED between two versions of a table — the row-level companion to
    the schema-history/compat checks (those diff the SCHEMA; this diffs
    the DATA).  The canonical uses: validating a migration or backfill
    (old pipeline vs new pipeline output must reconcile), auditing what
    an ingest run actually touched, and regression-diffing a curation
    re-run.

    Shape: ONE full outer join on the key (shuffle keyed exactly like any
    downstream merge would be — AQE skew handling transfers), presence
    decided by per-side indicator literals (never by null-ness of data
    columns, so an all-NULL payload row is still "present"), per-column
    change tests via null-safe equality (<=>).  Unchanged rows are
    filtered out BEFORE the result materializes, so the output is
    diff-sized, not table-sized.

    Output: key cols (coalesced), status ('added'|'removed'|'changed'),
    changed_cols (sorted array of differing column names; NULL for
    added/removed rows where the question doesn't apply).

    ``compare_cols`` defaults to the sorted common non-key columns; a key
    present on both sides with NO differing compare column is unchanged
    and dropped.  Duplicate keys on either side are the caller's bug to
    check first (uniqueness operators above) — the join would fan out.
    """
    if not key_cols:
        raise ValueError("table_diff: key_cols must be non-empty")
    if compare_cols is None:
        common = set(df_a.columns) & set(df_b.columns)
        compare_cols = sorted(common - set(key_cols))
    a = df_a.select(
        *[F.col(c).alias(f"_ka_{c}") for c in key_cols],
        *[F.col(c).alias(f"_a_{c}") for c in compare_cols],
        F.lit(1).alias("_in_a"),
    )
    b = df_b.select(
        *[F.col(c).alias(f"_kb_{c}") for c in key_cols],
        *[F.col(c).alias(f"_b_{c}") for c in compare_cols],
        F.lit(1).alias("_in_b"),
    )
    cond = None
    for c in key_cols:
        eq = F.col(f"_ka_{c}") == F.col(f"_kb_{c}")
        cond = eq if cond is None else (cond & eq)
    joined = a.join(b, cond, "full_outer")
    if compare_cols:
        diffs = F.sort_array(
            F.array_compact(
                F.array(
                    *[
                        F.when(
                            ~(F.col(f"_a_{c}").eqNullSafe(F.col(f"_b_{c}"))),
                            F.lit(c),
                        )
                        for c in compare_cols
                    ]
                )
            )
        )
    else:
        # key-only diff (membership reconciliation): an argless F.array()
        # would type changed_cols as array<void>; pin array<string>
        diffs = F.array().cast("array<string>")
    status = (
        F.when(F.col("_in_b").isNull(), F.lit("removed"))
        .when(F.col("_in_a").isNull(), F.lit("added"))
        .when(F.size(diffs) > 0, F.lit("changed"))
    )
    out_keys = [
        F.coalesce(F.col(f"_ka_{c}"), F.col(f"_kb_{c}")).alias(c) for c in key_cols
    ]
    return (
        joined.select(
            *out_keys,
            status.alias("status"),
            F.when(status == "changed", diffs).alias("changed_cols"),
        )
        .filter(F.col("status").isNotNull())
    )


def table_diff_summary(diff: DataFrame) -> DataFrame:
    """Fold a table_diff to per-status counts — the one-glance
    reconciliation verdict (0 rows means the snapshots reconcile)."""
    return diff.groupBy("status").agg(F.count(F.lit(1)).alias("n_rows"))


def sequence_integrity(
    df: DataFrame, key_cols: "list[str]", seq_col: str, start_at: int = 1
) -> DataFrame:
    """Per-key sequence audit: within each key, the integer sequence column
    must be exactly ``start_at .. start_at + n − 1`` — contiguous, no
    duplicates, no gaps (line numbers within an order, part indices within
    an upload, chunk ordinals within a document).  Row counts and
    uniqueness checks can't see a RENUMBERED or hole-punched sequence;
    this can.

    ONE map-side-partial groupBy per key computes (n, n_distinct, min,
    max); the verdicts are pure arithmetic on those four numbers:
    has_dups = distinct < n, has_gaps = span ≠ distinct, bad_start =
    min ≠ start_at.  NULL sequence values count as rows but not as
    sequence members, so they surface as gaps/dup anomalies rather than
    vanish.  Emits only VIOLATING keys (the violation-rows convention):
    key cols + (n_rows, n_distinct, seq_min, seq_max, has_dups, has_gaps,
    bad_start).  countDistinct is exact by design — a sketch would
    mis-certify integrity, the candidate_keys rule."""
    if not key_cols:
        raise ValueError("sequence_integrity: key_cols must be non-empty")
    s = F.col(seq_col)
    agg = df.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct(s).alias("n_distinct"),
        F.min(s).alias("seq_min"),
        F.max(s).alias("seq_max"),
    )
    has_dups = F.col("n_distinct") < F.col("n_rows")
    has_gaps = (
        F.col("seq_max").cast("long") - F.col("seq_min").cast("long") + 1
    ) != F.col("n_distinct")
    bad_start = F.col("seq_min").cast("long") != F.lit(int(start_at))
    return (
        agg.withColumn("has_dups", has_dups)
        .withColumn("has_gaps", has_gaps)
        .withColumn("bad_start", bad_start)
        .filter(has_dups | has_gaps | bad_start)
    )


def monotonicity_audit(
    df: DataFrame,
    key_cols: "list[str]",
    order_col: str,
    value_col: str,
    strict: bool = False,
) -> DataFrame:
    """Per-key ORDER audit: within each key, ``value_col`` must be
    nondecreasing (``strict=True``: strictly increasing) when the rows are
    ordered by ``order_col`` — balances that only grow, timestamps that
    follow sequence numbers, cumulative counters.  sequence_integrity
    certifies the ORDER column itself; this certifies a second column's
    behavior ALONG that order, which per-key aggregates cannot see.

    ONE scan, ONE shuffle+sort (the window's partitionBy(key).orderBy —
    the minimal plan for an inherently ordered check), then a groupBy on
    the SAME key, which reuses the window's hash partitioning (no second
    exchange).  Order ties break on the value ASCENDING, so rows sharing
    an order key never count as non-strict breaks in either engine (and
    always count as strict ones when values repeat) — deterministic,
    hence oracle-able.  Rows with a NULL order or value are EXCLUDED
    from the chain via ``last(…, ignoreNulls)`` rather than a filter —
    their masked value contributes nothing to anyone's predecessor, so
    their engine-dependent sort position (Spark: NULLS FIRST, DuckDB:
    NULLS LAST) cannot flip a verdict — and they are counted in
    n_null_rows so they cannot vanish silently (a key whose EVERY row is
    null still surfaces).  Emits only violating keys: key cols +
    (n_rows, n_breaks, n_null_rows)."""
    if not key_cols:
        raise ValueError("monotonicity_audit: key_cols must be non-empty")
    from pyspark.sql import Window

    o, v = F.col(order_col), F.col(value_col)
    isnull = o.isNull() | v.isNull()
    masked = F.when(~isnull, v)
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(o.asc(), v.asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev = F.last(masked, ignorenulls=True).over(w)
    broke = (masked <= prev) if strict else (masked < prev)
    flagged = df.select(*key_cols, o, v).withColumn(
        "_brk", F.when(prev.isNotNull() & broke, 1).otherwise(0)
    ).withColumn("_isnull", isnull.cast("long"))
    agg = flagged.groupBy(*key_cols).agg(
        F.sum(F.lit(1) - F.col("_isnull")).alias("n_rows"),
        F.sum("_brk").alias("n_breaks"),
        F.sum("_isnull").alias("n_null_rows"),
    )
    return agg.filter((F.col("n_breaks") > 0) | (F.col("n_null_rows") > 0))


def repair_spans(
    df: DataFrame, id_col: str = "doc_id", spans_col: str = "spans"
) -> DataFrame:
    """Span repair — the FIX side of the row-local span checks: drop spans
    violating the kind-specific presence rules (text spans must carry
    text, non-text spans must carry media_ref — the ROW_CHECKS semantics)
    and restore offset order with a STABLE sort, emitting the repaired
    sequence as rows.  Detection tells you a doc is broken; a curation
    pipeline usually wants the salvageable sequence, not a dropped doc.

    Everything is array-LOCAL Catalyst (filter → indexed transform →
    array_sort with an explicit comparator → posexplode): zero shuffle,
    one scan — a 100-TB repair is a map job.  Sort key is
    (coalesce(offset, -1), original position): NULL offsets sort first
    deterministically, and equal offsets preserve input order, so the
    output is bit-stable under any partitioning AND reproducible by
    engines whose list sort is lexicographic-on-structs (the oracle).

    Returns (id, span_idx, kind, text, media_ref, offset, n_dropped):
    span_idx = position in the REPAIRED sequence; n_dropped = spans
    removed from that document.  Documents whose every span was dropped
    produce no rows (their doc-level verdict is the checks' job).
    """
    spans = F.col(spans_col)
    kept = F.filter(
        spans,
        lambda s: F.when(s["kind"] == "text", s["text"].isNotNull()).otherwise(
            s["media_ref"].isNotNull()
        ),
    )
    base = df.select(
        F.col(id_col).alias("id"),
        kept.alias("_kept"),
        (F.size(spans) - F.size(kept)).cast("long").alias("n_dropped"),
    )
    indexed = F.transform(
        F.col("_kept"),
        lambda s, i: F.struct(
            F.coalesce(s["offset"], F.lit(-1)).alias("k1"),
            i.alias("k2"),
            s.alias("span"),
        ),
    )

    def _cmp(l, r):  # noqa: E741 - comparator args
        return (
            F.when(l["k1"] < r["k1"], F.lit(-1))
            .when(l["k1"] > r["k1"], F.lit(1))
            .when(l["k2"] < r["k2"], F.lit(-1))
            .when(l["k2"] > r["k2"], F.lit(1))
            .otherwise(F.lit(0))
        )

    sorted_spans = F.transform(
        F.array_sort(indexed, _cmp), lambda e: e["span"]
    )
    return (
        base.select(
            "id",
            "n_dropped",
            F.posexplode(sorted_spans).alias("span_idx", "_s"),
        )
        .select(
            "id",
            F.col("span_idx").cast("long").alias("span_idx"),
            F.col("_s.kind").alias("kind"),
            F.col("_s.text").alias("text"),
            F.col("_s.media_ref").alias("media_ref"),
            F.col("_s.offset").alias("offset"),
            "n_dropped",
        )
    )


def render_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    spans_col: str = "spans",
    media_fmt: str = "<media:{ref}>",
) -> DataFrame:
    """Render each interleaved document to linear text — the read-side
    companion to the span checks/repair: text spans contribute their text,
    media spans an inline placeholder carrying the ref, in offset order
    (stable on ties by original position, the repair_spans sort rule).
    This is what a training pipeline feeds the tokenizer, and what a
    reviewer reads next to a violation row.

    Array-local Catalyst end-to-end (indexed transform → array_sort
    comparator → transform → concat_ws): zero shuffle, one scan.  NULL
    text / NULL media_ref render as empty ('' / the placeholder with an
    empty ref) rather than nulling the whole document — render what is
    there; flagging what is missing is the checks' job.

    Returns (id, text, n_spans, n_media).
    """
    if media_fmt.count("{ref}") != 1:
        raise ValueError(
            "render_documents: media_fmt must contain exactly one {ref} "
            f"placeholder, got {media_fmt!r}"
        )
    prefix, suffix = media_fmt.split("{ref}")
    spans = F.col(spans_col)
    indexed = F.transform(
        spans,
        lambda s, i: F.struct(
            F.coalesce(s["offset"], F.lit(-1)).alias("k1"),
            i.alias("k2"),
            s.alias("span"),
        ),
    )

    def _cmp(l, r):  # noqa: E741
        return (
            F.when(l["k1"] < r["k1"], F.lit(-1))
            .when(l["k1"] > r["k1"], F.lit(1))
            .when(l["k2"] < r["k2"], F.lit(-1))
            .when(l["k2"] > r["k2"], F.lit(1))
            .otherwise(F.lit(0))
        )

    pieces = F.transform(
        F.array_sort(indexed, _cmp),
        lambda e: F.when(
            e["span"]["kind"] == "text", F.coalesce(e["span"]["text"], F.lit(""))
        ).otherwise(
            F.concat(
                F.lit(prefix),
                F.coalesce(e["span"]["media_ref"], F.lit("")),
                F.lit(suffix),
            )
        ),
    )
    return df.select(
        F.col(id_col).alias("id"),
        F.array_join(pieces, "").alias("text"),
        F.size(spans).cast("long").alias("n_spans"),
        F.size(
            F.filter(spans, lambda s: s["kind"] != "text")
        ).cast("long").alias("n_media"),
    )


def kind_mismatch_refs(
    spans_df: DataFrame, catalog: DataFrame, broadcast_catalog: bool = True
) -> DataFrame:
    """Cross-table SEMANTIC referential check: a media span whose ref
    RESOLVES but to an entry of a different kind (an 'image' span pointing
    at an 'audio' asset) — the corruption class dangling_media_refs cannot
    see, and the row-level twin of multimodal.validate_media_payloads'
    kind_mismatch verdict (catalog-declared kind here; sniffed bytes
    there).

    Plan: explode only the (kind, media_ref) subfields via arrays_zip
    (nested-column pruning keeps the text payloads unread), broadcast the
    catalog (or sort-merge with AQE skew handling for a huge one), filter
    on inequality.  Returns (doc_id, media_ref, span_kind, catalog_kind).
    """
    pairs = (
        spans_df.select(
            "doc_id",
            F.explode(
                F.arrays_zip(F.col("spans")["kind"], F.col("spans")["media_ref"])
            ).alias("_z"),
        )
        .select(
            "doc_id",
            F.col("_z.kind").alias("span_kind"),
            F.col("_z.media_ref").alias("media_ref"),
        )
        .filter(F.col("media_ref").isNotNull())
    )
    dim = catalog.select(
        "media_ref", F.col("media_kind").alias("catalog_kind")
    )
    if broadcast_catalog:
        dim = F.broadcast(dim)
    return pairs.join(dim, "media_ref").filter(
        F.col("span_kind") != F.col("catalog_kind")
    ).select("doc_id", "media_ref", "span_kind", "catalog_kind")


def aggregate_reconciliation(
    parent: DataFrame,
    child: DataFrame,
    key_cols: "list[str]",
    parent_col: str,
    child_col: str,
    tolerance: float = 0.0,
) -> DataFrame:
    """Cross-table AGGREGATE consistency — the warehouse invariant the
    row-level referential checks cannot see: a parent's stored total must
    equal the SUM of its children within ``tolerance`` (order total vs
    line items, account balance vs ledger entries, shard row-count
    manifest vs the shard).  A dangling-ref check passes a corrupted
    total; this catches it.

    One map-side-partial grouped sum over the child + one key join —
    skewed hot parents are AQE's skew-join case.  Both sides round(6)
    before comparing so the verdict is engine-exact; a parent with NO
    child rows reconciles against 0.0 (disagreement there is the
    violation; "should it have children at all" is the referential
    check's job).  Returns violations only:
    (key…, expected, actual, abs_diff, n_children).
    """
    if not key_cols:
        raise ValueError("aggregate_reconciliation: key_cols must be non-empty")
    sums = child.groupBy(*key_cols).agg(
        F.round(F.sum(F.col(child_col).cast("double")), 6).alias("_actual"),
        F.count(F.lit(1)).alias("n_children"),
    )
    j = (
        parent.select(
            *key_cols, F.round(F.col(parent_col).cast("double"), 6).alias("expected")
        )
        .join(sums, list(key_cols), "left")
        .select(
            *key_cols,
            "expected",
            F.coalesce(F.col("_actual"), F.lit(0.0)).alias("actual"),
            F.coalesce(F.col("n_children"), F.lit(0)).alias("n_children"),
        )
    )
    return j.select(
        *key_cols,
        "expected",
        "actual",
        F.round(F.abs(F.col("expected") - F.col("actual")), 6).alias("abs_diff"),
        "n_children",
    ).filter(F.col("abs_diff") > float(tolerance))
