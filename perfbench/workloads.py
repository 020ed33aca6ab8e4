"""The benchmark's workloads.  Each one is a closed loop with one client: an
op starts only when the previous one has returned and been checked.

Every op rebuilds its DataFrames from the files: re-running the same Dataset
object lets AQE reuse materialized shuffle stages, which would time a no-op.
"""

from __future__ import annotations

import shutil
import statistics
import time
from pathlib import Path

import inputs
from tracing import Tracer


class Outcome:
    """What one op did: documents it completed, output-check failures and
    wall time per phase (phases cover the whole op)."""

    def __init__(self):
        self.docs = 0
        self.errors: list[str] = []
        self.phases: dict[str, float] = {}
        self.counts: dict[str, float] = {}  # layer counters the op saw

    def expect(self, what: str, got, want) -> None:
        if got != want:
            self.errors.append(f"{what}: got {got!r}, want {want!r}")


class Workload:
    name = ""
    why = ""
    default_docs = 0
    warmup_ops = 1
    # (module, attribute) pairs wrapped with spans in a traced run
    trace_targets: list[tuple[str, str]] = []

    def __init__(self, work: Path, seed: int, docs: int | None):
        self.work = work
        self.seed = seed
        self.n = docs or self.default_docs
        self.spark = None
        self.tracer = Tracer()

    def make_inputs(self) -> None:
        raise NotImplementedError

    def start(self, spark) -> None:
        self.spark = spark

    def op(self) -> Outcome:
        raise NotImplementedError

    def read_input(self):
        raise NotImplementedError

    def scan_floor(self):
        """A full read of the input that does nothing else."""
        raise NotImplementedError

    def sample_docs(self) -> list:
        raise NotImplementedError

    def probes(self) -> dict[str, float]:
        """Per-layer floors measured once the op loop is done (traced run)."""
        from pyspark.sql import functions as F

        from jsons_to_schema_spark.schema_algebra import jsons_to_schema

        def count_rows(batches):
            import pyarrow as pa

            n = 0
            for b in batches:
                n += b.num_rows
            yield pa.RecordBatch.from_pydict({"n": [n]})

        sample = self.sample_docs()
        return {
            "sources.scan_s": _median_time(lambda: self.scan_floor()),
            "sources.arrow_transfer_s": _median_time(
                lambda: self.read_input()
                .mapInArrow(count_rows, "n long")
                .agg(F.sum("n"))
                .first()
            ),
            "schema_algebra.fold_docs_per_s": len(sample)
            / _median_time(lambda: jsons_to_schema(sample)),
        }

    def layer_counters(self, out: Outcome) -> dict[str, float]:
        """Per-op layer counters read after a traced op, outside its timing."""
        return dict(out.counts)

    def named_metrics(self, outcomes: list[Outcome]) -> list[tuple]:
        """The end-to-end metrics this workload names in its table, as
        (name, samples, unit)."""
        raise NotImplementedError

    def stop(self) -> None:
        pass


def _median_time(fn) -> float:
    """Median wall time of three calls."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


# ---------------------------------------------------------------------------
# Spans corpus workloads
# ---------------------------------------------------------------------------

SOURCES_SPANS = [
    ("jsons_to_schema_spark.sources.tables", "load_spans"),
    ("jsons_to_schema_spark.sources.tables", "load_media_catalog"),
]


class _SpansWorkload(Workload):
    default_docs = 100_000

    def make_inputs(self) -> None:
        self.corpus, self.expected = inputs.spans_corpus(self.work, self.n, self.seed)
        self.state = self.work / f"state_n{self.n}_seed{self.seed}"

    def read_input(self):
        from jsons_to_schema_spark.sources.tables import load_spans

        return load_spans(self.spark, self.corpus)

    def scan_floor(self):
        from pyspark.sql import functions as F

        return self.read_input().select(F.sum(F.size("spans"))).first()

    def sample_docs(self) -> list:
        return inputs.spans_sample_docs(self.corpus)

    def expected_fails(self) -> dict[str, int]:
        return {
            "monotonic_offsets": self.expected["non_monotonic_rows"],
            "text_present": self.expected["null_text_rows"],
            "media_ref_present": 0,
        }


class AuditSpans(_SpansWorkload):
    name = "audit_spans"
    why = ("flagship: one fused audit pass plus the two narrow checks over a "
           "skewed spans corpus; JVM codegen and shuffle only")
    warmup_ops = 3
    cap = 100
    trace_targets = SOURCES_SPANS + [
        ("jsons_to_schema_spark.operators.audit_pass", "single_pass_audit"),
        ("jsons_to_schema_spark.operators.infer_native", "NativeInferencePlan.__init__"),
        ("jsons_to_schema_spark.operators.infer_native", "NativeInferencePlan.finalize"),
        ("jsons_to_schema_spark.operators.validate", "with_check_flags"),
        ("jsons_to_schema_spark.operators.validate", "verdicts_from_report"),
        ("jsons_to_schema_spark.operators.validate", "violations_from_report"),
    ]

    def op(self) -> Outcome:
        from jsons_to_schema_spark.operators.audit_pass import single_pass_audit
        from jsons_to_schema_spark.operators.validate import (
            dangling_media_refs,
            duplicate_doc_ids,
        )
        from jsons_to_schema_spark.schema_algebra import canonical_json
        from jsons_to_schema_spark.sources.tables import load_media_catalog

        span = self.tracer.span
        out = Outcome()
        t0 = time.perf_counter()
        df = self.read_input()
        catalog = load_media_catalog(self.spark, self.corpus)
        res = single_pass_audit(df, self.cap)
        try:
            with span("validate.verdicts"):
                verdicts = res.verdicts.collect()
            with span("validate.violations"):
                n_violations = res.violations.count()
        finally:
            res.unpersist()
        with span("validate.duplicate_doc_ids"):
            n_dup = duplicate_doc_ids(df).count()
        with span("validate.dangling_media_refs"):
            n_dangling = dangling_media_refs(df, catalog).count()
        out.phases["audit_s"] = time.perf_counter() - t0

        exp = self.expected
        out.expect("unified schema", canonical_json(res.schema), inputs.SPANS_SCHEMA_JSON)
        out.expect("n_docs", res.n_docs, exp["n_rows"])
        out.expect("verdict rows", sum(v["n_rows"] for v in verdicts), exp["n_rows"])
        for check, want in self.expected_fails().items():
            out.expect(f"fails {check}", sum(v[f"fail_{check}"] for v in verdicts), want)
        out.expect(
            "violation rows",
            n_violations,
            sum(min(self.cap, w) for w in self.expected_fails().values()),
        )
        out.expect("duplicate doc_ids", n_dup, exp["duplicate_doc_ids"])
        out.expect("dangling media_refs", n_dangling, exp["dangling_media_ref_spans"])
        out.docs = res.n_docs
        return out

    def probes(self) -> dict[str, float]:
        from jsons_to_schema_spark.operators.infer_native import infer_from_struct_native

        out = super().probes()
        out["infer_native.infer_from_struct_native_s"] = _median_time(
            lambda: infer_from_struct_native(self.read_input())
        )
        return out

    def named_metrics(self, outcomes):
        times = [o.phases["audit_s"] for o in outcomes]
        return [("audit_docs_per_s", [o.docs / t for o, t in zip(outcomes, times)], "docs/s")]


class ResumeValidate(_SpansWorkload):
    name = "resume_validate"
    why = ("kill at half the splits, resume, no-op rerun of the checkpointed "
           "validate; the only workload with state writes on the blocking path")
    warmup_ops = 1
    trace_targets = SOURCES_SPANS + [
        ("jsons_to_schema_spark.checkpoint", "checkpointed_validate"),
        ("jsons_to_schema_spark.checkpoint", "_per_split_records_df"),
        ("jsons_to_schema_spark.checkpoint", "TableStateStore.committed_df"),
        ("jsons_to_schema_spark.checkpoint", "TableStateStore.merge_df"),
        ("jsons_to_schema_spark.operators.infer", "_tree_merge"),
        ("jsons_to_schema_spark.operators.infer_native", "NativeInferencePlan.__init__"),
        ("jsons_to_schema_spark.operators.validate", "with_check_flags"),
    ]

    def op(self) -> Outcome:
        from jsons_to_schema_spark.checkpoint import TableStateStore, checkpointed_validate
        from jsons_to_schema_spark.schema_algebra import canonical_json

        state = self.state
        shutil.rmtree(state, ignore_errors=True)
        data = str(self.corpus / "documents_spans")
        total = self.expected["n_files"]
        kill_after = total // 2
        span = self.tracer.span
        out = Outcome()
        runs = {}
        for phase, limit in (("partial_s", kill_after), ("resume_s", None), ("noop_rerun_s", None)):
            t0 = time.perf_counter()
            with span(phase.removesuffix("_s")):
                runs[phase] = checkpointed_validate(self.spark, data, state, max_splits=limit)
            out.phases[phase] = time.perf_counter() - t0

        out.expect("splits_total", runs["partial_s"]["splits_total"], total)
        out.expect("partial splits computed", runs["partial_s"]["splits_computed_this_run"], kill_after)
        out.expect("resume splits computed", runs["resume_s"]["splits_computed_this_run"], total - kill_after)
        out.expect("no-op splits computed", runs["noop_rerun_s"]["splits_computed_this_run"], 0)
        for phase in ("resume_s", "noop_rerun_s"):
            r = runs[phase]
            out.expect(f"{phase} schema", canonical_json(r["schema"]), inputs.SPANS_SCHEMA_JSON)
            out.expect(f"{phase} n_rows", r["n_rows"], self.expected["n_rows"])
            out.expect(f"{phase} fails", r["fails"], self.expected_fails())
        out.docs = runs["resume_s"]["n_rows"]
        out.counts["checkpoint.splits_computed"] = sum(
            r["splits_computed_this_run"] for r in runs.values()
        )
        return out

    def layer_counters(self, out: Outcome) -> dict[str, float]:
        from jsons_to_schema_spark.checkpoint import TableStateStore

        t0 = time.perf_counter()
        TableStateStore(self.state).committed_df(self.spark).count()
        read_s = time.perf_counter() - t0
        state_bytes = sum(p.stat().st_size for p in self.state.rglob("*") if p.is_file())
        return {
            **out.counts,
            "checkpoint.state_read_s": read_s,
            "checkpoint.state_bytes_per_input_byte": state_bytes
            / self.expected["input_bytes"],
            "checkpoint.snapshots": len(list(self.state.glob("snap-*.parquet"))),
        }

    def stop(self) -> None:
        shutil.rmtree(self.state, ignore_errors=True)

    def named_metrics(self, outcomes):
        return [
            (phase, [o.phases[phase] for o in outcomes], "s")
            for phase in ("partial_s", "resume_s", "noop_rerun_s")
        ]


# ---------------------------------------------------------------------------
# JSON inference workloads
# ---------------------------------------------------------------------------

class _JsonWorkload(Workload):
    sparse = True
    warmup_ops = 1
    trace_targets = [
        ("jsons_to_schema_spark.sources.tables", "load_table"),
        ("jsons_to_schema_spark.operators.infer", "infer_from_json_column"),
        ("jsons_to_schema_spark.operators.infer", "_ensure_parallelism"),
        ("jsons_to_schema_spark.operators.infer", "_tree_merge"),
    ]

    def make_inputs(self) -> None:
        self.docs_dir, self.expected_schema = inputs.json_docs(
            self.work, self.sparse, self.n, self.seed
        )

    def read_input(self):
        from jsons_to_schema_spark.sources.tables import load_table

        return load_table(self.spark, str(self.docs_dir.parent), "docs")

    def scan_floor(self):
        from pyspark.sql import functions as F

        return self.read_input().select(F.sum(F.length("doc"))).first()

    def sample_docs(self) -> list:
        return inputs.json_sample_docs(self.docs_dir)

    def op(self) -> Outcome:
        from jsons_to_schema_spark.operators.infer import infer_from_json_column
        from jsons_to_schema_spark.schema_algebra import canonical_json

        out = Outcome()
        t0 = time.perf_counter()
        schema, n = infer_from_json_column(self.read_input(), "doc")
        out.phases["infer_s"] = time.perf_counter() - t0
        out.expect("unified schema", canonical_json(schema), self.expected_schema)
        out.expect("n_docs", n, self.n)
        out.docs = n
        return out

    def named_metrics(self, outcomes):
        return [
            ("json_docs_per_s", [o.docs / o.phases["infer_s"] for o in outcomes], "docs/s")
        ]


class InferJsonSparse(_JsonWorkload):
    name = "infer_json_sparse"
    why = ("optional keys, nulls and type conflicts: every Arrow batch falls "
           "back to the per-document schema_algebra fold")
    default_docs = 50_000
    sparse = True


class InferJsonDense(_JsonWorkload):
    name = "infer_json_dense"
    why = ("same key pool, every key present with a stable type: every batch "
           "takes the pyarrow fast path (control for the sparse fold)")
    default_docs = 500_000
    sparse = False


WORKLOADS = {
    w.name: w for w in (AuditSpans, InferJsonSparse, InferJsonDense, ResumeValidate)
}
