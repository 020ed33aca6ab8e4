"""Seeded benchmark inputs and their expected outputs.

Everything here is a pure function of (size, seed) and is cached on disk
under the benchmark's work directory, keyed by both.  The program under test
only ever sees the generated files.
"""

from __future__ import annotations

import json
import random
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Unified schema of every generate_spans_corpus table: both span kinds occur
# in any corpus, so text and media_ref are optional, kind and offset required.
SPANS_SCHEMA_JSON = (
    '{"properties":{"doc_id":{"type":"string"},"spans":{"items":{"properties":'
    '{"kind":{"type":"string"},"media_ref":{"type":"string"},"offset":'
    '{"type":"integer"},"text":{"type":"string"}},"required":["kind","offset"],'
    '"type":"object"},"type":"array"}},"required":["doc_id","spans"],'
    '"type":"object"}'
)

JSON_FILES = 16
SKELETONS = 4096

# Event key pool shared by both JSON workloads: (key, stable type, the type
# a conflicting sparse document uses instead).
KEY_POOL = (
    ("user_id", "int", "str"),
    ("event", "str", "int"),
    ("ts", "int", "str"),
    ("score", "float", "int"),
    ("ok", "bool", "str"),
    ("tags", "list_str", "str"),
    ("geo", "obj", "str"),
    ("amount", "float", "str"),
    ("session", "str", "int"),
    ("n_items", "int", "float"),
    ("ref", "str", "bool"),
    ("ratio", "float", "str"),
    ("flags", "list_int", "list_str"),
    ("lang", "str", "int"),
    ("depth", "int", "str"),
    ("vip", "bool", "int"),
)
P_ABSENT, P_NULL, P_CONFLICT = 0.30, 0.03, 0.03


def _value(rng: random.Random, kind: str):
    if kind == "int":
        return rng.randrange(1_000_000)
    if kind == "float":
        return rng.randrange(1_000_000) + 0.25  # never integral
    if kind == "str":
        return rng.choice(("click", "view", "buy", "scroll")) + str(rng.randrange(1000))
    if kind == "bool":
        return rng.random() < 0.5
    if kind == "list_str":
        return [rng.choice(("x", "y", "z")) for _ in range(rng.randrange(4))]
    if kind == "list_int":
        return [rng.randrange(100) for _ in range(rng.randrange(4))]
    if kind == "obj":
        return {
            "lat": rng.randrange(-90, 90) + 0.5,
            "lon": rng.randrange(-180, 180) + 0.5,
            "city": rng.choice(("p", "q", "r")),
        }
    raise ValueError(kind)


def _skeleton(rng: random.Random, sparse: bool) -> dict:
    """One event document.  Dense: every key, stable type.  Sparse: keys
    may be absent, null, or carry a conflicting type."""
    doc = {}
    for key, kind, alt in KEY_POOL:
        if sparse:
            x = rng.random()
            if x < P_ABSENT:
                continue
            if x < P_ABSENT + P_NULL:
                doc[key] = None
                continue
            if x < P_ABSENT + P_NULL + P_CONFLICT:
                doc[key] = _value(rng, alt)
                continue
        doc[key] = _value(rng, kind)
    return doc


def json_docs(base: Path, sparse: bool, n: int, seed: int) -> tuple[Path, str]:
    """A parquet table ``docs(doc string)`` of n JSON event documents, and
    the canonical unified schema the engine must infer from it.

    Row r is skeleton ``perm[r]`` plus ``"seq": r``, so every row is a
    distinct document.  The expected schema is the reference fold
    ``schema_algebra.jsons_to_schema`` over the skeletons (each carrying an
    integer seq): a document's schema depends only on value types, and
    unification is idempotent, so that fold equals the fold over all n rows
    at a fraction of the cost.
    """
    from jsons_to_schema_spark.schema_algebra import canonical_json, jsons_to_schema

    out = base / f"json_{'sparse' if sparse else 'dense'}_n{n}_seed{seed}"
    expected_file = out / "expected_schema.json"
    if expected_file.exists():
        return out / "docs", expected_file.read_text()
    rng = random.Random(seed)
    skeletons = [_skeleton(rng, sparse) for _ in range(min(n, SKELETONS))]
    expected = canonical_json(jsons_to_schema({**d, "seq": 0} for d in skeletons))
    # '{"seq": r, ...rest}': the skeleton's own text after its opening brace
    tails = [json.dumps(d)[1:] for d in skeletons]
    tails = [("," + t) if t != "}" else t for t in tails]
    perm = np.random.default_rng(seed).integers(0, len(skeletons), n)
    docs_dir = out / "docs"
    docs_dir.mkdir(parents=True, exist_ok=True)
    bounds = np.linspace(0, n, JSON_FILES + 1).astype(int)
    for f, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        rows = [f'{{"seq": {r}{tails[perm[r]]}' for r in range(lo, hi)]
        pq.write_table(
            pa.table({"doc": pa.array(rows, pa.string())}),
            docs_dir / f"part-{f:05d}.parquet",
        )
    expected_file.write_text(expected)  # written last: marks the cache complete
    return docs_dir, expected


def spans_corpus(base: Path, n: int, seed: int) -> tuple[Path, dict]:
    """generate_spans_corpus(n, dir, seed) plus the row-level expectations a
    full audit must reproduce.

    expected_violations.json counts null-text SPANS; the text_present check
    fails ROWS, and two injected nulls can share a document.  The row count
    is therefore recounted here from the written parquet with pyarrow, which
    is independent of the engine.
    """
    from jsons_to_schema_spark.sources.spans import generate_spans_corpus

    out = base / f"spans_n{n}_seed{seed}"
    expected_file = out / "bench_expected.json"
    if expected_file.exists():
        return out, json.loads(expected_file.read_text())
    expected = dict(generate_spans_corpus(n, out, seed))
    null_text_rows = 0
    for part in sorted((out / "documents_spans").glob("*.parquet")):
        spans = pq.read_table(part, columns=["spans"]).column("spans").combine_chunks()
        flat = spans.flatten()
        bad = pc.and_(
            pc.equal(flat.field("kind"), "text"), pc.is_null(flat.field("text"))
        )
        row_of = pc.list_parent_indices(spans)
        null_text_rows += len(np.unique(row_of.to_numpy()[bad.to_numpy(zero_copy_only=False)]))
    expected["null_text_rows"] = null_text_rows
    expected["input_bytes"] = sum(
        p.stat().st_size for p in (out / "documents_spans").glob("*.parquet")
    )
    expected_file.write_text(json.dumps(expected, indent=1, sort_keys=True))
    return out, expected


def spans_sample_docs(corpus: Path, n: int = 2000) -> list[dict]:
    """The first n rows of the corpus as Python documents (for the
    single-thread schema_algebra probe)."""
    first = sorted((corpus / "documents_spans").glob("*.parquet"))[0]
    return pq.read_table(first).slice(0, n).to_pylist()


def json_sample_docs(docs_dir: Path, n: int = 2000) -> list[dict]:
    first = sorted(docs_dir.glob("*.parquet"))[0]
    return [json.loads(s) for s in pq.read_table(first).column("doc").to_pylist()[:n]]
