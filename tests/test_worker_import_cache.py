"""session.trim_worker_import_cache and the worker-side functions that call
it — all in-process, no Spark.

pyspark re-reads every cached zip importer's archive directory at the start
of each Python task; the engine's worker functions drop those importers so a
worker pays that once.  These tests pin the helper's semantics (only zip
importers go, imports from a zip still work and see the zip's current
contents) and every call site, so a new worker function that forgets the
call shows up here rather than as 0.2 s per task.
"""

import json
import sys
import zipfile
import zipimport

import pandas as pd
import pyarrow as pa
import pytest

from jsons_to_schema_spark import checkpoint
from jsons_to_schema_spark.operators import infer, validate
from jsons_to_schema_spark.operators.validate import ROW_CHECKS
from jsons_to_schema_spark.schema_algebra import DEFAULT_CONFIG
from jsons_to_schema_spark.session import trim_worker_import_cache


def _write_zip(path, modules: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)
    return str(path)


@pytest.fixture
def zip_on_path(tmp_path):
    """A zip archive with one module; sys.path and sys.modules are restored
    afterwards."""
    archive = _write_zip(tmp_path / "lib.zip", {"graft_zipmod_a": "VALUE = 'a'\n"})
    saved_path = list(sys.path)
    yield archive
    sys.path[:] = saved_path
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)
    for name in ("graft_zipmod_a", "graft_zipmod_b"):
        sys.modules.pop(name, None)


def test_trim_removes_zip_importers_and_keeps_the_rest(zip_on_path):
    sys.path_importer_cache[zip_on_path] = zipimport.zipimporter(zip_on_path)
    others = {
        path: finder
        for path, finder in sys.path_importer_cache.items()
        if not isinstance(finder, zipimport.zipimporter)
    }
    assert others, "the interpreter should cache some non-zip finders"

    trim_worker_import_cache()

    assert zip_on_path not in sys.path_importer_cache
    assert not any(
        isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
    )
    for path, finder in others.items():
        assert sys.path_importer_cache[path] is finder

    sys.path.insert(0, zip_on_path)
    import graft_zipmod_a

    assert graft_zipmod_a.VALUE == "a"


def test_import_after_trim_reads_the_zips_current_contents(zip_on_path):
    sys.path_importer_cache[zip_on_path] = zipimport.zipimporter(zip_on_path)
    # the archive changes after its directory was cached
    _write_zip(
        zip_on_path,
        {"graft_zipmod_a": "VALUE = 'a'\n", "graft_zipmod_b": "VALUE = 'b'\n"},
    )

    trim_worker_import_cache()

    sys.path.insert(0, zip_on_path)
    import graft_zipmod_b

    assert graft_zipmod_b.VALUE == "b"


def _json_batch():
    docs = [json.dumps({"a": 1, "b": None}), json.dumps({"a": "x"})]
    return pa.RecordBatch.from_arrays([pa.array(docs, pa.string())], ["doc"])


def _run_json_accumulator():
    fn = infer._make_json_accumulator("doc", DEFAULT_CONFIG, "fail")
    return list(fn(iter([_json_batch()])))


def _run_struct_accumulator():
    fn = infer._make_struct_accumulator(DEFAULT_CONFIG)
    batch = pa.RecordBatch.from_pydict({"a": [1, None], "b": ["x", "y"]})
    return list(fn(iter([batch])))


def _run_merge_seq():
    return infer._merge_seq((None, 0), ('{"type":"object"}', 2))


def _run_merge_comb():
    return infer._merge_comb(({"type": "integer"}, 1), ({"type": "number"}, 2))


def _run_group_fold():
    fn = infer._make_group_fold("g", "doc", DEFAULT_CONFIG, "fail")
    return fn(pd.DataFrame({"g": ["k", "k"], "doc": ['{"a": 1}', '{"a": 2.5}']}))


def _run_group_merge():
    fn = infer._make_group_merge("g")
    return fn(
        pd.DataFrame(
            {
                "g": ["k", "k"],
                "unified_schema": ['{"type":"object"}', None],
                "n_docs": [3, 0],
            }
        )
    )


def _run_split_fold():
    fn = checkpoint._fold_split_factory()
    table = pa.table(
        {
            checkpoint.SPLIT_COL: ["part-0", "part-0"],
            "doc_id": ["d1", "d2"],
            **{f"ok_{c}": [True, False] for c in ROW_CHECKS},
        }
    )
    return fn(table)


def _run_agg_finalizer():
    fn = checkpoint._make_agg_finalizer({}, "n", DEFAULT_CONFIG)
    pdf = pd.DataFrame(
        {
            checkpoint.SPLIT_COL: ["part-0"],
            "n": [2],
            **{f"fail_{c}": [1] for c in ROW_CHECKS},
        }
    )
    return list(fn(iter([pdf])))


def _run_state_fold():
    fail_cols = [f"fail_{c}" for c in ROW_CHECKS]
    fn = checkpoint._make_state_fold(fail_cols)
    batch = pa.RecordBatch.from_pylist(
        [
            {"split": "part-0", "draft": '{"type":"object"}', "n_rows": 2,
             **{c: 0 for c in fail_cols}},
            {"split": "part-1", "draft": None, "n_rows": 0,
             **{c: 0 for c in fail_cols}},
        ]
    )
    return list(fn(iter([batch])))


def _run_verdicts():
    fn = validate._make_verdicts("doc", json.dumps({"type": "object"}))
    return list(fn(iter([_json_batch()])))


WORKER_FUNCTIONS = {
    "infer._make_json_accumulator": _run_json_accumulator,
    "infer._make_struct_accumulator": _run_struct_accumulator,
    "infer._merge_seq": _run_merge_seq,
    "infer._merge_comb": _run_merge_comb,
    "infer._make_group_fold": _run_group_fold,
    "infer._make_group_merge": _run_group_merge,
    "checkpoint._fold_split_factory": _run_split_fold,
    "checkpoint._make_agg_finalizer": _run_agg_finalizer,
    "checkpoint._make_state_fold": _run_state_fold,
    "validate._make_verdicts": _run_verdicts,
}


@pytest.mark.parametrize("name", sorted(WORKER_FUNCTIONS))
def test_worker_function_trims_import_cache(zip_on_path, name):
    sys.path_importer_cache[zip_on_path] = zipimport.zipimporter(zip_on_path)

    out = WORKER_FUNCTIONS[name]()

    assert out is not None and len(out) > 0
    assert zip_on_path not in sys.path_importer_cache
