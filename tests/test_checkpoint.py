"""Resume semantics: a killed run recomputes ZERO already-committed splits,
and the resumed result is identical to a single-shot run (BASELINE.md resume
cost row)."""

import json

import pytest

from jsons_to_schema_spark.checkpoint import checkpointed_validate
from jsons_to_schema_spark.operators.infer import infer_from_struct
from jsons_to_schema_spark.schema_algebra import canonical_json
from jsons_to_schema_spark.sources.spans import ensure_corpus
from jsons_to_schema_spark.sources.tables import load_spans


@pytest.fixture(scope="module")
def corpus():
    return ensure_corpus(5000)


def test_kill_resume_zero_recompute(spark, corpus, tmp_path):
    data = str(corpus / "documents_spans")
    state = tmp_path / "state"

    # simulated kill: only 3 splits get committed
    r1 = checkpointed_validate(spark, data, state, max_splits=3)
    total = r1["splits_total"]
    assert total >= 8
    assert r1["splits_computed_this_run"] == 3
    assert r1["splits_committed"] == 3

    # resume: exactly the remaining splits are computed, never the first 3
    r2 = checkpointed_validate(spark, data, state)
    assert r2["splits_computed_this_run"] == total - 3
    assert r2["splits_committed"] == total

    # idempotent third run: zero recompute
    r3 = checkpointed_validate(spark, data, state)
    assert r3["splits_computed_this_run"] == 0
    assert r3["splits_committed"] == total

    # resumed result == single-shot result (schema + metrics)
    single = checkpointed_validate(spark, data, tmp_path / "state2")
    assert canonical_json(r3["schema"]) == canonical_json(single["schema"])
    assert r3["n_rows"] == single["n_rows"]
    assert r3["fails"] == single["fails"]


def test_checkpoint_schema_matches_direct_inference(spark, corpus, tmp_path):
    data = str(corpus / "documents_spans")
    res = checkpointed_validate(spark, data, tmp_path / "state")
    direct, n = infer_from_struct(load_spans(spark, corpus))
    assert canonical_json(res["schema"]) == canonical_json(direct)
    assert res["n_rows"] == n


def test_lineage_and_metrics(spark, corpus, tmp_path):
    data = str(corpus / "documents_spans")
    res = checkpointed_validate(spark, data, tmp_path / "state")
    expected = json.loads((corpus / "expected_violations.json").read_text())
    assert len(res["lineage"]) == res["splits_total"]
    assert sum(l["n_rows"] for l in res["lineage"]) == expected["n_rows"]
    assert res["fails"]["monotonic_offsets"] == expected["non_monotonic_rows"]
    # at least one split fails, and pass/fail is recorded per split
    assert any(not l["passed"] for l in res["lineage"])


def test_checkpoint_arrow_fallback_for_float_arrays(spark, corpus, tmp_path):
    """A schema outside the codegen builder (float-element array → explode
    needed) routes through the grouped-Arrow fallback and still resumes."""
    from pyspark.sql import functions as F

    src = load_spans(spark, corpus).limit(500).withColumn(
        "scores", F.array(F.lit(1.0), F.lit(2.5))
    )
    data = str(tmp_path / "data")
    src.repartition(4).write.parquet(data)
    res = checkpointed_validate(spark, data, tmp_path / "state")
    assert res["splits_computed_this_run"] == res["splits_total"] > 1
    assert res["n_rows"] == 500
    s = res["schema"]
    assert s["properties"]["scores"]["items"]["type"] == "number"
    # resume: nothing recomputed
    again = checkpointed_validate(spark, data, tmp_path / "state")
    assert again["splits_computed_this_run"] == 0


def test_state_store_is_a_queryable_table(spark, corpus, tmp_path):
    """The MERGE-shaped state store must be readable as a real table (the
    Iceberg-at-scale contract): current snapshot holds one row per split
    with lineage+metrics columns, and re-merging a split upserts in place."""
    from jsons_to_schema_spark.checkpoint import TableStateStore, checkpointed_validate

    data = str(corpus / "documents_spans")
    state = tmp_path / "state"
    res = checkpointed_validate(spark, data, state)

    store = TableStateStore(state)
    version = store._version()
    snap = store._snapshot_path(version)
    tbl = spark.read.parquet(str(snap))
    assert tbl.count() == res["splits_total"]
    cols = set(tbl.columns)
    assert {"split", "draft", "n_rows", "committed_at"} <= cols
    assert any(c.startswith("fail_") for c in cols)

    # MERGE upsert: re-committing one split replaces, never duplicates
    rec = dict(store._rows()[0])
    rec["n_rows"] = rec["n_rows"]  # unchanged content, new commit
    store.merge([rec])
    assert store._version() == version + 1
    assert len(store._rows()) == res["splits_total"]


def test_state_store_crash_window_recovery(tmp_path):
    """A kill between snapshot write and commit marker (the MERGE commit's
    only crash window) must leave the previous state visible, and the next
    merge must ADOPT the complete claimed snapshot and commit on top of it
    (never delete it — r3 review: deletion could destroy a live slow
    writer's batch)."""
    from jsons_to_schema_spark.checkpoint import TableStateStore

    store = TableStateStore(tmp_path / "state")
    store.merge([{"split": "a", "n_rows": 1}])
    assert set(store.committed()) == {"a"}

    # simulate the crash: claimed next-version snapshot, marker NOT created
    import shutil

    shutil.copy(store._snapshot_path(1), store._snapshot_path(2))
    assert set(store.committed()) == {"a"}  # uncommitted claim invisible

    store.merge([{"split": "b", "n_rows": 2}])  # adopts v2, commits v3
    assert set(store.committed()) == {"a", "b"}
    assert store._version() == 3  # adoption consumed the claimed version


def test_state_store_concurrent_merge_loses_no_batch(tmp_path):
    """ADVICE r2: two committers racing read-modify-write must not lose a
    batch — the os.link claim makes exactly one winner per version; the loser
    rebases and retries.  Hammer with 8 threads × disjoint split batches."""
    import threading

    from jsons_to_schema_spark.checkpoint import TableStateStore

    store = TableStateStore(tmp_path / "state")
    n_threads, per_batch = 8, 5
    errs = []

    def commit(t):
        try:
            store.merge(
                [{"split": f"s{t}-{i}", "draft": "{}", "n_rows": 1}
                 for i in range(per_batch)]
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=commit, args=(t,)) for t in range(n_threads)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    got = store.committed()
    assert len(got) == n_threads * per_batch
    # upsert-on-rerun still replaces, not duplicates
    store.merge([{"split": "s0-0", "draft": "{}", "n_rows": 2}])
    assert store.committed()["s0-0"]["n_rows"] == 2


def test_state_store_orphan_claim_recovery(tmp_path):
    """A claimed-but-uncommitted snapshot (writer died before its commit
    marker) must not deadlock later committers: after the grace window the
    claim is ADOPTED — by the writer protocol a claimed snapshot is always
    kept-rows + the dead writer's batch, so adoption COMMITS that batch
    (at-least-once) instead of losing it."""
    from jsons_to_schema_spark.checkpoint import TableStateStore

    store = TableStateStore(tmp_path / "state")
    store.merge([{"split": "a", "draft": "{}", "n_rows": 1}])
    # simulate a dead writer that had claimed v2 = kept(v1) + its batch
    orphan = store._snapshot_path(2)
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pylist(
        [{"split": "a", "draft": "{}", "n_rows": 1},
         {"split": "late", "draft": "{}", "n_rows": 9}]), orphan)
    store.merge([{"split": "b", "draft": "{}", "n_rows": 1}])
    got = store.committed()
    # the dead writer's batch is adopted, nothing is lost
    assert set(got) == {"a", "late", "b"}
    assert got["late"]["n_rows"] == 9


def test_state_store_df_contract(spark, tmp_path):
    """committed_df/merge_df (the executor-written MERGE path, r4 VERDICT
    item 2) agree with the dict API; column evolution across merges unions."""
    from jsons_to_schema_spark.checkpoint import TableStateStore

    store = TableStateStore(tmp_path / "state")
    assert store.committed_df(spark) is None
    df1 = spark.createDataFrame(
        [("a", "{}", 1)], "split string, draft string, n_rows long"
    )
    store.merge_df(df1)
    assert [r["split"] for r in store.committed_df(spark).collect()] == ["a"]
    # dict-API upsert adding a NEW column: union schema, row replaced in place
    store.merge(
        [
            {"split": "a", "draft": "{}", "n_rows": 2, "fail_x": 7},
            {"split": "b", "draft": "{}", "n_rows": 3},
        ]
    )
    got = store.committed()
    assert got["a"]["n_rows"] == 2 and got["a"]["fail_x"] == 7
    assert got["b"]["n_rows"] == 3 and got["b"].get("fail_x") is None
    # merge_df missing the evolved column: kept rows keep their counts
    store.merge_df(
        spark.createDataFrame([("c", "{}", 4)], "split string, draft string, n_rows long")
    )
    out = store.committed()
    assert set(out) == {"a", "b", "c"}
    assert out["a"]["fail_x"] == 7 and out["c"].get("fail_x") is None


def test_many_split_stress_zero_driver_drafts(spark, corpus, tmp_path):
    """1,024-split synthetic stress (r4, VERDICT item 2 'Done' criterion):
    pending enumeration, per-split records, and the draft fold all stay
    Spark-side; the driver-facing lineage summary carries ONLY the three
    narrow columns (no KB-scale draft strings), and resume recomputes zero."""
    from jsons_to_schema_spark.sources.tables import load_spans

    data = str(tmp_path / "data")
    load_spans(spark, corpus).repartition(1024).write.parquet(data)
    res = checkpointed_validate(spark, data, tmp_path / "state")
    assert res["splits_total"] == 1024
    assert res["splits_computed_this_run"] == 1024
    assert len(res["lineage"]) == 1024
    assert set(res["lineage"][0]) == {"split", "n_rows", "passed"}
    assert {f.name for f in res["lineage_df"].schema.fields} == {
        "split", "n_rows", "passed",
    }
    again = checkpointed_validate(spark, data, tmp_path / "state")
    assert again["splits_computed_this_run"] == 0
    assert again["n_rows"] == res["n_rows"]


def test_dict_api_store_resumes(spark, corpus, tmp_path):
    """A store implementing ONLY the legacy committed()/merge() dict
    contract must still resume and produce the full result — the read
    side falls back to a driver-built state frame (r4 review: dropping
    that fallback silently returned schema=None and recomputed every
    split on each run)."""

    class DictStore:
        def __init__(self):
            self.rows = {}

        def committed(self):
            return dict(self.rows)

        def merge(self, records):
            for rec in records:
                self.rows[rec["split"]] = rec

    data = str(corpus / "documents_spans")
    store = DictStore()
    r1 = checkpointed_validate(spark, data, tmp_path / "unused", max_splits=3, store=store)
    assert r1["splits_committed"] == 3 and r1["schema"] is not None

    r2 = checkpointed_validate(spark, data, tmp_path / "unused", store=store)
    total = r2["splits_total"]
    assert r2["splits_computed_this_run"] == total - 3  # resume, not recompute
    assert r2["splits_committed"] == total

    r3 = checkpointed_validate(spark, data, tmp_path / "unused", store=store)
    assert r3["splits_computed_this_run"] == 0
    single = checkpointed_validate(spark, data, tmp_path / "state2")
    assert canonical_json(r3["schema"]) == canonical_json(single["schema"])
    assert r3["n_rows"] == single["n_rows"] and r3["fails"] == single["fails"]


def test_expire_snapshots_retention(tmp_path):
    """expire_snapshots drops superseded snapshot files, keeps every commit
    marker (the version counter), keeps the current + grace snapshots, and
    the store still merges and reads correctly afterwards."""
    from jsons_to_schema_spark.checkpoint import TableStateStore

    store = TableStateStore(tmp_path / "state")
    for i in range(5):
        store.merge([{"split": f"s{j}", "n": i} for j in range(3)])
    assert store._version() == 5
    snaps_before = sorted((tmp_path / "state").glob("snap-*.parquet"))
    assert len(snaps_before) == 5
    removed = store.expire_snapshots(keep_last=2)
    assert removed == 3
    left = sorted(p.name for p in (tmp_path / "state").glob("snap-*.parquet"))
    assert left == ["snap-000004.parquet", "snap-000005.parquet"]
    # markers untouched -> version unchanged
    assert store._version() == 5
    assert len(list((tmp_path / "state").glob("commit-*"))) == 5
    # reads and further merges keep working on the compacted store
    assert {r["split"]: r["n"] for r in store._rows()} == {
        "s0": 4, "s1": 4, "s2": 4,
    }
    store.merge([{"split": "s0", "n": 99}])
    assert store.committed()["s0"]["n"] == 99
    # idempotent; second call removes nothing new beyond the new cutoff
    assert store.expire_snapshots(keep_last=2) == 1  # snap-4 now past cutoff
    with pytest.raises(ValueError):
        store.expire_snapshots(keep_last=1)


def test_checkpointed_validate_with_inline_expiry(spark, corpus, tmp_path):
    """A kill/resume campaign run with expire_keep_last compacts the store
    between runs and still recomputes ZERO committed splits, producing the
    identical final schema."""
    from jsons_to_schema_spark.checkpoint import checkpointed_validate

    data = str(corpus / "documents_spans")
    state = tmp_path / "st"
    first = checkpointed_validate(
        spark, data, state, max_splits=2, expire_keep_last=2
    )
    assert first["splits_computed_this_run"] == 2
    rest = checkpointed_validate(spark, data, state, expire_keep_last=2)
    assert rest["splits_computed_this_run"] == rest["splits_total"] - 2
    again = checkpointed_validate(spark, data, state, expire_keep_last=2)
    assert again["splits_computed_this_run"] == 0
    oneshot = checkpointed_validate(spark, data, tmp_path / "st2")
    assert again["schema"] == oneshot["schema"]
    assert again["fails"] == oneshot["fails"]
    snaps = list((state).glob("snap-*.parquet"))
    assert len(snaps) <= 2


def _copy_parts(corpus, dest, n):
    """The first ``n`` part files of the spans corpus, copied into ``dest``."""
    import shutil

    dest.mkdir()
    parts = sorted((corpus / "documents_spans").glob("*.parquet"))[:n]
    for f in parts:
        shutil.copy(f, dest / f.name)
    return parts


def test_empty_part_file_converges(spark, corpus, tmp_path):
    """A zero-row part file is a listed split: it is committed as a zero-row
    record, so the run converges (total == committed) and a rerun computes
    nothing; the answer equals the same directory without the empty file."""
    import pyarrow.parquet as pq

    plain, with_empty = tmp_path / "plain", tmp_path / "with_empty"
    parts = _copy_parts(corpus, plain, 3)
    _copy_parts(corpus, with_empty, 3)
    pq.write_table(pq.read_table(parts[0]).slice(0, 0), with_empty / "part-99999.parquet")

    ref = checkpointed_validate(spark, str(plain), tmp_path / "s_plain")
    first = checkpointed_validate(spark, str(with_empty), tmp_path / "s_empty")
    assert first["splits_total"] == first["splits_committed"] == 4
    assert first["splits_computed_this_run"] == 4
    again = checkpointed_validate(spark, str(with_empty), tmp_path / "s_empty")
    assert again["splits_total"] == again["splits_committed"] == 4
    assert again["splits_computed_this_run"] == 0
    for res in (first, again):
        assert canonical_json(res["schema"]) == canonical_json(ref["schema"])
        assert res["n_rows"] == ref["n_rows"]
        assert res["fails"] == ref["fails"]
    empty = [l for l in again["lineage"] if l["split"].endswith("part-99999.parquet")]
    assert empty == [{"split": empty[0]["split"], "n_rows": 0, "passed": True}]


def test_input_files_match_split_column(spark, tmp_path):
    """One split identity: the file index's inputFiles() (``file:///…``),
    normalized by split_of, equals the scan's split_column() (from
    ``file:/…``) — on a Hive-partitioned layout whose directory and
    partition values contain a space and a '%'."""
    from jsons_to_schema_spark.operators.validate import split_column, split_of

    out = tmp_path / "dir with space %25"
    spark.createDataFrame(
        [(i, f"v {i % 2}%x") for i in range(20)], "x long, p string"
    ).write.partitionBy("p").parquet(str(out))
    df = spark.read.parquet(str(out))
    listed = {split_of(uri) for uri in df.inputFiles()}
    scanned = {r[0] for r in df.select(split_column()).distinct().collect()}
    assert len(listed) >= 2
    assert listed == scanned


def test_resume_reads_only_pending_files(spark, corpus, tmp_path):
    """A resume must not open committed files: corrupt the page bytes of a
    committed part file (footer intact, so listing and schema still work)
    and the resume and no-op rerun still succeed with the single-shot
    answer taken before the corruption."""
    import pyarrow.parquet as pq

    data = tmp_path / "data"
    parts = _copy_parts(corpus, data, 6)
    single = checkpointed_validate(spark, str(data), tmp_path / "single")
    state = tmp_path / "state"
    first = checkpointed_validate(spark, str(data), state, max_splits=3)
    assert first["splits_computed_this_run"] == 3

    victim = data / parts[0].name  # sorted first: committed by the K=3 run
    assert any(l["split"].endswith(victim.name) for l in first["lineage"])
    with open(victim, "r+b") as fh:
        fh.seek(100)
        fh.write(b"\0" * 4096)
    with pytest.raises(Exception):
        pq.read_table(victim)

    resumed = checkpointed_validate(spark, str(data), state)
    assert resumed["splits_computed_this_run"] == 3
    noop = checkpointed_validate(spark, str(data), state)
    assert noop["splits_computed_this_run"] == 0
    for res in (resumed, noop):
        assert res["splits_committed"] == 6
        assert canonical_json(res["schema"]) == canonical_json(single["schema"])
        assert res["fails"] == single["fails"]
        assert res["n_rows"] == single["n_rows"]
