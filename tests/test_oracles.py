"""Mimic the driver's correctness gate: run every registered query on Spark
at sf0.01 and its DuckDB oracle on the same parquet, compare column names +
row counts + order-insensitive values.  Catching a mismatch here is strictly
cheaper than waiting for CORRECTNESS_r{N}.json."""

import math
from decimal import Decimal as _Decimal

import duckdb
import pytest

import __spark_entry__ as entry_mod

from .conftest import SF_ORACLE

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_ORACLE}/{t}.parquet')"
        )
    return c


def _norm(v):
    if isinstance(v, _Decimal):
        # DuckDB types literal arithmetic DECIMAL where Spark emits DOUBLE;
        # the driver's hash canonicalizes across that (histogram_events_value
        # was hash-green in r4 with this exact shape), so compare as float.
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        r = round(v, 9)
        if r == 0.0:
            # Distinguish IEEE signed zeros: Python == treats -0.0 == 0.0 but
            # the driver's byte-level hash does not, so parity must see the
            # sign or it cannot predict CORRECTNESS_r{N} (r4 finding 2).
            return "-0.0" if math.copysign(1.0, r) < 0 else "+0.0"
        return r
    if hasattr(v, "item"):  # numpy scalars from duckdb
        return _norm(v.item())
    return v


def _rows_to_multiset(cols, rows):
    # None-safe total order: sort on (is_none, type-name, value) per cell so
    # rows containing NULLs (e.g. rollup subtotals) still compare
    return sorted(
        (tuple(_norm(v) for v in r) for r in rows),
        key=lambda r: tuple((v is None, type(v).__name__, v if v is not None else 0) for v in r),
    )


ORACLED = sorted(entry_mod.oracle_sql().keys())


@pytest.mark.parametrize("name", ORACLED)
def test_oracle_parity(spark, con, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, SF_ORACLE)
    spark_cols = [c.lower() for c in sdf.columns]
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = con.execute(entry_mod.oracle_sql()[name])
    duck_cols = [d[0].lower() for d in res.description]
    duck_rows = res.fetchall()

    assert spark_cols == duck_cols, f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    ms, md = _rows_to_multiset(spark_cols, spark_rows), _rows_to_multiset(duck_cols, duck_rows)
    mismatches = [(a, b) for a, b in zip(ms, md) if a != b][:5]
    assert ms == md, f"{name}: value mismatch, first diffs: {mismatches}"


def test_all_queries_execute(spark):
    """Every registered query (oracled or not) runs and returns ≥0 rows with
    a stable schema at sf0.01."""
    for name, q in entry_mod.queries().items():
        df = q(spark, SF_ORACLE)
        n = df.count()
        assert n >= 0 and len(df.columns) > 0, name


def test_every_query_is_oracled():
    """The 100%-oracle contract: a new queries() entry without a matching
    oracle (real SQL, pinned snapshot, or contract form) fails CI here
    instead of silently downgrading to a rows-only driver check."""
    from jsons_to_schema_spark.queries import ORACLES, QUERIES

    assert set(QUERIES) == set(ORACLES), sorted(
        set(QUERIES).symmetric_difference(ORACLES)
    )


def test_driver_window_covers_dark_families():
    """The round driver oracles only the first 50 registry entries.  r5
    policy (r4 verdict item 2): the registry is frozen and the window is
    ~90% first-time queries — 45 entries that have never had a driver row
    (led by the two components with ZERO driver evidence: datatype profile
    and Bloom decontam) plus 5 canaries from previously-green families,
    including the one r4 hash failure so its fix is banked.  Pin exactly
    that composition against CORRECTNESS_r01–r04 (committed artifacts)."""
    import json
    from pathlib import Path

    from jsons_to_schema_spark.queries import QUERIES, _DRIVER_WINDOW

    names = list(QUERIES)
    assert names[:50] == list(_DRIVER_WINDOW)
    window = set(names[:50])
    # zero-driver-evidence components (r4 verdict) lead the rotation
    for must in (
        "datatype_profile_events",
        "decontam_bloom_documents",
        # learned-BPE wiring (r4 verdict item 6): both the vocabulary
        # artifact and the new budget path that consumes it
        "bpe_vocab_documents",
        "pack_sequences_bpe_documents",
        # the r4 failure, re-checked with the signed-zero fix
        "embedding_covariance_profile",
        # north-rule-critical canaries
        "checkpoint_resume_state",
        "schema_merge_checkpoint_snapshots",
        "rule_verdicts_events",
    ):
        assert must in window, must
    for prefix in ("stream_", "multimodal_", "drift_"):
        assert any(n.startswith(prefix) for n in window), prefix
    # >= 90% of the window must be first-time (never in any CORRECTNESS_r*)
    repo = Path(__file__).resolve().parents[1]
    checked = set()
    # the rounds before this rotation; a glob would also pick up the
    # rotation's own artifact (CORRECTNESS_r05), whose rows ARE the window
    for r in ("01", "02", "03", "04"):
        f = repo / f"CORRECTNESS_r{r}.json"
        checked |= set(json.loads(f.read_text()).keys())
    first_time = [n for n in window if n not in checked]
    assert len(first_time) >= 45, (
        f"only {len(first_time)} first-time queries in the window"
    )
