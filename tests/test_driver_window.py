"""Driver-strictness rehearsal: EXACT value comparison for every query.

tests/test_oracles.py rounds doubles to 9 digits, which is weaker than the
driver's byte-level value hash — the r4 signed-zero failure sailed through
parity green.  This module re-runs the registry with EXACT comparison: no
rounding, signed zeros and NaNs distinguished, columns sorted by name like
the driver.  A query that passes here cannot hash-mismatch in the driver
unless the two runs see different input bytes.

Initially (r5) this held only the 50-query driver window; a full sweep
(scripts/exact_sweep.py) then showed 304/305 queries already bit-exact —
the one exception was a 1-ulp DECIMAL->DOUBLE literal round-trip in the
pinned-snapshot oracle renderer, fixed in _shared._constant_oracle_sql
(floats now quoted so DuckDB string->double parses them correctly
rounded).  With that, the gate covers ALL queries: the round-9 parity
test remains only for its order-sensitive column-name check."""

import math
from collections import Counter
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


def _exact(v):
    if hasattr(v, "item"):  # numpy scalars from duckdb
        v = v.item()
    if isinstance(v, _Decimal):
        # DuckDB types literal-arithmetic columns DECIMAL where Spark emits
        # DOUBLE; the driver canonicalizes (histogram_events_value carried
        # the same shape and was hash-green in r4), so compare as float.
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return "-0.0" if math.copysign(1.0, v) < 0 else "+0.0"
        return v  # exact: no rounding
    return v


def _canon(cols, rows):
    """Driver shape: sort columns by name, then rows as a sorted multiset."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    shaped = [tuple(_exact(r[i]) for i in order) for r in rows]
    return [cols[i] for i in order], sorted(
        shaped,
        key=lambda r: tuple(
            (v is None, type(v).__name__, v if v is not None else 0) for v in r
        ),
    )


def _hashable(v):
    if isinstance(v, (list, tuple)):
        return tuple(_hashable(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _hashable(x)) for k, x in v.items()))
    return v


def _multiset_diff(name, sr, dr):
    """Failure message: the rows each side has that the other lacks, as
    multisets — a positional zip reports every row after one missing row."""
    s, d = Counter(map(_hashable, sr)), Counter(map(_hashable, dr))
    only_s, only_d = s - d, d - s
    return (
        f"{name}: {sum(only_s.values())} rows only in Spark, first: "
        f"{list(only_s)[:3]}; {sum(only_d.values())} rows only in the oracle, "
        f"first: {list(only_d)[:3]}"
    )


ALL_QUERIES = list(entry_mod.queries().keys())
WINDOW = ALL_QUERIES[:50]


def test_window_is_50_and_oracled():
    assert len(WINDOW) == 50
    osql = entry_mod.oracle_sql()
    assert all(n in osql for n in WINDOW)


@pytest.mark.parametrize("name", ALL_QUERIES)
def test_driver_window_exact(spark, con, name):
    sdf = entry_mod.queries()[name](spark, SF_ORACLE)
    s_cols = [c.lower() for c in sdf.columns]
    s_rows = [tuple(r) for r in sdf.collect()]

    res = con.execute(entry_mod.oracle_sql()[name])
    d_cols = [d[0].lower() for d in res.description]
    d_rows = res.fetchall()

    sc, sr = _canon(s_cols, s_rows)
    dc, dr = _canon(d_cols, d_rows)
    assert sc == dc, f"{name}: column mismatch {sc} vs {dc}"
    assert len(sr) == len(dr), f"{name}: row count {len(sr)} vs {len(dr)}"
    assert sr == dr, _multiset_diff(name, sr, dr)
