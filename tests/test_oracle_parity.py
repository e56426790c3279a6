"""Local replica of the driver's correctness gate: every ``queries()`` entry
with an ``oracle_sql()`` twin must match DuckDB on row count, sorted column
names, and (order-insensitively) values.  Floats must match to ~1e-9 — the
production queries are engineered (decimal-routed sums, per-row IEEE
arithmetic, explicit rounding) to make that hold exactly.
"""

from __future__ import annotations

import decimal
import math
import numbers

import os

import numpy as np
import pytest

import __spark_entry__ as entry_mod
from conftest import SF_SMOKE, duck_con

# default smoke SF for speed; run with PARITY_SF_DIR=/root/testdata/sf0.01 to
# replicate the driver's correctness gate exactly
PARITY_SF = os.environ.get("PARITY_SF_DIR", SF_SMOKE)

ORACLED = sorted(set(entry_mod.queries()) & set(entry_mod.oracle_sql()))
ROWS_ONLY = sorted(set(entry_mod.queries()) - set(entry_mod.oracle_sql()))


def _canon_val(v):
    """Canonicalize one scalar to a (type-class, value) pair.

    The type-class tag mirrors the driver's value hash, which is dtype
    sensitive: it saw DuckDB's float64 ``1.0`` != Spark's int64 ``1``
    (round-2 sessionize red) while plain Python ``==`` said equal.  Tagging
    int vs float vs bool vs timestamp makes the local gate fail exactly
    where the driver would.  Decimal is tagged "f": both engines route
    additive aggs through explicit DOUBLE/decimal casts, and Decimal==float
    parity is driver-tolerated (all r2 decimal rows were green).
    """
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, numbers.Integral):
        return ("i", int(v))
    if isinstance(v, (numbers.Real, decimal.Decimal)):
        return ("f", round(float(v), 9))
    if hasattr(v, "isoformat"):
        return ("t", v.isoformat())
    if isinstance(v, (list, tuple, np.ndarray)):
        return ("a", tuple(_canon_val(x) for x in v))
    if isinstance(v, dict):
        return ("m", tuple(sorted((k, _canon_val(x)) for k, x in v.items())))
    return ("s", str(v))


def _canon(df):
    """pandas frame -> (sorted col names, sorted row tuples with canonical
    (type-class, value) scalars)."""
    cols = sorted(df.columns)
    out = []
    for row in df[cols].itertuples(index=False, name=None):
        out.append(tuple(_canon_val(v) for v in row))
    out.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return cols, out


def test_canon_distinguishes_int_from_float():
    """Regression for the round-2 sessionize burn: an int column on the
    Spark side and a float column on the oracle side must NOT compare
    equal, even when Python == says 1 == 1.0."""
    import pandas as pd

    a = pd.DataFrame({"x": np.array([1, 2], dtype="int64")})
    b = pd.DataFrame({"x": np.array([1.0, 2.0], dtype="float64")})
    assert _canon(a) != _canon(b)
    assert _canon(a) == _canon(a.copy())


def test_window_schemas_driver_hashable(spark):
    """The driver's canonicalizer pandas-sorts every output column;
    array/map/struct cells are unhashable there (``unhashable type:
    numpy.ndarray`` — the embed_quantize red row in r06 and the
    audio_features/video_frames red rows in r07).  EVERY driver-window
    query — rows-only included; the driver canonicalizes those too, the
    r06 exemption here is disproven — must project complex types to
    scalars (to_json / concat_ws / posexplode) before returning."""
    from pyspark.sql import types as T

    bad = {}
    for name in entry_mod.DRIVER_WINDOW:
        schema = entry_mod.queries()[name](spark, PARITY_SF).schema
        complex_cols = [
            f.name
            for f in schema.fields
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
        ]
        if complex_cols:
            bad[name] = complex_cols
    assert not bad, f"driver-unhashable columns in oracled window queries: {bad}"


@pytest.mark.parametrize("name", ORACLED)
def test_matches_oracle(spark, name):
    sdf = entry_mod.queries()[name](spark, PARITY_SF).toPandas()
    con = duck_con(PARITY_SF)
    ddf = con.sql(entry_mod.oracle_sql()[name]).df()
    s_cols, s_rows = _canon(sdf)
    d_cols, d_rows = _canon(ddf)
    assert s_cols == d_cols, f"{name}: column mismatch {s_cols} vs {d_cols}"
    assert len(s_rows) == len(d_rows), f"{name}: {len(s_rows)} rows vs oracle {len(d_rows)}"
    mismatches = [(a, b) for a, b in zip(s_rows, d_rows) if a != b]
    assert not mismatches, f"{name}: {len(mismatches)} row mismatches; first: {mismatches[0]}"


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_runs(spark, name):
    df = entry_mod.queries()[name](spark, PARITY_SF)
    assert df.count() >= 0  # runs, stable schema
    assert len(df.schema.fields) > 0


def test_every_oracled_query_is_inside_driver_window():
    """The driver's CORRECTNESS run evaluates exactly the first 50 entries
    of queries() in dict order — every oracle-backed query and every
    rows-only contract entry must sit inside that window.  Membership is
    EXPLICIT (DRIVER_WINDOW), so a misplaced insertion fails here instead
    of silently demoting an oracled query out of external verification."""
    names = list(entry_mod.queries())
    assert len(entry_mod.DRIVER_WINDOW) == 50
    assert names[:50] == entry_mod.DRIVER_WINDOW, (
        "first 50 queries() entries drifted from DRIVER_WINDOW: "
        f"{[(a, b) for a, b in zip(names[:50], entry_mod.DRIVER_WINDOW) if a != b]}"
    )
    window = set(entry_mod.DRIVER_WINDOW)
    missing = set(entry_mod.oracle_sql()) - window
    assert not missing, f"oracled queries outside the 50-entry window: {missing}"
    for contract_rows_only in (
        "es_routing", "partition_counts", "dedup_minhash", "dedup_components",
        "bulk_write",
    ):
        assert contract_rows_only in window


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"_id", "_routing", "doc", "_shard"}


def test_coverage_window_lists_match_code():
    """COVERAGE.md §2.B's in-window lists are machine-generated from
    DRIVER_WINDOW + oracle_sql() (VERDICT r11 #8) — this diff fails
    loudly when a rotation forgets to run tools/gen_coverage_lists.py."""
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    sys.path.insert(0, str(repo / "tools"))
    import gen_coverage_lists as g

    assert g.main(check=True) == 0
