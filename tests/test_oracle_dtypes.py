"""Driver-hash type-parity guard (VERDICT r4 #4): the driver fetches
the DuckDB oracle result through pandas, so an uncast HUGEINT/window-sum
column arrives as float64 and stringifies as "20028.0" against Spark's
BIGINT "20028" — a hash mismatch the old lenient local gate could not
see (the r4 ``q_hist_quantiles`` failure class).

This test is cheap and structural: for every query with an oracle it
builds the Spark plan LAZILY (schema only, no job) and runs the oracle
on DuckDB at sf0.001 via ``.df()`` (pandas, like the driver), then
asserts the numeric *kind* of every column matches — integer columns
must arrive as integers on both sides, float columns as floats.
Null-driven widening (pandas has no nullable int) is exempt."""

import sys
from pathlib import Path

import duckdb
import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

_INT = {"ByteType", "ShortType", "IntegerType", "LongType"}
_FLOAT = {"FloatType", "DoubleType"}


def _spark_kind(dt) -> str:
    name = type(dt).__name__
    if name in _INT:
        return "int"
    if name in _FLOAT or name.startswith("DecimalType"):
        return "float"
    return "other"


def _pandas_kind(series) -> str:
    k = series.dtype.kind
    return {"i": "int", "u": "int", "f": "float"}.get(k, "other")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def test_every_oracle_numeric_kind_matches_spark_schema(spark, duck):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    bad = []
    for name, fn in qs.items():
        if name not in oracles:
            continue
        schema = fn(spark, SF_DIR).schema  # lazy — plan only, no job
        dpd = duck.execute(oracles[name]).df()
        for f in schema.fields:
            sk = _spark_kind(f.dataType)
            if sk == "other" or f.name not in dpd.columns:
                continue
            dk = _pandas_kind(dpd[f.name])
            if dk == "other":
                continue
            if sk == dk:
                continue
            # pandas widens nullable ints to float64: exempt only when
            # the widening is actually null-driven
            if sk == "int" and dk == "float" and len(dpd):
                vals = dpd[f.name].to_numpy().astype("float64")
                if np.isnan(vals).any():
                    continue
            bad.append(f"{name}.{f.name}: spark={sk} duck-pandas={dk}")
    assert not bad, (
        "driver-hash type mismatches (cast the oracle column, e.g. "
        "::BIGINT / ::DOUBLE):\n" + "\n".join(bad)
    )


def test_check_oracles_kinds_compatible_zero_rows_and_typed_widening():
    """tools/check_oracles.py's kind gate: an int-vs-float pair with no
    rows hashes identically at the driver (nothing to stringify), so it
    passes; a typed widening with no null behind it still fails, and a
    null-driven one passes."""
    import pandas as pd

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    from check_oracles import kinds_compatible

    ints = pd.Series([1, 2], dtype="int64")
    assert kinds_compatible("int", "float", pd.Series([], dtype="int64"),
                            pd.Series([], dtype="float64"))
    assert not kinds_compatible("int", "float", ints,
                                pd.Series([1.0, 2.0], dtype="float64"))
    assert not kinds_compatible("float", "int",
                                pd.Series([1.0, 2.0], dtype="float64"), ints)
    assert kinds_compatible("int", "float", ints,
                            pd.Series([1.0, None], dtype="float64"))
