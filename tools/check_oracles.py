"""Local replica of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB over the
same parquet tables, compare row count, column names, and an
order-insensitive value hash (values stringified, columns sorted by
name, rows sorted).

Since round 5 this replica matches the driver's canonicalization more
faithfully: BOTH result sets are fetched through pandas
(``sdf.toPandas()`` / ``con.execute(sql).df()``) and the strict hasher
does NOT collapse integral floats to ints — so a DuckDB HUGEINT that
pandas widens to float64 ("20028.0") mismatches a Spark BIGINT
("20028") locally exactly as it does at the driver (the r4
``q_hist_quantiles`` failure class).  Per-column pandas dtype *kinds*
are also compared (int vs float vs object vs bool vs datetime).

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb
import numpy as np

import __spark_entry__ as entrymod

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def normalize_cell(v, strict=True):
    """Stringify one pandas cell the way the driver's hasher sees it.

    strict=True keeps the float-ness of integral floats ("20028.0"),
    which is what distinguishes a HUGEINT-widened-to-float64 oracle
    column from a Spark BIGINT column.  strict=False is the legacy
    lenient mode (kept for diffing only).
    """
    if v is None:
        return "NULL"
    if isinstance(v, (np.bool_, bool)):
        return "true" if v else "false"
    if isinstance(v, (np.integer, int)):
        return str(int(v))
    if isinstance(v, (np.floating, float)):
        f = float(v)
        if math.isnan(f):
            return "NULL"
        if f == int(f) and abs(f) < 1e15:
            return f"{f:.1f}" if strict else str(int(f))
        return f"{f:.6f}".rstrip("0").rstrip(".")
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(normalize_cell(x, strict) for x in v) + "]"
    # datetime-likes: pandas has no date dtype, so a Spark DATE arrives
    # as datetime.date while the DuckDB oracle arrives as a midnight
    # Timestamp — the driver treats these as equal (q_cohort_retention
    # was hash-green in r4); canonicalize both to one form
    import datetime as _dt

    if v != v:  # NaT (and any other non-self-equal null sentinel)
        return "NULL"
    if isinstance(v, _dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S") + (
            f".{v.microsecond:06d}" if v.microsecond else ""
        )
    if isinstance(v, _dt.date):
        return v.strftime("%Y-%m-%d") + " 00:00:00"
    # pandas NaT and friends
    s = str(v)
    return "NULL" if s in ("NaT", "nan", "<NA>", "None") else s


def frame_rows(df, strict=True):
    """DataFrame -> sorted list of column-name-sorted stringified rows."""
    cols = sorted(df.columns)
    arr = df[cols].to_numpy(dtype=object)
    return sorted(
        "\x1f".join(normalize_cell(c, strict) for c in row) for row in arr
    )


def frame_hash(lines):
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


_KIND = {"i": "int", "u": "int", "f": "float", "b": "bool", "M": "ts",
         "m": "ts", "O": "obj"}


def dtype_kinds(df):
    return {c: _KIND.get(df[c].dtype.kind, df[c].dtype.kind)
            for c in df.columns}


def kinds_compatible(sk, dk, sdf_col, ddf_col):
    """int-vs-float (either direction) is the driver-visible failure;
    other kinds are noise the value hash arbitrates. Exempt: a float side
    with a null (pandas widens nullable ints) or zero rows (same hash)."""
    if sk == dk:
        return True
    pair = {sk, dk}
    if pair == {"int", "float"}:
        floaty = sdf_col if sk == "float" else ddf_col
        vals = floaty.to_numpy()
        # nulls force float64; only flag when the widening is typed,
        # not null-driven
        return len(vals) == 0 or bool(np.isnan(vals.astype("float64")).any())
    return True


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and "/" in sys.argv[1] else "/root/testdata/sf0.01"
    only = [a for a in sys.argv[1:] if "/" not in a]

    from named_architecture_entity_recognition_spark.session import get_spark

    spark = get_spark("oracle-check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf_spark = fn(spark, sf_dir)
            scols = sdf_spark.columns
            spd = sdf_spark.toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        try:
            dpd = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        ok_count = len(spd) == len(dpd)
        ok_cols = sorted(scols) == sorted(dpd.columns)
        slines = frame_rows(spd)
        dlines = frame_rows(dpd) if ok_cols else []
        ok_hash = ok_cols and frame_hash(slines) == frame_hash(dlines)
        kind_bad = []
        if ok_cols:
            sk, dk = dtype_kinds(spd), dtype_kinds(dpd)
            kind_bad = [
                f"{c}:{sk[c]}/{dk[c]}" for c in spd.columns
                if not kinds_compatible(sk[c], dk[c], spd[c], dpd[c])
            ]
        ok = ok_count and ok_cols and ok_hash and not kind_bad
        status = "OK  " if ok else "FAIL"
        print(
            f"{status}  {name}: spark={len(spd)} duck={len(dpd)} "
            f"cols={'=' if ok_cols else sorted(scols)!r} "
            f"hash={'=' if ok_hash else 'MISMATCH'}"
            f"{' kinds=' + ','.join(kind_bad) if kind_bad else ''} "
            f"[{time.time()-t0:.1f}s]"
        )
        if not ok:
            failures.append(name)
            if ok_cols and not ok_hash:
                sset, dset = set(slines), set(dlines)
                print("   spark-only:", [s.split("\x1f") for s in list(sset - dset)[:3]])
                print("   duck-only :", [s.split("\x1f") for s in list(dset - sset)[:3]])
    print(f"\n{len(failures)} failures: {failures}")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
