"""Multi-dimensional data layout: the Z-order (Morton) clustering key
for data skipping.

Sorting a table by one column gives parquet/Iceberg files tight min/max
ranges on THAT column only — predicates on any other column still read
every file. Interleaving the bits of several columns into one Morton
key and range-partitioning + sorting by it gives every file a tight
range on EVERY interleaved dimension at once (the Delta Lake
``OPTIMIZE ZORDER BY`` / Iceberg ``sort_order(z)`` trick) — so a
1000-executor scan with a filter on any of the dimensions prunes most
files from footer stats alone.

Scale shape: ONE tiny min/max aggregate per call (a single row,
broadcast back), then the bucket+interleave is a pure per-row codegen'd
projection — no shuffle; a writer range-partitions and sorts by the
key. Nothing is collected, nothing sampled:
buckets are exact fixed-width bins of [min, max], so the key is
deterministic and the DuckDB oracle recomputes it bit-for-bit
(q_zorder_key in __spark_entry__.py).

Caveats: fixed-width binning keys skewed dimensions unevenly (Delta
uses sampled range ids instead — trade determinism for balance); that
only degrades *pruning* on the skewed dimension, never correctness, and
a range partitioner still balances the output files by key
frequency. ``bits`` beyond ~20/dim is pointless: files hold millions of
rows, so only the top bits ever decide file boundaries.

Reference parity: beyond-reference capability (the reference has no
storage layout at all); complements the Iceberg sink in
`sources/lakehouse.py` which buckets by subject only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def interleave_bits(cols: list[Column], bits: int = 8) -> Column:
    """Morton-interleave ``bits`` low bits of each (bucketed-int)
    column: bit ``i`` of column ``j`` lands at position ``i*k + j``.
    Pure bitwise expression — whole-stage codegen, no shuffle."""
    k = len(cols)
    z = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        cl = c.cast("long")
        for i in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(cl, i).bitwiseAND(F.lit(1)), i * k + j)
            )
    return z


def zorder_key(
    df: DataFrame, cols: list[str], bits: int = 8, key_col: str = "z"
) -> DataFrame:
    """Add ``key_col``: the Morton key over exact fixed-width buckets
    of each column's [min, max] range. Columns must be numeric (cast
    dates/timestamps to epoch first); ``1 <= bits*len(cols) <= 63``."""
    k = len(cols)
    if k < 2:
        raise ValueError("zorder needs >= 2 columns (sort instead)")
    if not 1 <= bits * k <= 63:
        raise ValueError(f"bits*cols must be in [1, 63], got {bits * k}")
    aggs = []
    for c in cols:
        aggs += [
            F.min(c).cast("double").alias(f"_min_{c}"),
            F.max(c).cast("double").alias(f"_max_{c}"),
        ]
    stats = df.agg(*aggs)
    buckets = []
    n = float(1 << bits)
    for c in cols:
        lo, hi = F.col(f"_min_{c}"), F.col(f"_max_{c}")
        # exact fixed-width bin in [0, 2^bits): floor((x-lo)*2^bits/(hi-lo+1))
        # (+1 keeps x == hi inside the top bucket; integer-valued doubles
        # keep this exact and engine-portable)
        b = F.floor(
            (F.col(c).cast("double") - lo) * n / (hi - lo + F.lit(1.0))
        )
        buckets.append(b)
    return (
        df.join(F.broadcast(stats))
        .withColumn(key_col, interleave_bits(buckets, bits))
        .drop(*[f"_min_{c}" for c in cols], *[f"_max_{c}" for c in cols])
    )
