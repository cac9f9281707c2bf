"""Seeded benchmark inputs, the benchmark's own user-byte count and the
order-independent table digest its correctness gates compare.

Nothing here imports the engine's encode or decode paths. Transcripts come
from the engine's deterministic generator ``sources.transcripts.conv_turns``
over a conversation-id range that the seed picks. The lineitem table is
generated here with the value distributions of the TPC-H-shaped test table
(uniform keys, 1-7 line numbers, two-decimal prices, 3 return flags, 2 line
statuses, day-granular ship dates), so a run needs no file outside its
checkout.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

TRANSCRIPT_KEYS = ("conv_id", "turn_idx")
LINEITEM_KEYS = ("l_orderkey", "l_linenumber")

TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)

_SHIP_LO = np.datetime64("1995-01-02", "D")
_SHIP_DAYS = int((np.datetime64("2001-11-04", "D") - _SHIP_LO).astype(np.int64)) + 1


def conv_id_range(seed: int, n_convs: int) -> tuple[int, int]:
    """The seed picks a disjoint block of conversation ids."""
    lo = int(seed) * int(n_convs)
    return lo, lo + int(n_convs)


def transcripts_table(seed: int, n_convs: int) -> pa.Table:
    from learn_to_compress_spark.sources.transcripts import conv_turns

    lo, hi = conv_id_range(seed, n_convs)
    pdf = pd.concat([conv_turns(i) for i in range(lo, hi)], ignore_index=True)
    pdf["ts"] = pdf["ts"].dt.tz_localize("UTC")
    return pa.Table.from_pandas(pdf, schema=TRANSCRIPT_SCHEMA, preserve_index=False)


def lineitem_table(seed: int, rows: int) -> pa.Table:
    rng = np.random.default_rng([seed, 0x11E])
    qty = rng.integers(1, 51, rows).astype(np.float64)
    ship = _SHIP_LO + rng.integers(0, _SHIP_DAYS, rows).astype("timedelta64[D]")
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, max(rows // 4, 1), rows), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, max(rows // 30, 1), rows), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, max(rows // 600, 1), rows), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, rows), pa.int32()),
            "l_quantity": pa.array(qty, pa.float64()),
            "l_extendedprice": pa.array(
                rng.integers(90_000, 10_500_000, rows) / 100.0, pa.float64()
            ),
            "l_discount": pa.array(rng.integers(0, 11, rows) / 100.0, pa.float64()),
            "l_tax": pa.array(rng.integers(0, 9, rows) / 100.0, pa.float64()),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, rows)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, rows)]),
            "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
        }
    )


def user_bytes(table: pa.Table) -> int:
    """Bytes a user stores: UTF-8 length of each non-null string, the fixed
    width of each non-null number or timestamp; nulls count zero."""
    total = 0
    for col in table.columns:
        if pa.types.is_string(col.type) or pa.types.is_large_string(col.type):
            total += int(pc.sum(pc.binary_length(col)).as_py() or 0)
        else:
            total += (len(col) - col.null_count) * (col.type.bit_width // 8)
    return total


_NULL_HASH = np.uint64(0x9E3779B97F4A7C15)


def column_hashes(col) -> np.ndarray:
    """One uint64 per value; nulls hash to a fixed constant. Integers and
    timestamps hash their int64 value, doubles their bit pattern, strings
    their UTF-8 bytes, so an Arrow type change alone does not move it."""
    col = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    valid = ~np.asarray(col.is_null().to_numpy(zero_copy_only=False), dtype=bool)
    out = np.full(len(col), _NULL_HASH, dtype=np.uint64)
    if not valid.any():
        return out
    t = col.type
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        vals = np.asarray(col.drop_null().to_numpy(zero_copy_only=False), dtype=object)
    elif pa.types.is_floating(t):
        vals = col.drop_null().to_numpy().astype(np.float64).view(np.uint64)
    elif pa.types.is_timestamp(t):
        vals = col.drop_null().cast(pa.int64()).to_numpy()
    else:
        vals = col.drop_null().to_numpy().astype(np.int64)
    out[valid] = pd.util.hash_array(vals, categorize=False)
    return out


def table_digest(table: pa.Table) -> dict:
    """Order-independent digest: per column (rows, nulls, wrapped sum of
    value hashes) plus one row-level sum that ties each row's values
    together, so equal digests mean equal multisets of rows."""
    row = np.zeros(table.num_rows, dtype=np.uint64)
    cols = {}
    with np.errstate(over="ignore"):
        for k, name in enumerate(sorted(table.column_names)):
            h = column_hashes(table.column(name))
            cols[name] = (table.num_rows, table.column(name).null_count, int(h.sum(dtype=np.uint64)))
            row = row * np.uint64(0x100000001B3) + (h ^ np.uint64(k + 1))
        return {"columns": cols, "rows": int(pd.util.hash_array(row).sum(dtype=np.uint64))}
