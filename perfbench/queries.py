"""The read mix: ten queries, each with the engine call a user would make,
the DuckDB SQL that answers it from the raw input Parquet, and a seeded
parameter.

The query names are shared by both tables so that every workload reports
the same per-layer read metrics; ``TABLES`` maps each name to the columns
of one table. ``null_eq`` filters the nullable ``tool`` column on
transcripts; lineitem has no nullable column, so there it filters the
second categorical column.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from inputs import table_digest

QUERY_NAMES = (
    "decode_all",
    "decode_keys",
    "key_lookup",
    "cat_eq",
    "null_eq",
    "ts_range",
    "int_gt",
    "int_sum",
    "count_rows",
    "ts_minmax",
)


@dataclass(frozen=True)
class Table:
    key: str  # equality-lookup column (string or int)
    keys: tuple[str, ...]  # decode_keys projection; keys[:2] is the row id
    cat: str
    cat_values: tuple[str, ...]
    cat2: str
    cat2_values: tuple[str, ...]
    ts: str
    ts_window_us: int
    int_col: str
    int_gt_hi: int


TABLES = {
    "transcripts": Table(
        key="conv_id",
        keys=("conv_id", "turn_idx", "ts"),
        cat="role",
        cat_values=("system", "user", "assistant", "tool"),
        cat2="tool",
        cat2_values=("search", "browser", "python", "bash", "calculator", "weather"),
        ts="ts",
        ts_window_us=3_600_000_000,
        int_col="turn_idx",
        int_gt_hi=50,
    ),
    "lineitem": Table(
        key="l_orderkey",
        keys=("l_orderkey", "l_linenumber", "l_shipdate"),
        cat="l_returnflag",
        cat_values=("A", "N", "R"),
        cat2="l_linestatus",
        cat2_values=("F", "O"),
        ts="l_shipdate",
        ts_window_us=30 * 86_400_000_000,
        int_col="l_linenumber",
        int_gt_hi=7,
    ),
}


@dataclass(frozen=True)
class InputFacts:
    """What the parameter draws need to know about the input."""

    key_values: np.ndarray  # distinct lookup keys, sorted
    ts_lo_us: int
    ts_hi_us: int


def input_facts(table: pa.Table, t: Table) -> InputFacts:
    import pyarrow.compute as pc

    ts = table.column(t.ts).cast(pa.timestamp("us")).cast(pa.int64())
    keys = np.asarray(pc.unique(table.column(t.key)).to_numpy(zero_copy_only=False))
    return InputFacts(np.sort(keys), int(pc.min(ts).as_py()), int(pc.max(ts).as_py()))


def draw_param(name: str, t: Table, facts: InputFacts, rng: np.random.Generator):
    if name == "key_lookup":
        v = facts.key_values[rng.integers(len(facts.key_values))]
        return v if isinstance(v, str) else int(v)
    if name == "cat_eq":
        return t.cat_values[rng.integers(len(t.cat_values))]
    if name == "null_eq":
        return t.cat2_values[rng.integers(len(t.cat2_values))]
    if name == "ts_range":
        lo = int(rng.integers(facts.ts_lo_us, max(facts.ts_hi_us - t.ts_window_us, facts.ts_lo_us + 1)))
        return (lo, lo + t.ts_window_us)
    if name == "int_gt":
        return int(rng.integers(0, t.int_gt_hi))
    return None


def run_engine(name: str, spark, store: str, t: Table, p):
    """One query through the engine's public API, fully consumed. Returns
    an Arrow table (row answers) or a tuple of ints (scalar answers)."""
    from learn_to_compress_spark import jobs, operators as ops

    rid = list(t.keys[:2])
    if name == "decode_all":
        return jobs.decode_table(spark, store).toArrow()
    if name == "decode_keys":
        return jobs.decode_table(spark, store, columns=list(t.keys)).toArrow()
    if name == "key_lookup":
        if isinstance(p, str):
            df = ops.filter_eq_string_table(spark, store, t.key, p, rid)
        else:
            df = ops.lookup_eq_table(spark, store, t.key, p, rid)
        return df.toArrow()
    if name == "cat_eq":
        return ops.filter_eq_string_table(spark, store, t.cat, p, rid).toArrow()
    if name == "null_eq":
        return ops.filter_eq_string_table(spark, store, t.cat2, p, rid).toArrow()
    if name == "ts_range":
        return ops.filter_range_table(spark, store, t.ts, p[0], p[1], rid + [t.ts]).toArrow()
    if name == "int_gt":
        return ops.filter_gt_table(spark, store, t.int_col, p, rid).toArrow()
    if name == "int_sum":
        return _ints(ops.sum_column(spark, store, t.int_col).toArrow())
    if name == "count_rows":
        return (ops.count_rows(spark, store),)
    if name == "ts_minmax":
        return _ints(ops.minmax_column(spark, store, t.ts).toArrow())
    raise ValueError(f"unknown query {name!r}")


def oracle_sql(name: str, src: str, columns: list[str], t: Table, p) -> str:
    """DuckDB SQL over ``src`` (a ``read_parquet(...)`` expression)."""
    rid = ", ".join(t.keys[:2])
    if name == "decode_all":
        return f"select {', '.join(columns)} from {src}"
    if name == "decode_keys":
        return f"select {', '.join(t.keys)} from {src}"
    if name == "key_lookup":
        return f"select {rid} from {src} where {t.key} = {_lit(p)}"
    if name == "cat_eq":
        return f"select {rid} from {src} where {t.cat} = {_lit(p)}"
    if name == "null_eq":
        return f"select {rid} from {src} where {t.cat2} = {_lit(p)}"
    if name == "ts_range":
        return (
            f"select {rid}, {t.ts} from {src} "
            f"where epoch_us({t.ts}) > {p[0]} and epoch_us({t.ts}) <= {p[1]}"
        )
    if name == "int_gt":
        return f"select {rid} from {src} where {t.int_col} > {p}"
    if name == "int_sum":
        return f"select sum({t.int_col}) from {src}"
    if name == "count_rows":
        return f"select count(*) from {src}"
    if name == "ts_minmax":
        return f"select epoch_us(min({t.ts})), epoch_us(max({t.ts})) from {src}"
    raise ValueError(f"unknown query {name!r}")


def _lit(v) -> str:
    return "'" + v.replace("'", "''") + "'" if isinstance(v, str) else str(int(v))


def _ints(tbl: pa.Table) -> tuple[int, ...]:
    out = []
    for col in tbl.columns:
        if pa.types.is_timestamp(col.type):
            col = col.cast(pa.timestamp("us")).cast(pa.int64())
        out.append(int(col[0].as_py()))
    return tuple(out)


def fingerprint(answer) -> object:
    """Comparable form of an answer: a digest for row answers, the ints
    themselves for scalar answers."""
    if isinstance(answer, pa.Table):
        return table_digest(answer)
    return tuple(int(v) for v in answer)


def oracle_answer(con, sql: str, scalar: bool):
    tbl = con.sql(sql).fetch_arrow_table()
    return fingerprint(_ints(tbl) if scalar else tbl)


def is_scalar(name: str) -> bool:
    return name in ("int_sum", "count_rows", "ts_minmax")


def rows_returned(answer) -> int:
    return answer.num_rows if isinstance(answer, pa.Table) else 1
