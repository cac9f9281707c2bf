"""Chunk store + lineage catalog — the Iceberg-style table layer.

The reference keeps compressed blocks as in-process ``uint8_t*`` descriptors
(``experiments/fix_int.cpp:58-79``); our descriptors are rows of a chunk-store
table. Layout v2 — **one row per chunk, one struct column per table column**:

``(part_id int, chunk_id long, n_rows int, raw_bytes long, enc_bytes long,
   c_<col> struct<codec string, payload binary, zmin long, zmax long,
                  vsum decimal(38,0), raw_bytes long, enc_bytes long> ...)``

Why this shape (the 100 TB argument): a chunk row is **self-contained**, so
every read-path operator is scan → ``mapInArrow`` with ZERO shuffle — no
regrouping of per-column payload rows is ever needed (v1 shuffled the whole
payload through a ``groupBy(chunk_id)`` exchange to reunite them). Column
pruning is native: selecting ``c_ts.payload`` makes Parquet read only that
leaf (nested schema pruning). Zone maps (``zmin``/``zmax``, the analogue of
``experiments/leco_int_fix_template.cpp:222-249``) are plain nested fields, so
chunk skipping is a pushable Parquet predicate instead of a broadcast join.
``vsum`` is the exact per-chunk value sum, making SUM a metadata-only scan
(cheaper than the reference's closed-form summation,
``headers/piecewise_fix_op.h:167-284`` — no payload bytes touched at all).

A **lineage** side table provides Iceberg-like commit semantics in this
sandbox (no Iceberg jars): a partition's chunks are visible only if a lineage
row ``(part_id, run_id, metrics...)`` exists. Data files are written before
lineage, so a killed job leaves orphan chunk rows that readers never see, and
a resumed job re-encodes only parts without lineage — idempotent, atomic per
partition. Each run commits ONE lineage file (Delta-log style): the encode
writes its per-part rows under a hidden ``.part-*.tmp`` name, which Spark's
file listing skips, and publishes them with ``os.replace``, so a run's parts
become visible together and a crash mid-commit leaves nothing readers see.
On a real deployment this maps 1:1 to Iceberg table commits + a metrics
table; only this module would change.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# per-table-column struct. Parquet matches nested fields BY NAME, so the
# string zone maps appended in v2.1 (zsmin/zsmax) read as null on stores
# written before them — readers treat null as "no zone map, cannot prune".
COL_STRUCT = T.StructType(
    [
        T.StructField("codec", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("zmin", T.LongType(), True),
        T.StructField("zmax", T.LongType(), True),
        T.StructField("vsum", T.DecimalType(38, 0), True),
        T.StructField("raw_bytes", T.LongType(), False),
        T.StructField("enc_bytes", T.LongType(), False),
        # string zone maps: lexicographic min/max (UTF8-binary order, the
        # same collation Spark/DuckDB compare strings with) — lets string
        # range predicates prune chunks at the Parquet scan like int ones
        T.StructField("zsmin", T.StringType(), True),
        T.StructField("zsmax", T.StringType(), True),
        # non-null value count (v2.2) — makes AVG a metadata-only scan
        # (``vsum / nvalid``); null on pre-v2.2 stores, where readers fall
        # back to ``n_rows`` (exact whenever the column has no nulls)
        T.StructField("nvalid", T.LongType(), True),
    ]
)

_META_FIELDS = [
    T.StructField("part_id", T.IntegerType(), False),
    T.StructField("chunk_id", T.LongType(), False),
    T.StructField("n_rows", T.IntegerType(), False),
    T.StructField("raw_bytes", T.LongType(), False),
    T.StructField("enc_bytes", T.LongType(), False),
]


def col_field(name: str) -> str:
    """Struct-column name for table column ``name`` (prefixed to avoid
    collisions with the chunk metadata fields)."""
    return f"c_{name}"


def chunk_schema(colspecs: list[tuple[str, str]]) -> T.StructType:
    """Chunk-row schema for a table with the given (name, logical) columns."""
    fields = list(_META_FIELDS)
    for name, _logical in colspecs:
        fields.append(T.StructField(col_field(name), COL_STRUCT, True))
    return T.StructType(fields)


def chunk_run_schema(colspecs: list[tuple[str, str]]) -> T.StructType:
    """Chunk rows as read back: data fields + the ``run_id`` Hive-partition
    column filled from the ``run_id=<id>`` directory names."""
    return T.StructType(
        list(chunk_schema(colspecs).fields) + [T.StructField("run_id", T.StringType(), True)]
    )


LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("part_id", T.IntegerType(), False),
        T.StructField("run_id", T.StringType(), False),
        T.StructField("n_chunks", T.LongType(), False),
        T.StructField("n_rows", T.LongType(), False),
        T.StructField("raw_bytes", T.LongType(), False),
        T.StructField("enc_bytes", T.LongType(), False),
        T.StructField("wall_ms", T.DoubleType(), False),
    ]
)


def lineage_records(run_id: str, parts, wall_ms: float) -> list[dict]:
    """A run's lineage rows: its per-part metric rows (``part_id``,
    ``n_chunks``, ``n_rows``, ``raw_bytes``, ``enc_bytes``) tagged with the
    run id and the run's write wall time."""
    return [{**r.asDict(), "run_id": run_id, "wall_ms": float(wall_ms)} for r in parts]


def publish_lineage_file(lineage_dir: str, name: str, records: list[dict]) -> None:
    """Write lineage ``records`` as ONE Parquet file in ``lineage_dir``.

    The file is written under a hidden ``.<name>.tmp`` name, which Spark's
    file listing skips, then published with ``os.replace`` — the atomic
    commit point. A crash before the rename leaves only the hidden temp
    file, so readers see all of ``records`` or none of them."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    arrow_of = {
        "integer": pa.int32(), "long": pa.int64(), "string": pa.string(),
        "double": pa.float64(),
    }
    schema = pa.schema(
        [(f.name, arrow_of[f.dataType.typeName()]) for f in LINEAGE_SCHEMA.fields]
    )
    os.makedirs(lineage_dir, exist_ok=True)
    tmp = os.path.join(lineage_dir, f".{name}.tmp")
    # no Arrow schema blob or column statistics: readers apply
    # LINEAGE_SCHEMA, and a one-row-group file has nothing to skip
    pq.write_table(
        pa.Table.from_pylist(records, schema=schema), tmp,
        store_schema=False, write_statistics=False,
    )
    os.replace(tmp, os.path.join(lineage_dir, name))


def commit_run(store: str, run_id: str, parts, wall_ms: float) -> None:
    """Commit a run: publish its lineage rows as ONE file in the current
    lineage dir (``publish_lineage_file``), so the run's parts become
    visible together. The name carries the run id plus a random suffix: a
    repeated run id adds a file instead of replacing an earlier commit. A
    run that wrote no chunk commits nothing."""
    if not parts:
        return
    publish_lineage_file(
        lineage_current_dir(store),
        f"part-{run_id}-{uuid.uuid4().hex[:8]}.parquet",
        lineage_records(run_id, parts, wall_ms),
    )


def chunks_path(store: str) -> str:
    return os.path.join(store, "chunks")


def lineage_path(store: str) -> str:
    return os.path.join(store, "lineage")


def lineage_pointer_path(store: str) -> str:
    return os.path.join(store, "_lineage_current.json")


def lineage_current_dir(store: str) -> str:
    """Directory holding the CURRENT lineage table.

    Iceberg-style metadata pointer: normally the flat ``lineage/`` dir;
    after a compaction it is a versioned ``lineage_v/<N>/`` dir named by
    ``_lineage_current.json``. The pointer file is swapped with
    ``os.replace`` — the atomic commit point of a compaction (the analogue
    of Iceberg's metadata-location CAS). Appends (encode runs, stream
    micro-batches) always land in the current dir, so a lineage version is
    append-only between compactions."""
    ptr = lineage_pointer_path(store)
    if os.path.exists(ptr):
        with open(ptr) as fh:
            return os.path.join(store, json.load(fh)["dir"])
    return lineage_path(store)


def schema_path(store: str) -> str:
    return os.path.join(store, "_schema.json")


def snapshots_dir(store: str) -> str:
    return os.path.join(store, "_snapshots")


def snapshot_store(spark: SparkSession, store: str) -> int:
    """Record an Iceberg-style SNAPSHOT: the currently-committed
    ``(part_id, run_id)`` set, written as an immutable manifest
    ``_snapshots/<id>.json`` (atomic ``os.replace``, ids monotone).

    Reads against a snapshot (``decode_table(..., snapshot=id)``) see
    exactly the rows committed at snapshot time — later appends land in
    new runs the manifest doesn't name, and a compaction rewrites into new
    runs while the snapshot keeps pinning the old ones (``vacuum_store``
    treats snapshot-referenced runs as live; ``drop_snapshot`` is the
    ``expire_snapshots`` analogue that releases them)."""
    pairs = [
        [int(r.part_id), r.run_id]
        for r in committed_parts(spark, store).collect()
    ]
    d = snapshots_dir(store)
    os.makedirs(d, exist_ok=True)
    sid = max(list_snapshots(store), default=0) + 1
    tmp = os.path.join(d, f".{sid}.json.tmp")
    with open(tmp, "w") as fh:
        json.dump({"runs": pairs}, fh)
    os.replace(tmp, os.path.join(d, f"{sid}.json"))
    return sid


def list_snapshots(store: str) -> list[int]:
    d = snapshots_dir(store)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(f[:-5]) for f in os.listdir(d) if f.endswith(".json") and not f.startswith(".")
    )


def snapshot_runs(store: str, snapshot: int) -> list[tuple[int, str]]:
    with open(os.path.join(snapshots_dir(store), f"{snapshot}.json")) as fh:
        return [(int(p), r) for p, r in json.load(fh)["runs"]]


def drop_snapshot(store: str, snapshot: int) -> None:
    """Release a snapshot (Iceberg ``expire_snapshots`` analogue): its runs
    become vacuum-reclaimable unless the current lineage or another
    snapshot still references them."""
    os.remove(os.path.join(snapshots_dir(store), f"{snapshot}.json"))


def load_store_schema(store: str) -> dict:
    """The persisted table schema + partition-mapping params
    (``colspecs``, ``key_cols``, ``num_parts``, ``salt_block``)."""
    with open(schema_path(store)) as fh:
        return json.load(fh)


def read_lineage(spark: SparkSession, store: str) -> DataFrame:
    path = lineage_current_dir(store)
    try:
        return spark.read.schema(LINEAGE_SCHEMA).parquet(path)
    except Exception:
        return spark.createDataFrame([], LINEAGE_SCHEMA)


def committed_parts(
    spark: SparkSession, store: str, snapshot: int | None = None
) -> DataFrame:
    """(part_id, run_id) pairs that are visible.

    Every lineage row is a commit: batch resume never re-encodes a committed
    part (so at most one batch run per part), while streaming appends commit
    one run per micro-batch into the same parts. Chunks from a run that died
    before its lineage write have no pair here and stay invisible — that is
    the Iceberg-style atomicity contract. Lineage rows are unique per
    (part_id, run_id) by construction (one commit row per part per run), so
    no distinct/aggregation is needed — the read path stays shuffle-free.

    ``snapshot``: read the pinned pair set of that snapshot manifest
    instead of the current lineage (time travel)."""
    if snapshot is not None:
        pairs = snapshot_runs(store, snapshot)
        return spark.createDataFrame(
            pairs,
            T.StructType(
                [
                    T.StructField("part_id", T.IntegerType(), False),
                    T.StructField("run_id", T.StringType(), False),
                ]
            ),
        )
    return read_lineage(spark, store).select("part_id", "run_id")


def read_chunks(
    spark: SparkSession,
    store: str,
    columns: list[str] | None = None,
    leaves: list | None = None,
    snapshot: int | None = None,
) -> DataFrame:
    """Visible chunk rows (semi-joined against committed lineage).

    ``columns`` prunes to the named table columns' structs. ``leaves`` prunes
    harder: a list of Column expressions (nested-leaf selections like
    ``F.col("c_ts.payload").alias("p_ts")``) applied DIRECTLY on the scan,
    **before** the lineage semi-join — Spark's nested schema pruning only
    fires on Project-over-Relation, so selecting leaves after the join would
    silently read every struct field. With ``leaves``, a payload-free
    operator (SUM over ``vsum``) reads zero payload bytes from Parquet. The
    lineage side is broadcast, so no shuffle of chunk rows occurs.
    """
    doc = load_store_schema(store)
    colspecs = [tuple(cs) for cs in doc["colspecs"]]
    df = spark.read.schema(chunk_run_schema(colspecs)).parquet(chunks_path(store))
    if leaves is not None:
        df = df.select("part_id", "run_id", *leaves)
    elif columns is not None:
        meta = [f.name for f in _META_FIELDS]
        df = df.select(*meta, "run_id", *[col_field(c) for c in columns])
    commits = committed_parts(spark, store, snapshot=snapshot)
    joined = df.join(F.broadcast(commits), ["part_id", "run_id"], "left_semi")
    return joined.drop("part_id", "run_id") if leaves is not None else joined
