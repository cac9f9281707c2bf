"""The encode prelude and lineage commit: how many Spark jobs a fresh
encode starts, the totals it returns without re-reading the lineage, the
one driver sample shared by the linked probe and the race seed, and the
one-file lineage commit's crash safety."""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import learn_to_compress_spark.jobs.encode as encode_mod
from learn_to_compress_spark.chunkstore import lineage_current_dir, read_lineage
from learn_to_compress_spark.jobs import decode_table, encode_table
from learn_to_compress_spark.jobs.compact import vacuum_store
from learn_to_compress_spark.jobs.encode import (
    PROBE_SAMPLE_ROWS,
    _driver_sample,
    _propose_linked_cols,
    _sample_prefix,
    _sample_race_seed,
    colspecs_of,
    seed_sample_rows,
)
from learn_to_compress_spark.sources.transcripts import transcripts_df

CHUNK_ROWS = 512


def _lineage_totals(spark, store):
    st = (
        read_lineage(spark, store)
        .agg(
            F.sum("n_rows").alias("rows"),
            F.sum("raw_bytes").alias("raw"),
            F.sum("enc_bytes").alias("enc"),
        )
        .collect()[0]
    )
    return st.rows, st.raw, st.enc


def _returned(m):
    return m["rows"], m["raw_bytes"], m["enc_bytes"]


def test_fresh_encode_starts_at_most_five_spark_jobs(spark, tmp_path):
    """One driver sample, the write (scan + encode stage) and the per-part
    metrics collect — no lineage read on a fresh store, no Spark-written
    lineage file, no totals re-read."""
    src = str(tmp_path / "in")
    transcripts_df(spark, 40, parallelism=2).write.parquet(src)
    df = spark.read.parquet(src)
    assert {"integer", "string"} <= {f.dataType.typeName() for f in df.schema.fields}
    sc = spark.sparkContext
    group = "encode-job-count"
    sc.setJobGroup(group, group)
    try:
        m = encode_table(df, str(tmp_path / "store"), chunk_rows=CHUNK_ROWS, num_parts=8)
    finally:
        sc.setJobGroup("encode-job-count-done", "done")
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 5, sorted(jobs)
    assert m["rows"] == df.count()
    assert m["prelude_ms"] >= 0 and m["commit_ms"] >= 0 and m["wall_ms"] > 0


def test_returned_totals_match_lineage(spark, tmp_path):
    """Totals computed from the prior-lineage collect plus the run's own
    rows equal a full lineage aggregation: partial resume, resumed no-op
    and a resume=False append."""
    df = transcripts_df(spark, 80, parallelism=4)
    store = str(tmp_path / "store")
    part = F.pmod(
        F.xxhash64(F.col("conv_id"), (F.col("turn_idx") / F.lit(64)).cast("long")),
        F.lit(8),
    ).cast("int")
    kw = dict(chunk_rows=CHUNK_ROWS, num_parts=8, salt_block=64)

    m1 = encode_table(df.filter(part < 4), store, **kw)
    assert _returned(m1) == _lineage_totals(spark, store)

    m2 = encode_table(df, store, **kw)  # partial resume: parts 4-7 only
    assert not m2.get("resumed_noop")
    assert _returned(m2) == _lineage_totals(spark, store)
    assert m2["rows"] == df.count()

    m3 = encode_table(df, store, **kw)
    assert m3.get("resumed_noop") is True
    assert _returned(m3) == _returned(m2) == _lineage_totals(spark, store)

    m4 = encode_table(df.filter(F.col("turn_idx") == 0), store, resume=False, **kw)
    assert _returned(m4) == _lineage_totals(spark, store)
    assert m4["rows"] == m2["rows"] + df.filter(F.col("turn_idx") == 0).count()


def _correlated_files(spark, tmp_path, n_files=3, rows=20_000):
    """Three Parquet files of a table where ``seq`` tracks ``ts`` (the
    linked probe's positive shape); the third file's ``ext`` holds nulls."""
    rng = np.random.default_rng(41)
    src = tmp_path / "three"
    src.mkdir()
    for i in range(n_files):
        ts = np.sort(rng.integers(1_700_000_000_000_000, 1_701_000_000_000_000, rows))
        seq = (1000 + (ts - ts[0]) // 50_000_000).astype(np.int64) + rng.integers(-3, 4, rows)
        ext = pd.array(rng.integers(0, 1 << 40, rows), dtype="Int64")
        if i == n_files - 1:
            ext[::7] = pd.NA
        pd.DataFrame(
            {
                "user_id": rng.integers(0, 50, rows) + 100 * i,
                "ts": pd.to_datetime(ts, unit="us"),
                "seq": seq,
                "ext": ext,
            }
        ).to_parquet(src / f"part-{i}.parquet", index=False, coerce_timestamps="us")
    return spark.read.parquet(str(src))


@pytest.mark.parametrize("chunk_rows", [8192, 65536])
def test_shared_sample_matches_separate_collects(spark, tmp_path, chunk_rows):
    """The probe's prefix and the seed's prefix of ONE sample give the same
    linked map and race seed as the two collects the prelude used to run."""
    df = _correlated_files(spark, tmp_path)
    assert df.rdd.getNumPartitions() == 3
    key_cols = ("user_id", "ts")
    colspecs = colspecs_of(df)
    take = ["user_id", "ts", "seq", "ext"]
    n_seed = seed_sample_rows(chunk_rows)

    shared = _driver_sample(df, key_cols, colspecs, max(n_seed, PROBE_SAMPLE_ROWS))
    probe_only = df.select(*take).limit(PROBE_SAMPLE_ROWS).toPandas()
    seed_only = df.select(*take).limit(n_seed).toPandas()

    # each prefix IS the separate collect: same rows, order and dtypes (the
    # third file's nulls turn the whole sample's ``ext`` float64)
    for n, alone in ((PROBE_SAMPLE_ROWS, probe_only), (n_seed, seed_only)):
        pd.testing.assert_frame_equal(
            _sample_prefix(shared, colspecs, n).reset_index(drop=True), alone
        )
    linked = _propose_linked_cols(shared, key_cols, colspecs)
    assert linked == _propose_linked_cols(probe_only, key_cols, colspecs)
    assert linked and linked.get("seq") == "ts"
    seed = _sample_race_seed(shared, key_cols, colspecs, chunk_rows)
    assert seed == _sample_race_seed(seed_only, key_cols, colspecs, chunk_rows)


def test_stray_commit_temp_file_is_invisible(spark, tmp_path, monkeypatch):
    """A crash between writing the lineage temp file and publishing it
    leaves a hidden ``.part-*.tmp`` holding the run's rows: readers must not
    see that run, a later resume still finds the store complete, and
    vacuum_store deletes the stray file."""
    df = transcripts_df(spark, 40, parallelism=2)
    store = str(tmp_path / "store")
    kw = dict(chunk_rows=CHUNK_ROWS, num_parts=4)
    m1 = encode_table(df, store, **kw)
    lineage_before = sorted(map(tuple, read_lineage(spark, store).collect()))

    real_replace = os.replace

    def crash_on_commit(src, dst):
        if os.path.basename(src).startswith(".part-"):
            raise OSError("simulated crash mid-commit")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", crash_on_commit)
    with pytest.raises(OSError, match="mid-commit"):
        encode_table(df, store, resume=False, **kw)
    monkeypatch.setattr(os, "replace", real_replace)

    stray = [
        f for f in os.listdir(lineage_current_dir(store))
        if f.startswith(".part-") and f.endswith(".tmp")
    ]
    assert len(stray) == 1
    assert sorted(map(tuple, read_lineage(spark, store).collect())) == lineage_before
    dec = decode_table(spark, store)
    assert dec.count() == m1["rows"]
    assert dec.exceptAll(df).count() == 0 and df.exceptAll(dec).count() == 0
    m2 = encode_table(df, store, **kw)
    assert m2.get("resumed_noop") is True
    assert _returned(m2) == _returned(m1)

    v = vacuum_store(spark, store)
    assert stray[0] in v["removed_lineage_versions"]
    assert not os.path.exists(os.path.join(lineage_current_dir(store), stray[0]))
    assert sorted(map(tuple, read_lineage(spark, store).collect())) == lineage_before


def test_presorted_probe_samples_before_split_resizing(spark, tmp_path, monkeypatch):
    """On a fresh presorted encode the linked probe reads the scan order
    BEFORE _tune_presorted_splits re-sizes the file splits, and the race
    seed reads the re-sized order the kernel encodes — the rows each would
    get from its own collect (re-sized splits can re-order a multi-file
    scan's first rows)."""
    df = _correlated_files(spark, tmp_path, rows=5_000)
    key = "spark.sql.files.maxPartitionBytes"
    untuned = spark.conf.get(key)
    seen = {}
    real_sample, real_probe, real_seed = (
        encode_mod._driver_sample, encode_mod._propose_linked_cols,
        encode_mod._sample_race_seed,
    )

    def sample(df_, *a):
        out = real_sample(df_, *a)
        seen[id(out)] = spark.conf.get(key)
        return out

    def probe(s, *a, **k):
        seen["probe"] = seen[id(s)]
        return real_probe(s, *a, **k)

    def seed(s, *a, **k):
        seen["seed"] = seen[id(s)]
        return real_seed(s, *a, **k)

    monkeypatch.setattr(encode_mod, "_driver_sample", sample)
    monkeypatch.setattr(encode_mod, "_propose_linked_cols", probe)
    monkeypatch.setattr(encode_mod, "_sample_race_seed", seed)
    m = encode_table(
        df, str(tmp_path / "store"), key_cols=("user_id", "ts"),
        chunk_rows=CHUNK_ROWS, presorted=True,
    )
    assert m["rows"] == df.count()
    assert seen["probe"] == untuned
    assert seen["seed"] != untuned  # the re-sized split conf
    assert spark.conf.get(key) == untuned  # restored after the write
