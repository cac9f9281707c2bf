#!/usr/bin/env python3
"""Benchmark of the learn_to_compress_spark engine.

    python3 perfbench/run.py --workload encode_lineitem --seed 1 --seconds 15 --trace 0

Builds its inputs from ``--seed``, starts Spark at ``local[min(4, nproc)]``
in this process, times the workload's operations for ``--seconds`` seconds
with one closed-loop client, checks every answer, and prints one JSON
object as the last line of standard output. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` runs with Spark's event log on and
reports the per-layer metrics. ``--smoke`` shrinks the inputs for the
benchmark's own tests. See ``perfbench/README.md``.
"""

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

SIZES = {
    "full": {"convs": 600, "lineitem_rows": 60_000},
    "smoke": {"convs": 60, "lineitem_rows": 6_000},
}
#: workload -> (table, kind)
WORKLOADS = {
    "encode_lineitem": ("lineitem", "encode"),
    "read_transcripts": ("transcripts", "read"),
}
END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "latency_s": "s",
    "stored_bytes_per_user_byte": "ratio",
}
TRANSCRIPT_COLUMNS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")
LINEITEM_COLUMNS = (
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
    "l_shipdate",
)
#: codec names counted one by one in chunk metadata; any other is "other"
CODECS = (
    "for", "leco", "delta", "dict", "rle", "raw", "elias_fano", "linked",
    "leco_outlier", "leco_var", "str_dict", "word_dict", "leco_str", "fsst",
    "str_raw",
)
LOGICALS = ("int32", "int64", "timestamp", "double", "string")
CODEC_CHUNK_ROWS = 16_384
CODEC_CONVS = 250  # enough conversations for one codec chunk of transcripts
#: the cold first encode of an encode workload runs on 1/WARMUP_FRACTION of the rows
WARMUP_FRACTION = 10


def per_layer_units() -> dict[str, str]:
    from queries import QUERY_NAMES

    units = {
        "sources.session_start_s": "s",
        "sources.input_gen_s": "s",
        "jobs.encode.warmup_s": "s",
        "jobs.encode.total_s": "s",
        "jobs.encode.job_s": "s",
        "jobs.encode.outside_job_s": "s",
        "jobs.encode.spark_jobs": "count",
        "jobs.encode.pre_write_jobs_s": "s",
        "jobs.encode.post_write_jobs_s": "s",
        "jobs.encode.driver_local_s": "s",
        "spark.scan_stage_s": "s",
        "spark.encode_stage_s": "s",
        "spark.encode_stage.task_run_s": "s",
        "spark.encode_stage.task_cpu_s": "s",
        "spark.encode_stage.task_max_over_median": "ratio",
        "spark.shuffle_write_bytes": "bytes",
        "spark.gc_s": "s",
        "spark.failed_tasks": "count",
    }
    for lg in LOGICALS:
        units[f"codec.encode_mb_per_s.{lg}"] = "MB/s"
        units[f"codec.decode_mb_per_s.{lg}"] = "MB/s"
    units["chunkstore.chunks"] = "count"
    units["chunkstore.rows_per_chunk_p50"] = "rows"
    for col in TRANSCRIPT_COLUMNS + LINEITEM_COLUMNS:
        units[f"chunkstore.enc_bytes.{col}"] = "bytes"
    for codec in CODECS + ("other",):
        units[f"chunkstore.codec_chunks.{codec}"] = "count"
    units["chunkstore.file_overhead_bytes"] = "bytes"
    for q in QUERY_NAMES:
        units[f"read.{q}.p50_s"] = "s"
        units[f"read.{q}.chunks_read"] = "count"
        units[f"read.{q}.input_bytes"] = "bytes"
        units[f"read.{q}.rows_returned"] = "rows"
    units.update({
        "error_rate": "fraction",
        "proc.peak_rss_mb": "MB",
        "env.probe_s": "s",
        "env.probe_end_s": "s",
        "trace.overhead_s": "s",
    })
    return units


def prepare_env(work: Path, trace: bool) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    ``work``, size the driver heap for a small box, and switch Spark's event
    log on from outside the engine when tracing."""
    for sub in ("tmp", "spark-local", "events"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")  # overrides spark.local.dir
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    confs = [
        "spark.ui.showConsoleProgress=false",
        f"spark.sql.warehouse.dir={work / 'warehouse'}",
    ]
    if trace:
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{work / 'events'}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    args = []
    for c in confs:
        args += ["--conf", c]
    args += ["--driver-java-options", f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"]
    import shlex

    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())


def engine_digest() -> str:
    h = hashlib.sha1()
    for p in sorted((ROOT / "learn_to_compress_spark").rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:12]


def git_commit() -> str:
    if not (ROOT / ".git").exists():
        return "unknown"
    out = subprocess.run(
        ["git", "-C", str(ROOT), "rev-parse", "HEAD"], capture_output=True, text=True
    )
    return out.stdout.strip() or "unknown"


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if d.name.isdigit():
            try:
                ppid = int((d / "stat").read_text().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d.name))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def peak_rss_mb() -> float:
    """Sum of the peak resident sizes of this process and everything it
    started (the driver JVM and its Python workers)."""
    total_kb = 0
    for pid in _descendants(os.getpid()):
        try:
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


@dataclass
class Op:
    name: str
    group: str
    wall: float
    rows: int = 0
    param: object = None
    answer: object = None  # fingerprint of the answer
    info: dict = field(default_factory=dict)
    error: str | None = None
    raised: bool = False  # no timing: the call raised


class Bench:
    def __init__(self, args, work: Path):
        self.args = args
        self.work = work
        self.table_name, self.kind = WORKLOADS[args.workload]
        self.size = SIZES["smoke" if args.smoke else "full"]
        self.trace = bool(args.trace)
        self.spark = None
        self.ops: list[Op] = []
        self.failed: list[str] = []
        self.layer: dict[str, float] = {}
        self.samples: dict[str, int] = {}  # sample count per metric name prefix
        self.sample_values: dict[str, list[float]] = {}
        self.trace_only_s = 0.0
        self.n_groups = 0
        self.shuffle_partitions = None

    # -- inputs ---------------------------------------------------------
    def materialise_input(self, in_dir: Path):
        """Write the seeded input to Parquet in ``in_dir`` and return it as an
        Arrow table."""
        import pyarrow.parquet as pq

        import inputs

        if self.table_name == "transcripts":
            table = inputs.transcripts_table(self.args.seed, self.size["convs"])
        else:
            table = inputs.lineitem_table(self.args.seed, self.size["lineitem_rows"])
        in_dir.mkdir()
        pq.write_table(table, in_dir / "part-0.parquet")
        return table

    def key_cols(self):
        import inputs

        return inputs.TRANSCRIPT_KEYS if self.table_name == "transcripts" else inputs.LINEITEM_KEYS

    # -- operations -----------------------------------------------------
    def group(self, name: str) -> str:
        self.n_groups += 1
        gid = f"pb-{self.n_groups}-{name}"
        self.spark.sparkContext.setJobGroup(gid, name)
        return gid

    def encode_op(self, name: str, store: Path, df=None, rows=None) -> Op:
        from learn_to_compress_spark.jobs import encode_table

        df = self.df if df is None else df
        rows = self.input.num_rows if rows is None else rows
        gid = self.group(name)
        t0 = time.perf_counter()
        info = encode_table(df, str(store), key_cols=self.key_cols())
        wall = time.perf_counter() - t0
        op = Op(name, gid, wall, rows=int(info["rows"]), info={**info, "store": str(store)})
        if op.rows != rows:
            op.error = f"encode reported {op.rows} rows, input has {rows}"
        return op

    def read_op(self, name: str, store: Path, param) -> Op:
        import queries

        gid = self.group(name)
        t0 = time.perf_counter()
        answer = queries.run_engine(name, self.spark, str(store), self.qtable, param)
        wall = time.perf_counter() - t0
        return Op(name, gid, wall, rows=queries.rows_returned(answer), param=param,
                  answer=queries.fingerprint(answer))

    def attempt(self, fn, *a) -> Op:
        try:
            op = fn(*a)
        except Exception as exc:  # a failed op is counted, the run goes on
            import traceback

            traceback.print_exc(file=sys.stderr)
            op = Op(a[0], "", 0.0, error=f"{type(exc).__name__}: {exc}", raised=True)
        self.ops.append(op)
        print(f"op {op.name} {op.wall:.4f}s rows={op.rows}", file=sys.stderr)
        return op

    # -- the run --------------------------------------------------------
    def run(self) -> dict:
        import numpy as np
        import pyarrow.parquet as pq

        import inputs
        import queries
        from stats import drift_probe

        self.layer["env.probe_s"] = drift_probe()
        from learn_to_compress_spark.sources.session import get_spark

        t = time.monotonic()
        cpus = min(4, len(os.sched_getaffinity(0)))
        self.master = f"local[{cpus}]"
        self.spark = get_spark(self.master, app_name=f"perfbench-{self.args.workload}")
        self.layer["sources.session_start_s"] = time.monotonic() - t

        t = time.monotonic()
        in_dir = self.work / "input"
        self.input = self.materialise_input(in_dir)
        self.df = self.spark.read.parquet(str(in_dir))
        self.layer["sources.input_gen_s"] = time.monotonic() - t
        self.qtable = queries.TABLES[self.table_name]
        stores = self.work / "stores"
        stores.mkdir()

        if self.kind == "encode":
            # the cold first encode runs on a slice of the input; one more
            # full-size encode lets the measured ones start warm
            part = self.input.slice(0, max(self.input.num_rows // WARMUP_FRACTION, 1))
            (self.work / "warmup_input").mkdir()
            pq.write_table(part, self.work / "warmup_input" / "part-0.parquet")
            cold = self.attempt(self.encode_op, "encode_table", stores / "cold",
                                self.spark.read.parquet(str(self.work / "warmup_input")),
                                part.num_rows)
        warm = self.attempt(self.encode_op, "encode_table", stores / "main")
        if self.kind == "read":
            cold = warm
        self.layer["jobs.encode.warmup_s"] = cold.wall
        self.samples["jobs.encode.warmup_s"] = 1
        self.encode_ops = [warm] if self.kind == "read" else []
        facts = queries.input_facts(self.input, self.qtable)
        if self.kind == "read":
            warm_rng = np.random.default_rng([self.args.seed, 1])
            for name in queries.QUERY_NAMES:
                self.attempt(self.read_op, name, stores / "main",
                             queries.draw_param(name, self.qtable, facts, warm_rng))
        self.ops.clear()  # warm-up answers are not measured (the build is checked below)
        self.setup_s = time.monotonic() - T_START

        rng = np.random.default_rng([self.args.seed, 2])
        t_meas = time.monotonic()
        while True:
            if self.kind == "encode":
                k = len(self.encode_ops)
                store = stores / ("main" if k == 0 else f"op{k}")
                if k == 0:
                    shutil.rmtree(store)
                op = self.attempt(self.encode_op, "encode_table", store)
                self.encode_ops.append(op)
                if k > 0 and store.exists():
                    shutil.rmtree(store)
            else:
                for name in queries.QUERY_NAMES:
                    self.attempt(self.read_op, name, stores / "main",
                                 queries.draw_param(name, self.qtable, facts, rng))
            if time.monotonic() - t_meas >= self.args.seconds:
                break
        self.measured = list(self.ops)
        if self.kind == "read":
            self.ops.append(warm)  # the store build is checked like an op

        self.main_store = stores / "main"
        self.stored_bytes = dir_bytes(self.main_store)
        self.user_bytes = inputs.user_bytes(self.input)
        if self.trace:
            t = time.monotonic()
            self.trace_layers(facts)
            self.trace_only_s += time.monotonic() - t
        self.layer["proc.peak_rss_mb"] = peak_rss_mb()
        self.check()
        return self.result()

    # -- correctness ----------------------------------------------------
    def check(self) -> None:
        """Untimed gates: the gated store decodes to exactly the input, and
        every read answer equals DuckDB's over the raw input Parquet."""
        import duckdb

        import inputs
        import queries
        from learn_to_compress_spark.jobs import decode_table

        gate = self.encode_ops[0]
        # a read run's decode_all answers already gate its store
        if gate.error is None and self.kind == "encode":
            got = inputs.table_digest(decode_table(self.spark, str(self.main_store)).toArrow())
            if got != inputs.table_digest(self.input):
                gate.error = "decoded store differs from the input"
        con = duckdb.connect()
        con.execute("set threads to 2")
        src = f"read_parquet('{self.work / 'input' / '*.parquet'}')"
        cache: dict = {}
        for op in self.ops:
            if op.error is None and op.name != "encode_table":
                key = (op.name, repr(op.param))
                if key not in cache:
                    sql = queries.oracle_sql(op.name, src, self.input.column_names,
                                             self.qtable, op.param)
                    cache[key] = queries.oracle_answer(con, sql, queries.is_scalar(op.name))
                if op.answer != cache[key]:
                    op.error = f"answer differs from DuckDB ({op.name}, {op.param!r})"
        con.close()
        for op in self.ops:
            if op.error:
                self.failed.append(f"{op.name}: {op.error}")

    # -- traced-only layers ---------------------------------------------
    def trace_layers(self, facts) -> None:
        import numpy as np

        import queries

        self.chunkstore_layers()
        self.codec_layers()
        if self.kind == "encode":
            rng = np.random.default_rng([self.args.seed, 3])
            for name in queries.QUERY_NAMES:
                self.attempt(self.read_op, name, self.main_store,
                             queries.draw_param(name, self.qtable, facts, rng))

    def chunkstore_layers(self) -> None:
        from pyspark.sql import functions as F

        from learn_to_compress_spark.chunkstore import col_field, read_chunks

        cols = self.input.column_names
        leaves = [F.col("n_rows")]
        for i, c in enumerate(cols):
            leaves += [F.col(f"{col_field(c)}.codec").alias(f"k{i}"),
                       F.col(f"{col_field(c)}.enc_bytes").alias(f"b{i}")]
        meta = read_chunks(self.spark, str(self.main_store), leaves=leaves).toPandas()
        self.layer["chunkstore.chunks"] = len(meta)
        self.layer["chunkstore.rows_per_chunk_p50"] = float(meta["n_rows"].median())
        enc_total = 0
        for c in TRANSCRIPT_COLUMNS + LINEITEM_COLUMNS:
            v = int(meta[f"b{cols.index(c)}"].sum()) if c in cols else 0
            self.layer[f"chunkstore.enc_bytes.{c}"] = v
            enc_total += v
        counts = dict.fromkeys(CODECS + ("other",), 0)
        for i in range(len(cols)):
            for codec in meta[f"k{i}"]:
                codec = codec.rsplit(":", 1)[-1]  # a framed double ("dscale2:for") counts its inner codec
                counts[codec if codec in counts else "other"] += 1
        for codec, n in counts.items():
            self.layer[f"chunkstore.codec_chunks.{codec}"] = n
        self.layer["chunkstore.file_overhead_bytes"] = self.stored_bytes - enc_total

    def codec_layers(self) -> None:
        """Single-threaded in-process calls of the public codec functions on
        the first chunk of every column of both tables (each table built
        from this run's seed). MB are the benchmark's user bytes."""
        import pandas as pd
        import pyarrow as pa

        import inputs
        from learn_to_compress_spark import select

        seed = self.args.seed
        tables = [self.input]
        if self.table_name == "transcripts":
            tables.append(inputs.lineitem_table(seed, self.size["lineitem_rows"]))
        else:
            tables.append(inputs.transcripts_table(seed, min(self.size["convs"], CODEC_CONVS)))
        spent = {lg: [0.0, 0.0, 0] for lg in LOGICALS}  # enc s, dec s, bytes
        for tbl in tables:
            for name in tbl.column_names:
                col = tbl.column(name).slice(0, CODEC_CHUNK_ROWS).combine_chunks()
                lg, logical = _logical_of(col.type)
                n = len(col)
                t0 = time.perf_counter()
                if lg == "string":
                    _, payload = select.encode_string_column_arrow(col)
                    t1 = time.perf_counter()
                    select.decode_string_column_arrow(payload, n)
                elif lg == "double":
                    _, payload = select.encode_double_column(pd.Series(col.to_numpy(zero_copy_only=False)))
                    t1 = time.perf_counter()
                    select.decode_double_column_arrow(payload, n)
                else:
                    mask = col.is_null().to_numpy(zero_copy_only=False) if col.null_count else None
                    vals = col.drop_null().to_numpy(zero_copy_only=False)
                    if lg == "timestamp":
                        vals = vals.astype("datetime64[us]")
                    _, payload = select.encode_int_values(vals, mask, logical)
                    t1 = time.perf_counter()
                    select.decode_int_column_arrow(payload, n, logical)
                t2 = time.perf_counter()
                s = spent[lg]
                s[0] += t1 - t0
                s[1] += t2 - t1
                s[2] += inputs.user_bytes(pa.table({name: col}))
        for lg, (enc_s, dec_s, nbytes) in spent.items():
            self.layer[f"codec.encode_mb_per_s.{lg}"] = nbytes / 1e6 / enc_s
            self.layer[f"codec.decode_mb_per_s.{lg}"] = nbytes / 1e6 / dec_s

    def eventlog_layers(self) -> None:
        import eventlog
        import queries
        from stats import median

        (path,) = [p for p in (self.work / "events").iterdir() if p.is_file()]
        log = eventlog.read(path)
        ok_enc = [op for op in self.encode_ops if not op.raised]
        splits = []
        for op in ok_enc:
            run_dir = os.path.join(op.info["store"], "chunks", f"run_id={op.info['run_id']}")
            splits.append(eventlog.encode_split(log, op.group, run_dir))
        L = self.layer
        L["jobs.encode.total_s"] = median(op.wall for op in ok_enc)
        L["jobs.encode.job_s"] = median(op.info["wall_ms"] / 1000 for op in ok_enc)
        outside = [op.wall - op.info["wall_ms"] / 1000 for op in ok_enc]
        L["jobs.encode.outside_job_s"] = median(outside)
        L["jobs.encode.spark_jobs"] = median(s.spark_jobs for s in splits)
        L["jobs.encode.pre_write_jobs_s"] = median(s.pre_write_jobs_s for s in splits)
        L["jobs.encode.post_write_jobs_s"] = median(s.post_write_jobs_s for s in splits)
        L["jobs.encode.driver_local_s"] = median(
            o - s.pre_write_jobs_s - s.post_write_jobs_s for o, s in zip(outside, splits)
        )
        L["spark.scan_stage_s"] = median(s.scan_stage_s for s in splits)
        L["spark.encode_stage_s"] = median(s.encode_stage_s for s in splits)
        L["spark.encode_stage.task_run_s"] = median(s.encode_task_run_s for s in splits)
        L["spark.encode_stage.task_cpu_s"] = median(s.encode_task_cpu_s for s in splits)
        L["spark.encode_stage.task_max_over_median"] = median(
            s.encode_task_max_over_median for s in splits
        )
        L["spark.shuffle_write_bytes"] = median(s.shuffle_write_bytes for s in splits)
        L["spark.gc_s"] = median(s.gc_s for s in splits)
        L["spark.failed_tasks"] = log.failed_tasks()
        self.samples["jobs.encode"] = self.samples["spark"] = len(ok_enc)
        reads = [op for op in self.ops if op.name in queries.QUERY_NAMES and not op.raised]
        for q in queries.QUERY_NAMES:
            mine = [op for op in reads if op.name == q]
            counts = [eventlog.scan_counts(log, op.group) for op in mine]
            L[f"read.{q}.p50_s"] = median(op.wall for op in mine)
            L[f"read.{q}.chunks_read"] = median(c[0] for c in counts)
            L[f"read.{q}.input_bytes"] = median(c[1] for c in counts)
            L[f"read.{q}.rows_returned"] = median(op.rows for op in mine)
            self.samples[f"read.{q}"] = len(mine)

    # -- results --------------------------------------------------------
    def end_to_end(self) -> dict[str, float]:
        import queries
        from stats import geomean, median

        ok = [op for op in self.measured if not op.raised]  # a wrong answer still has a wall
        if self.kind == "encode":
            rates = [op.rows / op.wall for op in ok]
            walls = [op.wall for op in ok]
            latency = median(walls)
        else:
            rates = [op.rows / op.wall for op in ok if op.name == "decode_all"]
            walls = [op.wall for op in ok if op.name != "decode_all"]
            kinds = [q for q in queries.QUERY_NAMES if q != "decode_all"]
            latency = geomean(median(op.wall for op in ok if op.name == q) for q in kinds)
        self.sample_values = {"rows_per_s": rates, "latency_s": walls}
        self.samples["setup_s"] = self.samples["stored_bytes_per_user_byte"] = 1
        return {
            "setup_s": self.setup_s,
            "rows_per_s": median(rates),
            "latency_s": latency,
            "stored_bytes_per_user_byte": self.stored_bytes / self.user_bytes,
        }

    def result(self) -> dict:
        self.e2e = self.end_to_end()
        attempted = len(self.ops)
        self.layer["error_rate"] = len(self.failed) / attempted
        return {"correct": not self.failed, "attempted": attempted, "failed": len(self.failed)}

    def provenance(self) -> dict:
        import pyarrow
        import pyspark

        return {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "seconds": self.args.seconds,
            "trace": int(self.trace),
            "smoke": bool(self.args.smoke),
            "cpus_visible": len(os.sched_getaffinity(0)),
            "spark_master": self.master,
            "shuffle_partitions": self.shuffle_partitions,
            "input_rows": self.input.num_rows,
            "user_bytes": self.user_bytes,
            "stored_bytes": self.stored_bytes,
            "git_commit": git_commit(),
            "engine_digest": engine_digest(),
            "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "setup_phases_s": {k: self.layer.get(k) for k in (
                "sources.session_start_s", "sources.input_gen_s", "jobs.encode.warmup_s")},
            "env.probe_s": self.layer.get("env.probe_s"),
            "env.probe_end_s": self.layer.get("env.probe_end_s"),
        }

    def close(self) -> None:
        """Stop Spark and wait until the JVM (and with it every Python
        worker) has exited."""
        if self.spark is None:
            return
        self.shuffle_partitions = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None


def _logical_of(t):
    import pyarrow as pa

    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string", "string"
    if pa.types.is_floating(t):
        return "double", "double"
    if pa.types.is_timestamp(t):
        return "timestamp", "timestamp_us" if t.tz else "timestamp_ntz_us"
    return ("int32", "int32") if t.bit_width == 32 else ("int64", "int64")


def report(bench: Bench, metrics: dict, units: dict, out=sys.stdout) -> None:
    """Human-readable lines: every metric with its unit and sample count.
    An end-to-end metric built from per-operation samples also shows their
    median and the highest percentile that has ten samples beyond it."""
    from stats import highest_reportable, percentile

    for name, value in metrics.items():
        line = f"{name:48s} {value:>16.6g} {units[name]:8s}"
        samples = bench.sample_values.get(name) if units is END_TO_END else None
        if samples:
            q = highest_reportable(len(samples))
            line += f" n={len(samples)} samples p50={percentile(samples, 50):.6g}"
            if q > 50:
                line += f" p{q}={percentile(samples, q):.6g}"
        else:
            parts = name.split(".")
            n = next((bench.samples[".".join(parts[:k])] for k in range(len(parts), 0, -1)
                      if ".".join(parts[:k]) in bench.samples), 1)
            line += f" n={n}"
        print(line, file=out)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's tests")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "learn_to_compress_spark" / "__init__.py").is_file():
        print(f"perfbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    prepare_env(work, bool(args.trace))
    os.chdir(work)
    bench = Bench(args, work)
    try:
        verdict = bench.run()
        bench.close()
        if bench.trace:
            t = time.monotonic()
            bench.eventlog_layers()
            bench.trace_only_s += time.monotonic() - t
            bench.layer["trace.overhead_s"] = bench.trace_only_s
        from stats import drift_probe

        bench.layer["env.probe_end_s"] = drift_probe()
    finally:
        bench.close()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # only when no other run is using it
        except OSError:
            pass
    if bench.trace:
        units = per_layer_units()
        metrics = {name: bench.layer[name] for name in units}
    else:
        units = END_TO_END
        metrics = bench.e2e
    report(bench, metrics, units)
    for failure in bench.failed:
        print(f"FAILED {failure}")
    print("provenance " + json.dumps(bench.provenance()))
    verdict["metrics"] = {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()}
    print(json.dumps(verdict), flush=True)
    return 0 if verdict["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
