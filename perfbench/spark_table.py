"""``spark_table``: protect a lineitem copy with AES-SIV through
``write_protected`` and read it back through ``dbps_protected``.

One operation is one Spark job driven from this process: protect is
scan -> Arrow UDF -> Parquet write, unprotect is a ``dbps_protected``
scan plus an aggregate over every protected column. Jobs alternate, and
every unprotect result is compared with the same aggregate computed by
pyarrow from the source table.
"""

from __future__ import annotations

import glob
import os
import signal
import subprocess
import time
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from common import Reference, cpu_seconds, descendants, median, peak_rss_mb
import checks
import inputs

ENCRYPTOR = "aes_siv"
MAX_RECORDS_PER_BATCH = 10_000
#: warm-up runs protect+unprotect pairs until a pair is no more than
#: WARM_DROP faster than the pair before it (job times stop falling)
WARM_MIN, WARM_MAX, WARM_DROP = 4, 8, 0.03
TRACE_ROUNDS = 3
#: reference ticks after each job: a run has few jobs, so each gap between
#: two jobs carries several
REF_TICKS = 4
CHECK_ROWS = 200


def session(work: str):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("perfbench")
        .master("local[4]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(MAX_RECORDS_PER_BATCH))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# ---------------------------------------------------------------------------
# expected results, computed by pyarrow from the source
# ---------------------------------------------------------------------------


def expected_aggregates(table: pa.Table) -> tuple:
    price = table["l_extendedprice"].drop_null().to_numpy()
    flags = pc.value_counts(table["l_returnflag"].drop_null()).to_pylist()
    micros = table["l_shipdate"].cast(pa.int64()).drop_null().to_numpy()
    return (
        table.num_rows,
        int(pc.sum(table["l_orderkey"]).as_py()),
        int(np.rint(price * 100).astype(np.int64).sum()),
        sum(zlib.crc32(v["values"].encode()) * v["counts"] for v in flags),
        sum(micros.tolist()),
        len(price),
        table.num_rows - table["l_returnflag"].null_count,
    )


def plaintext_bytes(table: pa.Table) -> int:
    """Arrow value bytes of the protected, non-null cells."""
    total = 0
    for name in inputs.SPARK_COLUMNS:
        col = table[name]
        if pa.types.is_string(col.type):
            total += int(pc.sum(pc.binary_length(col)).as_py())
        else:
            total += 8 * (len(col) - col.null_count)
    return total


# ---------------------------------------------------------------------------
# jobs
# ---------------------------------------------------------------------------


class Jobs:
    def __init__(self, spark, work: str):
        from pyspark.sql import functions as F

        from databatchprotectionservice_spark.sources.dbps_datasource import (
            register_dbps_datasource,
        )

        self.spark, self.F = spark, F
        register_dbps_datasource(spark)
        self.input = os.path.join(work, "input")
        self.output = os.path.join(work, "protected")
        self.plain_out = os.path.join(work, "plain")
        self.n_jobs = 0

    def _group(self) -> str:
        self.n_jobs += 1
        group = f"job-{self.n_jobs}"
        self.spark.sparkContext.setJobGroup(group, group)
        return group

    def protect(self) -> str:
        from databatchprotectionservice_spark.sources.protected_parquet import write_protected

        group = self._group()
        write_protected(
            self.spark.read.parquet(self.input), self.output, inputs.SPARK_COLUMNS,
            encryptor=ENCRYPTOR, mode="overwrite",
        )
        return group

    def unprotect(self) -> tuple[str, tuple]:
        F = self.F
        group = self._group()
        df = self.spark.read.format("dbps_protected").load(self.output)
        row = df.agg(
            F.count(F.lit(1)),
            F.sum("l_orderkey"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")),
            F.sum(F.crc32(F.col("l_returnflag").cast("binary"))),
            # micros overflow a long when summed: sum them as decimals
            F.sum(F.unix_micros(F.col("l_shipdate").cast("timestamp")).cast("decimal(38,0)")),
            F.count("l_extendedprice"),
            F.count("l_returnflag"),
        ).collect()[0]
        return group, tuple(int(v) for v in row)

    # -- traced variants ------------------------------------------------
    def scan_write(self) -> str:
        group = self._group()
        self.spark.read.parquet(self.input).write.mode("overwrite").parquet(self.plain_out)
        return group

    def identity_write(self) -> str:
        """Scan -> identity Arrow UDFs of the protected columns -> write."""
        from pyspark.sql.functions import arrow_udf

        group = self._group()
        df = self.spark.read.parquet(self.input)
        for name in inputs.SPARK_COLUMNS:
            udf = arrow_udf(df.schema[name].dataType)(lambda a: a)
            df = df.withColumn(name, udf(self.F.col(name)))
        df.write.mode("overwrite").parquet(self.plain_out)
        return group

    def passthrough_read(self) -> str:
        from passthrough import PassthroughDataSource

        F = self.F
        group = self._group()
        self.spark.dataSource.register(PassthroughDataSource)
        df = self.spark.read.format("perfbench_passthrough").load(self.output)
        df.agg(F.count(F.lit(1)), *[F.sum(F.length(c)) for c in inputs.SPARK_COLUMNS]).collect()
        return group

    def tasks(self, group: str) -> tuple[int, int]:
        tracker = self.spark.sparkContext.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            for s in tracker.getJobInfo(j).stageIds:
                info = tracker.getStageInfo(s)
                tasks += info.numTasks if info else 0
        return len(jobs), tasks


def sql_metrics(spark, since: int) -> tuple[int, dict[str, float]]:
    """SQL metrics of executions newer than ``since``, summed per
    ``node name/metric name``; sizes in MB, times in ms."""
    store = spark._jsparkSession.sharedState().statusStore()
    runs = store.executionsList()
    out: dict[str, float] = {}
    last = since
    for i in range(runs.size()):
        eid = runs.apply(i).executionId()
        if eid <= since:
            continue
        last = max(last, eid)
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for j in range(nodes.size()):
            node = nodes.apply(j)
            ms = node.metrics()
            for k in range(ms.size()):
                m = ms.apply(k)
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    key = f"{node.name().strip()}/{m.name()}"
                    out[key] = out.get(key, 0.0) + _metric_value(v.get())
    return last, out


_UNITS = {"B": 1e-6, "KiB": 1024 / 1e6, "MiB": 1024**2 / 1e6, "GiB": 1024**3 / 1e6,
          "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}


def _metric_value(text: str) -> float:
    """'total (min, med, max ...)\\n6.2 s (...)' or '408.1 KiB' -> number."""
    line = text.split("\n")[-1] if "\n" in text else text
    parts = line.replace(",", "").split()
    try:
        value = float(parts[0])
    except (ValueError, IndexError):
        return 0.0
    return value * _UNITS.get(parts[1], 1.0) if len(parts) > 1 else value


# ---------------------------------------------------------------------------
# checks made on the stored cells, with cryptography's AESSIV
# ---------------------------------------------------------------------------


def cell_sample(output: str, source_files: list[str], seed: int) -> tuple[dict, list[str]]:
    """Sampled protected cells of one output file, checked against the
    source rows they came from; returns (cells by column, errors)."""
    errors = []
    source = pq.read_table(sorted(source_files)[0])
    out = None
    for f in glob.glob(os.path.join(output, "part-*.parquet")):
        t = pq.read_table(f)
        if t.num_rows == source.num_rows and all(t[c].equals(source[c]) for c in ("l_partkey", "l_tax")):
            out = t
    if out is None:
        return {}, ["no protected output file matches the first source file row for row"]
    rows = np.random.default_rng(seed).choice(out.num_rows, CHECK_ROWS, replace=False)
    cells = {}
    for name, key_id in inputs.SPARK_COLUMNS.items():
        stored = out[name].take(pa.array(rows)).to_pylist()
        plain = source[name].take(pa.array(rows))
        cells[name] = stored
        if pa.types.is_string(plain.type):
            values = [None if v is None else v.encode() for v in plain.to_pylist()]
        else:
            ints = plain.cast(pa.int64()) if pa.types.is_timestamp(plain.type) else plain
            np_dtype = "<f8" if pa.types.is_floating(plain.type) else "<i8"
            values = [None if v is None else np.array(v, dtype=np_dtype).tobytes() for v in ints.to_pylist()]
        pairs = [(c, v) for c, v in zip(stored, values) if v is not None]
        if any(c is not None for c, v in zip(stored, values) if v is None):
            errors.append(f"{name}: a null value was stored as a cell")
        errors += checks.check_aessiv_cells([c for c, _ in pairs], [v for _, v in pairs], key_id)
        errors += [f"{name}: plaintext in a cell" for _ in checks.leaked([v for _, v in pairs], [c for c, _ in pairs if c is not None])]
    return cells, errors


def wrong_key_rejected(output: str) -> list[str]:
    """The AES-SIV unprotect kernel opens stored cells under their key and
    raises under another."""
    from pyspark.sql import types as T

    from databatchprotectionservice_spark.core.errors import DBPSError
    from databatchprotectionservice_spark.functions.protect import make_unprotect_kernel

    out_file = sorted(glob.glob(os.path.join(output, "part-*.parquet")))[0]
    column = pq.read_table(out_file, columns=["l_orderkey"])["l_orderkey"]
    cells = column.combine_chunks().slice(0, 100).cast(pa.large_binary())
    try:
        make_unprotect_kernel(T.LongType(), inputs.SPARK_COLUMNS["l_orderkey"], ENCRYPTOR)(cells)
    except DBPSError as e:
        return [f"AES-SIV unprotect rejected the right key: {e}"]
    try:
        make_unprotect_kernel(T.LongType(), "not-the-key", ENCRYPTOR)(cells)
    except DBPSError:
        return []
    return ["AES-SIV unprotect accepted a wrong key"]


def reader_mb(output: str) -> float:
    """Arrow bytes ``dbps_protected`` yields for one full read, counted
    in process. Spark's own metric for this is cumulative over the
    session and saturates at 2**31 bytes, so it cannot be used per read."""
    from databatchprotectionservice_spark.sources.dbps_datasource import ProtectedParquetDataSource

    source = ProtectedParquetDataSource({"path": output})
    reader = source.reader(source.schema())
    return sum(b.nbytes for part in reader.partitions() for b in reader.read(part)) / 1e6


def kernel_cpu_ms(table: pa.Table) -> tuple[float, float]:
    """Thread CPU of the protect and unprotect kernels over the protected
    columns, cut into Arrow batches of ``maxRecordsPerBatch`` rows."""
    from pyspark.sql import types as T

    from databatchprotectionservice_spark.functions.protect import (
        make_protect_kernel,
        make_unprotect_kernel,
    )

    types = {"l_orderkey": T.LongType(), "l_extendedprice": T.DoubleType(),
             "l_returnflag": T.StringType(), "l_shipdate": T.TimestampType()}
    protect_s = unprotect_s = 0.0
    for name, key_id in inputs.SPARK_COLUMNS.items():
        col = table[name].combine_chunks()
        if pa.types.is_string(col.type):
            col = col.cast(pa.large_string())
        enc = make_protect_kernel(types[name], key_id, ENCRYPTOR)
        dec = make_unprotect_kernel(types[name], key_id, ENCRYPTOR)
        for start in range(0, len(col), MAX_RECORDS_PER_BATCH):
            batch = col.slice(start, MAX_RECORDS_PER_BATCH)
            t = time.thread_time()
            ct = enc(batch)
            protect_s += time.thread_time() - t
            t = time.thread_time()
            dec(ct)
            unprotect_s += time.thread_time() - t
    return protect_s * 1e3, unprotect_s * 1e3


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in glob.glob(os.path.join(path, "*.parquet")))


def _proc_cpu(jvm: int) -> tuple[float, float, float]:
    """(JVM, its Python workers, this process) CPU seconds."""
    workers = sum(cpu_seconds(p, children=True) for p in descendants(jvm))
    return cpu_seconds(jvm), workers, time.process_time()


def run(seed: int, seconds: float, trace: bool, work: str, t_start: float) -> dict:
    t0 = time.perf_counter()
    digest = inputs.build_in_child("spark", seed, os.path.join(work, "input"))
    # only the protected columns, for the expected aggregates and sizes
    table = pa.concat_tables(
        pq.read_table(f, columns=list(inputs.SPARK_COLUMNS))
        for f in sorted(glob.glob(os.path.join(work, "input", "*.parquet")))
    )
    print(f"inputs sha256={digest} files={inputs.SPARK_FILES} rows={table.num_rows}", flush=True)
    setup = {"setup.inputs_s": time.perf_counter() - t0}
    ref = Reference()
    t0 = time.perf_counter()
    spark = session(work)
    try:
        setup["setup.session_s"] = time.perf_counter() - t0
        return _measure(spark, table, seed, seconds, trace, work, t_start, setup, ref)
    finally:
        stop(spark)


def stop(spark) -> None:
    """Stop Spark, then the JVM and its Python workers, and wait for each
    process to end."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    pids = [proc.pid] + descendants(proc.pid)
    spark.stop()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.1)
    for p in pids:
        if os.path.exists(f"/proc/{p}"):
            os.kill(p, signal.SIGKILL)


def _measure(spark, table, seed, seconds, trace, work, t_start, setup, ref) -> dict:
    jobs = Jobs(spark, work)
    t0 = time.perf_counter()
    pair_s: list[float] = []
    first_cells = None
    while len(pair_s) < WARM_MAX:
        t = time.perf_counter()
        jobs.protect()
        jobs.unprotect()
        pair_s.append(time.perf_counter() - t)
        if first_cells is None:
            first_cells, _ = cell_sample(jobs.output, sorted(glob.glob(os.path.join(jobs.input, "*.parquet"))), seed)
        if len(pair_s) >= WARM_MIN and pair_s[-1] >= (1 - WARM_DROP) * pair_s[-2]:
            break
    variants = (("scan_write", jobs.scan_write), ("identity_write", jobs.identity_write),
                ("passthrough_read", jobs.passthrough_read))
    if trace:
        for _, job in variants:
            job()
    setup["setup.warmup_s"] = time.perf_counter() - t0
    setup["setup.server_s"] = 0.0
    setup_s = time.clock_gettime(time.CLOCK_BOOTTIME) - t_start
    jvm = spark._jvm.java.lang.ProcessHandle.current().pid()

    protect_s, unprotect_s, results = [], [], []
    layer_runs: dict[str, list[float]] = {}
    cpu = np.zeros(3)
    since, _ = sql_metrics(spark, -1)
    ready = time.perf_counter()
    while not protect_s or time.perf_counter() - ready < seconds or (trace and len(protect_s) < TRACE_ROUNDS):
        if trace:
            for name, job in variants:
                t = time.perf_counter()
                job()
                layer_runs.setdefault(name, []).append(time.perf_counter() - t)
                ref.tick(REF_TICKS)
            since, _ = sql_metrics(spark, since)
        c0 = np.array(_proc_cpu(jvm))
        t = time.perf_counter()
        group = jobs.protect()
        protect_s.append(time.perf_counter() - t)
        if trace:
            since, m = sql_metrics(spark, since)
            n_jobs, n_tasks = jobs.tasks(group)
            for k, v in {**m, "jobs": n_jobs, "tasks": n_tasks}.items():
                layer_runs.setdefault("protect/" + k, []).append(v)
        ref.tick(REF_TICKS)
        t = time.perf_counter()
        _, row = jobs.unprotect()
        unprotect_s.append(time.perf_counter() - t)
        cpu += np.array(_proc_cpu(jvm)) - c0
        results.append(row)
        ref.tick(REF_TICKS)
    rss = peak_rss_mb([os.getpid(), jvm] + descendants(jvm))

    expected = expected_aggregates(table)
    failed = sum(1 for r in results if r != expected)
    errors = [f"aggregate {r} != expected {expected}" for r in results if r != expected][:3]
    cells, cell_errors = cell_sample(jobs.output, sorted(glob.glob(os.path.join(jobs.input, "*.parquet"))), seed)
    if cell_errors:
        # the cells are checked to repeat from the first protect job to
        # the last, so a bad cell means every protect job failed
        failed += len(protect_s)
    run_errors = wrong_key_rejected(jobs.output)
    if cells != first_cells:
        run_errors.append("protecting the same input twice gave different ciphertext")
    plain = plaintext_bytes(table)
    result = {
        "attempted": 2 * len(protect_s),
        "failed": failed,
        "correct": not run_errors,
        "errors": errors + cell_errors[:3] + run_errors,
        "ref_ms": ref.ms(),
    }
    if not trace:
        # too few jobs per run for a 90th percentile with ten samples
        # beyond it: the p90 names carry the median
        p50, u50 = median(protect_s) * 1e3, median(unprotect_s) * 1e3
        result["metrics"] = {
            "setup_s": (setup_s, "s"),
            "protect_mb_s": (plain * len(protect_s) / 1e6 / sum(protect_s), "MB/s"),
            "unprotect_mb_s": (plain * len(unprotect_s) / 1e6 / sum(unprotect_s), "MB/s"),
            "protect_ms_p50": (p50, "ms"),
            "unprotect_ms_p50": (u50, "ms"),
            "protect_ms_p90": (p50, "ms"),
            "unprotect_ms_p90": (u50, "ms"),
            "ciphertext_expansion": (_dir_bytes(jobs.output) / _dir_bytes(jobs.input), "ratio"),
            "peak_rss_mb": (rss, "MB"),
        }
        return result

    med = {k: median(v) for k, v in layer_runs.items()}
    scan_write = med["scan_write"] * 1e3
    identity = med["identity_write"] * 1e3
    protect_ms, unprotect_ms = median(protect_s) * 1e3, median(unprotect_s) * 1e3
    passthrough = med["passthrough_read"] * 1e3
    kernel_protect, kernel_unprotect = kernel_cpu_ms(table)
    rounds = len(protect_s)
    result["layers"] = {
        "spark.scan_write_ms": scan_write,
        "spark.scan_time_ms": med.get("protect/Scan parquet/scan time", 0.0),
        "spark.output_mb": med.get("protect/Execute InsertIntoHadoopFsRelationCommand/written output", 0.0),
        "spark.jobs_per_op": med["protect/jobs"],
        "spark.tasks_per_op": med["protect/tasks"],
        "spark.handoff_ms": identity - scan_write,
        "spark.python_total_ms": med.get("protect/ArrowEvalPython/time to run Python workers", 0.0),
        "spark.python_init_ms": med.get("protect/ArrowEvalPython/time to initialize Python workers", 0.0),
        "spark.python_mb_sent": med.get("protect/ArrowEvalPython/data sent to Python workers", 0.0),
        "spark.python_mb_received": med.get("protect/ArrowEvalPython/data returned from Python workers", 0.0),
        "spark.protect_kernel_ms": protect_ms - identity,
        "functions.protect_kernel_cpu_ms": kernel_protect,
        "functions.unprotect_kernel_cpu_ms": kernel_unprotect,
        "datasource.passthrough_ms": passthrough,
        "datasource.decrypt_ms": unprotect_ms - passthrough,
        "datasource.python_mb_received": reader_mb(jobs.output),
        "spark.jvm_cpu_s": cpu[0] / rounds,
        "spark.worker_cpu_s": cpu[1] / rounds,
        "bench.cpu_s": cpu[2] / rounds,
        "ops.protect_ms": protect_ms,
        "ops.unprotect_ms": unprotect_ms,
        "machine.ref_ms": ref.ms(),
        **setup,
    }
    return result
