"""The benchmark's driver process: one fresh SparkSession, one workload.

Run as ``python3 -m citybench.worker <config.json>`` by ``run.py``,
with the work directory as its current directory. It sets the session
up several times, runs every op shape once untimed, runs the timed
phase, writes every op output for ``run.py`` to check, and writes its
timings to the ``result`` path named in the config. It never checks
outputs itself: checking happens after this process and its JVM have
exited.
"""

from __future__ import annotations

import json
import os
import resource
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

from pyspark import SparkContext
from pyspark.sql import SparkSession
from pyspark.sql import types as T

import __spark_entry__
from smart_city_data_pipeline_spark.catalog import table
from smart_city_data_pipeline_spark.session import get_spark
from smart_city_data_pipeline_spark.sources.jsonl_lake import read_event_lake, write_event_lake
from smart_city_data_pipeline_spark.streaming.cont_agg import (
    read_minute_rollup,
    refresh_minute_rollup,
)
from smart_city_data_pipeline_spark.streaming.warehouse_sink import stream_to_warehouse

PACKAGE = "smart_city_data_pipeline_spark."
SETUP_REPEATS = 3
WARM_UP_THREADS = 4

CITY_REPORTS = (
    "zone_analytics",
    "road_type_analytics",
    "hourly_stats",
    "congestion_classify",
    "parking_status",
    "time_bucket_1min",
    "sessionize",
    "minute_rollup_batch",
    "city_snapshot",
)
CURATION_OPS = (
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "semantic_dedup",
    "text_quality",
    "lang_id",
)
INPUT_TABLES = {
    "batch_ops": ("documents", "embeddings", "events", "ingest_slice"),
    "stream_rollup": (),
}
STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
        T.StructField("due_s", T.DoubleType()),
    ]
)


def layer_of(fn) -> str:
    """A registry function's layer: its module path inside the package."""
    return fn.__module__.removeprefix(PACKAGE)


class Recorder:
    """Spans around every call into the program, kept in memory and
    returned at the end. With ``trace`` on, the Spark jobs a call starts
    are tagged with a job group named after the called layer (or
    ``warmup`` outside the measured phase), which ``run.py`` joins
    against the event log."""

    def __init__(self, spark: SparkSession, trace: bool):
        self.spark = spark
        self.trace = trace
        self.spans: list[dict] = []

    def call(self, layer: str, op: str, phase: str, fn) -> dict:
        sc = self.spark.sparkContext
        if self.trace:
            sc.setJobGroup(layer if phase == "timed" else "warmup", op)
        t0 = time.time()
        err = None
        try:
            fn()
        except Exception:  # an op failure is a measured outcome, not a crash
            err = traceback.format_exc(limit=3)[-2000:]
        t1 = time.time()
        if self.trace:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        span = {"layer": layer, "op": op, "phase": phase, "t0": t0, "t1": t1, "error": err}
        self.spans.append(span)
        return span


def set_up(cfg: dict) -> tuple[SparkSession, list[float], list[float]]:
    """Build the session ``SETUP_REPEATS`` times (the first one launches
    the JVM) and resolve the workload's input tables each time; keep the
    last session. Returns it with the set-up and get_spark durations."""
    setups, get_spark_s = [], []
    spark = None
    for k in range(SETUP_REPEATS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(f"citybench-{cfg['workload']}")
        t1 = time.perf_counter()
        spark.range(1).count()
        for name in INPUT_TABLES[cfg["workload"]]:
            table(spark, cfg["data"], name).schema
        setups.append(time.perf_counter() - t0)
        get_spark_s.append(t1 - t0)
    return spark, setups, get_spark_s


def output(cfg: dict, op: str) -> str:
    return os.path.join(cfg["out"], op)


def closed_loop_ops(spark: SparkSession, data: str, out: str) -> list[tuple[str, str, object]]:
    """(layer, op, thunk) of one cycle over the inputs in ``data``, in
    the fixed cycle order: the curation ops, the ingest, the reports.
    The curation ops come first because they are the slowest to warm
    up, and the warm-up starts the ops in cycle order. Each thunk calls
    the program and writes the op's output to parquet under ``out``."""
    queries = __spark_entry__.queries()
    lake = os.path.join(out, "jsonl_lake")

    def report(key):
        fn = queries[key]
        return lambda: fn(spark, data).write.mode("overwrite").parquet(os.path.join(out, key))

    def ingest():
        write_event_lake(table(spark, data, "ingest_slice"), lake)
        read_event_lake(spark, lake).write.mode("overwrite").parquet(os.path.join(out, "ingest"))

    return (
        [(layer_of(queries[k]), k, report(k)) for k in CURATION_OPS]
        + [("sources.jsonl_lake", "ingest", ingest)]
        + [(layer_of(queries[k]), k, report(k)) for k in CITY_REPORTS]
    )


def run_closed_loop(spark: SparkSession, rec: Recorder, cfg: dict) -> dict:
    """Run every op shape once untimed (unless an earlier pass in this
    JVM already did), then the ops round-robin in the fixed cycle order
    until at least one whole cycle and ``seconds`` have passed. One
    caller; the cache is cleared between ops so no op reads another's
    cached data."""
    ops = closed_loop_ops(spark, cfg["data"], cfg["out"])
    if cfg["warm_up"]:
        # Concurrently: a cold op is mostly single-threaded planning and
        # code generation, so the shapes warm in parallel on the cores.
        with ThreadPoolExecutor(WARM_UP_THREADS) as pool:
            futures = [pool.submit(rec.call, layer, op, "warmup", thunk) for layer, op, thunk in ops]
            for f in futures:
                f.result()
        spark.catalog.clearCache()
    t_start = time.time()
    n = 0
    while n < len(ops) or time.time() - t_start < cfg["seconds"]:
        layer, op, thunk = ops[n % len(ops)]
        rec.call(layer, op, "timed", thunk)
        spark.catalog.clearCache()
        n += 1
    return {}


# ---------------------------------------------------------------- stream


def _source_batches(checkpoint: str) -> dict[str, int]:
    """file name -> micro-batch id, from the file source's metadata log
    (plain and compacted entries)."""
    log_dir = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def _generator(cfg: dict, phase: str, seconds: float, t0: float) -> subprocess.Popen:
    gen_cfg = dict(cfg["stream"], phase=phase, seconds=seconds, t0=t0, seed=cfg["seed"])
    path = os.path.join(cfg["work"], f"generator-{phase}.json")
    with open(path, "w") as f:
        json.dump(gen_cfg, f)
    return subprocess.Popen([sys.executable, "-m", "citybench.generator", path])


def _await_committed(query, checkpoint: str, names, batches: list[dict], timeout: float = 60.0) -> float:
    """Wait until every file in ``names`` is in a committed micro-batch;
    return the commit time of the last of those batches. (Polls the
    source log: ``processAllAvailable`` can return on a trigger that
    listed the directory just before the files arrived.)"""
    deadline = time.time() + timeout
    while True:
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        file_batch = _source_batches(checkpoint)
        done = {b["batch_id"]: b["t1"] for b in batches}
        ids = [file_batch.get(n) for n in names]
        if all(i is not None and i in done for i in ids):
            return max(done[i] for i in ids)
        if time.time() > deadline:
            raise RuntimeError(f"stream did not commit {len(names)} files in {timeout} s")
        time.sleep(0.02)


def _run_generator(cfg: dict, query, phase: str, seconds: float, batches: list[dict]) -> list[dict]:
    """Run one open-loop generator phase to its end, then wait until the
    stream has committed everything it wrote. Returns its manifest."""
    proc = _generator(cfg, phase, seconds, time.time() + cfg["stream"]["start_delay_s"])
    try:
        rc = proc.wait(timeout=seconds + 60)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if rc != 0:
        raise RuntimeError(f"generator {phase} exited {rc}")
    with open(os.path.join(cfg["stream"]["manifest_dir"], f"{phase}.json")) as f:
        manifest = json.load(f)
    checkpoint = os.path.join(cfg["work"], "checkpoint")
    _await_committed(query, checkpoint, [m["file"] for m in manifest], batches)
    return manifest


def run_stream(spark: SparkSession, rec: Recorder, cfg: dict) -> dict:
    """Pre-fill the rollup lake with history, then: untimed live warm-up,
    catch-up of fixed backlogs, timed live phase."""
    st = cfg["stream"]
    lake = os.path.join(cfg["work"], "rollup_lake")
    checkpoint = os.path.join(cfg["work"], "checkpoint")
    history = spark.read.parquet(st["history"])
    rec.call(
        "streaming.cont_agg",
        "prefill",
        "warmup",
        lambda: refresh_minute_rollup(spark, lake, history, -1),
    )
    phase = {"name": "warmup"}
    batches: list[dict] = []

    def write_batch(df, batch_id):
        span = rec.call(
            "streaming.cont_agg",
            "refresh_minute_rollup",
            "timed" if phase["name"] == "live" else "warmup",
            lambda: refresh_minute_rollup(df.sparkSession, lake, df, batch_id),
        )
        batches.append({**span, "batch_id": batch_id, "phase": phase["name"]})
        if span["error"]:
            raise RuntimeError(span["error"])

    stream = spark.readStream.schema(STREAM_SCHEMA).parquet(st["src"])
    query = stream_to_warehouse(stream, write_batch, checkpoint, available_now=False)
    try:
        manifest = {"warmup": _run_generator(cfg, query, "warmup", st["warmup_s"], batches)}
        drains = []
        for e, files in enumerate(st["backlogs"]):
            phase["name"] = f"catchup{e}"
            t_drop = time.time()
            for name in files:
                os.rename(os.path.join(st["staging"], name), os.path.join(st["src"], name))
            drains.append(_await_committed(query, checkpoint, files, batches) - t_drop)
        phase["name"] = "live"
        manifest["live"] = _run_generator(cfg, query, "live", cfg["seconds"], batches)
    finally:
        query.stop()
    rec.call(
        "streaming.cont_agg",
        "read_minute_rollup",
        "warmup",
        lambda: read_minute_rollup(spark, lake).write.mode("overwrite").parquet(
            output(cfg, "rollup")
        ),
    )
    return {
        "batches": batches,
        "file_batch": _source_batches(checkpoint),
        "manifest": manifest,
        "drains_s": drains,
    }


# ---------------------------------------------------------------- main


def _jvm_peak_rss_mb() -> float:
    proc = SparkContext._gateway.proc
    with open(f"/proc/{proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _shut_down(spark: SparkSession) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    spark.stop()
    gateway = SparkContext._gateway
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _enable_event_log(spark: SparkSession) -> SparkSession:
    """Restart the session in the same (warm) JVM with the event log on:
    the new SparkContext reads the flag from the JVM's system properties,
    where spark-submit put the rest of ``spark-defaults.conf``."""
    spark.stop()
    SparkContext._jvm.java.lang.System.setProperty("spark.eventLog.enabled", "true")
    return get_spark(spark.sparkContext.appName)


def main(cfg_path: str) -> None:
    """Set up, then run one pass per entry of ``passes``: the measured
    pass untraced, and in a traced run a second, traced pass in the same
    JVM, so the two differ only by the tracing."""
    with open(cfg_path) as f:
        cfg = json.load(f)
    spark, setups, get_spark_s = set_up(cfg)
    passes = []
    try:
        for pass_cfg in cfg["passes"]:
            pcfg = dict(cfg, **pass_cfg)
            if pcfg["trace"]:
                spark = _enable_event_log(spark)
            rec = Recorder(spark, pcfg["trace"])
            run = run_stream if cfg["workload"] == "stream_rollup" else run_closed_loop
            result = run(spark, rec, pcfg)
            result["spans"] = rec.spans
            passes.append(result)
        peak = _jvm_peak_rss_mb() + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    finally:
        _shut_down(spark)
    with open(cfg["result"], "w") as f:
        json.dump(
            {
                "setup_s": statistics.median(setups),
                "setups": setups,
                "get_spark_s": statistics.median(get_spark_s),
                "peak_rss_mb": peak,
                "passes": passes,
            },
            f,
        )


if __name__ == "__main__":
    main(sys.argv[1])
