"""City-pipeline benchmark: one workload, one seed, one JSON line.

    python3 citybench/run.py --workload batch_ops --seed 1 --seconds 12 --trace 0

Generates the workload's inputs from ``--seed`` in a private work
directory under ``.citybench_work/``, runs the workload in a fresh
driver process (``citybench.worker``), checks every output against
its DuckDB oracle after that process has exited, and prints
``{"correct", "attempted", "failed", "metrics"}`` as the last line of
standard output: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. A traced run first runs the same
workload untraced, so that ``trace.overhead_s`` is the difference
between the two. See ``citybench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROGRAM = ("__spark_entry__.py", "smart_city_data_pipeline_spark")
WORKLOADS = ("batch_ops", "stream_rollup")

# Input sizes, fixed per workload; see README.md for why each.
CITY_EVENTS = 60_000
CITY_INGEST_EVENTS = 12_000
CORPUS_DOCS = 800
CORPUS_VECTORS = 240
NEAR_DUP_SHARE = 0.10
EXACT_DUP_SHARE = 0.02
STREAM = {
    "history_events": 100_000,
    "files_per_s": 17.0,
    "events_per_file": 60,
    "warmup_s": 2.0,
    "backlog_episodes": 6,
    "backlog_files": 100,
    "time_scale": 60.0,
    "file_span_us": 120 * 10**6,
    "start_delay_s": 0.5,
}

LAYERS = (
    "sources.jsonl_lake",
    "operators.traffic",
    "operators.timeseries",
    "operators.dedup",
    "operators.similarity",
    "operators.textops",
    "streaming.cont_agg",
)
LAYER_COUNTERS = (
    "calls",
    "failed",
    "busy_s",
    "jobs",
    "tasks",
    "executor_cpu_s",
    "gc_s",
    "input_mb",
    "shuffle_write_mb",
    "spill_mb",
    "output_mb",
)
UNITS = {"calls": "count", "failed": "count", "jobs": "count", "tasks": "count"}


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def pct(values: list[float], p: int) -> float:
    """``p``-th percentile, linear between order statistics."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


# ---------------------------------------------------------------- inputs


def make_inputs(workload: str, seed: int, data: str) -> dict:
    from citybench import inputs

    os.makedirs(data)
    parts = cpus() * 2
    if workload == "batch_ops":
        inputs.write_dataset(inputs.sensor_events(CITY_EVENTS, seed), f"{data}/events.parquet", parts)
        ingest = inputs.sensor_events(
            CITY_INGEST_EVENTS,
            seed,
            stream="ingest",
            start_us=inputs.EPOCH_US + 2 * inputs.DAY_US,
            span_us=inputs.DAY_US,
            first_id=CITY_EVENTS,
        )
        inputs.write_dataset(ingest, f"{data}/ingest_slice.parquet", parts)
        docs, injected = inputs.documents(CORPUS_DOCS, seed, NEAR_DUP_SHARE, EXACT_DUP_SHARE)
        inputs.write_dataset(docs, f"{data}/documents.parquet", parts)
        vecs = inputs.embeddings(CORPUS_VECTORS, seed, NEAR_DUP_SHARE)
        inputs.write_dataset(vecs, f"{data}/embeddings.parquet", parts)
        return {"injected": injected}
    hist = inputs.sensor_events(STREAM["history_events"], seed, stream="history", tz="UTC")
    inputs.write_dataset(hist, f"{data}/history.parquet", parts)
    return stream_plan(seed, data)


def stream_plan(seed: int, data: str) -> dict:
    """Synthetic event-time layout of the stream phases, and the backlog
    files (written now, dropped into the source during catch-up)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from citybench import inputs

    s = STREAM
    minute = 60 * 10**6
    after_history = inputs.EPOCH_US + 7 * inputs.DAY_US
    span = lambda seconds: int(seconds * s["time_scale"]) * 10**6  # noqa: E731
    start = {"warmup": after_history}
    first_id = {"warmup": 10**9}
    cursor = after_history + span(s["warmup_s"]) + 10 * minute
    backlog_dir = f"{data}/backlog"
    os.makedirs(backlog_dir)
    backlogs = []
    for e in range(s["backlog_episodes"]):
        names = []
        for k in range(s["backlog_files"]):
            ev = inputs.sensor_events(
                s["events_per_file"],
                seed,
                stream=f"catchup{e}-{k}",
                start_us=cursor,
                span_us=s["file_span_us"],
                first_id=2 * 10**9 + (e * s["backlog_files"] + k) * s["events_per_file"],
                tz="UTC",
            )
            ev = ev.append_column("due_s", pa.array([float("nan")] * ev.num_rows, pa.float64()))
            name = f"catchup{e}-{k:05d}.parquet"
            pq.write_table(ev, f"{backlog_dir}/{name}")
            names.append(name)
            cursor += s["file_span_us"] // 4
        backlogs.append(names)
    start["live"] = cursor + 10 * minute
    first_id["live"] = 3 * 10**9
    return {"backlogs": backlogs, "phase_start_us": start, "phase_first_id": first_id}


# ---------------------------------------------------------------- driver


def spark_defaults(work: str) -> str:
    """A Spark conf dir that keeps every side effect inside ``work``."""
    conf = os.path.join(work, "conf")
    os.makedirs(conf)
    for d in ("local", "tmp", "derby", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, d))
    lines = {
        "spark.local.dir": f"{work}/local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={work}/derby -Djava.io.tmpdir={work}/tmp",
        "spark.hadoop.hadoop.tmp.dir": f"{work}/tmp",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
        "spark.eventLog.dir": f"file://{work}/eventlog",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
        f.writelines(f"{k} {v}\n" for k, v in lines.items())
    return conf


def _pass_dirs(args, data: str, info: dict, work: str, trace: bool) -> dict:
    """Private directories of one pass (outputs, lake, stream source)."""
    os.makedirs(work)
    # The traced pass follows the untraced one in the same JVM, whose
    # codegen cache and JIT the first pass's warm-up already filled.
    p = {"trace": trace, "warm_up": not trace, "work": work, "out": os.path.join(work, "out")}
    if args.workload == "stream_rollup":
        st = dict(STREAM, **{k: info[k] for k in ("backlogs", "phase_start_us", "phase_first_id")})
        for d in ("src", "tmp_src", "manifest", "staging"):
            os.makedirs(os.path.join(work, d))
        for name in sum(info["backlogs"], []):
            shutil.copy(f"{data}/backlog/{name}", f"{work}/staging/{name}")
        st.update(
            history=f"{data}/history.parquet",
            src=f"{work}/src",
            tmp=f"{work}/tmp_src",
            manifest_dir=f"{work}/manifest",
            staging=f"{work}/staging",
        )
        p["stream"] = st
    return p


def run_driver(args, data: str, info: dict, work: str) -> dict:
    """Run the workload in a fresh driver process: one untraced pass,
    plus a traced pass with ``--trace 1``."""
    passes = [_pass_dirs(args, data, info, os.path.join(work, "plain"), False)]
    if args.trace:
        passes.append(_pass_dirs(args, data, info, os.path.join(work, "traced"), True))
    cfg = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "data": data,
        "passes": passes,
        "result": os.path.join(work, "result.json"),
    }
    with open(os.path.join(work, "config.json"), "w") as f:
        json.dump(cfg, f)
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus()),
        SPARK_DRIVER_MEMORY="2g",
        SPARK_LOCAL_DIRS=f"{work}/local",
        SPARK_CONF_DIR=spark_defaults(work),
        TMPDIR=f"{work}/tmp",
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
        PYTHONPATH=ROOT,
        PYSPARK_PYTHON=sys.executable,
        PYTHONDONTWRITEBYTECODE="1",
    )
    log_path = os.path.join(work, "driver.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, "-m", "citybench.worker", os.path.join(work, "config.json")],
            cwd=work,
            env=env,
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=170)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            _kill_group(proc)
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"driver process failed ({rc})")
    with open(cfg["result"]) as f:
        res = json.load(f)
    for p, r in zip(passes, res["passes"]):
        r["cfg"] = dict(cfg, **p)
    return res


def _kill_group(proc: subprocess.Popen) -> None:
    """Stop whatever the driver left running in its process group (JVM,
    generator, Python workers) and wait for the driver itself."""
    try:
        os.killpg(proc.pid, 9)
    except ProcessLookupError:
        pass
    proc.wait()


# ---------------------------------------------------------------- checks


def check(args, data: str, info: dict, res: dict) -> dict[str, str | None]:
    from citybench import checks

    out = res["cfg"]["out"]
    con = checks.connect(res["cfg"]["work"])
    try:
        if args.workload == "batch_ops":
            from citybench.worker import CITY_REPORTS, CURATION_OPS

            verdict = checks.check_oracles(con, data, out, ["events"], CITY_REPORTS)
            verdict["ingest"] = checks.check_ingest(con, data, out)
            ops = [op for op in CURATION_OPS if op not in ("dedup_minhash_lsh", "dedup_clusters")]
            verdict.update(checks.check_oracles(con, data, out, ["documents", "embeddings"], ops))
            verdict["dedup_minhash_lsh"] = checks.check_minhash_lsh(con, out)
            verdict["dedup_clusters"] = (
                checks.check_clusters(con, out)
                if verdict["dedup_minhash_lsh"] is None
                else "its input pairs failed their check"
            )
            res["injected_recall"] = checks.injected_recall(
                con, out, f"{data}/documents.parquet", info["injected"]
            )
        else:
            verdict = {
                "refresh_minute_rollup": checks.check_rollup(
                    con, f"{data}/history.parquet", res["cfg"]["stream"]["src"], out
                )
            }
            rollup = checks.parquet(os.path.join(out, "rollup"))
            res["state_rows"] = con.execute(f"SELECT count(*) FROM {rollup}").fetchone()[0]
    finally:
        con.close()
    return verdict


# ---------------------------------------------------------------- metrics


def _timed(res: dict) -> list[dict]:
    return [s for s in res["spans"] if s["phase"] == "timed"]


def _whole_cycles(res: dict) -> list[dict]:
    """Timed spans of the whole cycles. The timed phase can end inside a
    cycle; the ops of that partial cycle would change the op mix, and
    they run warmer than their first call, so they are left out."""
    spans = _timed(res)
    per_cycle = len({s["op"] for s in spans}) or 1
    return spans[: len(spans) // per_cycle * per_cycle]


def closed_loop_metrics(driver: dict, res: dict, verdict: dict) -> tuple[dict, int, int]:
    spans = _timed(res)
    bad = {op for op, why in verdict.items() if why is not None}
    failed = sum(1 for s in spans if s["error"] or s["op"] in bad)
    # The ingest is not a report; its rate is a per-layer metric.
    lat = [
        s["t1"] - s["t0"]
        for s in _whole_cycles(res)
        if not s["error"] and s["op"] not in bad and s["op"] != "ingest"
    ]
    m = {"setup_s": (driver["setup_s"], "s")}
    m.update(_shared(lat, len(lat) / sum(lat)))
    return m, len(spans), failed


def _shared(latencies: list[float], rate: float) -> dict:
    """The end-to-end metrics every workload reports under the same
    names; README.md says what latency and throughput are per workload."""
    return {
        "latency_p50_s": (pct(latencies, 50), "s"),
        "latency_p75_s": (pct(latencies, 75), "s"),
        "throughput_per_s": (rate, "1/s"),
    }


def stream_facts(res: dict) -> dict:
    """Per-file and per-batch facts of the timed live phase."""
    commit = {b["batch_id"]: b["t1"] for b in res["batches"]}
    live = res["manifest"]["live"]
    files = []
    for f in live:
        bid = res["file_batch"].get(f["file"])
        files.append(dict(f, batch=bid, committed=commit.get(bid)))
    batches = [b for b in res["batches"] if b["phase"] == "live"]
    rows = {}
    for f in files:
        if f["batch"] is not None:
            rows[f["batch"]] = rows.get(f["batch"], 0) + f["events"]
    return {"files": files, "batches": batches, "rows": rows}


def stream_metrics(driver: dict, res: dict, verdict: dict) -> tuple[dict, int, int]:
    facts = stream_facts(res)
    files = facts["files"]
    lost = sum(1 for f in files if f["committed"] is None)
    bad = any(why is not None for why in verdict.values())
    failed = len(files) if bad else lost
    fresh = [f["committed"] - f["due"] for f in files if f["committed"] is not None]
    drains = res["drains_s"][1:]  # the first backlog warms the catch-up path
    backlog_events = STREAM["backlog_files"] * STREAM["events_per_file"]
    m = {"setup_s": (driver["setup_s"], "s")}
    m.update(_shared(fresh, statistics.median(backlog_events / d for d in drains)))
    return m, len(files), failed


def layer_metrics(args, driver: dict, res: dict, base: dict, verdict: dict, counters: dict) -> dict:
    spans = _timed(res)
    bad = {op for op, why in verdict.items() if why is not None}
    m: dict[str, tuple[float, str]] = {}
    for layer in LAYERS:
        mine = [s for s in spans if s["layer"] == layer]
        c = counters.get(layer, {})
        vals = {
            "calls": len(mine),
            "failed": sum(1 for s in mine if s["error"] or s["op"] in bad),
            "busy_s": sum(s["t1"] - s["t0"] for s in mine),
            **{k: c.get(k, 0) for k in LAYER_COUNTERS[3:]},
        }
        for k in LAYER_COUNTERS:
            unit = UNITS.get(k, "s" if k.endswith("_s") else "MB")
            m[f"{layer}.{k}"] = (vals[k], unit)
    ingests = [s["t1"] - s["t0"] for s in spans if s["op"] == "ingest" and not s["error"]]
    ingest_ok = ingests and "ingest" not in bad
    m["sources.jsonl_lake.events_per_s"] = (
        CITY_INGEST_EVENTS * len(ingests) / sum(ingests) if ingest_ok else 0.0,
        "1/s",
    )
    m["session.get_spark_s"] = (driver["get_spark_s"], "s")
    stream = {"batches": 0, "rows_p50": 0, "refresh_p50": 0.0, "lag": 0, "state": 0, "late": 0.0, "bpe": 0.0}
    if args.workload == "stream_rollup":
        facts = stream_facts(res)
        batches = facts["batches"]
        lag, events = 0, []
        for f in facts["files"]:
            events.append((f["dropped"], 1))
            if f["committed"] is not None:
                events.append((f["committed"], -1))
        for _, d in sorted(events):
            lag += d
            stream["lag"] = max(stream["lag"], lag)
        generated = [f for ph in res["manifest"].values() for f in ph]
        backlog = STREAM["backlog_files"] * STREAM["events_per_file"] * len(res["drains_s"])
        fed = STREAM["history_events"] + backlog + sum(f["events"] for f in generated)
        stream.update(
            batches=len(batches),
            rows_p50=statistics.median(facts["rows"].values()) if facts["rows"] else 0,
            refresh_p50=statistics.median(b["t1"] - b["t0"] for b in batches) if batches else 0.0,
            state=res["state_rows"],
            late=max((f["dropped"] - f["due"] for f in generated), default=0.0),
            bpe=counters.get("streaming.cont_agg", {}).get("output_mb", 0.0) * 1e6 / fed,
        )
    m.update(
        {
            "streaming.batches": (stream["batches"], "count"),
            "streaming.rows_per_batch_p50": (stream["rows_p50"], "rows"),
            "streaming.refresh_s_p50": (stream["refresh_p50"], "s"),
            "streaming.source_lag_files_max": (stream["lag"], "files"),
            "streaming.state_rows": (stream["state"], "rows"),
            "streaming.cont_agg.bytes_written_per_event": (stream["bpe"], "B/event"),
            "operators.dedup.injected_recall": (res.get("injected_recall", 0.0), "ratio"),
            "bench.generator_late_s_max": (stream["late"], "s"),
            "trace.overhead_s": (_mean_op_s(res) - _mean_op_s(base), "s"),
            "process.peak_rss_mb": (driver["peak_rss_mb"], "MB"),
        }
    )
    return m


def _mean_op_s(res: dict) -> float:
    spans = _whole_cycles(res)
    return statistics.fmean(s["t1"] - s["t0"] for s in spans) if spans else 0.0


# ---------------------------------------------------------------- main


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # A kill from outside unwinds through the finally blocks, which stop
    # the driver's process group and delete the work directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    missing = [p for p in PROGRAM if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        raise SystemExit(f"program not found next to the benchmark: {missing}")
    sys.path.insert(0, ROOT)

    base_dir = os.path.join(ROOT, ".citybench_work")
    os.makedirs(base_dir, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=base_dir)
    try:
        data = os.path.join(run_dir, "data")
        clock = [("start", time.time())]
        info = make_inputs(args.workload, args.seed, data)
        clock.append(("inputs", time.time()))
        driver = run_driver(args, data, info, os.path.join(run_dir, "driver"))
        clock.append(("driver", time.time()))
        base, res = driver["passes"][0], driver["passes"][-1]
        verdict = check(args, data, info, res)
        clock.append(("checks", time.time()))
        print(_phase_report(clock, driver), file=sys.stderr)
        if args.workload == "stream_rollup":
            m, attempted, failed = stream_metrics(driver, res, verdict)
        else:
            m, attempted, failed = closed_loop_metrics(driver, res, verdict)
        if args.trace:
            from citybench.tracing import group_counters

            counters = group_counters(os.path.join(run_dir, "driver", "eventlog"))
            m = layer_metrics(args, driver, res, base, verdict, counters)
        for op, why in verdict.items():
            if why is not None:
                print(f"check failed: {op}: {why}", file=sys.stderr)
        errors = [s for s in _timed(res) if s["error"]]
        for s in errors[:3]:
            print(f"op failed: {s['op']}: {s['error']}", file=sys.stderr)
        print(
            json.dumps(
                {
                    "correct": failed == 0 and all(v is None for v in verdict.values()),
                    "attempted": attempted,
                    "failed": failed,
                    "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()},
                }
            )
        )
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _phase_report(clock: list, driver: dict) -> str:
    """Where a run's wall time went, for sizing the workloads."""
    parts = [f"{name} {t - clock[i][1]:.1f}s" for i, (name, t) in enumerate(clock[1:])]
    inner = [f"set-up x{len(driver['setups'])} {sum(driver['setups']):.1f}s"]
    for res in driver["passes"]:
        warm = [s for s in res["spans"] if s["phase"] == "warmup"]
        timed = _timed(res)
        if warm:
            inner.append(f"warm-up {max(s['t1'] for s in warm) - min(s['t0'] for s in warm):.1f}s")
        if timed:
            inner.append(f"timed {timed[-1]['t1'] - timed[0]['t0']:.1f}s over {len(timed)} ops")
    return "phases: " + ", ".join(parts) + f" (driver: {', '.join(inner)})"


if __name__ == "__main__":
    main()
