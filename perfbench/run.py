"""Benchmark command for the engine.

    python3 perfbench/run.py --workload reference_batch --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a checkout. One process on ``local[<cores>]``:

1. generate the seeded inputs (``gen.py``) under ``.perfbench/``;
2. set up the session (``get_spark`` + ``Engine``);
3. run the workload's first pass (cold) and then warm passes until
   ``--seconds`` have passed, one op at a time (closed loop, one
   client);
4. check every op's output once, outside the timed passes;
5. set the session up again, stopping the last one first, and report
   the median set-up time;
6. print every metric by name and unit, then one JSON summary line.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` switches
Spark's event log on and reports the per-layer metrics instead, taken
from the benchmark's spans, the event log, the final plans and the
streaming progress of the warm passes. Details of every run, spans
included, go to ``.perfbench/results/``.

The workloads, metrics and the layer each metric belongs to are
described in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
from layers import median  # noqa: E402

REFERENCE = ("hot_items", "hot_pages", "page_views", "unique_visitors",
             "unique_visitors_approx", "marketing_by_channel",
             "marketing_total", "ad_stats_by_province", "login_fail",
             "login_fail_cep", "order_timeout", "tx_match",
             "blacklist_warnings")
CURATION = ("curation_pipeline", "dedup_clusters", "dedup_minhash_lsh",
            "winnow_fingerprints", "dedup_semantic", "text_stats",
            "chunk_docs")
TWINS = ("consecutive_fail_stateful", "cap_filter_stateful",
         "reconcile_stateful", "order_timeout_stateful",
         "hot_items_counts_stream")
WORKLOADS = ("reference_batch", "curation_batch", "alert_stream")

SIZES = {
    "full": {"events": 100_000, "users": 1_500, "documents": 500,
             "embeddings": 500, "replay_events": 3_000,
             "replay_users": 50, "replay_files": 2},
    "tiny": {"events": 3_000, "users": 200, "documents": 200,
             "embeddings": 200, "replay_events": 600, "replay_users": 20,
             "replay_files": 3},
}
# Warm passes continue until --seconds have passed and at least this
# many have run. A reference pass takes ~10 s and a drain of the alert
# mix ~20 s on 4 cores, so one warm pass keeps a run of either near a
# minute and the 4 + 22 x 2 runs of a full comparison within 3420 s.
# A second reference pass did not narrow the spread over runs, which
# the machine's speed drift sets.
MIN_WARM_PASSES = 1
SETUPS = 3
# order_timeout_stateful raises INVALID_TIMEOUT_TIMESTAMP once a key
# whose event-time deadline the watermark has passed receives new rows
# (it then sets a timeout below the watermark). The benchmark attempts
# it on every drain and reports the failure on its own line and in
# error_rate; it does not count it in the summary's "failed".
KNOWN_DEFECT = ("order_timeout_stateful", "INVALID_TIMEOUT_TIMESTAMP")

UNITS = {"setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s"}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=tuple(SIZES), default="full",
                    help="input size; 'tiny' is for the smoke test")
    return ap.parse_args(argv)


def loadavg() -> str:
    with open("/proc/loadavg") as fh:
        return fh.read().strip()


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A quarter of the machine's memory, between 1 and 4 GiB."""
    with open("/proc/meminfo") as fh:
        total_kb = next(int(line.split()[1]) for line in fh
                        if line.startswith("MemTotal:"))
    return f"{max(1, min(4, total_kb // (4 * 1024 * 1024)))}g"


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.trace = bool(args.trace)
        self.spans = layers.Spans()
        self.ops: list[dict] = []
        self.passes: list[dict] = []
        self.setups: list[dict] = []
        self.verdicts: list[dict] = []
        self.spark = None
        self.engine = None
        self.first_app_id = None
        self.dirs = {k: os.path.join(work, k) for k in
                     ("tmp", "local", "warehouse", "checkpoints", "eventlog",
                      "inputs")}

    # ------------------------------------------------------------ session

    def configure(self) -> None:
        for d in self.dirs.values():
            if d != self.dirs["inputs"]:
                os.makedirs(d, exist_ok=True)
        os.environ.update({
            "TMPDIR": self.dirs["tmp"], "SPARK_LOCAL_DIRS": self.dirs["local"],
            "SPARK_GRAFT_WAREHOUSE": self.dirs["warehouse"], "TZ": "UTC",
            # the JVM that builds the spark-submit command line would
            # otherwise write its perf data under /tmp
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData"})
        time.tzset()
        tempfile.tempdir = None
        self.conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": self.dirs["local"],
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.dirs['tmp']} -XX:-UsePerfData",
            "spark.sql.streaming.checkpointLocation": self.dirs["checkpoints"],
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        }
        if self.trace:
            self.conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.dirs["eventlog"],
                "spark.eventLog.compress": "false"})

    def setup(self) -> None:
        from flink_user_behavior_analysis_spark.engine import Engine
        from flink_user_behavior_analysis_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        with self.spans.span("session.start", "session") as s_start:
            self.spark = get_spark(app="perfbench", cpus=cores(),
                                   driver_memory=driver_memory(),
                                   extra_conf=self.conf)
        with self.spans.span("sources.register", "sources") as s_reg:
            self.engine = Engine(self.inputs["batch"], self.spark)
        start_s = s_start["end"] - s_start["start"]
        register_s = s_reg["end"] - s_reg["start"]
        self.setups.append({"start_s": start_s, "register_s": register_s,
                            "setup_s": start_s + register_s})

    def jvm(self):
        from pyspark import SparkContext

        return SparkContext._gateway.proc

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to end."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    # -------------------------------------------------------------- batch

    def batch_pass(self, names, pass_no: int, results: dict | None) -> None:
        sc = self.spark.sparkContext
        for name in names:
            op = {"id": f"p{pass_no}:{name}", "name": name, "pass": pass_no,
                  "groups": [f"perfbench:p{pass_no}:{name}"], "error": None}
            sc.setJobGroup(op["groups"][0], name)
            try:
                with self.spans.span("queries.op", "queries", op=op["id"],
                                     pass_no=pass_no) as s_op:
                    with self.spans.span("queries.call", "queries", op=op["id"],
                                         pass_no=pass_no):
                        df = self.engine.query(name)
                    with self.spans.span("queries.collect", "queries", op=op["id"],
                                         pass_no=pass_no):
                        rows = df.collect()
                if self.trace:
                    op["plan"] = layers.plan_metrics(
                        df._jdf.queryExecution().executedPlan())
                if results is not None:
                    results[name] = (rows, df.columns)
            except Exception as exc:  # noqa: BLE001 - a failed op is counted
                op["error"] = f"{type(exc).__name__}: {exc}"[:500]
            op["start"], op["end"] = s_op["start"], s_op["end"]
            op["latency_ms"] = (s_op["end"] - s_op["start"]) * 1000.0
            self.ops.append(op)
        sc.setLocalProperty("spark.jobGroup.id", None)

    def check_batch(self, results: dict) -> None:
        from flink_user_behavior_analysis_spark import queries

        con = checks.duck_connection(self.inputs["batch"])
        try:
            for name, (rows, cols) in results.items():
                ok, detail = checks.check_oracle(con, queries.ORACLES[name], rows, cols)
                self.verdicts.append({"op": name, "ok": ok, "detail": detail})
        finally:
            con.close()

    # ------------------------------------------------------------- stream

    def twin(self, name: str):
        """(streaming DataFrame, output mode) for one twin."""
        from flink_user_behavior_analysis_spark.streaming import (
            cap_filter_stateful, consecutive_fail_stateful,
            hot_items_counts_stream, order_timeout_stateful,
            reconcile_stateful, stream_events)

        spark, replay = self.spark, self.inputs["replay"]

        def events():
            return stream_events(spark, replay, watermark="0 seconds")

        # parameters mirror the registry's batch twins: login_fail,
        # blacklist_warnings, tx_match and order_timeout
        if name == "consecutive_fail_stateful":
            return consecutive_fail_stateful(events(), n=2, within_seconds=6 * 3600), "append"
        if name == "cap_filter_stateful":
            return cap_filter_stateful(
                events().withColumnRenamed("event_type", "behavior"), cap=3), "append"
        if name == "reconcile_stateful":
            return reconcile_stateful(_with_item(events()), -12 * 3600, 12 * 3600), "append"
        if name == "order_timeout_stateful":
            return order_timeout_stateful(
                _with_item(events()), timeout_seconds=3 * 24 * 3600), "append"
        return hot_items_counts_stream(spark, replay), "complete"

    def drain(self, pass_no: int) -> None:
        from pyspark.errors import StreamingQueryException

        for name in TWINS:
            sink = f"perfbench_{name}_p{pass_no}"
            op = {"id": f"p{pass_no}:{name}", "name": name, "pass": pass_no,
                  "sink": sink, "groups": [], "error": None}
            with self.spans.span("streaming.op", "streaming", op=op["id"],
                                 pass_no=pass_no) as s_op:
                with self.spans.span("queries.call", "queries", op=op["id"],
                                     pass_no=pass_no):
                    sdf, mode = self.twin(name)
                with self.spans.span("streaming.drain", "streaming", op=op["id"],
                                     pass_no=pass_no):
                    query = (sdf.writeStream.format("memory").queryName(sink)
                             .outputMode(mode).trigger(availableNow=True)
                             .option("checkpointLocation",
                                     os.path.join(self.dirs["checkpoints"], sink))
                             .start())
                    try:
                        query.awaitTermination()
                    except StreamingQueryException as exc:
                        text = str(exc)
                        op["error"] = text[:500]
                        op["known_defect"] = (name == KNOWN_DEFECT[0]
                                              and KNOWN_DEFECT[1] in text)
            op["start"], op["end"] = s_op["start"], s_op["end"]
            op["groups"] = [str(query.runId)]
            op["microbatches"] = layers.progress_rows(query.recentProgress)
            if self.trace:
                plan = layers.stream_last_plan(query)
                if plan is not None:
                    op["plan"] = layers.plan_metrics(plan)
            self.ops.append(op)

    def twin_batch(self, name: str):
        """Batch twin of a stream twin: (DataFrame, check function)."""
        from pyspark.sql import functions as F

        from flink_user_behavior_analysis_spark import queries
        from flink_user_behavior_analysis_spark.operators import windowed_count
        from flink_user_behavior_analysis_spark.sources import load_table

        spark, replay = self.spark, self.inputs["replay"]
        if name == "consecutive_fail_stateful":
            return queries.QUERIES["login_fail"](spark, replay), lambda g, w: checks.check_exact(
                g, w, ["user_id", "first_fail_us", "last_fail_us"])
        if name == "cap_filter_stateful":
            return queries.QUERIES["blacklist_warnings"](spark, replay), lambda g, w: checks.check_exact(
                g, w, ["user_id", "behavior", "day", "warning_msg"])
        if name == "reconcile_stateful":
            return queries.QUERIES["tx_match"](spark, replay), checks.check_reconcile
        if name == "order_timeout_stateful":
            return queries.QUERIES["order_timeout"](spark, replay), checks.check_closed_keys
        ev = _with_item(load_table(spark, replay, "events").where(F.col("event_type") == "view"))
        return (windowed_count(ev, "ts", ["item_id"], "1 hour", "15 minutes"),
                lambda g, w: checks.check_exact(g, w, ["window_end_us", "item_id", "cnt"]))

    def check_stream(self) -> None:
        for op in (o for o in self.ops if o["pass"] == 0):
            if op["error"] is not None:
                continue  # counted as a failed or known-defect op
            want_df, check = self.twin_batch(op["name"])
            got = self.spark.table(op["sink"]).collect()
            ok, detail = check(got, want_df.collect())
            self.verdicts.append({"op": op["name"], "ok": ok, "detail": detail})

    # ---------------------------------------------------------------- run

    def run(self) -> None:
        wl = self.args.workload
        with self.spans.span("inputs.generate", "inputs"):
            self.inputs = gen.generate(self.dirs["inputs"], self.args.seed,
                                       SIZES[self.args.scale])
        self.setup()
        results: dict = {}
        pass_no = 0
        deadline = None
        while True:
            with self.spans.span("pass", "bench", pass_no=pass_no) as s_pass:
                if wl == "alert_stream":
                    self.drain(pass_no)
                else:
                    names = REFERENCE if wl == "reference_batch" else CURATION
                    self.batch_pass(names, pass_no, results if pass_no == 0 else None)
            self.passes.append({"pass": pass_no,
                                "wall_s": s_pass["end"] - s_pass["start"]})
            if deadline is None:
                deadline = time.time() + self.args.seconds
            elif pass_no >= MIN_WARM_PASSES and time.time() >= deadline:
                break
            pass_no += 1
        with self.spans.span("checks", "bench"):
            if wl == "alert_stream":
                self.check_stream()
            else:
                self.check_batch(results)
        self.first_app_id = self.spark.sparkContext.applicationId
        for _ in range(SETUPS - 1):
            self.setup()
        self.peak_rss_mb = vm_hwm_mb(self.jvm().pid)

    # ------------------------------------------------------------ metrics

    def op_outcomes(self) -> dict:
        """attempted / failed ops, and the known-defect count."""
        attempted = failed = known = 0
        for op in self.ops:
            if "microbatches" in op:
                attempted += sum(1 for m in op["microbatches"] if m["input_rows"] > 0)
                if op["error"] is not None:
                    attempted += 1  # the micro-batch that raised
                    if op.get("known_defect"):
                        known += 1
                    else:
                        failed += 1
            else:
                attempted += 1
                failed += op["error"] is not None
        failed += sum(1 for v in self.verdicts if not v["ok"])
        return {"attempted": attempted, "failed": failed, "known_defect": known}

    def warm_ops(self):
        return [o for o in self.ops if o["pass"] > 0]

    def end_to_end(self) -> tuple[dict, dict]:
        warm_walls = [p["wall_s"] for p in self.passes if p["pass"] > 0]
        if self.args.workload == "alert_stream":
            samples = [m["trigger_ms"] for o in self.warm_ops()
                       for m in o["microbatches"] if m["input_rows"] > 0]
        else:
            samples = [o["latency_ms"] for o in self.warm_ops() if o["error"] is None]
        metrics = {
            "setup_s": median(s["setup_s"] for s in self.setups),
            "cold_pass_s": self.passes[0]["wall_s"],
            "warm_pass_s": median(warm_walls),
        }
        q = statistics.quantiles(warm_walls, n=4) if len(warm_walls) > 1 else warm_walls * 3
        extra = {"warm_pass_s": {"p25": q[0], "p75": q[2], "n": len(warm_walls)},
                 "op_p50_ms": median(samples), "op_samples": len(samples),
                 "peak_rss_mb": self.peak_rss_mb,
                 "setup_s": {"samples": [s["setup_s"] for s in self.setups],
                             "first_setup_s": self.setups[0]["setup_s"]}}
        if self.args.workload == "alert_stream":
            extra["microbatch_p50_ms"] = extra["op_p50_ms"]
            if len(samples) >= 100:
                extra["microbatch_p90_ms"] = statistics.quantiles(samples, n=10)[8]
            events = sum(m["input_rows"] for o in self.warm_ops() for m in o["microbatches"])
            extra["events_per_s"] = events / sum(warm_walls)
        return metrics, extra

    def per_layer(self, warm_pass_s: float) -> dict:
        log = layers.read_event_log(self.dirs["eventlog"], self.first_app_id)
        attributed = layers.attribute_jobs(log, self.ops)
        per_pass: dict[int, dict] = {}
        for op in self.warm_ops():
            acc = per_pass.setdefault(op["pass"], _zero_layers())
            ev = attributed[op["id"]]
            idx = {r["name"]: r for r in self.spans.records if r.get("op") == op["id"]}
            acc["queries.call_s"] += _dur(idx.get("queries.call"))
            acc["queries.collect_s"] += _dur(idx.get("queries.collect"))
            acc["streaming.drain_s"] += _dur(idx.get("streaming.drain"))
            acc["queries.jobs"] += ev["jobs"]
            acc["queries.stages"] += ev["stages"]
            acc["queries.tasks"] += ev["tasks"]
            acc["queries.failed_tasks"] += ev["failed_tasks"]
            clipped = [(max(s, op["start"]), min(e, op["end"])) for s, e in ev["job_intervals"]]
            acc["queries.driver_gap_s"] += (op["end"] - op["start"]) - layers.interval_union(
                [(s, e) for s, e in clipped if e > s])
            acc["queries.executor_run_s"] += ev["run_ms"] / 1000.0
            acc["queries.executor_cpu_s"] += ev["cpu_ns"] / 1e9
            acc["queries.gc_s"] += ev["gc_ms"] / 1000.0
            acc["queries.shuffle_write_bytes"] += ev["shuffle_write_bytes"]
            acc["queries.spill_bytes"] += ev["spill_bytes"]
            acc["sources.scan_rows"] += ev["input_rows"]
            acc["sources.scan_bytes"] += ev["input_bytes"]
            plan = op.get("plan")
            if plan:
                acc["operators.python_total_s"] += plan["python_total_ms"] / 1000.0
                acc["operators.python_boot_s"] += plan["python_boot_ms"] / 1000.0
                acc["operators.python_sent_bytes"] += plan["python_sent_bytes"]
                acc["operators.exchange_bytes"] += plan["exchange_bytes"]
                acc["operators.expand_rows"] += plan["expand_rows"]
                acc["_scans"] += plan["scans"]
                acc["_tables"] += plan["tables"]
            mbs = op.get("microbatches", [])
            acc["streaming.no_data_batches"] += sum(1 for m in mbs if m["input_rows"] == 0)
            acc["streaming.state_dropped_rows"] += sum(m["state_dropped_rows"] for m in mbs)
            if mbs:
                acc["streaming.state_rows"] += mbs[-1]["state_rows"]
                acc["streaming.state_memory_bytes"] += mbs[-1]["state_memory_bytes"]
        for acc in per_pass.values():
            acc["sources.scans_per_table"] = acc.pop("_scans") / max(1, acc.pop("_tables"))
        out = {k: median(p[k] for p in per_pass.values()) for k in _zero_layers()
               if not k.startswith("_")}
        out["sources.scans_per_table"] = median(
            p["sources.scans_per_table"] for p in per_pass.values())
        mbs = [m for o in self.warm_ops() for m in o.get("microbatches", [])
               if m["input_rows"] > 0]
        for key, field in (("streaming.trigger_ms", "trigger_ms"),
                           ("streaming.add_batch_ms", "add_batch_ms"),
                           ("streaming.query_planning_ms", "query_planning_ms"),
                           ("streaming.wal_commit_ms", "wal_commit_ms"),
                           ("streaming.commit_offsets_ms", "commit_offsets_ms"),
                           ("streaming.state_update_ms", "state_update_ms"),
                           ("sources.get_batch_ms", "get_batch_ms"),
                           ("sources.latest_offset_ms", "latest_offset_ms")):
            out[key] = median(m[field] for m in mbs)
        out["session.start_s"] = median(s["start_s"] for s in self.setups)
        out["sources.register_s"] = median(s["register_s"] for s in self.setups)
        out["trace.warm_pass_s"] = warm_pass_s
        return out


def _with_item(df):
    """The item id the reference's queries read from ``props``."""
    from pyspark.sql import functions as F

    return df.withColumn(
        "item_id", F.regexp_extract("props", r'"k":\s*(\d+)', 1).cast("long"))


def _dur(rec) -> float:
    return 0.0 if rec is None else rec["end"] - rec["start"]


def _zero_layers() -> dict:
    keys = ("queries.call_s", "queries.collect_s", "streaming.drain_s",
            "queries.jobs", "queries.stages", "queries.tasks",
            "queries.failed_tasks", "queries.driver_gap_s",
            "queries.executor_run_s", "queries.executor_cpu_s", "queries.gc_s",
            "queries.shuffle_write_bytes", "queries.spill_bytes",
            "sources.scan_rows", "sources.scan_bytes",
            "operators.python_total_s", "operators.python_boot_s",
            "operators.python_sent_bytes", "operators.exchange_bytes",
            "operators.expand_rows", "streaming.no_data_batches",
            "streaming.state_rows", "streaming.state_memory_bytes",
            "streaming.state_dropped_rows", "_scans", "_tables")
    return dict.fromkeys(keys, 0)


LAYER_UNITS = {
    "session.start_s": "s", "sources.register_s": "s",
    "sources.scan_rows": "rows", "sources.scan_bytes": "bytes",
    "sources.scans_per_table": "ratio", "sources.get_batch_ms": "ms",
    "sources.latest_offset_ms": "ms",
    "queries.call_s": "s", "queries.collect_s": "s", "queries.jobs": "count",
    "queries.stages": "count", "queries.tasks": "count",
    "queries.failed_tasks": "count", "queries.driver_gap_s": "s",
    "queries.executor_run_s": "s", "queries.executor_cpu_s": "s",
    "queries.gc_s": "s", "queries.shuffle_write_bytes": "bytes",
    "queries.spill_bytes": "bytes",
    "operators.python_total_s": "s", "operators.python_boot_s": "s",
    "operators.python_sent_bytes": "bytes", "operators.exchange_bytes": "bytes",
    "operators.expand_rows": "rows",
    "streaming.drain_s": "s", "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.commit_offsets_ms": "ms",
    "streaming.no_data_batches": "count", "streaming.state_rows": "rows",
    "streaming.state_memory_bytes": "bytes", "streaming.state_update_ms": "ms",
    "streaming.state_dropped_rows": "rows",
    "trace.warm_pass_s": "s",
}


def untraced_warm_pass(results_dir: str, workload: str, scale: str) -> float | None:
    """warm_pass_s of the newest untraced run of ``workload`` here."""
    best = None
    for fname in os.listdir(results_dir):
        if not (fname.startswith(f"{workload}-") and "-trace0-" in fname):
            continue
        path = os.path.join(results_dir, fname)
        with open(path) as fh:
            rec = json.load(fh)
        if rec.get("scale") == scale and (best is None or rec["finished"] > best[0]):
            best = (rec["finished"], rec["metrics"]["warm_pass_s"])
    return None if best is None else best[1]


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import flink_user_behavior_analysis_spark as program
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if not os.path.abspath(program.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: the engine was imported from {program.__file__}, "
              f"not from this checkout ({ROOT})", file=sys.stderr)
        return 2
    state_dir = os.path.join(os.getcwd(), ".perfbench")
    results_dir = os.path.join(state_dir, "results")
    os.makedirs(results_dir, exist_ok=True)
    work = os.path.join(state_dir, f"work-{os.getpid()}")
    load_start = loadavg()
    bench = Bench(args, work)
    bench.configure()
    try:
        bench.run()
    except Exception:  # noqa: BLE001 - report, stop the JVM, exit non-zero
        traceback.print_exc()
        bench.shutdown()
        shutil.rmtree(work, ignore_errors=True)
        return 1
    bench.shutdown()
    metrics, extra = bench.end_to_end()
    layer = bench.per_layer(metrics["warm_pass_s"]) if bench.trace else None
    shutil.rmtree(work, ignore_errors=True)
    outcomes = bench.op_outcomes()
    correct = all(v["ok"] for v in bench.verdicts)

    for v in bench.verdicts:
        print(f"check {args.workload} {v['op']}: {'ok' if v['ok'] else 'MISMATCH'} ({v['detail']})")
    for op in bench.ops:
        if op["error"] is not None and not op.get("known_defect"):
            print(f"op {op['id']}: FAILED {op['error'].splitlines()[0][:200]}")
    if outcomes["known_defect"]:
        print(f"known defect {KNOWN_DEFECT[0]}: {KNOWN_DEFECT[1]} on "
              f"{outcomes['known_defect']} of {len(bench.passes)} drains")
    error_rate = (outcomes["failed"] + outcomes["known_defect"]) / outcomes["attempted"]
    print(f"metric error_rate {error_rate} ratio (known defect included; "
          f"{outcomes['attempted']} ops attempted)")
    for name, value in metrics.items():
        print(f"metric {name} {value} {UNITS[name]}")
    for name, unit in (("op_p50_ms", "ms"), ("peak_rss_mb", "MB"), ("microbatch_p50_ms", "ms"),
                       ("microbatch_p90_ms", "ms"), ("events_per_s", "1/s")):
        if name in extra:
            print(f"metric {name} {extra[name]} {unit}")
    w = extra["warm_pass_s"]
    print(f"metric warm_pass_s quartiles {w['p25']} .. {w['p75']} s over {w['n']} passes")

    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "scale": args.scale, "cores": cores(),
              "driver_memory": driver_memory(), "loadavg_start": load_start,
              "loadavg_end": loadavg(), "finished": time.time(),
              "metrics": metrics, "extra": extra, "error_rate": error_rate,
              "outcomes": outcomes, "verdicts": bench.verdicts,
              "passes": bench.passes, "setups": bench.setups,
              "ops": [{k: v for k, v in o.items() if k != "plan"} for o in bench.ops]}
    if layer is not None:
        untraced = untraced_warm_pass(results_dir, args.workload, args.scale)
        record["per_layer"] = layer
        record["tracing_overhead_s"] = (None if untraced is None
                                        else metrics["warm_pass_s"] - untraced)
        record["spans"] = [dict(r, self_s=bench.spans.self_time(i))
                           for i, r in enumerate(bench.spans.records)]
        for name, value in layer.items():
            print(f"layer {name.split('.')[0]} {name} {value} {LAYER_UNITS[name]}")
        print(f"tracing overhead {args.workload}: "
              + ("n/a (no untraced run of this workload in .perfbench/results)"
                 if untraced is None else f"{record['tracing_overhead_s']} s "
                 f"(traced warm_pass_s {metrics['warm_pass_s']} - untraced {untraced})"))
    print(f"loadavg start {load_start} end {record['loadavg_end']}")
    out_path = os.path.join(
        results_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json")
    with open(out_path, "w") as fh:
        json.dump(record, fh, default=str)
    print(f"details {os.path.relpath(out_path)}")

    if layer is None:
        out_metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()}
    else:
        out_metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layer.items()}
    print(json.dumps({"correct": correct, "attempted": outcomes["attempted"],
                      "failed": outcomes["failed"], "metrics": out_metrics}))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
