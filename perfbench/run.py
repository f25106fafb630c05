#!/usr/bin/env python3
"""Benchmark of the engine: one workload per invocation, one client in a
closed loop on ``local[<cpus>]``.

    python3 perfbench/run.py --workload metadata_scale --seed 3 --seconds 5 --trace 0

Run from the repository root. The run builds its inputs from ``--seed``,
times whole rounds of ops until ``--seconds`` have passed, checks every
op's output, and prints one line per metric followed by a last line of
JSON: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones of ``BENCHMARK.json``;
with ``--trace 1`` the Spark event log is on, spans are recorded around
every call into the program, and the metrics are the per-layer ones.
Spans go to ``.perfbench/traces/``. Exit status: 0 when every check
passed, 1 when one failed, 2 when the benchmark could not run.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402

import workloads  # noqa: E402
from tracing import JOB_GROUP_PROP, Tracer, parse_event_log, spark_work_by_op  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "databricks_delta_lake_migration_spark"

DEFAULT_SF = 0.01
DEFAULT_META_PARTITIONS = 300
# Stop starting rounds once another round of the last one's length would
# end the run past this many seconds from process start.
MAX_RUN_S = 150.0
DML_METRICS = {"logtable.delete", "logtable.append", "logtable.update", "logtable.upsert"}


@dataclass
class Record:
    op_id: str
    metric: str
    seconds: float
    start: float  # epoch, for the event log
    end: float
    error: str | None


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile ``q`` (0-100) of ``xs``: a measured value,
    never an interpolation across the gap between two kinds of op."""
    s = sorted(xs)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


def session_conf(work: str, trace: bool) -> dict[str, str]:
    """Keep every file Spark writes inside the run's work directory; turn
    on the uncompressed event log for the traced run."""
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        # no hsperfdata file in the host's /tmp
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}/derby"
            " -XX:-UsePerfData"
        ),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            "spark.eventLog.compress": "false",
        })
    return conf


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
            proc.kill()
            proc.wait()


class Runner:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.trace = bool(args.trace)
        self.records: list[Record] = []
        self.snapshots: list[tuple[float, dict]] = []
        self.written = {"rows": 0, "bytes": 0, "rows_changed": 0, "input_bytes": 0}
        self.trace_overhead_s = 0.0
        self.global_errors: list[str] = []
        self.spark = None  # stopped by main() if run() fails part-way

    def run(self) -> dict:
        import bench
        from databricks_delta_lake_migration_spark.session import build_session

        args = self.args
        load_gate = bench.wait_for_quiet_host(
            threshold=float(os.cpu_count() or 1), max_wait_s=0
        )
        cpus = len(os.sched_getaffinity(0))
        t_session = time.perf_counter()
        spark = build_session(
            app_name=f"perfbench-{args.workload}",
            master=f"local[{cpus}]",
            extra_conf=session_conf(self.work, self.trace),
        )
        self.spark = spark
        spark.sparkContext.setLogLevel("ERROR")
        session_start_s = time.perf_counter() - t_session
        calib = bench.calibrate(spark)  # also the session's first jobs
        tracer = Tracer()
        ctx = workloads.Ctx(spark, self.work, args.seed)
        wl = workloads.make(
            args.workload, ctx, args.sf, args.partitions, bench.HEADLINE
        )
        t_inputs = time.perf_counter()
        inputs = wl.setup()
        inputs_s = time.perf_counter() - t_inputs
        sc = spark.sparkContext
        round_s: list[float] = []

        t_first = time.perf_counter()
        round_i = 0
        while True:
            t_round = time.perf_counter()
            with tracer.span("round"):
                for op in wl.round(round_i):
                    self._run_op(op, sc, tracer)
            round_i += 1
            now = time.perf_counter()
            round_s.append(now - t_round)
            if now - t_first >= args.seconds or any(r.error for r in self.records):
                break
            if now - PROCESS_T0 + (now - t_round) > MAX_RUN_S:
                break
        timed_wall = time.perf_counter() - t_first

        for i, err in wl.verify().items():
            if i < 0:
                self.global_errors.append(err)
            elif self.records[i].error is None:
                self.records[i].error = err
        layer = wl.layer_metrics() if self.trace else {}
        jvm_rss = jvm_peak_rss_mb(spark) if self.trace else 0.0

        ok = [r for r in self.records if r.error is None]
        lat = [r.seconds for r in ok] or [0.0]
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": self.trace,
            "loop": "closed",
            "clients": 1,
            "cpus": cpus,
            "inputs": inputs,
            "setup_parts_s": {"session": round(session_start_s, 3),
                              "inputs": round(inputs_s, 3)},
            "round_s": [round(x, 3) for x in round_s],
            "op_s": {m: [round(r.seconds, 3) for r in ok if r.metric == m]
                     for m in dict.fromkeys(r.metric for r in ok)},
            "samples": len(ok),
            "samples_above_p90": sum(1 for x in lat if x > percentile(lat, 90)),
            "timed_wall_s": round(timed_wall, 3),
            "load_gate": load_gate,
            "calib": calib,
            "touched_partitions": getattr(wl, "touched", None),
            "errors": [f"{r.op_id} {r.metric}: {r.error}" for r in self.records
                       if r.error][:10] + self.global_errors,
        }
        values: dict[str, float] = {
            "setup_s": t_first - PROCESS_T0,
            "ops_per_s": len(ok) / sum(lat) if ok else 0.0,
            "op_p50_s": statistics.median(lat),
            "op_p90_s": percentile(lat, 90),
            "py_peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
        }
        if self.trace:
            stop_spark(spark)
            self.spark = None
            values.update(self._layer_values(tracer, calib, session_start_s,
                                             jvm_rss, layer))
            trace_path = os.path.join(
                ROOT, ".perfbench", "traces", f"{args.workload}-seed{args.seed}.json"
            )
            tracer.write(trace_path, {r.op_id: {"metric": r.metric, **self.by_op[r.op_id]}
                                      for r in self.records if r.op_id in self.by_op})
            detail["trace_file"] = os.path.relpath(trace_path, ROOT)
        return {"detail": detail, "values": values}

    def _run_op(self, op, sc, tracer) -> None:
        op_id = f"op-{len(self.records)}"
        before = None
        if self.trace:
            t0 = time.perf_counter()
            if op.snapshot is not None:
                with tracer.span("logtable.snapshot", op_id):
                    s0 = time.perf_counter()
                    snap = op.snapshot()
                    self.snapshots.append((time.perf_counter() - s0, snap))
            if op.rows_changed and op.table_root:
                before = workloads.dir_files(op.table_root)
            sc.setLocalProperty(JOB_GROUP_PROP, op_id)
            self.trace_overhead_s += time.perf_counter() - t0
        error = None
        with tracer.span(op.metric, op_id) as span:
            t0 = time.perf_counter()
            try:
                res = op.call()
            except Exception as exc:  # noqa: BLE001 — a failed op is counted
                traceback.print_exc(file=sys.stderr)
                error = f"{type(exc).__name__}: {exc}"[:300]
            seconds = time.perf_counter() - t0
        if self.trace:
            t0 = time.perf_counter()
            sc.setLocalProperty(JOB_GROUP_PROP, None)
            self.trace_overhead_s += time.perf_counter() - t0
        if error is None and op.check is not None:
            try:
                error = op.check(res)
            except Exception as exc:  # noqa: BLE001 — a failed check is counted
                traceback.print_exc(file=sys.stderr)
                error = f"check {type(exc).__name__}: {exc}"[:300]
        if before is not None:
            t0 = time.perf_counter()
            after = workloads.dir_files(op.table_root)
            new = [p for p in after if p not in before]
            self.written["rows"] += workloads.parquet_rows(op.table_root, new)
            self.written["bytes"] += sum(after[p] for p in new)
            self.written["rows_changed"] += op.rows_changed
            self.written["input_bytes"] += op.rows_changed * op.row_bytes
            self.trace_overhead_s += time.perf_counter() - t0
        self.records.append(
            Record(op_id, op.metric, seconds, span.start, span.end, error)
        )

    def _layer_values(self, tracer, calib, session_start_s, jvm_rss, layer) -> dict:
        ok = [r for r in self.records if r.error is None]
        n = len(ok) or 1
        jobs, stages = parse_event_log(os.path.join(self.work, "eventlog"))
        by_op = spark_work_by_op(jobs, stages, {r.op_id: (r.start, r.end) for r in ok})
        self.by_op = by_op

        def per_op(key: str, scale: float = 1.0) -> float:
            return sum(w[key] for w in by_op.values()) / n / scale

        out: dict[str, float] = {
            "session.start_s": session_start_s,
            "session.spark_noop_s": calib.get("spark_noop_s", 0.0),
            "session.spin_s": calib.get("spin_s", 0.0),
            "session.jvm_peak_rss_mb": jvm_rss,
            "spark.jobs_per_op": per_op("jobs"),
            "spark.stages_per_op": per_op("stages"),
            "spark.tasks_per_op": per_op("tasks"),
            "spark.job_s_per_op": per_op("job_s"),
            "spark.driver_only_s_per_op": per_op("driver_only_s"),
            "spark.executor_run_s_per_op": per_op("executor_run_s"),
            "spark.gc_s_per_op": per_op("gc_s"),
            "spark.shuffle_write_mb_per_op": per_op("shuffle_write_b", 1e6),
            "spark.shuffle_read_mb_per_op": per_op("shuffle_read_b", 1e6),
            "spark.spill_mb_per_op": per_op("spill_b", 1e6),
            "spark.input_mb_per_op": per_op("input_b", 1e6),
            "spark.output_mb_per_op": per_op("output_b", 1e6),
            "trace.ops_per_s": len(ok) / sum(r.seconds for r in ok) if ok else 0.0,
            "trace.overhead_s_per_op": self.trace_overhead_s / n,
            "bench.glue_s_per_op": tracer.self_times().get("round", 0.0) / n,
        }
        dml = [r for r in ok if by_op[r.op_id]["jobs"] and r.metric in DML_METRICS]
        if dml:
            out["spark.driver_only_frac_of_dml"] = sum(
                by_op[r.op_id]["driver_only_s"] for r in dml
            ) / sum(r.end - r.start for r in dml)
        by_metric: dict[str, list[Record]] = {}
        for r in ok:
            by_metric.setdefault(r.metric, []).append(r)
        for metric, rs in by_metric.items():
            out[f"{metric}.p50_s"] = statistics.median(r.seconds for r in rs)
            if metric.startswith("queries."):
                out[f"{metric}.jobs"] = statistics.median(
                    by_op[r.op_id]["jobs"] for r in rs
                )
        if self.snapshots:
            out["logtable.snapshot_s"] = statistics.median(s for s, _ in self.snapshots)
            out["logtable.files_skipped_frac"] = statistics.mean(
                d["files_skipped"] / d["files_total"] for _, d in self.snapshots
            )
        if self.written["rows_changed"]:
            out["logtable.rows_rewritten_per_row_changed"] = (
                self.written["rows"] / self.written["rows_changed"]
            )
            out["logtable.bytes_written_per_input_byte"] = (
                self.written["bytes"] / self.written["input_bytes"]
            )
        out.update(layer)
        return out


def format_result(spec: dict, values: dict, trace: bool) -> tuple[list[str], dict]:
    """Select the metrics the spec names for this mode. Per-layer metrics
    a workload does not exercise read 0; a missing end-to-end metric is an
    error."""
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    declared = {m["name"] for m in spec["per_layer"] + spec["end_to_end"]}
    stray = sorted(k for k in values if k not in declared)
    metrics, lines = {}, []
    for m in wanted:
        if m["name"] not in values and not trace:
            raise KeyError(f"end-to-end metric {m['name']} was not measured")
        v = float(values.get(m["name"], 0.0))
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        lines.append(f"{m['name']:48s} {v:.6g} {m['unit']}")
    if stray:
        lines.append(f"# measured but not declared: {', '.join(stray)}")
    return lines, metrics


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=DEFAULT_SF,
                    help="scale of the generated fixtures (sf0.01 = 60k lineitems)")
    ap.add_argument("--partitions", type=int, default=DEFAULT_META_PARTITIONS,
                    help="one-file partitions of the metadata_scale table")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: program package {PACKAGE} not found under {ROOT}",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench", f"work-{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(work, "eventlog"))
    # the program and Spark's Python workers put scratch files in TMPDIR
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    sys.path[:0] = [ROOT, HERE]
    runner = Runner(args, work)
    try:
        out = runner.run()
    except Exception:  # noqa: BLE001 — report and exit without a result line
        traceback.print_exc()
        return 2
    finally:
        if runner.spark is not None:
            stop_spark(runner.spark)
        shutil.rmtree(work, ignore_errors=True)

    lines, metrics = format_result(spec, out["values"], runner.trace)
    detail = out["detail"]
    failed = sum(1 for r in runner.records if r.error)
    correct = failed == 0 and not runner.global_errors
    print("# " + json.dumps(detail, default=str))
    for line in lines:
        print(line)
    print(json.dumps({
        "correct": correct,
        "attempted": len(runner.records),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
