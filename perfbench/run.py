"""Benchmark of the paper's pipelines: the taxi ETL write path, the taxi
analytics read path, and document curation.

Usage (from the repository root):

    python3 perfbench/run.py --workload taxi_pipeline --seed 1 --seconds 30 --trace 0

One process, one client, closed loop: after set-up (session start,
seeded input generation, engine-side preparation, one warm-up
operation) the timed operation runs back to back until ``--seconds``
have passed; every output is checked against a DuckDB oracle computed
in set-up. ``--trace 0`` prints the end-to-end metrics, ``--trace 1``
the per-layer metrics of a traced stage pass (Spark event log plus
spans recorded here) and the tracing overhead. Human-readable lines
come first; the last stdout line is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# The end-to-end metrics of the result line (and of BENCHMARK.json).
END_TO_END = {
    "wall_s": "s",
    "rows_per_s": "rows/s",
    "query_s_p90": "s",
    "setup_s": "s",
}
# Printed in the report only: the median call latency adds no gate that
# wall_s and query_s_p90 do not already give, peak RSS moves 15-20%
# between runs of the same code (JVM heap growth), error_rate is 0 when
# the engine is correct, and stored bytes apply to the taxi write path.
REPORT_ONLY = {
    "query_s_p50": "s",
    "peak_rss_mb": "MB",
    "error_rate": "fraction",
    "stored_bytes_per_raw_byte": "ratio",
}
SESSION = {
    "get_spark_s": "s", "jobs": "count", "stages": "count", "tasks": "count",
    "executor_run_s": "s", "executor_cpu_s": "s", "parallelism": "ratio",
    "shuffle_read_bytes": "bytes", "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
    "task_skew": "ratio", "gc_s": "s", "persisted_rdds_left": "count",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit. Every workload reports all
    of them: a layer a workload does not exercise reports 0."""
    from oracle import ANALYTICS_SQL

    return {
        **{f"session.{k}": u for k, u in SESSION.items()},
        "normalize.unify_s": "s",
        "clean.clean_self_s": "s",
        "clean.keep_ratio": "ratio",
        "etl.run_etl_s": "s",
        "etl.write_self_s": "s",
        "etl.rows_in": "rows",
        "etl.rows_out": "rows",
        "etl.files_written": "count",
        "etl.partitions_written": "count",
        "etl.bytes_written": "bytes",
        "etl.read_curated_s": "s",
        "etl.curated_files": "count",
        **{f"taxi_analytics.{a}_s": "s" for a in ANALYTICS_SQL},
        "taxi_analytics.sweep_s": "s",
        "text.score_fingerprint_s": "s",
        "text.quality_pass_ratio": "ratio",
        "dedup.exact_dedup_s": "s",
        "dedup.minhash_lsh_pairs_s": "s",
        "dedup.pairs": "count",
        "dedup.connected_components_s": "s",
        "dedup.components": "count",
        "curate.curate_documents_s": "s",
        "curate.curation_audit_s": "s",
        "curate.kept_ratio": "ratio",
        "trace.untraced_wall_s": "s",
        "trace.traced_wall_s": "s",
        "trace.overhead_s": "s",
    }


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("taxi_etl", "taxi_analytics", "taxi_pipeline", "doc_curation"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input size; 'tiny' is for the self-test")
    p.add_argument("--perturb", action="store_true",
                   help="corrupt every output before its check (self-test of the oracle)")
    return p.parse_args(argv)


def _real_stdout():
    """Point fd 1 (this process and the JVM it launches) at stderr and
    return a handle on the original stdout, so only the report and the
    result line reach stdout."""
    sys.stdout.flush()
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    return out


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _p90(xs: list[float]) -> float:
    """9th decile (``statistics.quantiles``, n=10); the sample itself
    when there is only one."""
    return xs[0] if len(xs) == 1 else statistics.quantiles(xs, n=10)[8]


class Run:
    def __init__(self, args, work: str):
        self.args, self.work = args, work
        self.spark = None
        self.pids: list[int] = []  # this process and the JVM
        self.event_dir = os.path.join(work, "eventlog")

    # -- session -----------------------------------------------------------

    def conf(self, traced: bool) -> dict[str, str]:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if traced:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def start(self, traced: bool) -> float:
        from nyc_taxi_etl_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=self.conf(traced))
        return time.perf_counter() - t

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the JVM behind it, and wait for the JVM
        to exit (it exits when its stdin closes)."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    # -- closed loop -------------------------------------------------------

    def loop(self, wl, seconds: float) -> dict:
        """Closed loop, one client: the next operation starts when the
        previous one has finished and is expected (at the median time
        so far) to end within ``seconds``. At least one always runs."""
        walls, steps, attempted, failed = [], [], 0, 0
        t_end = time.perf_counter() + seconds
        while True:
            attempted += 1
            try:
                t = time.perf_counter()
                output, st = wl.op()
                walls.append(time.perf_counter() - t)
                steps.extend(st)
                if self.args.perturb:
                    output = wl.perturb(output)
                bad = wl.check(output)
                wl.release(output)
                if bad:
                    failed += 1
                    print(f"perfbench: {wl.name} output check failed: {bad}", file=sys.stderr)
            except Exception:  # one failed operation is a measurement, not the end of the run
                failed += 1
                traceback.print_exc()
            expected = statistics.median(walls) if walls else 0.0
            if time.perf_counter() + expected > t_end:
                break
        if not walls:
            raise RuntimeError(f"no {wl.name} operation completed")
        print(f"perfbench: {wl.name} operation seconds {[round(w, 3) for w in walls]}",
              file=sys.stderr)
        return {"walls": walls, "steps": steps, "attempted": attempted, "failed": failed}

    # -- the run -----------------------------------------------------------

    def execute(self, t_start: float) -> tuple[list[str], dict]:
        args = self.args
        os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        # Every JVM spark-submit starts (its launcher too) keeps temp files
        # in the run's directory and writes no /tmp/hsperfdata_<user> file.
        os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
            os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"
        )))
        sys.path.insert(0, ROOT)
        sys.path.insert(0, HERE)
        import workloads
        from tracing import peak_rss_mb

        marks = [("import", time.perf_counter())]
        get_spark_s = self.start(traced=False)
        self.pids = [os.getpid(), self.spark.sparkContext._gateway.proc.pid]
        marks.append(("get_spark", time.perf_counter()))
        wl = workloads.WORKLOADS[args.workload](self.spark, self.work, args.seed, args.size)
        wl.generate()
        marks.append(("generate", time.perf_counter()))
        wl.prepare()
        marks.append(("prepare", time.perf_counter()))
        warm, _ = wl.op()
        marks.append(("warm_up", time.perf_counter()))
        setup_s = time.perf_counter() - t_start
        wl.make_oracle(warm)
        wl.release(warm)
        marks.append(("oracle", time.perf_counter()))
        prev = t_start
        for name, t in marks:
            print(f"perfbench: set-up {name} {t - prev:.2f} s", file=sys.stderr)
            prev = t

        seconds = args.seconds if not args.trace else args.seconds / 2
        res = self.loop(wl, seconds)
        wall = statistics.median(res["walls"])
        lines = [
            f"perfbench workload={wl.name} seed={args.seed} cpus={_cpus()} "
            f"size={args.size} ops={len(res['walls'])} steps={len(res['steps'])}"
        ]
        if not args.trace:
            metrics = {
                "wall_s": wall,
                "rows_per_s": wl.input_rows / wall,
                "query_s_p90": _p90(res["steps"]),
                "setup_s": setup_s,
            }
            units = END_TO_END
            shown = {
                **metrics,
                "query_s_p50": statistics.median(res["steps"]),
                "peak_rss_mb": peak_rss_mb(self.pids),
                "error_rate": res["failed"] / res["attempted"],
                **wl.extra,
            }
            shown_units = {**END_TO_END, **REPORT_ONLY}
            lines += [f"  {k} = {v:.6g} {shown_units[k]}" for k, v in shown.items()]
        else:
            metrics, units = self.traced(wl, get_spark_s, wall, res), per_layer_units()
            lines += [f"  {k} = {v:.6g} {units[k]}" for k, v in metrics.items()]
        result = {
            "correct": res["failed"] == 0,
            "attempted": res["attempted"],
            "failed": res["failed"],
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
        return lines, result

    def traced(self, wl, get_spark_s: float, untraced_wall: float, res: dict) -> dict:
        """Restart the session with the JSON event log on, run the traced
        stage pass (which ends with the operation itself), then attribute
        the logged jobs to spans."""
        from tracing import Tracer, find_event_log, read_event_log, session_metrics

        self.stop()
        self.start(traced=True)
        wl.spark = self.spark
        wl.bind()
        sc = self.spark.sparkContext
        tracer = Tracer(sc)
        layer, traced_wall, bad = wl.traced_stages(tracer)
        res["attempted"] += 1
        if bad:
            res["failed"] += 1
            print(f"perfbench: {wl.name} traced output check failed: {bad}", file=sys.stderr)
        persisted = sc._jsc.getPersistentRDDs().size()
        self.stop()  # flushes and closes the event log

        log = find_event_log(self.event_dir)
        totals = read_event_log(log)
        shutil.rmtree(self.event_dir, ignore_errors=True)
        stage_spans = [s for s in tracer.spans if s["parent"] is None]
        groups = set().union(*(tracer.subtree_groups(s["id"]) for s in stage_spans))
        stage_wall = sum(s["end"] - s["start"] for s in stage_spans)
        session = session_metrics(totals, groups, stage_wall)
        session["get_spark_s"] = get_spark_s
        session["persisted_rdds_left"] = persisted

        for s in tracer.spans:
            s["session"] = session_metrics(
                totals, tracer.subtree_groups(s["id"]), s["end"] - s["start"]
            )
        out_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{wl.name}-seed{self.args.seed}.json"), "w") as fh:
            json.dump(tracer.spans, fh, indent=1)

        metrics = {k: 0.0 for k in per_layer_units()}
        metrics.update({f"session.{k}": float(v) for k, v in session.items()})
        metrics.update({k: float(v) for k, v in layer.items()})
        metrics["trace.untraced_wall_s"] = untraced_wall
        metrics["trace.traced_wall_s"] = traced_wall
        metrics["trace.overhead_s"] = traced_wall - untraced_wall
        return metrics


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "nyc_taxi_etl_spark")):
        print(f"perfbench: no engine package (nyc_taxi_etl_spark) in {ROOT}", file=sys.stderr)
        return 2
    stdout = _real_stdout()
    work = os.path.join(ROOT, ".perfbench", f"work-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    run = Run(args, work)
    try:
        lines, result = run.execute(t_start)
    finally:
        run.shutdown()
        shutil.rmtree(work, ignore_errors=True)
    stdout.write("\n".join(lines) + "\n" + json.dumps(result) + "\n")
    stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
