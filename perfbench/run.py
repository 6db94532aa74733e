"""Benchmark entry point.

    python3 perfbench/run.py --workload index|curate --seed N \\
        --seconds S --trace 0|1
    python3 perfbench/run.py --smoke      # both workloads, tiny sizes

Run from the repository root. Each run is a fresh process with a fresh
work directory under ``.perfbench_work/`` (removed at the end); inputs
are generated from ``--seed`` before the Spark session starts. The last
line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

holding the end-to-end metrics with ``--trace 0`` and the per-layer
metrics with ``--trace 1``; spans of a traced run are written to
``.perfbench_traces/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WORKLOADS = ("index", "curate")

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "op_mean_ms": "ms",
    "items_per_s": "1/s",
    "fresh_ms": "ms",
    "stored_bytes_per_item": "B",
}

PER_LAYER = {
    "session.start_s": "s",
    "scan.backlog_batch_ms": "ms", "scan.tail_batch_ms": "ms", "scan.tail_self_ms": "ms",
    "scan.start_ms": "ms", "scan.jobs_per_batch": "count", "scan.keyidx_files": "count",
    "decode.plan_ms": "ms",
    "merge.backlog_ms": "ms", "merge.tail_ms": "ms",
    "merge.jobs_per_call": "count", "merge.tasks_per_call": "count",
    "merge.files_written_per_call": "count", "merge.partitions_touched_per_call": "count",
    "merge.bytes_written_per_event": "B", "merge.upsert_ratio": "ratio",
    "compact.calls": "count", "compact.ms": "ms",
    "materialize.backlog_ms": "ms", "materialize.tail_ms": "ms",
    "materialize.jobs_per_call": "count",
    "materialize.tasks_per_call": "count", "materialize.files_written_per_call": "count",
    "materialize.rows_per_call": "count",
    "serving.status_ms_p50": "ms", "serving.events_ms_p50": "ms",
    "serving.events_deep_ms_p50": "ms", "serving.count_ms_p50": "ms",
    "serving.history_ms_p50": "ms", "serving.entry_ms_p50": "ms",
    "serving.read_after_write_ms_p50": "ms", "serving.jobs_per_read": "count",
    "serving.tasks_per_read": "count", "serving.reads": "count", "serving.read_p90_ms": "ms",
    "events.files": "count", "entries.files": "count", "events.bytes": "B", "entries.bytes": "B",
    "corpus.ms": "ms", "corpus.jobs": "count", "corpus.tasks": "count",
    "corpus.boundaries": "count", "corpus.boundary_ms": "ms", "corpus.plan_ms": "ms",
    "corpus.kept_ratio": "ratio", "corpus.chunks_per_doc": "ratio",
    "dedup.plan_ms": "ms", "curation.plan_ms": "ms", "textstats.plan_ms": "ms",
    "trace.overhead_ms_per_op": "ms", "trace.op_mean_ms": "ms",
}


class Bench:
    """One run: work directory, Spark session, tracer, setup clock."""

    def __init__(self, work: str, trace: bool):
        self.work = work
        self.trace = trace
        self.spark = None
        self.tracer = None
        self.session_start_s = None
        self.setup_s = None
        self._t_setup = None

    def start_spark(self) -> None:
        """Start the session with the program's own factory; the clock
        for ``setup_s`` starts here. A started session is reused (the
        smoke run shares one) with the clock and tracer reset."""
        self._t_setup = time.perf_counter()
        if self.spark is not None:
            from perfbench.trace import Tracer

            self.tracer = Tracer(self.spark, enabled=self.trace)
            return
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # all scratch stays inside the work directory; the heap is kept
        # small because the machine is shared
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--driver-memory 2g --driver-java-options {shlex.quote('-Djava.io.tmpdir=' + tmp)}"
            " pyspark-shell"
        )
        from hypermap_etl_spark.session import get_spark

        from perfbench.trace import Tracer

        self.spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s = time.perf_counter() - self._t_setup
        self.tracer = Tracer(self.spark, enabled=self.trace)

    def setup_done(self) -> None:
        self.setup_s = time.perf_counter() - self._t_setup

    def stop(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        self.spark = None


def make_inputs(workload: str, work: str, seed: int, seconds: float, smoke: bool) -> dict:
    from perfbench import workloads as W

    make = {"index": W.index_inputs, "curate": W.curate_inputs}
    return make[workload](work, seed, int(seconds), smoke)


def measure(bench: Bench, workload: str, d: dict, seed: int) -> dict:
    from perfbench import workloads as W

    print(f"{workload} seed {seed}: inputs sha256 {d['digest']}", file=sys.stderr)
    if workload == "index":
        res = W.index(bench, d, seed)
    else:
        res = W.curate(bench, d)
    print(f"samples: op_ms {[round(x, 1) for x in res['op_ms']]}", file=sys.stderr)
    res["end_to_end"] = {
        "setup_s": bench.setup_s,
        "op_mean_ms": statistics.fmean(res["op_ms"]),
        "items_per_s": res["items_per_s"],
        "fresh_ms": res["fresh_ms"],
        "stored_bytes_per_item": res["bytes_per_item"],
    }
    if bench.trace:
        layers = dict.fromkeys(PER_LAYER, 0)
        layers.update(res["layers"])
        layers["session.start_s"] = bench.session_start_s
        layers["trace.overhead_ms_per_op"] = bench.tracer.overhead_s * 1000 / max(res["attempted"], 1)
        layers["trace.op_mean_ms"] = res["end_to_end"]["op_mean_ms"]
        res["per_layer"] = layers
        traces = os.path.join(ROOT, ".perfbench_traces")
        os.makedirs(traces, exist_ok=True)
        bench.tracer.dump(os.path.join(traces, f"{workload}-seed{seed}.jsonl"))
        bench.tracer.unwrap_all()
    return res


def as_metrics(values: dict, units: dict) -> dict:
    return {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}


def new_work_dir(tag: str) -> str:
    work = os.path.join(ROOT, ".perfbench_work", f"{tag}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    return work


def run_one(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    work = new_work_dir(f"{workload}-{seed}")
    bench = Bench(work, trace)
    try:
        # inputs first: outside setup_s and every timed window
        d = make_inputs(workload, work, seed, seconds, smoke=False)
        bench.start_spark()
        return measure(bench, workload, d, seed)
    finally:
        bench.stop()
        shutil.rmtree(work, ignore_errors=True)


def smoke(seed: int) -> bool:
    """Every workload at a tiny size in one traced session: a quick
    end-to-end check of generator, workloads, checks and tracer. The
    generator must give byte-identical inputs for the same seed and
    different ones for another seed."""
    work = new_work_dir("smoke")
    bench = Bench(work, trace=True)
    ok = True
    try:
        for w in WORKLOADS:
            t = time.perf_counter()
            d = make_inputs(w, os.path.join(work, w), seed, 1, smoke=True)
            again = make_inputs(w, os.path.join(work, w + "-again"), seed, 1, smoke=True)
            other = make_inputs(w, os.path.join(work, w + "-other"), seed + 1, 1, smoke=True)
            problems = []
            if again["digest"] != d["digest"] or other["digest"] == d["digest"]:
                problems.append(f"{w}: inputs are not a function of the seed")
            bench.start_spark()
            res = measure(bench, w, d, seed)
            res["problems"] += problems
            ok &= not res["problems"]
            print(json.dumps({
                "workload": w, "wall_s": round(time.perf_counter() - t, 1),
                "problems": res["problems"],
                "end_to_end": res["end_to_end"], "per_layer": res["per_layer"],
            }))
    finally:
        bench.stop()
        shutil.rmtree(work, ignore_errors=True)
    return ok


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="run every workload at a tiny size")
    args = ap.parse_args(argv)
    if not args.smoke and args.workload is None:
        ap.error("--workload is required unless --smoke is given")

    if args.smoke:
        return 0 if smoke(args.seed) else 1

    res = run_one(args.workload, args.seed, args.seconds, bool(args.trace))
    for p in res["problems"]:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    correct = not res["problems"]
    print(json.dumps({
        "correct": correct, "attempted": int(res["attempted"]), "failed": int(res["failed"]),
        "metrics": as_metrics(res["per_layer"], PER_LAYER) if args.trace
        else as_metrics(res["end_to_end"], END_TO_END),
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
