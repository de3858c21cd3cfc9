#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload er --seed 1 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload, one table

Run from the repository root. It writes a seeded corpus, sets the
workload up several times (``setup_s`` is the median), warms the JVM
and Python workers with untimed operations, then runs operations in a
closed loop (one client, caches cleared before each) until
``--seconds`` have passed and at least ``min_ops`` operations ran.
``--seconds`` defaults to ``run_seconds`` of ``BENCHMARK.json``. Every
operation's output is checked outside the timed region; an operation
that raises or fails a check counts in ``failed``.

An operation is one or more requests, each timed on its own:

- er: the batch ER job (``job_s``), pages parquet → ER state and
  clusters parquet, then a fixed sequence of delta folds into that
  state (``delta_s`` each), then the whole-corpus clusters written out;
- rank_topk: build the candidate embedding store (``vect_s``), one
  ``rank`` request (``rank_s``), one ``rank_predict`` request
  (``rank_predict_s``).

``--trace 0`` reports the end-to-end metrics, the same names for every
workload (see ``END_TO_END``). The line before the result line repeats
them under the per-workload request names above, each median with its
sample count, plus ``failed_ratio`` and the run's peak RSS.

``--trace 1`` alternates untraced operations with traced ones, in
which each request runs in a span and, after the operation, each
library layer is called and materialized in a span of its own. It
reports the per-layer metrics: Spark event log counters per span, plus
the layer counts.

The last line of standard output is
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
A run record with the host context, spans and raw timings goes to
``.perfbench/records/``. All files stay under ``.perfbench/`` in the
working directory.
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
sys.path.insert(0, HERE)

import host  # noqa: E402

WORKLOAD_NAMES = ("er", "rank_topk")
SETUP_REPS = 5
DRIVER_MEMORY = "4g"

# Reported by every workload. Each has one bulk request, which builds
# what its serving requests then use, and serving requests:
#   pages_per_s pages through the bulk request per second: base corpus
#               pages / job_s (er), store titles / vect_s (rank_topk)
#   op_s        median latency of one serving request: a delta fold,
#               delta_s (er); a rank request, rank_s (rank_topk)
#   cycle_s     median wall of one whole operation, every request of it
#               (rank_topk: this is where rank_predict_s shows)
END_TO_END = {  # name → unit
    "setup_s": "s",
    "op_s": "s",
    "pages_per_s": "1/s",
    "cycle_s": "s",
}
LAYERS = (
    "udfs.normalize", "blocking", "blocking.delta", "udfs.jw", "cc", "pipeline.assemble",
    "incremental.bootstrap", "incremental", "scorer_udf.encode", "ranker", "scorer_udf.pair",
)
LAYER_FIELDS = {  # per-layer field → unit
    "wall_s": "s", "cpu_s": "s", "shuffle_mb": "MB", "spill_mb": "MB",
    "python_s": "s", "rows_in": "count", "rows_out": "count",
}
EXTRA_LAYER_METRICS = {  # name → unit
    "blocking.key_rows": "count",
    "blocking.overcap_keys": "count",
    "blocking.gate_pass_ratio": "ratio",
    "udfs.jw.match_ratio": "ratio",
    "cc.edges_in": "count",
    "cc.driver_path": "bool",
    "blocking.delta.key_rows": "count",
    "incremental.bytes_written_mb": "MB",
    "incremental.edges_rows": "count",
    "scorer_udf.pair.evals": "count",
    "scorer_udf.pair.useful_ratio": "ratio",
    "trace.layer_sum_s": "s",
    "trace.traced_op_s": "s",
    "trace.untraced_op_s": "s",
    "trace.coverage_ratio": "ratio",
    "trace.overhead_ratio": "ratio",
    "host.hw_probe_s": "s",
    "host.py_probe_s": "s",
    "host.peak_rss_mb": "MB",
    "host.steal_ratio": "ratio",
}


def per_layer_units() -> dict[str, str]:
    units = {f"{layer}.{f}": u for layer in LAYERS for f, u in LAYER_FIELDS.items()}
    units.update(EXTRA_LAYER_METRICS)
    return units


def default_seconds() -> int:
    """``run_seconds`` of the ``BENCHMARK.json`` in the working directory."""
    with open("BENCHMARK.json", encoding="utf-8") as fh:
        return int(json.load(fh)["run_seconds"])


def build_spark(work: str, event_dir: str | None):
    from pyspark.sql import SparkSession

    cores = host.nproc()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("deezymatch-spark-perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions", f"-XX:+UseParallelGC -Djava.io.tmpdir={tmp}")
        .config("spark.sql.shuffle.partitions", str(max(2 * cores, 8)))
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_dir)
            # Spark 4 compresses with zstd by default; the parser has no zstd
            .config("spark.eventLog.compress", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the SparkContext, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Run:
    def __init__(self, args):
        from workloads import WORKLOADS

        self.args = args
        self.cls = WORKLOADS[args.workload]
        self.work = os.path.join(
            os.getcwd(), ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}"
        )
        self.cycles: list[float] = []  # untraced operation walls
        self.requests: dict[str, list[float]] = {}  # request name → walls
        self.traced_times: list[float] = []
        self.replay_times: list[float] = []
        self.failures: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.setup_times: list[float] = []
        self.extra: dict[str, float] = {}  # layer counts from wl.stats()

    def attempt(self, wl, tracer) -> None:
        """One operation and its checks. It fails if it raises or any
        check of its output fails."""
        self.attempted += 1
        wl.prepare()
        wl.timings = {}
        t0 = time.perf_counter()
        try:
            wl.op(tracer)
            dt = time.perf_counter() - t0
            if tracer.enabled:
                wl.replay(tracer)
                self.replay_times.append(time.perf_counter() - t0 - dt)
            problems = wl.check(self.args.corrupt)
        except Exception:
            problems = [traceback.format_exc(limit=3)]
        else:
            if tracer.enabled:
                self.traced_times.append(dt)
            else:
                self.cycles.append(dt)
                for k, v in wl.timings.items():
                    self.requests.setdefault(k, []).extend(v if isinstance(v, list) else [v])
        if problems:
            self.failed += 1
            self.failures += problems

    def execute(self) -> dict:
        from spans import Tracer, group_counters

        args = self.args
        # a layer count a workload does not exercise reads 0
        metrics = dict.fromkeys(EXTRA_LAYER_METRICS, 0.0) if args.trace else {}
        if args.trace:  # the numpy probe runs before the JVM exists
            metrics.update(host.probes())
        event_dir = os.path.join(self.work, "events") if args.trace else None
        spark = build_spark(self.work, event_dir)
        try:
            with host.RssSampler() as rss:
                wl = self.cls(spark, self.work, args.seed, args.scale)
                # setup_s is not reported by a traced run: set up once
                for _ in range(1 if args.trace else SETUP_REPS):
                    t0 = time.perf_counter()
                    wl.setup()
                    self.setup_times.append(time.perf_counter() - t0)
                off, on = Tracer(spark, False), Tracer(spark, True)
                # JIT and Python workers, untimed; a traced run compares
                # one untraced with one traced operation, both warm
                for _ in range(max(wl.warmup_ops, 2) if args.trace else wl.warmup_ops):
                    wl.prepare()
                    wl.timings = {}
                    wl.op(off)
                deadline = time.perf_counter() + args.seconds
                steal0 = host.cpu_ticks()
                k = 0

                # a traced run alternates untraced and traced operations
                # and needs at least one of each
                def short() -> bool:
                    if args.trace:
                        return min(len(self.cycles), len(self.traced_times)) < 1
                    return len(self.cycles) < wl.min_ops

                while short() or time.perf_counter() < deadline:
                    traced = args.trace and k % 2 == 1
                    on.op = k
                    self.attempt(wl, on if traced else off)
                    k += 1
                    if self.attempted >= 4 * wl.min_ops and not self.cycles:
                        break  # every operation fails: stop early
                steal1 = host.cpu_ticks()
                self.steal_ratio = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
                if args.trace:
                    self.extra = wl.stats()
                    metrics.update(host.probes(spark))
                context = host.context(spark)
        finally:
            stop_spark(spark)
        peak = rss.peak_mb
        if args.trace:
            metrics["host.peak_rss_mb"] = peak
            metrics["host.steal_ratio"] = self.steal_ratio
            metrics.update(self.layer_metrics(wl, on, group_counters(event_dir)))
        else:
            bulk = median(self.requests.get(wl.bulk_request, []))
            metrics.update({
                "setup_s": median(self.setup_times),
                "op_s": median(self.requests.get(wl.op_request, [])),
                "pages_per_s": wl.page_rates()[wl.bulk_request] / bulk if bulk else 0.0,
                "cycle_s": median(self.cycles),
            })
        self.summary = self.request_summary(wl, peak)
        self.record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "scale": args.scale, "corpus_sha256": wl.checksum, "context": context,
            "setup_times": self.setup_times, "cycles": self.cycles,
            "requests": self.requests, "traced_times": self.traced_times,
            "failures": self.failures, "summary": self.summary, "spans": on.to_json(),
        }
        return metrics

    def request_summary(self, wl, peak_mb: float) -> dict:
        """The run's numbers under the per-workload request names, each
        timing a median with its sample count."""
        def timing(xs):
            return {"value": median(xs), "unit": "s", "n": len(xs)}

        out = {"setup_s": timing(self.setup_times)}
        out.update({k: timing(v) for k, v in sorted(self.requests.items())})
        for request, pages in wl.page_rates().items():
            xs = self.requests.get(request, [])
            out[f"{request[:-2]}_pages_per_s"] = {
                "value": pages / median(xs) if xs else 0.0, "unit": "1/s", "n": len(xs),
            }
        out["failed_ratio"] = {
            "value": self.failed / max(self.attempted, 1), "unit": "ratio", "n": self.attempted,
        }
        out["peak_rss_mb"] = {"value": peak_mb, "unit": "MB", "n": 1}
        out["steal_ratio"] = {"value": self.steal_ratio, "unit": "ratio", "n": 1}
        return out

    def layer_metrics(self, wl, tracer, counters: dict) -> dict[str, float]:
        by_layer: dict[str, list] = {}
        for sp in tracer.spans:
            by_layer.setdefault(sp.name, []).append(sp)
        out: dict[str, float] = {}
        for layer in LAYERS:
            spans = by_layer.get(layer, [])
            c = [counters.get(sp.group, {}) for sp in spans]
            out[f"{layer}.wall_s"] = median([sp.wall_s for sp in spans])
            out[f"{layer}.rows_in"] = median([sp.rows_in for sp in spans])
            out[f"{layer}.rows_out"] = median([sp.rows_out for sp in spans])
            for f in ("cpu_s", "shuffle_mb", "spill_mb", "python_s"):
                out[f"{layer}.{f}"] = median([x.get(f, 0.0) for x in c])
        out.update({k: v for k, v in self.extra.items() if k in EXTRA_LAYER_METRICS})
        ratio = lambda a, b: a / b if b else 0.0  # noqa: E731
        blocked = self.extra.get("blocking.blocked_pairs", 0)
        out["blocking.gate_pass_ratio"] = ratio(out["blocking.rows_out"], blocked)
        out["udfs.jw.match_ratio"] = ratio(out["udfs.jw.rows_out"], out["udfs.jw.rows_in"])
        out["cc.edges_in"] = out["cc.rows_in"]
        threshold = self.extra.get("cc.driver_threshold", 0)
        out["cc.driver_path"] = float(bool(out["cc.rows_in"]) and out["cc.rows_in"] <= threshold)
        out["incremental.bytes_written_mb"] = median(
            [counters.get(sp.group, {}).get("output_mb", 0.0) for sp in by_layer.get("incremental", [])]
        )
        evals = median(
            [counters.get(sp.group, {}).get("python_rows", 0.0) for sp in by_layer.get("scorer_udf.pair", [])]
        )
        out["scorer_udf.pair.evals"] = evals
        out["scorer_udf.pair.useful_ratio"] = ratio(out["scorer_udf.pair.rows_out"], evals)
        # a traced operation and its replay, against the layer spans in them
        per_op: dict[int, float] = {}
        for sp in tracer.spans:
            per_op[sp.op] = per_op.get(sp.op, 0.0) + sp.wall_s
        traced_walls = [a + b for a, b in zip(self.traced_times, self.replay_times)]
        layer_sum = median(list(per_op.values()))
        traced, untraced = median(self.traced_times), median(self.cycles)
        out["trace.layer_sum_s"] = layer_sum
        out["trace.traced_op_s"] = traced
        out["trace.untraced_op_s"] = untraced
        out["trace.coverage_ratio"] = ratio(layer_sum, median(traced_walls))
        out["trace.overhead_ratio"] = ratio(traced, untraced)
        return out


def result_line(metrics: dict, units: dict, attempted: int, failed: int) -> str:
    missing = sorted(set(units) - set(metrics))
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    return json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    })


def run_all(args) -> int:
    """Run every workload, one process each, and print one table keyed
    ``<workload>.<request metric>`` plus the overall ``failed_ratio``."""
    table: dict[str, dict] = {}
    attempted = failed = 0
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--scale", args.scale]
        if args.corrupt:
            cmd.append("--corrupt")
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or len(lines) < 2:
            print(f"perfbench: {name} exited {p.returncode} without a result", file=sys.stderr)
            return 1
        summary, result = json.loads(lines[-2])["summary"], json.loads(lines[-1])
        attempted += result["attempted"]
        failed += result["failed"]
        rows = summary if not args.trace else result["metrics"]
        table.update({f"{name}.{k}": v for k, v in rows.items()})
    table["failed_ratio"] = {"value": failed / max(attempted, 1), "unit": "ratio", "n": attempted}
    for k, v in table.items():
        n = f"  (n={v['n']})" if "n" in v else ""
        print(f"{k:44s} {v['value']:14.6g} {v['unit']}{n}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(v["value"]), "unit": v["unit"]} for k, v in table.items()},
    }))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOAD_NAMES, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=None,
                    help="measured time per run (default: run_seconds of BENCHMARK.json)")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="corpus size; tiny is for perfbench/selftest.py")
    ap.add_argument("--corrupt", action="store_true",
                    help="corrupt every output before its check (perfbench/selftest.py)")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "deezymatch_spark")):
        print("perfbench: run from the repository root (no deezymatch_spark/ here)",
              file=sys.stderr)
        return 2
    if args.seconds is None:
        args.seconds = default_seconds()
    if args.workload == "all":
        return run_all(args)
    sys.path.insert(0, root)
    # Python workers import the library from the same checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

    run = Run(args)
    os.makedirs(os.path.join(run.work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run.work, "tmp")
    try:
        metrics = run.execute()
        units = per_layer_units() if args.trace else END_TO_END
        line = result_line(metrics, units, run.attempted, run.failed)
        records = os.path.join(root, ".perfbench", "records")
        os.makedirs(records, exist_ok=True)
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
        with open(os.path.join(records, name), "w") as fh:
            json.dump(dict(run.record, metrics=metrics), fh, indent=1)
    finally:
        shutil.rmtree(run.work, ignore_errors=True)
    for f in run.failures:
        print(f"perfbench: failed: {f}", file=sys.stderr)
    print(json.dumps({
        "workload": args.workload, "corpus_sha256": run.record["corpus_sha256"],
        "summary": run.summary, "context": run.record["context"],
    }))
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
