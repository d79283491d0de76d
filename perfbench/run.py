"""Pipeline benchmark for pydi_spark: one command per workload and seed.

    python3 perfbench/run.py --workload er_batch --seed 1 --seconds 10 --trace 0

Run from the repository root. The command generates the workload's inputs
and ground truth from ``--seed`` into ``.perfbench_tmp/`` (removed on
exit) and sets up once (session start with its JVM, input generation,
warm-up pass), reporting that as ``setup_s``. It then runs at least
``MIN_PASSES`` full pipeline passes, starting more until ``--seconds``
have passed, and checks every pass's outputs against the ground truth,
the warm-up pass's digest and quality, and the quality floors.

``--trace 0`` times untraced passes and reports the end-to-end metrics.
``--trace 1`` runs untraced passes and then traced passes (a span and a
Spark job group around every call into a layer, outputs materialised at
each layer boundary, Spark event log on), reports per-layer metrics and
writes the spans to ``.perfbench_tmp/spans/``.

Every metric is printed with its unit; the last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_PASSES = 2  # timed passes per run at least, so median and tail differ
CPUS = 4
TRACED_SHARE = 0.5  # share of --seconds given to traced passes (trace 1)

WASTE = {  # per-layer waste ratios: metric -> (numerator, denominator) counts
    "blocking.pair_quality": ("gold_pairs_found", "candidates"),
    "matching.accept_ratio": ("correspondences", "candidates"),
    "llmdata.dedup.pairs_per_doc": ("dup_pairs", "dedup_docs"),
}
# The end-to-end quality metrics, named by role so that every workload
# reports each of them: role -> the workload's own quality metric.
QUALITY = {
    "er_batch": {"pair_recall": "blocking_pc", "pair_f1": "match_f1",
                 "output_quality": "fusion_accuracy"},
    "corpus_batch": {"pair_recall": "dedup_recall", "pair_f1": "dedup_f1",
                     "output_quality": "contamination_f1"},
}
LAYERS = ("io", "profiling", "normalization", "schemamatching", "translation",
          "blocking", "matching", "clustering", "fusion", "evaluation",
          "llmdata.cleaning", "llmdata.textstats", "llmdata.dedup", "llmdata.sampling")
EVENT_METRICS = {"stages": "count", "tasks": "count", "failed_tasks": "count",
                 "task_skew": "ratio", "shuffle_write_bytes": "bytes", "spill_bytes": "bytes"}


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest order statistic with at least ten
    samples above it; with fewer than 11 samples, the maximum."""
    xs = sorted(values)
    if len(xs) < 11:
        return xs[-1], 100.0
    k = len(xs) - 11
    return xs[k], 100.0 * (k + 1) / len(xs)


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def jvm_pid() -> int:
    from pyspark import SparkContext

    return int(SparkContext._gateway.proc.pid)  # the spark-submit JVM


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, traced: bool):
        from gen import GENERATORS
        from workloads import WORKLOADS

        self.name, self.seed, self.seconds, self.traced = workload, seed, seconds, traced
        self.gen = GENERATORS[workload]
        self.wl = WORKLOADS[workload]
        self.work = os.path.join(os.getcwd(), ".perfbench_tmp", f"{workload}-{seed}-{os.getpid()}")
        self.events = os.path.join(self.work, "events")
        self.attempted = self.failed = 0
        self.reference: dict | None = None
        self.spark = None
        self.failures: list[str] = []

    # -- session and set-up ------------------------------------------------
    def start_session(self):
        from pydi_spark import get_spark

        conf = {"spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.local.dir": os.path.join(self.work, "local"),
                "spark.ui.showConsoleProgress": "false",
                # keep the JVM's files inside the checkout (no /tmp/hsperfdata)
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData"}
        if self.traced:
            os.makedirs(self.events, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": self.events,
                         "spark.eventLog.compress": "false"})
        spark = get_spark("perfbench", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def setup(self) -> tuple[float, float]:
        """The set-up: session start (and its JVM), input generation,
        warm-up pass. Returns (set-up seconds, session-start seconds)."""
        t0 = time.perf_counter()
        self.spark = self.start_session()
        t_session = time.perf_counter() - t0
        self.data = os.path.join(self.work, "inputs")
        self.truth = self.gen(self.seed, self.data)
        warm = self.run_pass(traced=False)
        if warm is not None:
            self.reference = warm[1]
        return time.perf_counter() - t0, t_session

    # -- passes --------------------------------------------------------------
    def fail(self, why: str) -> None:
        self.failures.append(why)
        print(f"FAILED: {why}", file=sys.stderr)

    def run_pass(self, traced: bool, tracer=None):
        """Run and check one pass; return (seconds, outputs) or None."""
        from spans import Tracer

        tr = tracer or Tracer(self.spark, traced, f"p{self.attempted}")
        self.attempted += 1
        # start each pass from a collected heap on both sides, so garbage
        # left by the previous pass is not collected on this one's clock
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        try:
            t0 = time.perf_counter()
            out = tr.span("pass", lambda: self.wl.run(self.spark, tr, self.data),
                          materialise=False)
            dt = time.perf_counter() - t0
            out.setdefault("quality", {}).update(self.wl.score(out, self.truth))
            bad = self.wl.check(out, self.truth, self.reference)
        except Exception:
            bad, dt, out = [traceback.format_exc(limit=3)], None, None
        if bad:
            self.failed += 1
            for b in bad:
                self.fail(b)
            return None
        return dt, out

    def measure(self, seconds: float, traced: bool,
                min_passes: int = 1) -> list[tuple[float, dict, object]]:
        """Passes until ``min_passes`` are done and ``seconds`` have passed."""
        from spans import Tracer

        done, end = [], time.perf_counter() + seconds
        while len(done) < min_passes or time.perf_counter() < end:
            tr = Tracer(self.spark, traced, f"p{self.attempted}")
            r = self.run_pass(traced, tr)
            if r is not None:
                done.append((r[0], r[1], tr))
            elif self.attempted > 3 * (len(done) + min_passes):
                break  # failing every time: stop, the result is already wrong
        return done

    # -- reports ---------------------------------------------------------------
    def end_to_end(self, setup, passes) -> dict:
        times = [p[0] for p in passes]
        med = statistics.median(times)
        tail_v, tail_p = tail(times)
        q = self.reference["quality"]
        m = {
            "setup_s": (setup[0], "s"),
            "pipeline_s": (med, "s"),
            "pipeline_tail_s": (tail_v, "s"),
            "records_per_s": (self.truth["records"] / med, "1/s"),
        }
        names = QUALITY[self.name]
        for generic, specific in names.items():
            m[generic] = (q[specific], "ratio")
        print(f"# set-up took {setup[0]:.2f} s (session {setup[1]:.2f} s); "
              f"passes took {', '.join(f'{t:.2f}' for t in times)} s")
        print(f"# {self.name} seed={self.seed}: {len(times)} timed passes; "
              f"pipeline_tail_s is p{tail_p:.0f} of {len(times)} passes; "
              + ", ".join(f"{g} is {s}" for g, s in names.items()))
        # Peak resident memory of this process and the JVM (VmHWM) is printed
        # but not a benchmark metric: on a 4-core host its quartile spread
        # across seeds was 7-15% of the median, so it does not repeat within
        # a tenth.
        report = dict(m, failed_ratio=(self.failed / self.attempted, "ratio"),
                      peak_rss_mb=(vm_hwm_mb("self") + vm_hwm_mb(jvm_pid()), "MB"))
        report.update((k, (v, "ratio")) for k, v in q.items())
        for k, (v, u) in report.items():
            print(f"{k} = {v:.6g} {u}")
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}

    def per_layer(self, setup, plain, traced) -> dict:
        from eventlog import group_stats
        from spans import layer_self_seconds, write_spans

        self.spark.stop()  # flushes the event log
        self.spark = None
        groups = group_stats(self.events)
        base = statistics.median(p[0] for p in plain)
        per_pass = []
        for dt, out, tr in traced:
            selfs = layer_self_seconds(tr.spans)
            rows, ev = {}, {}
            for s in tr.spans:
                rows[s.name] = rows.get(s.name, 0) + s.rows_out
                g = groups.get(tr.group_id(s.span_id))
                agg = ev.setdefault(s.name, dict.fromkeys(EVENT_METRICS, 0))
                agg["task_skew"] = max(agg["task_skew"], 1.0)
                for k, v in (g or {}).items():
                    agg[k] = max(agg[k], v) if k == "task_skew" else agg[k] + v
            root = next(s for s in tr.spans if s.name == "pass")
            covered = sum(v for k, v in selfs.items() if k != "pass")
            per_pass.append((dt, selfs, rows, ev, covered / (root.end - root.start), out))
        spans_path = os.path.join(os.path.dirname(self.work), "spans",
                                  f"{self.name}-seed{self.seed}.json")
        write_spans(spans_path, [s for _, _, tr in traced for s in tr.spans])
        print(f"# spans written to {os.path.relpath(spans_path)}")
        m = {"core.session_s": (setup[1], "s"),
             "trace.overhead_s": (statistics.median(p[0] for p in per_pass) - base, "s")}
        cov = statistics.median(p[4] for p in per_pass)
        if cov < 0.9:
            self.failed += 1
            self.fail(f"layer self times cover {cov:.1%} of the traced pass")
        print(f"# {self.name}: {len(plain)} untraced and {len(per_pass)} traced passes; "
              f"layer self times cover {cov:.1%} of the traced pass")
        for layer in LAYERS:
            m[f"{layer}.self_s"] = (statistics.median(p[1].get(layer, 0.0) for p in per_pass), "s")
            m[f"{layer}.rows_out"] = (statistics.median(p[2].get(layer, 0) for p in per_pass),
                                      "count")
            for k, unit in EVENT_METRICS.items():
                m[f"{layer}.{k}"] = (
                    statistics.median(p[3].get(layer, {}).get(k, 0) for p in per_pass), unit)
        counts = per_pass[-1][5].get("counts", {})
        for name, (num, den) in WASTE.items():
            d = counts.get(den, 0)
            m[name] = (counts.get(num, 0) / d if d else 0.0, "ratio")
            if d:
                print(f"# {name} = {counts.get(num, 0)} / {d} {den}")
        for k, (v, u) in m.items():
            print(f"{k} = {v:.6g} {u}")
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}

    def close(self) -> None:
        """Stop Spark, wait for the JVM to exit, remove the work directory."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()  # the JVM exits when its stdin closes
            gw.proc.wait(timeout=60)
        shutil.rmtree(self.work, ignore_errors=True)

    def run(self) -> dict:
        setup = self.setup()
        if self.reference is None:
            return {}  # the warm-up pass failed: nothing to compare against
        if self.traced:
            plain = self.measure(self.seconds * (1 - TRACED_SHARE), traced=False)
            traced = self.measure(self.seconds * TRACED_SHARE, traced=True)
            metrics = self.per_layer(setup, plain, traced) if plain and traced else {}
        else:
            passes = self.measure(self.seconds, traced=False, min_passes=MIN_PASSES)
            metrics = self.end_to_end(setup, passes) if passes else {}
        return metrics


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [HERE, ROOT]
    import pydi_spark  # noqa: F401  (fails fast when the engine is missing)

    bench = None
    try:
        bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
        for sub in ("tmp", "local"):
            os.makedirs(os.path.join(bench.work, sub), exist_ok=True)
        os.environ.update({
            "SPARK_GRAFT_CPUS": str(min(CPUS, os.cpu_count() or CPUS)),
            "SPARK_DRIVER_MEMORY": os.environ.get("SPARK_DRIVER_MEMORY", "2g"),
            "SPARK_LOCAL_DIRS": os.path.join(bench.work, "local"),
            "TMPDIR": os.path.join(bench.work, "tmp"),
            "PYSPARK_PYTHON": sys.executable,
            # Python workers import pydi_spark for UDF-backed operators
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        })
        metrics = bench.run()
        correct = not bench.failures and bool(metrics)
        result = {"correct": correct, "attempted": bench.attempted,
                  "failed": bench.failed, "metrics": metrics}
    finally:
        if bench is not None:
            bench.close()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
