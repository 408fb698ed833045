"""HRV cohort benchmark: one run of one workload, printed as one JSON line.

    python3 perfbench/run.py --workload hrv_short --seed 1 --seconds 20 --trace 0

A run is a fresh process: set-up (Spark session + query registry), one
cold pass over the workload's operations, then warm passes until
``--seconds`` have elapsed (whole passes only). Every output of every
pass is checked against an independent recomputation (reference.py);
an operation whose output is wrong counts as failed. ``--trace 0``
prints the end-to-end metrics, ``--trace 1`` the per-layer ones from a
traced run (see README.md). Inputs are generated from ``--seed`` into
``.perfbench_work/`` at the repository root, which is removed at exit
except for ``.perfbench_work/traces/``.
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
import time

import bench_spec
from spans import EngineCounters, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("hrv_long", "hrv_short")
# Spark's own default driver heap; the session's 48g default does not
# fit a small machine
HEAP = "1g"
# hrv_pipeline_full keeps only RR values in [1, 250] (the stand-in
# fixture's scale), so on RR data in ms it drops every beat
KNOWN_FAULTS = {"hrv_pipeline_full"}


def process_age_s() -> float:
    """Seconds since this process was started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def deploy_env(work: str) -> None:
    """Deployment settings only: worker import path, core count, a heap
    that fits the machine, and every scratch path inside ``work``."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pp = os.environ.get("PYTHONPATH")
    os.environ.update({
        "PYTHONPATH": ROOT + (os.pathsep + pp if pp else ""),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        # a fixed-size heap, so peak RSS does not depend on when the
        # collector chose to grow it
        "SPARK_GRAFT_DRIVER_JAVA_OPTS": f"-Xms{HEAP} -Djava.io.tmpdir={tmp}",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
    })
    os.chdir(work)  # spark-warehouse / metastore_db land here


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(passes: list[list[float]]) -> float:
    """The highest percentile of operation times with at least 10
    beyond it; with fewer than 40 operations that percentile would be
    no tail, so then the median over warm passes of each pass's slowest
    operation."""
    xs = sorted(x for p in passes for x in p)
    if len(xs) >= 40:
        return xs[len(xs) - 11]
    return median([max(p) for p in passes])


class Run:
    def __init__(self, args, work: str, age0: float):
        self.args = args
        self.work = work
        self.age0 = age0  # process age at perf_counter() == 0
        self.tracer = Tracer(args.trace == 1)
        self.spark = None
        self.layer: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: dict[str, str] = {}
        self.probe_errors: dict[str, str] = {}

    # ---------------------------------------------------------- set-up
    def setup(self) -> None:
        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("session.start"):
            from data_ingestor_and_features_creator_spark.session import get_spark
            self.spark = get_spark()
        t1 = time.perf_counter()
        with tr.span("plans.load"):
            from data_ingestor_and_features_creator_spark import plans
            plans.load_all()
        t2 = time.perf_counter()
        self.queries = plans.QUERIES
        self.setup_s = self.age0 + time.perf_counter()
        self.layer["session.start_s"] = t1 - t0
        self.layer["plans.load_s"] = t2 - t1

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("no VmHWM for the JVM")

    def log(self, what: str) -> None:
        print(f"[{self.age0 + time.perf_counter():7.2f}s] {what}",
              file=sys.stderr, flush=True)

    def record(self, op: str, err: str | None) -> None:
        self.attempted += 1
        if err is not None:
            self.failed += 1
            self.errors.setdefault(op, err)

    # ------------------------------------------------------- batch ops
    def run_op(self, op: str, inp, check) -> tuple[float, float]:
        """Build, execute and check one registered op. Returns its time
        (build + plan + collect) and, when traced, the time spent forcing
        the physical plan (0 otherwise)."""
        tr = self.tracer
        plan = 0.0
        t = time.perf_counter()
        with tr.span(f"plans.{op}"):
            with tr.span("plans.build"):
                df = self.queries[op](self.spark, inp.sf_dir)
            if tr.enabled:
                tp = time.perf_counter()
                with tr.span("plans.plan"):
                    df._jdf.queryExecution().executedPlan()
                plan = time.perf_counter() - tp
            with tr.span("plans.execute"):
                got = df.toPandas()
        dt = time.perf_counter() - t
        self.log(f"{op} {dt:.3f}s")
        with tr.span("check." + op):
            self.record(op, check(op, got))
        return dt, plan

    def one_pass(self, ops, inp, check, extra) -> tuple[list, float]:
        """One pass as a fresh cohort job: the session cache is cleared
        first, because several ops cache intermediates and never
        unpersist them, so a repeat would otherwise skip their work.
        ``extra`` is an untimed (name, check) run after the ops. Returns
        the op times and the pass's plan-forcing time."""
        self.spark.catalog.clearCache()
        res = [self.run_op(op, inp, check) for op in ops]
        with self.tracer.span("check." + extra[0]):
            self.record(extra[0], extra[1]())
        return [dt for dt, _ in res], sum(p for _, p in res)

    def batch(self, ops, inp, check, extra):
        """Cold pass, then warm passes for --seconds. Returns the cold
        time, warm pass times and each warm pass's op times."""
        cold = sum(self.one_pass(ops, inp, check, extra)[0])
        traced = self.args.trace == 1
        steps, on_off, counters, plan = [], [], [], []
        eng = EngineCounters(self.spark) if traced else None
        deadline = time.perf_counter() + self.args.seconds
        # a traced run alternates traced and untraced passes, so the
        # tracing overhead is measured in the same process
        while time.perf_counter() < deadline or len(steps) < 1 + traced:
            self.tracer.enabled = traced and len(steps) % 2 == 0
            if eng:
                eng.mark()
            times, plan_s = self.one_pass(ops, inp, check, extra)
            steps.append(times)
            on_off.append(self.tracer.enabled)
            if self.tracer.enabled:
                plan.append(plan_s)
            if eng:
                counters.append(eng.delta())
        self.tracer.enabled = traced
        passes = [sum(t) for t in steps]
        if traced:
            for k in counters[0]:
                self.layer[k] = median([c[k] for c in counters])
            for i, op in enumerate(ops):
                self.layer[f"plans.{op}_s"] = median([t[i] for t in steps])
            self.layer["plans.plan_s"] = median(plan)
            on = [p for p, o in zip(passes, on_off) if o]
            off = [p for p, o in zip(passes, on_off) if not o]
            self.layer["trace.overhead_pct"] = 100.0 * (
                median(on) / median(off) - 1.0)
        return cold, passes, steps

    # ------------------------------------------------------ layer probes
    def probe_hrv(self, inp) -> None:
        """Per-layer timings of the HRV layers, each called alone."""
        import workloads as W
        from pyspark.sql import functions as F
        from data_ingestor_and_features_creator_spark.features import kernels
        from data_ingestor_and_features_creator_spark.operators.interpolate import (
            interpolate_nan_values)
        from data_ingestor_and_features_creator_spark.sources import parquet_table
        tr = self.tracer
        ev = parquet_table(self.spark, inp.sf_dir, "events")
        t = time.perf_counter()
        with tr.span("sources.scan"):
            ev.write.format("noop").mode("overwrite").save()
        self.layer["sources.scan_s"] = time.perf_counter() - t
        v = F.when(F.col("value").between(300.0, 2000.0), F.col("value"))
        t = time.perf_counter()
        with tr.span("operators.interpolate"):
            interpolate_nan_values(
                ev.withColumn("v", v), "v", order_by=["ts", "event_id"],
                partition_by=["user_id"], out_col="rri_raw",
            ).write.format("noop").mode("overwrite").save()
        self.layer["operators.interpolate_s"] = time.perf_counter() - t
        groups = W.kernel_groups(inp.records)
        t = time.perf_counter()
        with tr.span("features.kernels.freq"):
            for g, _ in groups:
                kernels.freq_domain_kernel(g)
        self.layer["features.kernels.freq_s"] = time.perf_counter() - t
        t = time.perf_counter()
        with tr.span("features.kernels.sampen"):
            for _, g in groups:
                kernels.sampen_kernel(g)
        self.layer["features.kernels.sampen_s"] = time.perf_counter() - t
        self.layer["features.kernels.groups"] = len(groups)

    def probe_check(self, what: str, err: str | None) -> None:
        """A probe's output check: not counted as an operation (probes
        run only in traced runs), but a failure makes the run incorrect."""
        if err is not None:
            self.probe_errors[what] = err

    def probe_text(self) -> None:
        """Per-layer timings and counts of the text layers, on a seeded
        corpus: MinHash/LSH banding, Jaccard verify, star connected
        components, brute-force kNN."""
        import workloads as W
        from pyspark.sql import functions as F
        from data_ingestor_and_features_creator_spark.operators import (
            graph, similarity, textops)
        from data_ingestor_and_features_creator_spark.sources import parquet_table
        tr = self.tracer
        inp = W.text_inputs(self.args.size, self.args.seed, self.work)
        docs = parquet_table(self.spark, inp.sf_dir, "documents")
        emb = parquet_table(self.spark, inp.sf_dir, "embeddings")
        t = time.perf_counter()
        with tr.span("operators.textops.minhash"):
            sets = textops.shingle_sets(docs.select("doc_id", "text")).cache()
            sig = textops.minhash_from_sets(sets).cache()
            sig.count()
        self.layer["operators.textops.minhash_s"] = time.perf_counter() - t
        with tr.span("operators.textops.candidates"):
            pairs = textops.candidate_pairs(textops.lsh_bands(sig)).cache()
            n_cand = pairs.count()
        with tr.span("operators.textops.verify"):
            ver = textops.jaccard_verify(pairs, docs, 0.3, sets=sets).cache()
            got = ver.toPandas()
        self.probe_check("textops.jaccard_verify", W.check_pairs(got, inp.corpus))
        self.layer["operators.textops.candidates"] = n_cand
        self.layer["operators.textops.verified_ratio"] = len(got) / max(1, n_cand)
        edges = ver.select("a", "b")
        t = time.perf_counter()
        with tr.span("operators.graph.cc"):
            full = sorted(graph.connected_components_star(edges).collect())
        self.layer["operators.graph.cc_s"] = time.perf_counter() - t
        # rounds to convergence, measured from outside: the smallest
        # iteration cap whose labels already equal the converged ones
        rounds = 1
        with tr.span("operators.graph.cc_rounds"):
            while rounds < 25 and sorted(graph.connected_components_star(
                    edges, max_iter=rounds).collect()) != full:
                rounds += 1
        self.layer["operators.graph.cc_rounds"] = rounds
        t = time.perf_counter()
        with tr.span("operators.similarity.knn"):
            knn = similarity.knn_bruteforce(
                emb.filter(F.col("vec_id") < 5).limit(5), emb, k=10).toPandas()
        self.layer["operators.similarity.knn_s"] = time.perf_counter() - t
        self.probe_check("similarity.knn_bruteforce", W.check_knn(knn, inp))
        for df in (sets, sig, pairs, ver):
            df.unpersist()

    def probe_stream(self, inp) -> None:
        """The cohort replayed as time slices through the watermarked
        streaming HRV aggregate, closed loop (see workloads.stream_pass):
        one cold replay, then one measured replay."""
        import workloads as W
        feed = W.stream_inputs(inp, self.args.size, self.work)
        sp = W.stream_pass(self.spark, feed, self.work, "s0", self.tracer)
        self.probe_check("streaming.hrv_windowed_features", sp.error)
        eng = EngineCounters(self.spark)
        sp = W.stream_pass(self.spark, feed, self.work, "s1", self.tracer)
        self.probe_check("streaming.hrv_windowed_features", sp.error)
        prog = [p for p in sp.progress if p.get("numInputRows", 0) > 0]
        dur = lambda p, k: p.get("durationMs", {}).get(k, 0) / 1000.0  # noqa: E731
        ops = [so for p in prog for so in p.get("stateOperators", [])]
        self.layer.update({
            "streaming.trigger_s": median(sp.trigger_s),
            "streaming.add_batch_s": median([dur(p, "addBatch") for p in prog]),
            "streaming.commit_s": median(
                [dur(p, "walCommit") + dur(p, "commitOffsets") for p in prog]),
            "streaming.state_rows": max(
                (so.get("numRowsTotal", 0) for so in ops), default=0),
            "streaming.state_bytes": max(
                (so.get("memoryUsedBytes", 0) for so in ops), default=0),
            "streaming.sink_bytes": sp.sink_bytes,
            "streaming.tasks": eng.delta()["session.tasks"],
        })

    # ------------------------------------------------------- workloads
    def run_workload(self):
        """Batch HRV passes; a traced run then probes the layers: HRV
        layers on both workloads, the stream on ``hrv_long``, the text
        layers on ``hrv_short``."""
        import workloads as W
        a = self.args
        inp = W.hrv_inputs(a.workload, a.size, a.seed, self.work)
        cold, passes, steps = self.batch(
            W.HRV_OPS, inp, lambda op, got: W.check_hrv(op, got, inp),
            ("kernels.freq_domain_kernel", lambda: W.check_lf_over_hf(inp)))
        if self.tracer.enabled:
            self.probe_hrv(inp)
            if a.workload == "hrv_long":
                self.probe_stream(inp)
            else:
                self.probe_text()
        return inp.rows, cold, passes, steps

    def metrics(self, rows, cold, passes, steps) -> dict:
        if self.args.trace == 1:
            for k, v in self.tracer.self_times().items():
                self.layer[f"self.{k}_s"] = v
            out = {}
            for m in bench_spec.per_layer():
                out[m["name"]] = {"value": float(self.layer.get(m["name"], 0.0)),
                                  "unit": m["unit"]}
            return out
        vals = {
            "setup_s": self.setup_s,
            "cold_s": cold,
            "warm_rows_per_s": rows / median(passes),
            "op_p50_s": median([x for p in steps for x in p]),
            "op_tail_s": tail(steps),
            "peak_rss_mb": self.jvm_peak_rss_mb(),
        }
        return {m["name"]: {"value": float(vals[m["name"]]), "unit": m["unit"]}
                for m in bench_spec.end_to_end()}

    def stop(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext
        gw = SparkContext._gateway
        self.spark.stop()
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def on_alarm(*_):
    raise TimeoutError("benchmark run exceeded 170 s")


def main() -> int:
    ap = argparse.ArgumentParser(description="HRV cohort benchmark (one run)")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args()

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    deploy_env(work)
    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(170)  # a hung engine must not outlive a 180 s run limit
    # process start → now (coarse, from /proc) minus the perf_counter
    # origin, so set-up time = this offset + perf_counter at ready
    run = Run(args, work, process_age_s() - time.perf_counter())
    try:
        run.setup()
        metrics = run.metrics(*run.run_workload())
        if run.tracer.enabled:
            run.tracer.write(os.path.join(
                ROOT, ".perfbench_work", "traces",
                f"{args.workload}-s{args.seed}-{run.tracer.run_id}.json"))
        # the one known fault may fail; anything else failing is wrong
        correct = set(run.errors) <= KNOWN_FAULTS and not run.probe_errors
        for op, err in sorted({**run.errors, **run.probe_errors}.items()):
            print(f"FAILED {op}: {err}", file=sys.stderr)
    finally:
        signal.alarm(0)
        try:
            run.stop()
        finally:
            os.chdir(ROOT)
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
