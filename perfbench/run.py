#!/usr/bin/env python3
"""Benchmark of the engine: one workload per run, timed from outside.

    python3 perfbench/run.py --workload graph_search --seed 1 --seconds 10 --trace 0

Run it from the repository root.  It builds a fresh local[4] session
(4 shuffle partitions, 4g driver heap), then:

* setup: wipes the run's state (index stores, checkpoint, local and temp
  dirs, all under ``.perfbench_out/state``), then runs one cold pass whose
  results are checked against the committed oracle digests (for
  ``demux_align``: against counts of the generated input) and
  ``WARMUP_PASSES`` untimed passes; ``setup_s`` is the time from process
  start to the end of setup;
* measures passes until ``--seconds`` have elapsed, and at least
  ``MIN_TIMED_PASSES``.  One pass runs every query of the workload in a
  seed-shuffled order (plan build, then a noop write), or one
  ``Pipeline.run`` for ``demux_align``; ``pass_s`` is the median pass.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics, or with ``--trace 1`` the
per-layer metrics of ``tracing.py``).  Every pass, the setup breakdown and
every failure go to ``.perfbench_out/results/<workload>-seed<n>-trace<t>.json``.

``--data`` and ``--pairs`` shrink the input for the smoke test.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench_out")
STATE = os.path.join(OUT, "state")
RESULTS = os.path.join(OUT, "results")
DATA = os.path.join(HERE, "data")

from workloads import PIPELINE, QUERIES, WORKLOADS, write_read_pairs  # noqa: E402

MASTER = "local[4]"
SHUFFLE_PARTITIONS = 4
DRIVER_MEMORY = "4g"
DEFAULT_DATA = "sf0.1"
DEFAULT_PAIRS = 40_000
# untimed passes after the checked cold pass: the first pass after it still
# runs up to ~20% slower than the next ones (JIT warm-up); later passes are
# within the run-to-run noise.  Every pass is kept in the sidecar.
WARMUP_PASSES = 1
MIN_TIMED_PASSES = 2

STORE_ROOTS = {
    "HNSW_INDEX_CACHE": "hnsw",
    "PQ_INDEX_CACHE": "pq",
    "MAXSIM_INDEX_CACHE": "maxsim",
}

END_TO_END = {"setup_s": "s", "pass_s": "s"}
# per-layer metric -> unit
PER_LAYER = {
    # the driver JVM's VmHWM: run to run it moves by ~15-20% with GC timing,
    # too much for an end-to-end bound, so it is reported here
    "session.driver_peak_rss_mb": "MB",
    "plans.build_s": "s",
    "plans.action_s": "s",
    "spark.build_jobs": "count",
    "spark.action_jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "caching.stage_calls": "count",
    "caching.stage_s": "s",
    "caching.persist_calls": "count",
    "caching.parallel_calls": "count",
    "caching.parallel_s": "s",
    "operators.graph_calls": "count",
    "operators.graph_s": "s",
    "operators.pairs_calls": "count",
    "operators.pairs_s": "s",
    "streaming.store_calls": "count",
    "streaming.store_s": "s",
    "streaming.store_mb": "MB",
    "catalog.load_calls": "count",
    "catalog.load_s": "s",
    "pipeline.convert_s": "s",
    "pipeline.align_s": "s",
    "pipeline.prq_bytes_per_input_byte": "ratio",
    "pipeline.sam_rows": "count",
    "trace_overhead_frac": "ratio",
}
# tracer layers reported as <layer>_calls / <layer>_s
SPAN_LAYERS = (
    "caching.stage",
    "caching.parallel",
    "operators.graph",
    "operators.pairs",
    "streaming.store",
    "catalog.load",
)


def die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--data", default=DEFAULT_DATA, help="table set under perfbench/data")
    p.add_argument("--pairs", type=int, default=DEFAULT_PAIRS, help="demux_align read pairs")
    return p.parse_args()


def preflight(args) -> str:
    """The engine and its parity helpers come from this checkout only."""
    for rel in ("flink_pipeline_spark/__init__.py", "tests/parity.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            die(f"{rel} not found under {ROOT}: run from a full checkout")
    sf_dir = os.path.join(DATA, args.data)
    if not os.path.isdir(sf_dir):
        die(f"no table set {args.data!r} under {DATA}")
    return sf_dir


def prepare_dirs() -> None:
    shutil.rmtree(STATE, ignore_errors=True)
    for sub in ("tmp", "local", "stores", "checkpoints", "pipeline", "warehouse"):
        os.makedirs(os.path.join(STATE, sub))
    os.makedirs(RESULTS, exist_ok=True)
    # python temp files (the package zip shipped to workers, py4j files)
    os.environ["TMPDIR"] = os.path.join(STATE, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(STATE, "local")
    # HotSpot writes its perf-data file to /tmp whatever java.io.tmpdir says
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def start_session():
    from flink_pipeline_spark.session import EngineConf, get_session

    tmp = os.path.join(STATE, "tmp")
    spark = get_session(
        EngineConf(
            app_name="perfbench",
            master=MASTER,
            shuffle_partitions=SHUFFLE_PARTITIONS,
            driver_memory=DRIVER_MEMORY,
            extra={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.sql.warehouse.dir": os.path.join(STATE, "warehouse"),
            },
        )
    )
    spark.sparkContext.setCheckpointDir(os.path.join(STATE, "checkpoints"))
    return spark


def redirect_stores() -> None:
    """Point the persisted index stores into this run's state dir (every
    module that bound the root constant)."""
    for name, mod in list(sys.modules.items()):
        if mod is None or not name.startswith("flink_pipeline_spark"):
            continue
        for attr, sub in STORE_ROOTS.items():
            if isinstance(getattr(mod, attr, None), str):
                setattr(mod, attr, os.path.join(STATE, "stores", sub))


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def cpu_steal_ticks() -> int | None:
    """Cumulative stolen CPU ticks of this (virtual) machine: time the
    hypervisor gave to others, which stretches every wall-clock figure."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return None


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


class Bench:
    def __init__(self, args, sf_dir: str) -> None:
        self.args = args
        self.sf_dir = sf_dir
        self.rng = random.Random(args.seed)
        self.attempted = 0
        self.failed = 0
        self.failures: list[dict] = []
        self.passes: list[dict] = []
        self.setup: dict[str, float] = {}
        self.tracer = None
        self.counter = None

    def fail(self, what: str, err: str) -> None:
        self.failed += 1
        self.failures.append({"pass": len(self.passes), "what": what, "error": err})

    # -- one pass ----------------------------------------------------------
    def _jobs(self, phase: dict, before) -> None:
        """Add the Spark jobs run since ``before`` to ``phase``."""
        if before is not None:
            for k, v in self.counter.since(before).items():
                phase[k] = phase.get(k, 0) + v

    def _snapshot(self):
        # job counting is part of tracing: off in pass-through passes
        return self.counter.snapshot() if self._active() else None

    def query_pass(self, rec: dict, check: dict | None) -> None:
        from tests.parity import rows_from_spark

        from digests import digest

        order = list(QUERIES[self.args.workload])
        if rec["kind"] == "timed":  # setup passes keep one order, so setup is comparable
            self.rng.shuffle(order)
        rec["queries"] = {}
        for name in order:
            self.attempted += 1
            try:
                before = self._snapshot()
                t = time.perf_counter()
                df = self.fns[name](self.spark, self.sf_dir)
                build_s = time.perf_counter() - t
                self._jobs(rec["build"], before)
                before = self._snapshot()
                t = time.perf_counter()
                if check is None:
                    df.write.format("noop").mode("overwrite").save()
                else:
                    got = digest(*rows_from_spark(df))
                action_s = time.perf_counter() - t
                self._jobs(rec["action"], before)
            except Exception as e:  # a raised query is a failed operation
                rec["ok"] = False
                self.fail(name, f"{type(e).__name__}: {e}"[:2000])
                continue
            rec["queries"][name] = {"build_s": build_s, "action_s": action_s}
            rec["build_s"] += build_s
            rec["action_s"] += action_s
            if check is not None and got != check.get(name):
                rec["ok"] = False
                self.fail(name, f"result digest {got} != oracle {check.get(name)}")

    def pipeline_pass(self, rec: dict) -> None:
        """One Pipeline.run; all of its jobs count as action jobs."""
        from flink_pipeline_spark.pipeline import Pipeline, PipelineConf

        out = os.path.join(STATE, "pipeline", f"run-{len(self.passes)}")
        self.attempted += 1
        before = self._snapshot()
        try:
            res = Pipeline(self.spark, PipelineConf(output_dir=out)).run(self.pairs)
        except Exception as e:  # a failed attempt counts; it is never retried
            rec["ok"] = False
            self.fail("Pipeline.run", f"{type(e).__name__}: {e}"[:2000])
            shutil.rmtree(out, ignore_errors=True)
            return
        self._jobs(rec["action"], before)
        rec.update(
            convert_s=res.convert_secs,
            align_s=res.align_secs,
            sam_rows=res.sam_rows,
            prq_bytes=dir_bytes(os.path.join(out, "prq")),
        )
        exp = self.expected
        if res.samples != exp["samples"] or res.sam_rows != exp["sam_rows"]:
            rec["ok"] = False
            self.fail(
                "Pipeline.run",
                f"samples={len(res.samples)} sam_rows={res.sam_rows}, expected "
                f"samples={len(exp['samples'])} sam_rows={exp['sam_rows']}",
            )
        shutil.rmtree(out, ignore_errors=True)

    def one_pass(self, kind: str, check: dict | None = None) -> None:
        if self.tracer is not None:
            self.tracer.pass_idx = len(self.passes)
        rec = {
            "kind": kind,
            "active": self._active(),
            "ok": True,
            "build_s": 0.0,
            "action_s": 0.0,
            "build": {},
            "action": {},
        }
        t0 = time.perf_counter()
        if self.args.workload == PIPELINE:
            self.pipeline_pass(rec)
        else:
            self.query_pass(rec, check)
        rec["seconds"] = time.perf_counter() - t0
        if self.args.workload != PIPELINE:
            self.spark.catalog.clearCache()
        self.passes.append(rec)

    def _active(self) -> bool:
        return self.tracer is not None and self.tracer.active

    # -- the run -----------------------------------------------------------
    def run(self) -> dict:
        args = self.args
        if args.trace:
            import tracing

            # before any plan module is imported: plan modules bind names
            self.tracer = tracing.Tracer()
            self.setup["wrappers_installed"] = self.tracer.install()
        t = time.perf_counter()
        self.spark = start_session()
        self.setup["session_s"] = time.perf_counter() - t
        if args.trace:
            self.counter = tracing.JobCounter(self.spark)

        t = time.perf_counter()
        check = None
        if args.workload == PIPELINE:
            path = os.path.join(STATE, "pipeline", "pairs.parquet")
            self.expected = write_read_pairs(path, args.pairs, args.seed)
            self.pairs = self.spark.read.parquet(path)
        else:
            from flink_pipeline_spark.plans import query_fns

            from digests import load

            self.fns = query_fns()
            redirect_stores()
            if self.tracer is not None:
                self.tracer.sweep()
            check = load()[args.data]
        self.setup["inputs_s"] = time.perf_counter() - t

        if self.tracer is not None:
            self.tracer.active = True
        # cold pass: checks results, builds and publishes the index stores
        self.one_pass("check", check)
        for _ in range(WARMUP_PASSES):
            self.one_pass("warmup")
        self.store_mb = dir_bytes(os.path.join(STATE, "stores")) / 2**20
        setup_s = time.perf_counter() - _T0

        steal0 = cpu_steal_ticks()
        t_start = time.perf_counter()
        n_timed = 0
        min_passes = 4 if self.tracer is not None else MIN_TIMED_PASSES
        while n_timed < min_passes or time.perf_counter() - t_start < args.seconds:
            if self.tracer is not None:
                # traced and pass-through passes in ABBA order price the
                # tracing itself, without the drift between early and late
                # passes
                self.tracer.active = n_timed % 4 in (0, 3)
            self.one_pass("timed")
            n_timed += 1
        if self.tracer is not None:
            self.tracer.active = False
        steal1 = cpu_steal_ticks()
        if steal0 is not None and steal1 is not None:
            ticks = os.sysconf("SC_CLK_TCK") * os.cpu_count()
            self.setup["timed_steal_frac"] = (steal1 - steal0) / (
                ticks * (time.perf_counter() - t_start)
            )

        self.peak_rss_mb = jvm_peak_rss_mb(self.spark)
        timed = [p for p in self.passes if p["kind"] == "timed"]
        if args.trace:
            return self.per_layer(timed)
        good = [p for p in timed if p["ok"]] or timed
        return {"setup_s": setup_s, "pass_s": statistics.median(p["seconds"] for p in good)}

    def per_layer(self, timed: list[dict]) -> dict:
        """Medians over the traced timed passes (the pass-through ones only
        price the tracing)."""
        active = [p for p in timed if p["active"]]
        plain = [p for p in timed if not p["active"]]
        pipe = self.args.workload == PIPELINE

        def med(f) -> float:
            return statistics.median(f(p) for p in active)

        def both(p, key) -> int:
            return p["build"].get(key, 0) + p["action"].get(key, 0)

        m = {
            "plans.build_s": 0.0 if pipe else med(lambda p: p["build_s"]),
            "plans.action_s": 0.0 if pipe else med(lambda p: p["action_s"]),
            "spark.build_jobs": med(lambda p: p["build"].get("jobs", 0)),
            "spark.action_jobs": med(lambda p: p["action"].get("jobs", 0)),
            "spark.stages": med(lambda p: both(p, "stages")),
            "spark.tasks": med(lambda p: both(p, "tasks")),
            "spark.failed_tasks": med(lambda p: both(p, "failed_tasks")),
            "streaming.store_mb": self.store_mb,
            "session.driver_peak_rss_mb": self.peak_rss_mb,
        }
        totals = [self.tracer.layer_totals(self.passes.index(p)) for p in active]

        def span_med(layer: str, i: int) -> float:
            return statistics.median(t.get(layer, (0, 0.0))[i] for t in totals)

        for layer in SPAN_LAYERS:
            m[f"{layer}_calls"] = span_med(layer, 0)
            m[f"{layer}_s"] = span_med(layer, 1)
        m["caching.persist_calls"] = span_med("caching.persist", 0)
        for key in ("convert_s", "align_s", "sam_rows"):
            m[f"pipeline.{key}"] = med(lambda p: p[key]) if pipe else 0
        m["pipeline.prq_bytes_per_input_byte"] = (
            med(lambda p: p["prq_bytes"]) / self.expected["input_bytes"] if pipe else 0.0
        )
        m["trace_overhead_frac"] = med(lambda p: p["seconds"]) / statistics.median(
            p["seconds"] for p in plain
        ) - 1.0
        return {k: m[k] for k in PER_LAYER}


def main() -> int:
    args = parse_args()
    sf_dir = preflight(args)
    prepare_dirs()
    sys.path.insert(0, ROOT)
    import flink_pipeline_spark

    if os.path.dirname(os.path.abspath(flink_pipeline_spark.__file__)) != os.path.join(
        ROOT, "flink_pipeline_spark"
    ):
        die(f"flink_pipeline_spark resolved outside {ROOT}")

    bench = Bench(args, sf_dir)
    try:
        metrics = bench.run()
        units = PER_LAYER if args.trace else END_TO_END
        import tracing  # an untraced run uses it only to scan for wrappers

        spans = None
        if bench.tracer is not None:
            spans = {"summary": bench.tracer.summary(), "all": bench.tracer.spans}
            bench.tracer.restore()
        bench.setup.setdefault("wrappers_installed", 0)
        bench.setup["wrappers_left"] = tracing.leftover_wrappers()
        sidecar = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "data": args.data,
            "config": {
                "master": MASTER,
                "shuffle_partitions": SHUFFLE_PARTITIONS,
                "driver_memory": DRIVER_MEMORY,
                "warmup_passes": WARMUP_PASSES,
                "queries": QUERIES.get(args.workload),
                "pairs": args.pairs if args.workload == PIPELINE else None,
            },
            "setup": bench.setup,
            "samples": sum(p["kind"] == "timed" for p in bench.passes),
            "passes": bench.passes,
            "attempted": bench.attempted,
            "failed": bench.failed,
            "failed_frac": bench.failed / max(bench.attempted, 1),
            "failures": bench.failures,
            "driver_peak_rss_mb": bench.peak_rss_mb,
            "metrics": metrics,
            "spans": spans,
        }
    finally:
        if getattr(bench, "spark", None) is not None:
            stop_session(bench.spark)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(RESULTS, name), "w") as f:
        json.dump(sidecar, f, indent=1, default=str)
    for fail in bench.failures:
        print(f"FAILED {fail['what']}: {fail['error']}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
