"""Per-layer tracing for the benchmark's traced runs.

``Tracer.install()`` wraps the layers' public functions (and pyspark's
``DataFrame.localCheckpoint``/``checkpoint``/``persist``/``cache``) so that
each call records a span: layer, name, start, end and parent span.  It
must run before the plan modules are imported, because the plan modules
bind operator names directly (``from ..operators.llm import nsw_beam``);
a sweep over every loaded package module replaces any binding made
earlier.  ``Tracer.restore()`` puts every original object back.

Spans stay in memory while the run measures and are summarised at the
end.  A span's self time is its duration minus the time its child spans
cover.  A span that opens inside another span of the same layer is
"nested"; the per-layer ``*_calls``/``*_s`` metrics count only the
outermost ones, so a recursive or composed call is never counted twice.

``JobCounter`` counts Spark jobs, stages and tasks by diffing the
status tracker's job ids after draining the listener bus.  It uses
``getJobIdsForGroup(None)`` rather than a job group, because jobs
submitted from ``caching.parallel_frames`` worker threads do not carry
the caller's job group.
"""

from __future__ import annotations

import functools
import importlib
import sys
import threading
import time

PKG = "flink_pipeline_spark"

LLM = f"{PKG}.operators.llm"
CACHING = f"{PKG}.caching"

# layer -> the module-level functions whose calls are its spans
FUNCTIONS: dict[str, list[tuple[str, str]]] = {
    "catalog.load": [(f"{PKG}.catalog", "load_table"), (f"{PKG}.catalog", "load_tables")],
    "operators.graph": [
        (LLM, n)
        for n in (
            "nsw_graph",
            "nsw_insert",
            "nsw_delete",
            "nsw_beam",
            "hnsw_search",
            "hnsw_filtered_search",
            "nsw_search",
            "nsw_descent",
        )
    ],
    "operators.pairs": [
        (LLM, n)
        for n in (
            "minhash_signatures",
            "lsh_candidate_pairs",
            "verified_near_dups",
            "simhash_pairs",
            "cosine_pairs",
            "cosine_pairs_ivf",
            "connected_components",
        )
    ],
    "caching.stage": [(CACHING, "materialize"), (CACHING, "eager_checkpoint")],
    "caching.parallel": [(CACHING, "parallel_frames")],
    "streaming.store": [(f"{PKG}.streaming.heavy", "publish_store")],
}

# store monitor classes: every public method and __call__ is a span
MONITORS = [
    (f"{PKG}.streaming.ann_index", "ANNIndexMonitor"),
    (f"{PKG}.streaming.pq_index", "PQIndexMonitor"),
    (f"{PKG}.streaming.maxsim_index", "MaxSimIndexMonitor"),
]

DATAFRAME = "pyspark.sql.classic.dataframe"


def _eager(args, kwargs) -> bool:
    """localCheckpoint/checkpoint default to eager=True."""
    if "eager" in kwargs:
        return bool(kwargs["eager"])
    return bool(args[1]) if len(args) > 1 else True


class Tracer:
    def __init__(self) -> None:
        self.active = False
        self.pass_idx = -1
        self.spans: list[dict] = []
        self._patches: list[tuple[object, str, object]] = []
        self._originals: dict[int, object] = {}
        self._local = threading.local()
        self._ids = 0
        self._lock = threading.Lock()

    # -- spans -----------------------------------------------------------
    def _stack(self) -> list[tuple[int, str]]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def _call(self, layer: str, name: str, fn, args, kwargs):
        stack = self._stack()
        with self._lock:
            self._ids += 1
            sid = self._ids
        span = {
            "id": sid,
            "layer": layer,
            "name": name,
            "parent": stack[-1][0] if stack else None,
            "nested": any(lay == layer for _, lay in stack),
            "pass": self.pass_idx,
            "start": time.perf_counter(),
            "end": None,
        }
        stack.append((sid, layer))
        try:
            return fn(*args, **kwargs)
        finally:
            stack.pop()
            span["end"] = time.perf_counter()
            self.spans.append(span)

    def _wrap(self, layer: str, name: str, fn, when=None):
        tracer = self

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            if not tracer.active or (when is not None and not when(args, kwargs)):
                return fn(*args, **kwargs)
            return tracer._call(layer, name, fn, args, kwargs)

        wrapped.__perfbench_original__ = fn
        return wrapped

    def _wrap_parallel(self, fn):
        """parallel_frames runs its thunks on pool threads: hand each
        thunk the caller's span stack so its spans keep their parent."""
        tracer = self

        @functools.wraps(fn)
        def wrapped(*thunks):
            if not tracer.active:
                return fn(*thunks)
            parent = list(tracer._stack())

            def adopt(thunk):
                def run():
                    saved = getattr(tracer._local, "stack", None)
                    tracer._local.stack = list(parent)
                    try:
                        return thunk()
                    finally:
                        tracer._local.stack = saved

                return run

            return tracer._call(
                "caching.parallel",
                "parallel_frames",
                lambda *ts: fn(*ts),
                [adopt(t) for t in thunks],
                {},
            )

        wrapped.__perfbench_original__ = fn
        return wrapped

    # -- install / restore ----------------------------------------------
    def _set(self, obj, attr: str, value) -> None:
        self._patches.append((obj, attr, getattr(obj, attr)))
        setattr(obj, attr, value)

    def install(self) -> int:
        """Wrap every target; returns the number of bindings replaced."""
        replaced: dict[int, object] = {}
        for layer, targets in FUNCTIONS.items():
            for modname, attr in targets:
                mod = importlib.import_module(modname)
                orig = getattr(mod, attr)
                if attr == "parallel_frames":
                    new = self._wrap_parallel(orig)
                else:
                    new = self._wrap(layer, attr, orig)
                self._set(mod, attr, new)
                replaced[id(orig)] = new
        for modname, clsname in MONITORS:
            cls = getattr(importlib.import_module(modname), clsname)
            for attr, orig in list(vars(cls).items()):
                if not callable(orig) or (attr.startswith("_") and attr != "__call__"):
                    continue
                self._set(cls, attr, self._wrap("streaming.store", f"{clsname}.{attr}", orig))
        df_cls = importlib.import_module(DATAFRAME).DataFrame
        for attr, layer, when in (
            ("localCheckpoint", "caching.stage", _eager),
            ("checkpoint", "caching.stage", _eager),
            ("persist", "caching.persist", None),
            ("cache", "caching.persist", None),
        ):
            orig = vars(df_cls)[attr]
            self._set(df_cls, attr, self._wrap(layer, f"DataFrame.{attr}", orig, when))
        self._originals = replaced
        self.sweep()
        return len(self._patches)

    def sweep(self) -> None:
        """Rebind names that package modules imported before install()."""
        for modname, mod in list(sys.modules.items()):
            if mod is None or not modname.startswith(PKG):
                continue
            for attr, value in list(vars(mod).items()):
                new = self._originals.get(id(value)) if callable(value) else None
                if new is not None and new is not value:
                    self._set(mod, attr, new)

    def restore(self) -> None:
        self.active = False
        while self._patches:
            obj, attr, old = self._patches.pop()
            setattr(obj, attr, old)
        # modules imported after install() bound the wrappers themselves
        for modname, mod in list(sys.modules.items()):
            if mod is None or not modname.startswith(PKG):
                continue
            for attr, value in list(vars(mod).items()):
                orig = getattr(value, "__perfbench_original__", None)
                if orig is not None:
                    setattr(mod, attr, orig)

    # -- metrics ---------------------------------------------------------
    def layer_totals(self, pass_idx: int) -> dict[str, tuple[int, float]]:
        """{layer: (outermost calls, outermost seconds)} for one pass."""
        out: dict[str, list] = {}
        for s in self.spans:
            if s["pass"] != pass_idx or s["nested"]:
                continue
            acc = out.setdefault(s["layer"], [0, 0.0])
            acc[0] += 1
            acc[1] += s["end"] - s["start"]
        return {k: (v[0], v[1]) for k, v in out.items()}

    def summary(self) -> dict[str, dict]:
        """Per span name: calls, total and self seconds over all passes."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        out: dict[str, dict] = {}
        for s in self.spans:
            dur = s["end"] - s["start"]
            acc = out.setdefault(
                f'{s["layer"]}:{s["name"]}', {"calls": 0, "total_s": 0.0, "self_s": 0.0}
            )
            acc["calls"] += 1
            acc["total_s"] += dur
            # children on parallel threads can overlap; self time never < 0
            acc["self_s"] += max(0.0, dur - child_time.get(s["id"], 0.0))
        return out


def leftover_wrappers() -> list[str]:
    """Names of wrapped objects still bound anywhere a Tracer patches."""
    found = []
    for modname, mod in list(sys.modules.items()):
        if mod is None or not modname.startswith(PKG):
            continue
        for attr, value in list(vars(mod).items()):
            if hasattr(value, "__perfbench_original__"):
                found.append(f"{modname}.{attr}")
            elif isinstance(value, type) and value.__module__ == modname:
                for m, v in vars(value).items():
                    if hasattr(v, "__perfbench_original__"):
                        found.append(f"{modname}.{attr}.{m}")
    df_mod = sys.modules.get(DATAFRAME)
    if df_mod is not None:
        for m, v in vars(df_mod.DataFrame).items():
            if hasattr(v, "__perfbench_original__"):
                found.append(f"{DATAFRAME}.DataFrame.{m}")
    return found


class JobCounter:
    """Counts Spark jobs/stages/tasks that ran between two snapshots."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def snapshot(self) -> set[int]:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(self.tracker.getJobIdsForGroup(None))

    def since(self, before: set[int]) -> dict[str, int]:
        new = self.snapshot() - before
        stages: dict[int, tuple[int, int]] = {}
        for job in new:
            info = self.tracker.getJobInfo(job)
            for sid in info.stageIds if info is not None else ():
                st = self.tracker.getStageInfo(sid)
                if st is not None:
                    stages[sid] = (st.numCompletedTasks, st.numFailedTasks)
        # a stage whose shuffle output was reused is listed but runs no task
        ran = [v for v in stages.values() if v[0] + v[1] > 0]
        return {
            "jobs": len(new),
            "stages": len(ran),
            "tasks": sum(v[0] for v in ran),
            "failed_tasks": sum(v[1] for v in ran),
        }
