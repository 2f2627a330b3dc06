"""Traced-run machinery: a span recorder, the runtime wrappers around the
library's layer entry points, and the Spark event-log fold.

The library is not edited. ``install`` replaces each entry point by a
wrapper in every ``iceberg_python_spark`` module that holds it (so
``from .manifests import read_manifest`` call sites are wrapped too),
and ``uninstall`` puts the originals back. A wrapper costs one flag test
while the tracer is off, so the untraced ops of a traced run stay
comparable.
"""

from __future__ import annotations

import json
import sys
import time
from collections import defaultdict
from typing import Any, Callable, Dict, Iterable, List, Optional, Tuple

#: spans kept in memory per run; later spans only feed the totals
MAX_SPANS = 200_000

#: names called once per manifest entry: totals only, no span objects
HOT = frozenset({"expressions.eval_call"})


class Tracer:
    """Stack of open spans plus per-name and per-layer totals.

    A span is (name, start, end, parent index, op id); its self time is
    its duration minus the durations of its direct children. A layer's
    time counts only the outermost open span of that layer, so a nested
    call of the same layer is not counted twice."""

    def __init__(self) -> None:
        self.enabled = False
        self.op_id: Optional[int] = None
        self.spans: List[Tuple[str, float, float, int, Optional[int]]] = []
        self.dropped = 0
        self._stack: List[list] = []
        self._layer_depth: Dict[str, int] = defaultdict(int)
        self.calls: Dict[str, int] = defaultdict(int)
        self.errors: Dict[str, int] = defaultdict(int)
        self.total_s: Dict[str, float] = defaultdict(float)
        self.self_s: Dict[str, float] = defaultdict(float)
        self.layer_s: Dict[str, float] = defaultdict(float)
        self.counters: Dict[str, float] = defaultdict(float)

    def in_span(self, name: str) -> bool:
        return any(f[1] == name for f in self._stack)

    def call(self, name: str, layer: str, fn: Callable, args: tuple, kwargs: dict) -> Any:
        parent = self._stack[-1][0] if self._stack else -1
        frame = [-1, name, layer, time.perf_counter(), 0.0]
        if name not in HOT:
            if len(self.spans) < MAX_SPANS:
                frame[0] = len(self.spans)
                self.spans.append((name, frame[3], 0.0, parent, self.op_id))
            else:
                self.dropped += 1
        self._stack.append(frame)
        self._layer_depth[layer] += 1
        try:
            return fn(*args, **kwargs)
        except BaseException:
            self.errors[name] += 1
            raise
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self._layer_depth[layer] -= 1
            dur = end - frame[3]
            self.calls[name] += 1
            self.total_s[name] += dur
            self.self_s[name] += dur - frame[4]
            if self._layer_depth[layer] == 0:
                self.layer_s[layer] += dur
            if self._stack:
                self._stack[-1][4] += dur
            if frame[0] >= 0:
                s = self.spans[frame[0]]
                self.spans[frame[0]] = (s[0], s[1], end, s[3], s[4])

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for name, start, end, parent, op in self.spans:
                f.write(json.dumps({"name": name, "start": start, "end": end, "parent": parent, "op": op}) + "\n")


def _wrapper(tracer: Tracer, name: str, layer: str, fn: Callable, on_result: Optional[Callable]) -> Callable:
    def wrapped(*args, **kwargs):
        if not tracer.enabled:
            return fn(*args, **kwargs)
        res = tracer.call(name, layer, fn, args, kwargs)
        if on_result is not None:
            return on_result(tracer, args, kwargs, res)
        return res

    wrapped.__wrapped__ = fn
    wrapped.__name__ = getattr(fn, "__name__", name)
    return wrapped


# -- result hooks: counts measured where the work happens ----------------------
def _on_manifest_list(tracer: Tracer, args, kwargs, res):
    tracer.counters["manifests.lists_entries"] += len(res)
    if tracer.in_span("table.plan_files"):
        tracer.counters["table.files_total"] += sum(
            m.get("added_files_count", 0) + m.get("existing_files_count", 0)
            for m in res
            if m.get("content", 0) == 0
        )
    return res


def _on_manifest(tracer: Tracer, args, kwargs, res):
    tracer.counters["manifests.entries_read"] += len(res)
    if tracer.in_span("table.plan_files"):
        tracer.counters["manifests.entries_read_in_plan"] += len(res)
    return res


def _on_plan(tracer: Tracer, args, kwargs, res):
    tracer.counters["table.files_planned"] += len(res)
    return res


def _on_write_files(tracer: Tracer, args, kwargs, res):
    tracer.counters["io.files_written"] += len(res)
    return res


def _on_stats(tracer: Tracer, args, kwargs, res):
    paths = args[1] if len(args) > 1 else kwargs.get("paths", ())
    tracer.counters["io.stats_files"] += len(paths)
    return res


def _timed_evaluator(tracer: Tracer, args, kwargs, res):
    """Evaluator factories return the per-entry callable; time its calls."""
    if not callable(res):
        return res
    return _wrapper(tracer, "expressions.eval_call", "expressions", res, None)


def _plan_cache_probe(tracer: Tracer, table_mod) -> Callable:
    """Wraps ``_read_paths``: records whether the read-plan cache held the
    key before the call (same key the library builds)."""
    orig = table_mod._read_paths

    def before(spark, spark_schema, fmt, paths):
        key = (spark.sparkContext.applicationId, spark_schema.json(), fmt.upper(), tuple(paths))
        with table_mod._READ_PLAN_CACHE_LOCK:
            hit = key in table_mod._READ_PLAN_CACHE
        tracer.counters["read.plan_cache_hits" if hit else "read.plan_cache_misses"] += 1

    def probed(spark, spark_schema, fmt, paths):
        if tracer.enabled:
            before(spark, spark_schema, fmt, paths)
        return orig(spark, spark_schema, fmt, paths)

    probed.__wrapped__ = orig
    return probed


#: the operator names ``pipeline.py`` imports
OPERATORS = (
    "minhash_dedup",
    "normalized_dedup",
    "remove_duplicated_spans",
    "mixture_temperature",
    "pack_sequences",
    "dataset_split",
    "contamination_flags",
    "gopher_quality_flags",
    "ngram_lm_perplexity",
    "quality_deciles",
)

FILEIO = (
    "read_bytes",
    "write_bytes",
    "read_text",
    "write_text",
    "exists",
    "list_files",
    "rename",
    "remove",
    "file_size",
)


class Installation:
    """The set of replaced attributes, restorable with ``uninstall``."""

    def __init__(self) -> None:
        self.replaced: List[Tuple[Any, str, Any]] = []

    def patch_everywhere(self, orig: Any, new: Any) -> int:
        n = 0
        for mod in list(sys.modules.values()):
            mname = getattr(mod, "__name__", "") or ""
            if not mname.startswith("iceberg_python_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    self.replaced.append((mod, attr, orig))
                    setattr(mod, attr, new)
                    n += 1
        return n

    def patch_attr(self, owner: Any, attr: str, new: Any) -> None:
        self.replaced.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self.replaced):
            setattr(owner, attr, orig)
        self.replaced.clear()


def install(tracer: Tracer) -> Installation:
    """Wrap every layer entry point the per-layer metrics read."""
    import iceberg_python_spark.catalog as catalog_mod
    import iceberg_python_spark.expressions as expr_mod
    import iceberg_python_spark.expressions.visitors as visitors
    import iceberg_python_spark.io.fileio as fileio
    import iceberg_python_spark.io.write as write_mod
    import iceberg_python_spark.pipeline as pipeline
    import iceberg_python_spark.table as table_mod
    import iceberg_python_spark.table.manifests as manifests

    inst = Installation()

    def everywhere(orig, name, layer, on_result=None):
        if inst.patch_everywhere(orig, _wrapper(tracer, name, layer, orig, on_result)) == 0:
            raise RuntimeError(f"no module holds {name}; the traced layer map is stale")

    def method(cls, attr, name, layer, on_result=None):
        inst.patch_attr(cls, attr, _wrapper(tracer, name, layer, cls.__dict__[attr], on_result))

    catalogs = set(_subclasses(catalog_mod.MetastoreCatalog))
    for cls in (c for c in catalogs if "load_table" in c.__dict__):
        method(cls, "load_table", "catalog.load_table", "catalog")
    for cls in (c for c in catalogs if "_commit_table" in c.__dict__):
        method(cls, "_commit_table", "catalog.commit", "catalog")
    method(table_mod.DataScan, "plan_files", "table.plan_files", "table", _on_plan)
    method(table_mod.DataScan, "count", "table.count", "table.count")
    method(table_mod.Transaction, "_commit_snapshot", "table.commit_snapshot", "table.commit")

    everywhere(manifests.read_manifest_list, "manifests.read_list", "manifests.read", _on_manifest_list)
    everywhere(manifests.read_manifest, "manifests.read", "manifests.read", _on_manifest)
    everywhere(manifests.write_manifest, "manifests.write", "manifests.write")
    everywhere(manifests.write_manifest_list, "manifests.write_list", "manifests.write")

    everywhere(expr_mod.bind, "expressions.bind", "expressions.bind")
    for fac in ("manifest_evaluator", "expression_evaluator", "inclusive_metrics_evaluator"):
        everywhere(getattr(visitors, fac), f"expressions.{fac}", "expressions", _timed_evaluator)
    everywhere(visitors.residual, "expressions.residual", "expressions")

    everywhere(write_mod.write_data_files, "io.write_data_files", "io.write", _on_write_files)
    everywhere(write_mod.collect_file_stats, "io.collect_file_stats", "io.stats", _on_stats)
    for fn in FILEIO:
        everywhere(getattr(fileio, fn), f"fileio.{fn}", "fileio")

    inst.patch_everywhere(table_mod._read_paths, _wrapper(
        tracer, "read.read_paths", "read", _plan_cache_probe(tracer, table_mod), None))

    for op in OPERATORS:
        inst.patch_attr(pipeline, op, _wrapper(tracer, f"operators.{op}", f"operators.{op}", pipeline.__dict__[op], None))
    return inst


def _subclasses(cls) -> Iterable[type]:
    yield cls
    for sub in cls.__subclasses__():
        yield from _subclasses(sub)


def layer_metrics(tracer: Tracer, n_ops: int) -> Dict[str, float]:
    """Per-layer metrics as means per traced op (fractions as ratios of
    run totals)."""
    n = max(n_ops, 1)
    c, calls, tot, layer = tracer.counters, tracer.calls, tracer.total_s, tracer.layer_s

    def ms(v: float) -> float:
        return v * 1000.0 / n

    files_total = c["table.files_total"]
    planned = c["table.files_planned"]
    hits, misses = c["read.plan_cache_hits"], c["read.plan_cache_misses"]
    out = {
        "catalog.load_calls": calls["catalog.load_table"] / n,
        "catalog.load_ms": ms(tot["catalog.load_table"]),
        "catalog.commit_calls": calls["catalog.commit"] / n,
        "catalog.commit_ms": ms(tot["catalog.commit"]),
        "catalog.commit_retries": tracer.errors["catalog.commit"] / n,
        "table.plan_self_ms": ms(tracer.self_s["table.plan_files"]),
        "table.files_total": files_total / n,
        "table.files_planned": planned / n,
        "table.pruned_frac": (1.0 - planned / files_total) if files_total else 0.0,
        "table.commit_snapshot_self_ms": ms(tracer.self_s["table.commit_snapshot"]),
        "manifests.list_reads": calls["manifests.read_list"] / n,
        "manifests.reads": calls["manifests.read"] / n,
        "manifests.read_ms": ms(layer["manifests.read"]),
        "manifests.entries_read": c["manifests.entries_read"] / n,
        "manifests.useful_frac": (planned / c["manifests.entries_read_in_plan"])
        if c["manifests.entries_read_in_plan"] else 0.0,
        "manifests.writes": calls["manifests.write"] / n,
        "manifests.write_ms": ms(layer["manifests.write"]),
        "manifests.live_count": (c["manifests.lists_entries"] / calls["manifests.read_list"])
        if calls["manifests.read_list"] else 0.0,
        "expressions.bind_ms": ms(layer["expressions.bind"]),
        "expressions.eval_ms": ms(layer["expressions"]),
        "expressions.residual_calls": calls["expressions.residual"] / n,
        "io.write_ms": ms(tot["io.write_data_files"] - tot["io.collect_file_stats"]),
        "io.files_written": c["io.files_written"] / n,
        "io.stats_ms": ms(tot["io.collect_file_stats"]),
        "io.stats_files": c["io.stats_files"] / n,
        "fileio.calls": sum(calls[f"fileio.{f}"] for f in FILEIO) / n,
        "fileio.ms": ms(layer["fileio"]),
        "read.df_build_ms": ms(tot["read.read_paths"]),
        "read.plan_cache_hit_frac": hits / (hits + misses) if hits + misses else 0.0,
    }
    for op in OPERATORS:
        out[f"operators.{op}_ms"] = ms(tot[f"operators.{op}"])
        out[f"operators.{op}_calls"] = calls[f"operators.{op}"] / n
    return out


# -- Spark event log ------------------------------------------------------------
SPARK_METRICS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.job_ms",
    "spark.driver_only_ms",
    "spark.executor_run_ms",
    "spark.executor_cpu_ms",
    "spark.gc_ms",
    "spark.shuffle_bytes",
    "spark.spill_bytes",
    "spark.python_worker_ms",
    "spark.python_bytes",
)

_PY_TIME = "time to run Python workers"
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


def _union_ms(intervals: List[Tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def fold_event_log(lines: Iterable[str], op_walls: Dict[str, Tuple[float, float]]) -> Dict[str, Dict[str, float]]:
    """Fold a Spark event log by job group.

    ``op_walls`` maps each job group to its op's (start, end) wall clock
    in epoch ms. Returns, per group, the ``SPARK_METRICS`` totals.
    Python-worker time is the SQL "time to run Python workers" metric
    plus the run time of tasks in stages whose RDD chain holds a
    ``PythonRDD`` (RDD-API Python work reports no SQL metric)."""
    job_group: Dict[int, str] = {}
    job_iv: Dict[int, List[float]] = {}
    stage_group: Dict[int, str] = {}
    python_stages = set()
    tasks: List[Tuple[int, dict, dict]] = []
    completed_stages: List[int] = []
    for line in lines:
        try:
            e = json.loads(line)
        except ValueError:
            continue
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            grp = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if grp in op_walls:
                job_group[e["Job ID"]] = grp
                job_iv[e["Job ID"]] = [e["Submission Time"], e["Submission Time"]]
                for sid in e.get("Stage IDs", ()):
                    stage_group[sid] = grp
        elif ev == "SparkListenerJobEnd":
            if e["Job ID"] in job_iv:
                job_iv[e["Job ID"]][1] = e["Completion Time"]
        elif ev == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            completed_stages.append(info["Stage ID"])
            if any("PythonRDD" in (r.get("Name") or "") for r in info.get("RDD Info", ())):
                python_stages.add(info["Stage ID"])
        elif ev == "SparkListenerTaskEnd":
            tasks.append((e["Stage ID"], e.get("Task Metrics") or {}, e.get("Task Info") or {}))

    out = {g: {k: 0.0 for k in SPARK_METRICS} for g in op_walls}
    for jid, grp in job_group.items():
        out[grp]["spark.jobs"] += 1
    for sid in completed_stages:
        if sid in stage_group:
            out[stage_group[sid]]["spark.stages"] += 1
    for sid, tm, ti in tasks:
        grp = stage_group.get(sid)
        if grp is None:
            continue
        o = out[grp]
        o["spark.tasks"] += 1
        o["spark.executor_run_ms"] += tm.get("Executor Run Time", 0)
        o["spark.executor_cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
        o["spark.gc_ms"] += tm.get("JVM GC Time", 0)
        o["spark.shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        o["spark.spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        for a in ti.get("Accumulables", ()):
            name = a.get("Name")
            if name == _PY_TIME:
                o["spark.python_worker_ms"] += float(a.get("Update") or 0)
            elif name in _PY_BYTES:
                o["spark.python_bytes"] += float(a.get("Update") or 0)
        if sid in python_stages:
            o["spark.python_worker_ms"] += tm.get("Executor Run Time", 0)
    for grp, (start, end) in op_walls.items():
        ivs = [tuple(job_iv[j]) for j, g in job_group.items() if g == grp]
        union = _union_ms(ivs)
        out[grp]["spark.job_ms"] = union
        out[grp]["spark.driver_only_ms"] = max(0.0, (end - start) - union)
    return out
