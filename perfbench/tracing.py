"""Spans around calls into the engine's modules, py4j round-trip
counts, and Spark status-store counters attributed to those spans.

Nothing here edits the program: ``Tracer.install`` swaps module
attributes for wrappers at run time and ``uninstall`` puts the
originals back. A span is (name, start, end, parent) plus the py4j
calls made while it was the innermost open span. After a traced pass,
``collect_pass`` reads Spark's SQL status store (per-operator metrics of
every SQL execution) and the core status store (per-stage task data),
and attributes each execution and stage to the innermost span that was
open when it was submitted. Everything stays in memory until the run
writes its JSON.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import re
import statistics
import sys
import time
from dataclasses import dataclass, field

# engine module prefix; each traced function maps to a span "<layer>.<fn>"
PKG = "cookieblock_consent_classifier_spark"

# (module, attribute path, layer) of every traced public entry point
TRACED = [
    (f"{PKG}.session", "get_spark", "session"),
    (f"{PKG}.cli", "main", "cli"),
    (f"{PKG}.plans.compiler", "compile_features", "plans"),
    (f"{PKG}.plans.assemble", "assemble_sparse", "plans"),
    (f"{PKG}.runtime.checkpoints", "CheckpointedPipeline.stage", "runtime"),
    (f"{PKG}.sinks", "write_parquet", "sinks"),
    (f"{PKG}.sinks", "write_libsvm", "sinks"),
    (f"{PKG}.sinks", "write_feature_map", "sinks"),
    (f"{PKG}.sources.readers", "cookie_updates_from_events", "sources"),
    (f"{PKG}.operators.asof", "asof_join", "operators"),
    (f"{PKG}.operators.temporal", "sessionize", "operators"),
    (f"{PKG}.operators.temporal", "with_lag", "operators"),
    (f"{PKG}.operators.temporal", "flag_changed", "operators"),
    (f"{PKG}.operators.search", "grid_search", "operators"),
]

# metric names as Spark's SQL status store labels them
_PY_RUN = "time to run Python workers"
_PY_BOOT = "time to start Python workers"
_PY_INIT = "time to initialize Python workers"
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE_RE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float | None:
    """A status-store metric string ("1,234", "12.0 KiB", "3.1 s",
    "28 ms") as a number: bytes for sizes, seconds for times."""
    m = _VALUE_RE.match(text)
    if not m:
        return None
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if not unit:
        return num
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME:
        return num * _TIME[unit]
    return None


def parse_dot(dot: str) -> list[tuple[str, dict[str, float]]]:
    """(operator name, {metric: value}) for every node and codegen
    cluster of a ``SparkPlanGraph.makeDotFile`` rendering."""
    out: list[tuple[str, dict[str, float]]] = []
    for lab in re.findall(r'\blabel="((?:[^"\\]|\\.)*)"', dot):
        if "<b>" in lab:  # operator node: <b>Name</b><br><br>metric<br>...
            name = lab.split("<b>", 1)[1].split("</b>", 1)[0]
            lines = lab.split("</b>", 1)[1].split("<br>")
        else:  # WholeStageCodegen cluster: "Name\n \nmetric\n..."
            lines = lab.split("\\n")
            name, lines = lines[0], lines[1:]
        metrics: dict[str, float] = {}
        pending = None
        for ln in lines:
            ln = ln.strip()
            if not ln:
                continue
            if pending is not None:  # value line of a "total (min, med, max ...)" metric
                v = parse_metric(ln)
                if v is not None:
                    metrics[pending] = metrics.get(pending, 0.0) + v
                pending = None
                continue
            if ln.endswith("(stageId: taskId))"):
                pending = ln.split(" total (", 1)[0].rstrip(":").strip()
                continue
            if ": " in ln:
                k, v = ln.rsplit(": ", 1)
                pv = parse_metric(v)
                if pv is not None:
                    metrics[k.strip()] = metrics.get(k.strip(), 0.0) + pv
        out.append((name, metrics))
    return out


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float = 0.0
    parent: int = -1
    py4j: int = 0  # round trips while this was the innermost open span


@dataclass
class PassTrace:
    spans: list[Span] = field(default_factory=list)
    executions: list[dict] = field(default_factory=list)
    stages: list[dict] = field(default_factory=list)


class Tracer:
    """Collects spans; wraps engine entry points and the py4j client.

    Until ``install`` (and again after ``uninstall``) the tracer is
    inactive: ``span`` is then a bare context manager with no
    bookkeeping, and passes are not recorded."""

    def __init__(self):
        self.active = False
        self.passes: list[PassTrace] = []
        self._cur: PassTrace | None = None
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []

    # -- spans ----------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active or self._cur is None:
            yield
            return
        sp = Span(name, time.time(), parent=self._stack[-1] if self._stack else -1)
        self._cur.spans.append(sp)
        idx = len(self._cur.spans) - 1
        self._stack.append(idx)
        try:
            yield
        finally:
            sp.end = time.time()
            self._stack.pop()

    def begin_pass(self) -> None:
        if self.active:
            self._cur = PassTrace()
            self._stack = []

    def end_pass(self, spark) -> PassTrace | None:
        if not self.active or self._cur is None:
            return None
        pt, self._cur = self._cur, None
        collect_pass(spark, pt)
        self.passes.append(pt)
        return pt

    # -- installation ---------------------------------------------------
    def _wrap(self, fn, name):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with tracer.span(name):
                return fn(*a, **kw)

        return wrapper

    def _patch(self, owner, attr, new) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self, spark, queries: dict | None = None) -> None:
        """Wrap every function in TRACED wherever a loaded module holds a
        reference to it, each declared query function in ``queries`` (as
        ``entry.<name>``), and the py4j client's send_command."""
        self.active = True
        for modname, path, layer in TRACED:
            mod = importlib.import_module(modname)
            owner = mod
            parts = path.split(".")
            for p in parts[:-1]:
                owner = getattr(owner, p)
            orig = getattr(owner, parts[-1])
            wrapped = self._wrap(orig, f"{layer}.{parts[-1]}")
            self._patch(owner, parts[-1], wrapped)
            if owner is mod:  # rebind `from module import fn` copies too
                for m in list(sys.modules.values()):
                    if m is None or m is mod:
                        continue
                    mname = getattr(m, "__name__", "")
                    if not (mname.startswith(PKG) or mname == "__spark_entry__"):
                        continue
                    if getattr(m, parts[-1], None) is orig:
                        self._patch(m, parts[-1], wrapped)
        if queries is not None:
            for qname, fn in list(queries.items()):
                self._undo.append((queries, qname, fn))
                queries[qname] = self._wrap(fn, f"entry.{qname}")
        gc = spark.sparkContext._gateway._gateway_client
        send = gc.send_command
        tracer = self

        def counting_send(*a, **kw):
            if tracer._cur is not None and tracer._stack:
                tracer._cur.spans[tracer._stack[-1]].py4j += 1
            return send(*a, **kw)

        self._patch(gc, "send_command", counting_send)

    def uninstall(self) -> None:
        self.active = False
        while self._undo:
            owner, attr, orig = self._undo.pop()
            if isinstance(owner, dict):
                owner[attr] = orig
            else:
                setattr(owner, attr, orig)


def _opt_time(opt) -> float | None:
    """scala.Option[java.util.Date] -> epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def collect_pass(spark, pt: PassTrace) -> None:
    """Read the status stores for the SQL executions and stages that
    started inside this pass's root span."""
    t_lo, t_hi = pt.spans[0].start, pt.spans[0].end
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    sql = spark._jsparkSession.sharedState().statusStore()
    ex = sql.executionsList()
    for i in range(ex.size()):
        e = ex.apply(i)
        t0 = e.submissionTime() / 1000.0
        if not (t_lo <= t0 <= t_hi):
            continue
        t1 = _opt_time(e.completionTime())
        eid = e.executionId()
        dot = sql.planGraph(eid).makeDotFile(sql.executionMetrics(eid))
        pt.executions.append({
            "id": eid, "start": t0, "end": t1 if t1 is not None else t0,
            "nodes": parse_dot(dot),
        })
    app = jsc.statusStore()
    gw = spark.sparkContext._gateway
    stages = app.stageList(
        None, False, False, gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList()
    )
    for i in range(stages.size()):
        s = stages.apply(i)
        t0 = _opt_time(s.submissionTime())
        if t0 is None or not (t_lo <= t0 <= t_hi):
            continue
        pt.stages.append({
            "id": s.stageId(), "attempt": s.attemptId(), "start": t0,
            "cpu_s": s.executorCpuTime() / 1e9, "run_s": s.executorRunTime() / 1e3,
            "gc_s": s.jvmGcTime() / 1e3, "tasks": s.numCompleteTasks(),
        })
    if pt.stages:  # task-time skew of the stage that ran longest
        top = max(pt.stages, key=lambda d: d["run_s"])
        tl = app.taskList(top["id"], top["attempt"], 100_000)
        durs = []
        for i in range(tl.size()):
            d = tl.apply(i).duration()
            if d.isDefined():
                durs.append(float(d.get()))
        med = statistics.median(durs) if durs else 0.0
        top["skew"] = max(durs) / med if med > 0 else 1.0


# -- per-pass metrics ---------------------------------------------------

def per_layer_units(query_names) -> dict[str, str]:
    """Every per-layer metric the traced run reports, with its unit."""
    names = [
        "session.start_s", "sources.scan_s", "sources.input_mb", "sources.input_rows",
        "plans.construct_s", "plans.py4j_calls",
        "functions.python_run_s", "functions.python_init_s", "functions.arrow_sent_mb",
        "functions.arrow_recv_mb", "functions.python_rows",
        "operators.shuffle_write_mb", "operators.shuffle_records", "operators.shuffle_write_s",
        "operators.sort_s", "operators.agg_s", "operators.codegen_s", "operators.peak_mem_mb",
        "operators.spill_mb",
        "runtime.checkpoint_write_s", "runtime.lineage_s", "sinks.write_s", "sinks.output_mb",
        "cli.sql_executions",
        *[f"entry.{q}.{k}" for q in query_names for k in ("construct_s", "exec_s")],
        "executor.task_cpu_s", "executor.task_run_s", "executor.gc_s", "executor.tasks",
        "executor.task_skew",
        "trace.traced_wall_s", "trace.untraced_wall_s", "trace.overhead_s",
        "trace.unattributed_s",
    ]

    def unit(n: str) -> str:
        if n.endswith("_s"):
            return "s"
        if n.endswith("_mb"):
            return "MiB"
        return "ratio" if n.endswith("skew") else "count"

    return {n: unit(n) for n in names}


def _innermost(spans: list[Span], t: float) -> int:
    best, best_start = 0, float("-inf")
    for i, s in enumerate(spans):
        if s.start <= t <= s.end and s.start >= best_start:
            best, best_start = i, s.start
    return best


def _ancestors(spans: list[Span], i: int):
    while i >= 0:
        yield i
        i = spans[i].parent


def _outermost(spans: list[Span], pred) -> list[int]:
    """Indices of spans matching ``pred`` with no matching ancestor."""
    out = []
    for i, s in enumerate(spans):
        if pred(s.name) and not any(pred(spans[a].name) for a in _ancestors(spans, s.parent)):
            out.append(i)
    return out


def _is_layer(name: str) -> bool:
    """A span of one layer's work, as opposed to a whole-operation span
    (the pass, ``cli.main``, ``query.<q>``) that only groups them."""
    return not (name in ("pass", "cli.main") or name.startswith("query."))


def _is_construct(name: str) -> bool:
    return name.startswith(("plans.", "entry.")) or name == "construct"


def pass_metrics(pt: PassTrace, query_names: list[str]) -> dict[str, float]:
    """Every per-layer metric of one traced pass (0 where a layer did
    no work on this workload)."""
    spans = pt.spans
    m: dict[str, float] = {}
    dur = [s.end - s.start for s in spans]

    def node_sum(pred_node, metric: str, execs=None) -> float:
        tot = 0.0
        for e in execs if execs is not None else pt.executions:
            for name, met in e["nodes"]:
                if pred_node(name) and metric in met:
                    tot += met[metric]
        return tot

    def any_node(_n):
        return True

    def is_scan(n):
        return n.startswith("Scan")

    m["sources.scan_s"] = node_sum(is_scan, "scan time")
    m["sources.input_mb"] = node_sum(is_scan, "size of files read") / 2**20
    m["sources.input_rows"] = node_sum(is_scan, "number of output rows")

    cons = _outermost(spans, _is_construct)
    m["plans.construct_s"] = sum(dur[i] for i in cons)
    in_cons = set()
    for i in range(len(spans)):
        if any(a in cons for a in _ancestors(spans, i)):
            in_cons.add(i)
    m["plans.py4j_calls"] = float(sum(spans[i].py4j for i in in_cons))

    def is_py(n):
        return "Python" in n or "Pandas" in n or "Arrow" in n

    m["functions.python_run_s"] = node_sum(is_py, _PY_RUN)
    m["functions.python_init_s"] = node_sum(is_py, _PY_BOOT) + node_sum(is_py, _PY_INIT)
    m["functions.arrow_sent_mb"] = node_sum(is_py, _PY_SENT) / 2**20
    m["functions.arrow_recv_mb"] = node_sum(is_py, _PY_RECV) / 2**20
    py_rows = 0.0
    for e in pt.executions:
        for name, met in e["nodes"]:
            if _PY_RUN in met:
                py_rows += met.get("number of output rows", 0.0)
    m["functions.python_rows"] = py_rows

    m["operators.shuffle_write_mb"] = node_sum(any_node, "shuffle bytes written") / 2**20
    m["operators.shuffle_records"] = node_sum(any_node, "shuffle records written")
    m["operators.shuffle_write_s"] = node_sum(any_node, "shuffle write time")
    m["operators.sort_s"] = node_sum(any_node, "sort time")
    m["operators.agg_s"] = node_sum(any_node, "time in aggregation build")
    m["operators.codegen_s"] = node_sum(lambda n: n.startswith("WholeStageCodegen"), "duration")
    peak = [met.get("peak memory", 0.0) for e in pt.executions for _n, met in e["nodes"]]
    m["operators.peak_mem_mb"] = max(peak, default=0.0) / 2**20
    m["operators.spill_mb"] = node_sum(any_node, "spill size") / 2**20

    # executions by the innermost span open at their submission
    owner = [_innermost(spans, e["start"]) for e in pt.executions]
    edur = [e["end"] - e["start"] for e in pt.executions]

    def writes(e) -> bool:
        return any(n.startswith("Execute InsertIntoHadoopFsRelationCommand") for n, _ in e["nodes"])

    ckpt = lineage = 0.0
    for e, o, d in zip(pt.executions, owner, edur):
        if spans[o].name == "runtime.stage":
            if writes(e):
                ckpt += d
            else:
                lineage += d
    m["runtime.checkpoint_write_s"] = ckpt
    m["runtime.lineage_s"] = lineage

    sinks = _outermost(spans, lambda n: n.startswith("sinks."))
    m["sinks.write_s"] = sum(dur[i] for i in sinks)
    sink_execs = [
        e for e, o in zip(pt.executions, owner)
        if any(a in sinks for a in _ancestors(spans, o))
    ]
    m["sinks.output_mb"] = node_sum(any_node, "written output", sink_execs) / 2**20

    cli_roots = [i for i, s in enumerate(spans) if s.name == "cli.main"]
    m["cli.sql_executions"] = float(sum(
        1 for o in owner if any(a in cli_roots for a in _ancestors(spans, o))
    ))

    for q in query_names:
        c = [i for i, s in enumerate(spans) if s.name == f"entry.{q}"]
        qroot = [i for i, s in enumerate(spans) if s.name == f"query.{q}"]
        x = [
            i for i, s in enumerate(spans)
            if s.name.startswith("sinks.") and any(a in qroot for a in _ancestors(spans, s.parent))
        ]
        m[f"entry.{q}.construct_s"] = sum(dur[i] for i in c)
        m[f"entry.{q}.exec_s"] = sum(dur[i] for i in x)

    st = pt.stages
    m["executor.task_cpu_s"] = sum(s["cpu_s"] for s in st)
    m["executor.task_run_s"] = sum(s["run_s"] for s in st)
    m["executor.gc_s"] = sum(s["gc_s"] for s in st)
    m["executor.tasks"] = float(sum(s["tasks"] for s in st))
    m["executor.task_skew"] = next((s["skew"] for s in st if "skew" in s), 1.0)

    m["trace.traced_wall_s"] = dur[0]
    # pass time covered by no layer span (spans run one after another on
    # the driver thread, so the outermost layer spans do not overlap)
    m["trace.unattributed_s"] = dur[0] - sum(dur[i] for i in _outermost(spans, _is_layer))
    return m
