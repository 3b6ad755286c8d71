"""Traced runs: benchmark-side spans plus a per-layer split of each traced
operation, read from Spark's own event log and from stack samples.

The benchmark records spans only around the calls it makes itself (a
"step": one call into a layer's public function, tagged with that layer, or
with none when the call runs several layers). A multi-layer call
(``jobs/extract.py`` ``main()``, ``__spark_entry__._engine_quads``, the live
batch's ``page_store(prepare(batch))``) is split afterwards:

- each SQL execution is given the layers its physical plan shows by an
  operator or output path (``classify``), else the layer of its call site:
  the innermost program module on the stacks sampled while it ran;
- a job outside any execution belongs to the execution running when it
  started, else to its call site the same way;
- wall time is swept segment by segment: time inside a single-layer step is
  that layer's; a segment with executions running is shared evenly among
  them and then among each one's layers; a segment with none (driver-only:
  plan construction, py4j round trips, listing) goes to the layer the stack
  samples taken in it name, or, for a sample blocked in a PySpark call from
  code outside any layer module, to the execution that call starts next;
- task counters (run time, launch wait, shuffle, spill, GC, failures) are
  shared among an execution's layers the same way.

Whatever none of these rules places is ``unattributed``: it counts against
``trace.coverage`` and is reported as ``trace.unattributed_s``. The event log
is written by an ``EventLoggingListener`` attached to the live context just
for the traced operation and detached after it; the stack sampler is a thread
of the benchmark that reads ``sys._current_frames()``. Nothing in the program
is patched or wrapped.
"""

from __future__ import annotations

import json
import os
import re
import sys
import threading
import time
from collections import Counter, defaultdict

LAYERS = (
    "session", "parse", "redirects", "extractors", "mapping_engine", "nif",
    "linker", "pipeline", "emit", "wikidata", "live",
)
GENERIC = ("busy_s", "executor_s", "wait_s", "jobs", "tasks_failed",
           "shuffle_bytes", "spill_bytes", "rows_out")
SPECIFIC = (
    "parse.errors", "parse.python_bytes", "extractors.python_bytes",
    "extractors.distinct_ratio", "redirects.edges", "linker.mentions",
    "linker.links", "pipeline.dedup_rows_in", "pipeline.dedup_rows_out",
    "pipeline.lineage_jobs", "pipeline.bytes_written", "emit.bytes",
    "wikidata.branches_s", "live.extract_s", "live.diff_s", "live.publish_s",
    "live.apply_s", "live.store_bytes_rewritten", "live.added", "live.removed",
    "session.warmup_s",
)
SPARK = ("spark.driver_only_s", "spark.gc_s", "spark.cached_bytes_at_start")
TRACE = ("trace.overhead_s", "trace.coverage", "trace.unattributed_s")
UNATTRIBUTED = "unattributed"

UNITS = {
    "busy_s": "s", "executor_s": "s", "wait_s": "s", "jobs": "count",
    "tasks_failed": "count", "shuffle_bytes": "bytes", "spill_bytes": "bytes",
    "rows_out": "rows", "parse.errors": "count", "parse.python_bytes": "bytes",
    "extractors.python_bytes": "bytes", "extractors.distinct_ratio": "ratio",
    "redirects.edges": "count", "linker.mentions": "count", "linker.links": "count",
    "pipeline.dedup_rows_in": "rows", "pipeline.dedup_rows_out": "rows",
    "pipeline.lineage_jobs": "count", "pipeline.bytes_written": "bytes",
    "emit.bytes": "bytes", "wikidata.branches_s": "s", "live.extract_s": "s",
    "live.diff_s": "s", "live.publish_s": "s", "live.apply_s": "s",
    "live.store_bytes_rewritten": "bytes", "live.added": "count",
    "live.removed": "count", "session.warmup_s": "s",
    "spark.driver_only_s": "s", "spark.gc_s": "s", "spark.cached_bytes_at_start": "bytes",
    "trace.overhead_s": "s", "trace.coverage": "ratio", "trace.unattributed_s": "s",
}


def per_layer_names() -> list[str]:
    return [f"{la}.{m}" for la in LAYERS for m in GENERIC] + list(SPECIFIC) + list(SPARK) + list(TRACE)


def unit_of(name: str) -> str:
    return UNITS.get(name, UNITS.get(name.split(".", 1)[1], "count"))


class Tracer:
    """In-memory spans (name, layer, start, end, parent), written out at the
    end."""

    def __init__(self, root: str):
        self.spans: list[dict] = []
        self.root = self.open(root, None)

    def open(self, name: str, parent: int | None, start: float | None = None,
             layer: str | None = None) -> int:
        self.spans.append({"id": len(self.spans), "name": name, "layer": layer, "parent": parent,
                           "start": time.time() if start is None else start, "end": None})
        return len(self.spans) - 1

    def close(self, sid: int, end: float | None = None) -> float:
        s = self.spans[sid]
        s["end"] = time.time() if end is None else end
        return s["end"] - s["start"]

    def add(self, name: str, parent: int, start: float, end: float) -> int:
        sid = self.open(name, parent, start, layer=name)
        self.close(sid, end)
        return sid

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of its interval its children cover."""
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        return {s["id"]: (s["end"] - s["start"]) - covered(kids[s["id"]], s["start"], s["end"])
                for s in self.spans}


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur = 0.0, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur is None or a > cur[1]:
            total += (cur[1] - cur[0]) if cur else 0.0
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    return total + ((cur[1] - cur[0]) if cur else 0.0)


# ---------------------------------------------------------------------------
# layer of a program file, and the stack sampler that uses it
# ---------------------------------------------------------------------------

_MODULE_LAYER = {
    "parse": "parse", "arrow_parse": "parse", "wikitext": "parse",
    "driver_corpus": "parse", "sources": "parse",
    "redirects": "redirects", "fused": "extractors", "structural": "extractors",
    "mapping_engine": "mapping_engine", "nif": "nif", "linker": "linker",
    "pipeline": "pipeline", "emit": "emit", "session": "session",
    "wikidata": "wikidata", "live": "live",
}
# a thread blocked in a PySpark call made from code outside any layer module:
# the call plans (and then starts) the next SQL execution
NEXT = "<next>"


def layer_of_file(rel: str) -> str | None:
    """The layer a program file (path relative to the repository root)
    belongs to; helpers shared by several layers belong to none."""
    if rel.startswith("kgforge/extractors/"):
        return "extractors"
    if rel == "jobs/extract.py":
        return "pipeline"
    m = re.fullmatch(r"kgforge/(\w+)\.py", rel)
    return _MODULE_LAYER.get(m.group(1)) if m else None


class Sampler:
    """Samples every Python thread's stack each ``period`` seconds while
    active. A sample keeps, for each thread running repository code, whether
    it is the main thread and its verdict: the innermost layer module on its
    stack, ``NEXT`` when it is blocked in PySpark from code outside any layer
    module, or None."""

    def __init__(self, root: str, period: float = 0.01):
        self.root = root.rstrip("/") + "/"
        self.bench = self.root + "kgbench/"
        self.period = period
        self.samples: list[tuple[float, list[tuple[bool, str | None]]]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="kgbench-sampler", daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def verdict(self, frame):
        """(running repository code, verdict) of one thread's stack; the
        benchmark's own frames make a thread active but name no layer."""
        in_spark = in_repo = False
        while frame is not None:
            fn = frame.f_code.co_filename
            if fn.startswith(self.root):
                la = None if fn.startswith(self.bench) else layer_of_file(fn[len(self.root):])
                if la:
                    return True, la
                in_repo = True
            elif not in_repo and ("/pyspark/" in fn or "/py4j/" in fn):
                in_spark = True
            frame = frame.f_back
        return in_repo, (NEXT if in_spark else None)

    def _run(self) -> None:
        me, main = threading.get_ident(), threading.main_thread().ident
        while not self._stop.wait(self.period):
            t = time.time()
            row = []
            for tid, frame in sys._current_frames().items():
                if tid != me:
                    active, v = self.verdict(frame)
                    if active:
                        row.append((tid == main, v))
            self.samples.append((t, row))


class EventLog:
    """An event log for one window of a live SparkContext."""

    def __init__(self, spark, log_dir: str, name: str):
        sc = spark.sparkContext
        jvm = sc._jvm
        os.makedirs(log_dir, exist_ok=True)
        conf = sc._jsc.sc().conf().clone()
        conf.set("spark.eventLog.compress", "false")
        conf.set("spark.eventLog.rolling.enabled", "false")
        self.path = os.path.join(log_dir, name)
        self._sc = sc._jsc.sc()
        self._lis = jvm.org.apache.spark.scheduler.EventLoggingListener(
            name, jvm.scala.Option.apply(None), jvm.java.net.URI("file://" + log_dir),
            conf, sc._jsc.hadoopConfiguration(),
        )
        self._lis.start()
        self._sc.addSparkListener(self._lis)

    def close(self) -> list[dict]:
        # the listener bus is asynchronous: let it drain before detaching
        self._sc.listenerBus().waitUntilEmpty()
        self._sc.removeSparkListener(self._lis)
        self._lis.stop()
        with open(self.path) as f:
            return [json.loads(line) for line in f]


# ---------------------------------------------------------------------------
# layer classification of one SQL execution
# ---------------------------------------------------------------------------

_STAGE_LAYERS = {
    "parsed": ("parse",), "quads": ("extractors", "mapping_engine"),
    "transitive_redirects": ("redirects",), "type_consistency": ("mapping_engine",),
    "entity_links": ("linker",), "graph": ("pipeline",), "_lineage": ("pipeline",),
}
# the full-quad-key aggregate of dropDuplicates, keys in any order
_AGG_KEYS = re.compile(r"Keys \[6\]: \[([^\]]*)\]")
_QUAD_KEY = {"dataset", "subject", "predicate", "value", "datatype", "language"}
_WRITE = re.compile(r"Execute InsertIntoHadoopFsRelationCommand\nInput: .*\nArguments: (?:file:)?(/[^,\s]+),")
_SCAN_DIR = re.compile(r"Location: InMemoryFileIndex \[(?:file:)?(/[^,\]\s]+)")


def classify(desc: str, plan: str, nodes: set[str]) -> tuple[list[str], set[str]]:
    """(layers, tags) of one SQL execution from its description (PySpark puts
    the Python call site there for collect-style actions) and physical plan;
    no layers when neither names one."""
    layers: list[str] = []
    tags: set[str] = set()

    def add(*ls):
        for la in ls:
            if la not in layers:
                layers.append(la)

    # a Python call site, a stage output or a stage row count names the
    # layer outright; only other executions are read operator by operator
    m = re.search(r"(kgforge/[\w/]+\.py)", desc)
    if m and layer_of_file(m.group(1)):
        return [layer_of_file(m.group(1))], tags
    writes = _WRITE.findall(plan)
    for path in writes:
        if "/ntriples" in path:
            add("emit")
            continue
        stage = path.rstrip("/").rsplit("/", 1)[-1]
        add(*_STAGE_LAYERS.get(stage, ()))
        if stage == "_lineage":
            tags.add("lineage")
        if stage == "graph":
            tags.add("dedup")
    if layers:
        return layers, tags
    scanned = [p.rstrip("/").rsplit("/", 1)[-1] for p in _SCAN_DIR.findall(plan)]
    if scanned and all(s in _STAGE_LAYERS for s in scanned) and (
        "sha2(" in plan or not nodes & {"Filter", "GlobalLimit", "MapInArrow"}
    ):
        # the post-write row count or the sha2 re-scan of a stage
        return ["pipeline"], {"lineage"}
    if "MapInArrow" in nodes:
        add("parse")
    if "infobox_props_udf" in plan or ("page_links" in plan and "Generate" in nodes):
        add("extractors")
    if re.search(r"\b(mapping_udf|table_udf|_first_cite_iri_udf)\b", plan):
        add("mapping_engine")
    if "nif-core" in plan:
        add("nif")
    # the linker's surface-form dictionary also reads the redirects dataset
    linker = bool(nodes & {"Window", "WindowGroupLimit"} or "entity_links" in plan
                  or re.search(r"dataset#\d+ IN \(anchor_text", plan))
    if "transitive_redirects" in plan or (not linker and "Generate" not in nodes and re.search(
            r"namespace,10\)|namespace#\d+ = 10\)|dataset#\d+ = redirects\)", plan)):
        add("redirects")
    if linker:
        add("linker")
    if any({k.split("#")[0] for k in ks.split(", ")} == _QUAD_KEY for ks in _AGG_KEYS.findall(plan)):
        add("pipeline")
        tags.add("dedup")
    return layers, tags


# ---------------------------------------------------------------------------
# analysis of one traced window
# ---------------------------------------------------------------------------


def _walk(info: dict, nodes: set[str], accs: dict[int, tuple[str, str]]) -> None:
    nodes.add(info["nodeName"])
    for m in info.get("metrics", []):
        accs[m["accumulatorId"]] = (info["simpleString"], m["name"])
    for ch in info.get("children", []):
        _walk(ch, nodes, accs)


def _callsite(samples, a: float, b: float) -> str | None:
    """The layer most samples in [a, b] name, if any."""
    votes = Counter(v for t, row in samples if a <= t <= b for _, v in row
                    if v is not None and v != NEXT)
    return votes.most_common(1)[0][0] if votes else None


def analyze(events: list[dict], samples: list, t0: float, t1: float,
            steps: list[tuple[str | None, float, float]]) -> dict:
    """Per-layer metrics (``<layer>.<metric>``), the Spark-wide ones and the
    layer spans [(layer, start, end)] of the window [t0, t1] (epoch seconds).
    ``steps`` are the benchmark's spans inside the window as (layer or None,
    start, end); ``samples`` come from a ``Sampler`` run over the window."""
    execs: dict[int, dict] = {}
    accs: dict[int, tuple[str, str]] = {}  # accumulator -> (operator, metric)
    jobs, stage_job, stage_submit, tasks = {}, {}, {}, []
    for e in events:
        ev = e["Event"]
        if ev.endswith("SQLExecutionStart"):
            nodes: set[str] = set()
            _walk(e["sparkPlanInfo"], nodes, accs)
            execs[e["executionId"]] = {
                "start": e["time"] / 1e3, "end": None, "desc": e.get("description", ""),
                "plan": e.get("physicalPlanDescription", ""), "nodes": nodes,
            }
        elif ev.endswith("SQLAdaptiveExecutionUpdate"):
            x = execs.get(e["executionId"])
            if x is not None:
                _walk(e["sparkPlanInfo"], x["nodes"], accs)
                x["plan"] += "\n" + e.get("physicalPlanDescription", "")
        elif ev.endswith("SQLExecutionEnd"):
            if e["executionId"] in execs:
                execs[e["executionId"]]["end"] = e["time"] / 1e3
        elif ev == "SparkListenerJobStart":
            eid = e.get("Properties", {}).get("spark.sql.execution.id")
            jobs[e["Job ID"]] = {"exec": int(eid) if eid is not None else None,
                                 "start": e["Submission Time"] / 1e3, "end": t1}
            for sid in e["Stage IDs"]:
                stage_job[sid] = e["Job ID"]
        elif ev == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
        elif ev == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            stage_submit[info["Stage ID"]] = info.get("Submission Time", 0) / 1e3
        elif ev == "SparkListenerTaskEnd":
            tasks.append(e)

    def step_layer(t: float) -> str | None:
        """Layer of the innermost single-layer step holding ``t``."""
        inside = [(b - a, la) for la, a, b in steps if la and a <= t <= b]
        return min(inside)[1] if inside else None

    for x in execs.values():
        if x["end"] is None:
            x["end"] = t1
        x["layers"], x["tags"] = classify(x["desc"], x["plan"], x["nodes"])
        x["how"] = "plan" if x["layers"] else None
        la = step_layer(x["start"])
        if la:
            x["layers"], x["how"] = [la], "span"
        elif not x["layers"]:
            la = _callsite(samples, x["start"], x["end"])
            x["layers"], x["how"] = ([la], "callsite") if la else ([UNATTRIBUTED], None)
    ordered = sorted(execs.items(), key=lambda kv: kv[1]["start"])

    def layers_of_job(j: dict) -> tuple[list[str], int | None]:
        if j["exec"] in execs:
            return execs[j["exec"]]["layers"], j["exec"]
        for eid, x in ordered:  # running when the job started
            if x["start"] <= j["start"] <= x["end"]:
                return x["layers"], eid
        la = step_layer(j["start"]) or _callsite(samples, j["start"], j["end"])
        return [la or UNATTRIBUTED], None

    out: dict[str, float] = defaultdict(float)
    spans: list[tuple[str, float, float]] = []

    def charge(la: str, a: float, b: float, w: float) -> None:
        out[f"{la}.busy_s"] += (b - a) * w
        spans.append((la, a, b))

    # wall-time sweep
    cuts = sorted({t0, t1, *(min(max(x[k], t0), t1) for x in execs.values() for k in ("start", "end")),
                   *(min(max(s, t0), t1) for _, a, b in steps for s in (a, b))})
    times = [t for t, _ in samples]
    for a, b in zip(cuts, cuts[1:]):
        la = step_layer((a + b) / 2)
        if la:
            charge(la, a, b, 1.0)
            continue
        active = [x for _, x in ordered if x["start"] < b and x["end"] > a]
        if active:
            for x in active:
                for la in x["layers"]:
                    charge(la, a, b, 1 / len(active) / len(x["layers"]))
            continue
        # driver-only: the samples taken in the segment, else the nearest one
        rows = [row for t, row in samples if a <= t <= b]
        if not rows and times:
            k = min(range(len(times)), key=lambda i: abs(times[i] - (a + b) / 2))
            rows = [samples[k][1]] if abs(times[k] - (a + b) / 2) <= 0.05 else []
        votes: Counter = Counter()
        for row in rows or [[]]:
            vs = [v for _, v in row] or [None]
            for v in vs:
                votes[v] += 1 / len(vs) / max(len(rows), 1)
        nxt = next((x for _, x in ordered if x["start"] >= b), None)
        for v, w in votes.items():
            if v == NEXT and nxt is not None:
                for la in nxt["layers"]:
                    charge(la, a, b, w / len(nxt["layers"]))
            else:
                charge(v if v not in (None, NEXT) else UNATTRIBUTED, a, b, w)
    # jobs and tasks
    job_layers = {jid: layers_of_job(j) for jid, j in jobs.items()}
    for jid, (ls, eid) in job_layers.items():
        for la in ls:
            out[f"{la}.jobs"] += 1
        if eid is not None and "lineage" in execs[eid]["tags"]:
            out["pipeline.lineage_jobs"] += 1
    busy: list[tuple[float, float]] = []
    for t in tasks:
        info, met = t["Task Info"], t.get("Task Metrics") or {}
        jid = stage_job.get(t["Stage ID"])
        ls = job_layers[jid][0] if jid in job_layers else [UNATTRIBUTED]
        launch, finish = info["Launch Time"] / 1e3, info["Finish Time"] / 1e3
        busy.append((launch, finish))
        sr = met.get("Shuffle Read Metrics", {})
        sw = met.get("Shuffle Write Metrics", {})
        vals = {
            "executor_s": met.get("Executor Run Time", 0) / 1e3,
            "wait_s": max(0.0, launch - stage_submit.get(t["Stage ID"], launch)),
            "tasks_failed": 1 if info.get("Failed") else 0,
            "shuffle_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            + sw.get("Shuffle Bytes Written", 0),
            "spill_bytes": met.get("Memory Bytes Spilled", 0) + met.get("Disk Bytes Spilled", 0),
            "rows_out": met.get("Output Metrics", {}).get("Records Written", 0),
        }
        for la in ls:
            for k, v in vals.items():
                out[f"{la}.{k}"] += v / len(ls)
        out["spark.gc_s"] += met.get("JVM GC Time", 0) / 1e3
        for acc in info.get("Accumulables", []):
            node, name = accs.get(acc["ID"], ("", ""))
            if name.startswith(("data sent to Python", "data returned from Python")):
                # the parse is the MapInArrow, extractors' is the _ib UDF
                if node.startswith("MapInArrow"):
                    out["parse.python_bytes"] += float(acc.get("Update", 0))
                elif "infobox_props_udf" in node:
                    out["extractors.python_bytes"] += float(acc.get("Update", 0))
    # driver-only: window time with no task running
    out["spark.driver_only_s"] = (t1 - t0) - covered(busy, t0, t1)
    # the concurrent branch builds: the time any thread besides the main one
    # runs program code
    side = [t for t, row in samples if t0 <= t <= t1 and any(not main for main, _ in row)]
    if any(la == "wikidata" for la, _, _ in steps):
        out["wikidata.branches_s"] = (side[-1] - side[0]) if side else 0.0
    out["trace.unattributed_s"] = out.pop(f"{UNATTRIBUTED}.busy_s", 0.0)
    return {"metrics": dict(out), "spans": spans,
            "executions": [{"id": eid, "layers": x["layers"], "how": x["how"],
                            "tags": sorted(x["tags"]), "desc": x["desc"][:80],
                            "s": round(x["end"] - x["start"], 3)}
                           for eid, x in ordered]}
