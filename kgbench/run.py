"""kgforge benchmark: one workload, one seed, one run.

    python3 kgbench/run.py --workload extract_job --seed 1 --seconds 5 --trace 0

Run from the repository root. The run starts one Spark session on
``local[<cores>]`` (driver memory and local dir fitted to the host), stages
the workload's seeded inputs, runs one untimed warm-up operation (unless the
workload is measured cold), then times operations until ``--seconds`` have
passed (at least one). Every operation's output is fingerprinted and must
equal the run's first output (for ``live_update``, whose batches differ: batch
k's output of earlier runs), and earlier runs' of the same code, workload and
seed; the last one is also checked against an independent reference. The last line
of stdout is one JSON object ``{"correct", "attempted", "failed", "metrics"}``:
the end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1`` (which traces one more operation after the untraced ones, or the
only one of a workload measured cold). A full report, with host facts,
session settings, fingerprints and spans, goes to ``.kgbench/results/``.
Everything the run writes stays under ``.kgbench/`` in the working directory.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import hashlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.getcwd()
REQUIRED = ("__spark_entry__.py", "kgforge/__init__.py", "jobs/extract.py", "tools/check_oracles.py")
# setup_s: session start, input staging and the untimed warm-up operation;
# build_s: median wall time of one operation (entry call until the graph is
# materialized; for live_update one batch, so this is its batch_p50_s);
# pages_per_s: input pages (live_update: changed pages of a batch) / build_s;
# precision, recall: the last output against the workload's independent
# reference; peak_rss_mb: VmHWM of the driver JVM plus its Python workers
END_TO_END = {
    "setup_s": "s", "build_s": "s", "pages_per_s": "pages/s",
    "precision": "ratio", "recall": "ratio", "peak_rss_mb": "MB",
}
NO_PERF_DATA = "-XX:-UsePerfData"


# the files whose content decides a run's outputs
CODE = ("__spark_entry__.py", "kgforge", "jobs", "tools", "kgbench")


def code_hash() -> str:
    """sha256 over the program's and the benchmark's files, so stored
    fingerprints and timings are only compared within one version of the
    code (the checkout a benchmark runs in need not be a git repository)."""
    h = hashlib.sha256()
    for top in CODE:
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(path) for f in fs
            if "__pycache__" not in d and not f.endswith(".pyc"))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def host_facts() -> dict:
    with open("/proc/meminfo") as f:
        mem = {line.split(":")[0]: int(line.split()[1]) for line in f}
    return {
        "cores": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem["MemTotal"] // 1024,
        "mem_available_mb": mem["MemAvailable"] // 1024,
        "loadavg": os.getloadavg(),
    }


def fit_session_env(host: dict, work: str) -> None:
    """Host-fitted deployment settings, passed through the variables
    ``kgforge.session.build_session`` already reads. The heap takes a sixth
    of physical memory, 1-2 GiB: the benchmark's inputs need no more, the
    machine may be shared, and a small heap keeps peak RSS steady. The local
    dir stays inside the run's own directory so nothing is written outside
    the working tree."""
    heap_gb = max(1, min(2, host["mem_total_mb"] // 6144))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_gb}g"
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_MASTER"] = f"local[{host['cores']}]"
    os.environ["SPARK_GRAFT_CPUS"] = str(host["cores"])
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    tempfile.tempdir = None  # re-read TMPDIR
    # JVMs write perf data under /tmp whatever their tmpdir; the launcher
    # JVM reads its flags here, the driver JVM from spark.driver.extraJavaOptions
    os.environ["SPARK_LAUNCHER_OPTS"] = NO_PERF_DATA
    # Python workers import kgforge from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def proc_tree(pid: int) -> list[int]:
    """``pid`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def peak_rss_mb(jvm_pid: int) -> float:
    """VmHWM of the driver JVM plus its Python workers."""
    total = 0
    for p in proc_tree(jvm_pid):
        try:
            with open(f"/proc/{p}/status") as f:
                total += next((int(line.split()[1]) for line in f if line.startswith("VmHWM")), 0)
        except OSError:
            pass
    return total / 1024


def cached_bytes(spark) -> int:
    return sum(i.memSize() + i.diskSize() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo())


def isolate(spark) -> None:
    """Start an operation from a clean driver: module memos cleared, the
    catalog cache dropped and every persisted RDD (``localCheckpoint`` blocks
    outlive ``clearCache()``) unpersisted."""
    import __spark_entry__ as E
    import kgforge.sources as S

    E._QUADS_CACHE.clear()
    S._NEEDS_FANOUT.clear()
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


def stop_spark(spark) -> None:
    """Stop the context and the JVM it runs in, and wait for both the JVM and
    its Python workers to exit."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    pids = proc_tree(proc.pid)
    spark.stop()
    SparkContext._gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits on stdin EOF
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.time() + 20
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids[1:]):
        time.sleep(0.2)
    for p in pids[1:]:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def check_fingerprints(report: dict, path: str, store: bool) -> bool:
    """Runs of one version of the code, workload and seed must produce the
    same outputs: one fingerprint, or for a workload whose operations differ,
    one per operation index. The first run's are kept in ``path`` and later
    runs are compared with them."""
    key = f"{report['code']}:{report['workload']}:{report['seed']}:{report['scale']}"
    try:
        with open(path) as f:
            seen = json.load(f)
    except (OSError, ValueError):
        seen = {}
    fps = report["fingerprints"]
    stored = seen.setdefault(key, {})
    ok = all(stored.get(k, fp) == fp for k, fp in fps.items())
    if store and any(k not in stored for k in fps):
        stored.update({k: fp for k, fp in fps.items() if k not in stored})
        with open(path, "w") as f:
            json.dump(seen, f, indent=1)
    return ok


def run(workload: str, seed: int, seconds: float, trace: bool, scale: float = 1.0,
        tamper=None) -> dict:
    """One benchmark run; returns the full report. ``tamper(out)`` (self-test
    only) may alter each measured output before it is checked."""
    from kgbench.workloads import WORKLOADS

    host = host_facts()
    stamp = f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}-{int(time.time())}"
    bench_dir = os.path.join(ROOT, ".kgbench")
    work = os.path.join(bench_dir, "work", stamp)
    os.makedirs(work)
    fit_session_env(host, work)
    wl = WORKLOADS[workload](ROOT, seed, scale)
    report = {"workload": workload, "seed": seed, "scale": scale, "trace": trace,
              "code": code_hash(), "host_start": host, "ops": [], "fingerprints": {}}
    from pyspark import SparkContext

    from kgbench.trace import EventLog, Sampler, Tracer, analyze
    from kgbench.workloads import fingerprint

    tr = Tracer(workload)
    spark = None
    try:
        t_setup = time.perf_counter()
        s_setup = tr.open("setup", tr.root)
        sid = tr.open("session", s_setup, layer="session")
        from kgforge.session import build_session

        spark = build_session(app=f"kgbench-{workload}", extra={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} {NO_PERF_DATA}",
        })
        report["session_s"] = tr.close(sid)
        jvm_pid = SparkContext._gateway.proc.pid
        report["session_conf"] = dict(spark.sparkContext.getConf().getAll())
        sid = tr.open("staging", s_setup)
        wl.stage(spark, os.path.join(work, "in"))
        tr.close(sid)

        def op_step(parent: int):
            @contextlib.contextmanager
            def step(name: str, layer: str | None):
                k = tr.open(name, parent, layer=layer)
                try:
                    yield
                finally:
                    tr.close(k)
            return step

        expect, report["warmup_s"] = None, 0.0
        if wl.warm_up:
            sid = tr.open("warmup", s_setup)
            isolate(spark)
            wdir = os.path.join(work, "op-warmup")
            wl.next_input(spark, wdir)
            out = wl.op(spark, wdir, op_step(sid))
            expect = fingerprint(out)
            if not wl.repeat:
                report["fingerprints"]["0"] = expect
            shutil.rmtree(wdir, ignore_errors=True)
            report["warmup_s"] = tr.close(sid)
        tr.close(s_setup)
        report["setup_s"] = time.perf_counter() - t_setup

        first_cached = None

        def one_op(k: int, traced: bool):
            nonlocal first_cached, expect
            isolate(spark)
            at_start = cached_bytes(spark)
            first_cached = at_start if first_cached is None else first_cached
            rec = {"cached_bytes_at_start": at_start, "cache_flag": at_start != first_cached,
                   "traced": traced, "dir": os.path.join(work, f"op-{k}")}
            wl.next_input(spark, rec["dir"])
            elog = EventLog(spark, os.path.join(work, "events"), f"op-{k}") if traced else None
            sampler = Sampler(ROOT) if traced else contextlib.nullcontext()
            sid = tr.open("op-traced" if traced else "op", tr.root)
            rec["span"] = sid
            t0 = time.perf_counter()
            try:
                with sampler:
                    out = wl.op(spark, rec["dir"], op_step(sid))
                    rec["s"] = time.perf_counter() - t0
                    tr.close(sid)
                if traced:
                    span = tr.spans[sid]
                    steps = [(s["layer"], s["start"], s["end"]) for s in tr.spans
                             if s["parent"] == sid]
                    rec["trace"] = analyze(elog.close(), sampler.samples,
                                           span["start"], span["end"], steps)
                    rec["trace"]["window_s"] = span["end"] - span["start"]
                    for layer, a, b in rec["trace"].pop("spans"):
                        tr.add(layer, sid, a, b)
                if tamper:
                    out = tamper(out)
                fp = fingerprint(out)
                if wl.repeat:
                    expect = expect or fp
                    rec["ok"] = fp == expect
                    report["fingerprints"]["all"] = expect
                else:
                    rec["ok"] = True
                    report["fingerprints"][str(k + 1)] = fp
                rec["fingerprint"] = fp
                rec["ok"] = rec["ok"] and wl.check(spark, out, rec["dir"])
            except Exception as ex:  # an operation that raises counts as failed
                rec.setdefault("s", time.perf_counter() - t0)
                if tr.spans[sid]["end"] is None:
                    tr.close(sid)
                rec.update(ok=False, error=f"{type(ex).__name__}: {str(ex)[:500]}")
                out = None
            report["ops"].append(rec)
            return rec, out

        # a workload measured cold has one operation per session; in a traced
        # run that operation is the traced one
        t_measure = time.perf_counter()
        while True:
            rec, out = one_op(len(report["ops"]), traced=trace and not wl.warm_up)
            if not wl.warm_up or time.perf_counter() - t_measure >= seconds:
                break
            shutil.rmtree(rec["dir"], ignore_errors=True)
        # the independent reference check, once per run, on the last output
        report.update(precision=0.0, recall=0.0)
        if out is not None:
            sid = tr.open("reference", tr.root)
            p, r, detail = wl.reference(spark, out, rec["dir"])
            tr.close(sid)
            report.update(precision=p, recall=r, reference=detail)
            rec["ok"] = rec["ok"] and p >= wl.min_pr and r >= wl.min_pr
        if trace and wl.warm_up:
            shutil.rmtree(rec["dir"], ignore_errors=True)
            rec, out = one_op(len(report["ops"]), traced=True)
        if trace and out is not None:
            rec["counters"] = wl.counters(spark, out, rec["dir"])
        shutil.rmtree(rec["dir"], ignore_errors=True)
        report["attempted"] = len(report["ops"])
        report["failed"] = sum(not o["ok"] for o in report["ops"])
        report["peak_rss_mb"] = peak_rss_mb(jvm_pid)
        report["pages"] = wl.pages
    finally:
        tr.close(tr.root)
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    report["host_end"] = host_facts()
    report["spans"] = tr.spans
    report["self_times"] = tr.self_times()
    # only a correct, untampered run's outputs become the reference
    report["fingerprint_stable"] = check_fingerprints(
        report, os.path.join(bench_dir, "fingerprints.json"),
        store=report["failed"] == 0 and tamper is None)
    if not report["fingerprint_stable"]:
        report["failed"] = max(report["failed"], 1)
    os.makedirs(os.path.join(bench_dir, "results"), exist_ok=True)
    with open(os.path.join(bench_dir, "results", stamp + ".json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    return report


def untraced_build_s(report: dict) -> float | None:
    """Median untraced operation time: this run's, or for a traced run of a
    workload measured cold, the median of earlier untraced runs' results of
    the same code, seed and size."""
    own = [o["s"] for o in report["ops"] if not o["traced"]]
    if own:
        return statistics.median(own)
    earlier = []
    for f in glob.glob(os.path.join(ROOT, ".kgbench", "results", f"{report['workload']}-s{report['seed']}-t0-*.json")):
        with open(f) as fh:
            r = json.load(fh)
        if (r.get("code"), r["seed"], r["scale"]) == (report["code"], report["seed"], report["scale"]) \
                and r["failed"] == 0:
            earlier.append(statistics.median(o["s"] for o in r["ops"]))
    return statistics.median(earlier) if earlier else None


def end_to_end(report: dict) -> dict:
    build = untraced_build_s(report) or report["ops"][0]["s"]
    vals = {
        "setup_s": report["setup_s"], "build_s": build,
        "pages_per_s": report["pages"] / build,
        "precision": report["precision"], "recall": report["recall"],
        "peak_rss_mb": report["peak_rss_mb"],
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in vals.items()}


def per_layer(report: dict) -> dict:
    from kgbench.trace import LAYERS, per_layer_names, unit_of

    traced = report["ops"][-1]
    m = dict(traced.get("trace", {}).get("metrics", {}))
    m.update(traced.get("counters", {}))
    # 0 when no untraced run of the same code, seed and size is known
    base = untraced_build_s(report)
    m["trace.overhead_s"] = traced["s"] - base if base is not None else 0.0
    # attributed layer time over the traced operation's span, both on the
    # epoch clock; session start belongs to set-up and is added after
    m["trace.coverage"] = sum(m.get(f"{la}.busy_s", 0.0) for la in LAYERS) / max(
        traced.get("trace", {}).get("window_s", 0.0), 1e-9)
    m["session.busy_s"] = report["session_s"]
    m["session.warmup_s"] = report["warmup_s"]
    m["spark.cached_bytes_at_start"] = traced["cached_bytes_at_start"]
    # the benchmark's own step spans of the traced operation (live_update)
    for s in report["spans"]:
        if s["parent"] == traced.get("span") and s["name"].startswith("live."):
            m[s["name"] + "_s"] = s["end"] - s["start"]
    return {k: {"value": float(m.get(k, 0)), "unit": unit_of(k)} for k in per_layer_names()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"kgbench: not a kgforge checkout (missing {', '.join(missing)}); "
              "run from the repository root", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT]
    from kgbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"kgbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    report = run(args.workload, args.seed, args.seconds, bool(args.trace))
    metrics = per_layer(report) if args.trace else end_to_end(report)
    print(json.dumps({"correct": report["failed"] == 0, "attempted": report["attempted"],
                      "failed": report["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
