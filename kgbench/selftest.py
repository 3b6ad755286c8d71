"""Self-test of the benchmark at a tiny input size.

    python3 kgbench/selftest.py [workload ...]

Run from the repository root. For every workload (those ``BENCHMARK.json``
names and the ones only run by hand) it makes one traced run at a tenth of the
benchmark's input size and checks that

- every declared end-to-end and per-layer metric is produced, with its unit;
- every span has a parent within its workload and no self time is negative;
- the attributed layer time of the traced operation covers its wall time to
  within 5%, and every layer the workload touches has busy time;
- the run is correct, and a run whose outputs each lose one quad is reported
  as failed. That run uses a seed no correct run has stored fingerprints for,
  so only the run's own checks can catch it.

Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

SCALE = 0.1


def drop_one_quad(out):
    """The measured output with one (deterministically chosen) quad removed."""
    from pyspark.sql import functions as F

    from kgbench.workloads import QUAD_COLS

    victim = out.orderBy(*QUAD_COLS).limit(1)
    return out.join(victim, [out[c].eqNullSafe(victim[c]) for c in QUAD_COLS], "left_anti") \
        .select(*[F.col(c) for c in out.columns])


def isolated_run(name: str, trace: bool, seed: int, tamper: str = "None") -> dict:
    """One ``run()`` in its own process: kgforge keeps JVM-bound UDF objects
    at module level, so one process hosts one Spark session."""
    code = (
        "import json, sys; sys.path[:0] = [%r]\n"
        "from kgbench import run as R, selftest as T\n"
        "rep = R.run(%r, seed=%d, seconds=1, trace=%r, scale=T.SCALE, tamper=%s)\n"
        "print('REPORT ' + json.dumps(rep, default=str))" % (os.getcwd(), name, seed, trace, tamper)
    )
    proc = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True, timeout=900)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("REPORT ")]
    if proc.returncode or not lines:
        raise RuntimeError(f"{name} run failed:\n{proc.stderr[-3000:]}")
    return json.loads(lines[-1][len("REPORT "):])


def main() -> int:
    root = os.getcwd()
    sys.path[:0] = [root]
    from kgbench import run as R
    from kgbench.workloads import WORKLOADS

    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []

    def check(cond: bool, what: str) -> None:
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            problems.append(what)

    for name in sys.argv[1:] or WORKLOADS:
        rep = isolated_run(name, trace=True, seed=1)
        check(rep["failed"] == 0, f"{name}: correct run has no failures")
        for kind, metrics in (("end_to_end", R.end_to_end(rep)), ("per_layer", R.per_layer(rep))):
            for m in bench[kind]:
                got = metrics.get(m["name"])
                check(got is not None and got["unit"] == m["unit"]
                      and isinstance(got["value"], (int, float)),
                      f"{name}: {kind} {m['name']} printed in {m['unit']}")
        ids = {s["id"] for s in rep["spans"]}
        roots = [s for s in rep["spans"] if s["parent"] is None]
        check(len(roots) == 1 and roots[0]["name"] == name, f"{name}: one root span")
        check(all(s["parent"] in ids for s in rep["spans"] if s["parent"] is not None),
              f"{name}: every span has a parent within the workload")
        check(min(rep["self_times"].values()) >= -1e-6, f"{name}: every self time >= 0")
        layer = R.per_layer(rep)
        cov = layer["trace.coverage"]["value"]
        check(abs(cov - 1) <= 0.05, f"{name}: attributed layer time covers the traced op ({cov:.3f})")
        for la in WORKLOADS[name].layers:
            busy = layer[f"{la}.busy_s"]["value"]
            check(busy > 0, f"{name}: {la}.busy_s > 0 ({busy:.3f})")

        bad = isolated_run(name, trace=False, seed=1001, tamper="T.drop_one_quad")
        check(bad["failed"] >= 1, f"{name}: an output with one quad dropped is reported failed")
    print("RESULT:", "ALL OK" if not problems else f"{len(problems)} FAILED")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
