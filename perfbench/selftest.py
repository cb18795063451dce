"""Self-test of the benchmark at tiny input sizes.

    python3 perfbench/selftest.py

Runs every workload of BENCHMARK.json untraced and traced with
``--scale tiny`` and asserts that:

- each run exits 0 with ``correct`` true and no failed op;
- every end-to-end metric (untraced) and every per-layer metric
  (traced) named in BENCHMARK.json is printed with its unit, and
  nothing else is;
- the traced run wrote a path label for every op of every traced job;
- a deliberately corrupted reference is reported as a failed op, with
  ``correct`` false and a non-zero exit code;
- no process a run started outlives it (the self-test is the child
  subreaper of the runs, so their orphans would be re-parented to it).

Exits non-zero on the first broken assertion.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import _become_subreaper, _children  # noqa: E402


def _run(workload: str, trace: int, *extra: str) -> tuple:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", "3", "--seconds", "1", "--trace", str(trace),
           "--scale", "tiny", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    left = _children()
    if left:
        raise AssertionError(f"{cmd} left processes behind: {left}")
    lines = p.stdout.strip().splitlines()
    if not lines:
        raise AssertionError(f"{cmd} printed nothing:\n{p.stderr[-3000:]}")
    return p.returncode, json.loads(lines[-1])


def _check_metrics(result: dict, spec: list, what: str) -> None:
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        raise AssertionError(f"{what}: metrics/units differ: got {got}, "
                             f"want {want}")
    for name, v in result["metrics"].items():
        if not isinstance(v["value"], (int, float)):
            raise AssertionError(f"{what}: {name} is not a number: {v}")


def main() -> int:
    _become_subreaper()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for wl in (w["name"] for w in bench["workloads"]):
        for trace, spec in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            rc, res = _run(wl, trace)
            what = f"{wl} trace={trace}"
            if rc != 0 or not res["correct"] or res["failed"] or \
                    res["attempted"] < 1:
                raise AssertionError(f"{what}: rc={rc} result={res}")
            _check_metrics(res, spec, what)
            if trace:
                path = os.path.join(ROOT, ".perfbench_out",
                                    f"trace-{wl}-seed3.json")
                with open(path) as fh:
                    record = json.load(fh)
                ops = [o for job in record["traced_jobs"] for o in job["ops"]]
                if not ops or not all("refine" in o.get("path", {}) for o in ops):
                    raise AssertionError(f"{what}: ops without a path label")
            print(f"ok   {what}", flush=True)
    wl = bench["workloads"][0]["name"]
    rc, res = _run(wl, 0, "--corrupt-reference")
    if rc == 0 or res["correct"] or res["failed"] < 1:
        raise AssertionError(f"corrupted reference not reported: rc={rc} {res}")
    print(f"ok   {wl} with a corrupted reference fails "
          f"({res['failed']} of {res['attempted']} ops)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
