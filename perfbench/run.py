"""Seeded closed-loop benchmark of rsgislib_spark.

    python3 perfbench/run.py --workload pages_join --seed 7 --seconds 15 --trace 0

One client and one driver process on ``local[<cores>]``, no concurrent
jobs. Set-up starts Spark, writes the workload's seeded inputs as
parquet, builds the DuckDB reference of every op in a child process and
then runs every op once at the timed sizes as a warm pass (on parallel
threads, which only shortens set-up). Then jobs run back to back for
``--seconds``, and at least ``MIN_JOBS`` of them; a job constructs
every op of the workload (the public library calls), collects each
result and checks its row count and order-insensitive digest against
the reference. Between jobs, outside the timed region, persisted and
checkpointed blocks are released and both garbage collectors run.
``peak_rss_mb`` is the median over the timed jobs of each job's peak
resident memory: the VmHWM of the driver JVM plus this process, both
restarted just before the job, so set-up never sets it.
Metric names and units come from ``BENCHMARK.json``.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced jobs: traced jobs record spans around every public
call and action, tag their Spark jobs with job groups and read stage
and SQL metrics from the status store; it prints the per-layer
metrics and writes spans and per-op records (with the physical path
each op took) under ``.perfbench_out/``.

The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. The exit code is non-zero
when any op failed or its result differed from the reference.
Everything the run writes stays under the checkout's
``.perfbench_work/`` (removed at exit) and ``.perfbench_out/``.
Every process the run starts, and every process those leave behind,
has ended before it exits.
"""

from __future__ import annotations

import os
import time

_T0 = time.perf_counter()


def _process_age() -> float:
    """Seconds since this process started (from /proc, so interpreter
    start-up counts toward set-up)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


_AGE0 = _process_age()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import pickle  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

from workloads import _NULL  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    _SPEC = json.load(_fh)
# metric name -> unit, in BENCHMARK.json's order
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}
# timed jobs per run, however long they take: a layer_ops job is ~14 s
# of mostly fixed per-op cost (13.5 s at the self-test's tiny sizes),
# and a third one per run would not fit the benchmark's time budget
MIN_JOBS = 2
_MB = 1 << 20


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input sizes; tiny is for the self-test")
    ap.add_argument("--corrupt-reference", action="store_true",
                    help="flip one reference digest (self-test of the check)")
    return ap.parse_args(argv)


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Bench:
    def __init__(self, args, work: str):
        from workloads import SIZES, WORKLOADS

        self.args = args
        self.work = work
        self.wl = WORKLOADS[args.workload](SIZES[args.scale])
        self.spark = None
        self.refs: dict = {}
        self.props: dict = {}
        self.attempted = 0
        self.failed = 0
        self.residue: list = []

    # ------------------------------------------------------------ set-up
    def start_spark(self):
        from rsgislib_spark.session import get_spark

        cores = len(os.sched_getaffinity(0))
        conf = {
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData",
            "spark.local.dir": f"{self.work}/local",
            "spark.sql.warehouse.dir": f"{self.work}/warehouse",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            conf.update({"spark.ui.retainedJobs": "100000",
                         "spark.ui.retainedStages": "100000",
                         "spark.sql.ui.retainedExecutions": "100000"})
        self.spark = get_spark(f"perfbench-{self.args.workload}",
                               master=f"local[{cores}]", **conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = self.spark.sparkContext._jvm.ProcessHandle.current().pid()

    def set_up(self) -> None:
        """Seeded inputs, their DuckDB reference, and one warm job.

        The reference is built in a child process, so its memory never
        counts toward ``peak_rss_mb``; it overlaps Spark's start-up
        when the inputs do not need Spark, and it always finishes
        before the warm job, which runs the ops side by side (this only
        shortens set-up; the timed loop runs one op at a time)."""
        from concurrent.futures import ThreadPoolExecutor

        data = os.path.join(self.work, "data")
        os.makedirs(data)
        seed = self.args.seed
        phases = {}
        t = time.perf_counter()
        ref = None
        try:
            if not self.wl.spark_inputs:
                self.inputs = self.wl.generate(None, seed, data)
                ref = self._start_reference()
            self.start_spark()
            phases["spark_s"] = time.perf_counter() - t
            if self.wl.spark_inputs:
                self.inputs = self.wl.generate(self.spark, seed, data)
                ref = self._start_reference()
            self.refs, self.props = self._reference_result(ref)
        finally:
            if ref is not None and ref.poll() is None:
                ref.kill()
                ref.wait()
        phases["inputs_reference_s"] = time.perf_counter() - t - phases["spark_s"]
        t = time.perf_counter()
        self.ops = self.wl.ops(self.spark, self.inputs)
        with ThreadPoolExecutor(max_workers=len(self.ops)) as pool:
            warm = list(pool.map(self._warm_op, self.ops))
        for op, got in zip(self.ops, warm):
            if got != self.refs[op.name]:
                print(f"warm {op.name}: {got} differs from the reference "
                      f"{self.refs[op.name]}", file=sys.stderr)
        self.drop_residue()
        phases["warm_s"] = time.perf_counter() - t
        self.phases = phases
        if self.args.corrupt_reference:
            name = sorted(self.refs)[0]
            rows, dg = self.refs[name]
            self.refs[name] = (rows, dg[:-1] + ("0" if dg[-1] != "0" else "1"))

    def _start_reference(self) -> subprocess.Popen:
        """Start ``workloads.py`` building the DuckDB reference in a
        child Python process (no multiprocessing, so no helper process
        outlives the run)."""
        args = os.path.join(self.work, "reference_args.pickle")
        with open(args, "wb") as fh:
            pickle.dump((self.args.workload, self.args.scale, self.work,
                         self.inputs), fh)
        return subprocess.Popen(
            [sys.executable, os.path.join(HERE, "workloads.py"), args,
             os.path.join(self.work, "reference.pickle")],
            stdout=sys.stderr.fileno())

    def _reference_result(self, proc: subprocess.Popen) -> tuple:
        if proc.wait() != 0:
            raise RuntimeError(f"reference build exited with {proc.returncode}")
        with open(os.path.join(self.work, "reference.pickle"), "rb") as fh:
            return pickle.load(fh)

    def _warm_op(self, op):
        from workloads import digest

        try:
            return digest(op.build(_NULL).toPandas())
        except Exception as exc:  # noqa: BLE001 — reported, the timed ops count it
            return f"{type(exc).__name__}: {exc}"[:500]

    # --------------------------------------------------------------- jobs
    def run_job(self, tr) -> dict:
        """One job: every op constructed, collected and checked."""
        from workloads import digest

        rec = {"ops": [], "wall_s": None}
        t0 = time.perf_counter()
        for op in self.ops:
            orec = {"name": op.name, "ok": False}
            self.attempted += 1
            try:
                with tr.span(f"op.{op.name}.construct"):
                    df = op.build(tr)
                with tr.span(f"{op.layer}.action"):
                    pdf = df.toPandas()
                with tr.span(f"op.{op.name}.check", group=False):
                    got = digest(pdf)
                orec["rows"] = got[0]
                orec["ok"] = got == self.refs[op.name]
                if not orec["ok"]:
                    orec["expected_rows"] = self.refs[op.name][0]
            except Exception as exc:  # noqa: BLE001 — a failed op is counted, the loop goes on
                orec["error"] = f"{type(exc).__name__}: {exc}"[:500]
            if not orec["ok"]:
                self.failed += 1
                print(f"FAILED {op.name}: {orec}", file=sys.stderr)
            rec["ops"].append(orec)
        rec["wall_s"] = time.perf_counter() - t0
        return rec

    def drop_residue(self) -> int:
        """Release persisted and localCheckpoint blocks and run both
        GCs (outside the timed region); returns how many persisted
        RDDs the job left behind."""
        jsc = self.spark.sparkContext._jsc
        rdds = list(jsc.getPersistentRDDs().values())
        for rdd in rdds:
            rdd.unpersist(False)
        self.spark.catalog.clearCache()
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        return len(rdds)

    def reset_peak_rss(self) -> None:
        """Restart both processes' VmHWM at their current RSS."""
        for pid in (self.jvm_pid, "self"):
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")

    def peak_rss_mb(self) -> float:
        return _vm_hwm_mb(self.jvm_pid) + _vm_hwm_mb("self")

    def stop(self) -> None:
        from pyspark import SparkContext

        if self.spark is None:
            return
        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None


def _timed_loop(bench, seconds: float, traced: bool):
    """Untraced: jobs back to back. Traced: untraced and traced jobs
    alternate, so both sides of trace.overhead_frac share the window."""
    from tracing import StatusReader, Tracer

    tracer = Tracer(bench.spark) if traced else None
    reader = StatusReader(bench.spark) if traced else None
    plain, traced_jobs = [], []
    deadline = time.perf_counter() + seconds
    while True:
        use_trace = traced and len(plain) > len(traced_jobs)
        bench.reset_peak_rss()
        if use_trace:
            tracer.begin_job()
            since = len(tracer.spans)
            rec = bench.run_job(tracer)
            rec["layers"] = _harvest(bench, tracer, reader, rec, since)
            traced_jobs.append(rec)
        else:
            rec = bench.run_job(_NULL)
            plain.append(rec)
        rec["peak_rss_mb"] = bench.peak_rss_mb()
        residue = bench.drop_residue()
        bench.residue.append(residue)
        rec["residue_rdds"] = residue
        done = len(plain) + len(traced_jobs)
        if time.perf_counter() >= deadline and done >= MIN_JOBS and (
                not traced or traced_jobs):
            break
    return plain, traced_jobs, tracer


def _descendants(spans: list, since: int) -> dict:
    """span id -> job groups of the span and every span nested in it."""
    out = {s["id"]: set() for s in spans[since:]}
    for s in spans[since:]:
        node = s if s["group"] else None
        while node is not None:
            out[node["id"]].add(s["group"])
            node = spans[node["parent"]] if node["parent"] is not None else None
    return out


def _harvest(bench, tracer, reader, rec: dict, since: int) -> dict:
    """Per-layer metrics of one traced job (stage and SQL metrics read
    after the job, then the ops' probes run outside its timing)."""
    from tracing import busy_seconds, path_label

    reader.drain()
    spans = tracer.spans
    job_spans = spans[since:]
    groups = _descendants(spans, since)
    jobs_of = {g: reader.jobs(g) for s in job_spans
               for g in ([s["group"]] if s["group"] else [])}

    def span_jobs(s):
        return sorted({j for g in groups[s["id"]] for j in jobs_of[g]})

    def dur(name):
        return sum(s["end"] - s["start"] for s in job_spans if s["name"] == name)

    all_jobs = sorted({j for js in jobs_of.values() for j in js})
    stages = reader.stages(all_jobs)
    plans = reader.executions(all_jobs)
    op_construct = [s for s in job_spans if s["name"].startswith("op.")
                    and s["name"].endswith(".construct")]
    construct_s = sum(s["end"] - s["start"] for s in op_construct)
    eager = sorted({j for s in op_construct for j in span_jobs(s)})
    action_spans = [s for s in job_spans if s["parent"] is None
                    and s["name"].endswith(".action")]
    action_jobs = sorted({j for s in action_spans for j in span_jobs(s)})
    py = [p for plan in plans for p in plan["python"]]
    m = {
        "driver.construct_s": construct_s,
        "driver.eager_jobs": len(eager),
        "driver.sched_gap_s": (rec["wall_s"] - construct_s
                               - busy_seconds(reader.stages(action_jobs))),
        "exec.jobs": len(all_jobs),
        "exec.stages": len(stages),
        "exec.tasks": sum(s["tasks"] for s in stages),
        "exec.cpu_s": sum(s["cpu_s"] for s in stages),
        "exec.run_s": sum(s["run_s"] for s in stages),
        "exec.gc_s": sum(s["gc_s"] for s in stages),
        "exec.codegen_s": sum(p["codegen_s"] for p in plans),
        "exec.shuffle_write_mb": sum(s["shuffle_write_b"] for s in stages) / _MB,
        "exec.shuffle_read_mb": sum(s["shuffle_read_b"] for s in stages) / _MB,
        "exec.spill_mb": sum(s["spill_b"] for s in stages) / _MB,
        "python.nodes": len(py),
        "python.rows_in": sum(p["rows_in"] for p in py),
        "python.rows_out": sum(p["rows_out"] for p in py),
        "python.mb_sent": sum(p["bytes_sent"] for p in py) / _MB,
        "python.mb_received": sum(p["bytes_received"] for p in py) / _MB,
    }
    for name in PER_LAYER:
        layer, _, metric = name.rpartition(".")
        if metric == "construct_s" and layer != "driver":
            m[name] = dur(f"{layer}.construct")
        elif metric == "action_s":
            m[name] = dur(f"{layer}.action")
        elif metric == "eager_jobs" and layer != "driver":
            m[name] = len({j for s in job_spans if s["name"] == f"{layer}.construct"
                           for j in span_jobs(s)})
    zonal = [s for s in action_spans if s["name"] == "zonal.action"]
    m["zonal.shuffle_write_mb"] = sum(
        s["shuffle_write_b"] for s in reader.stages(
            sorted({j for s in zonal for j in span_jobs(s)}))) / _MB

    m["driver.residue_rdds"] = len(
        bench.spark.sparkContext._jsc.getPersistentRDDs())
    # per op: the physical path, and the counts its action's plans carry
    for orec, op in zip(rec["ops"], bench.ops):
        op_spans = [s for s in job_spans if s["parent"] is None and s["name"] in
                    (f"op.{op.name}.construct", f"{op.layer}.action")]
        orec["path"] = path_label(reader.executions(
            sorted({j for s in op_spans for j in span_jobs(s)})))
        act_plans = reader.executions(sorted(
            {j for s in op_spans if s["name"] == f"{op.layer}.action"
             for j in span_jobs(s)}))
        if op.join:
            joins = [j for p in act_plans for j in p["cell_joins"]]
            m[f"{op.join}.cover_rows"] = sum(p["cover_rows"] for p in act_plans)
            m[f"{op.join}.candidates"] = sum(j["candidates"] for j in joins)
            m[f"{op.join}.matched"] = sum(j["matched"] for j in joins)
        pairs = [p["pair_candidates"] for p in act_plans
                 if p["pair_candidates"] is not None]
        if pairs and orec["ok"]:
            m[f"{op.layer}.keep_ratio"] = orec["rows"] / sum(pairs)
    # then the probes, outside the job's timing
    probe_since = len(spans)
    for orec, op in zip(rec["ops"], bench.ops):
        if op.probe is None or not orec["ok"]:
            continue
        with tracer.span(f"probe.{op.name}"):
            m.update(op.probe(tracer))
    for s in spans[probe_since:]:
        if s["name"] in ("geoparse.self", "cells.self", "spatial_join.action"):
            m[s["name"] + "_s"] = s["end"] - s["start"]
    if "geoparse.self_s" in m:
        scan = next(s for s in spans[probe_since:] if s["name"] == "scan.self")
        cells = m["cells.self_s"]
        m["cells.self_s"] = cells - m["geoparse.self_s"]
        m["geoparse.self_s"] -= scan["end"] - scan["start"]
        m["spatial_join.action_s"] -= cells
    for layer in ("spatial_join", "spatial_join_df"):
        cand = m.get(f"{layer}.candidates", 0)
        m[f"{layer}.keep_ratio"] = (m.get(f"{layer}.matched", 0) / cand
                                    if cand else 0.0)
    return m


def _become_subreaper() -> None:
    """Make this process the child subreaper of everything it starts,
    so a process orphaned by the driver JVM (spark-class's launcher
    shell, PySpark's worker daemon and its workers) is re-parented
    here instead of to init, and ``_stop_children`` can end it."""
    import ctypes

    pr_set_child_subreaper = 36
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(pr_set_child_subreaper, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _children() -> list:
    me = str(os.getpid())
    kids = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                if fh.read().rsplit(")", 1)[1].split()[1] == me:
                    kids.append(int(pid))
        except (OSError, IndexError):
            pass
    return kids


def _stop_children(grace_s: float = 10.0) -> None:
    """Reap every process left under this one: children get
    ``grace_s`` seconds to end by themselves (the JVM's orphans end
    when its pipes close), then are killed; returns once this process
    has no child left, alive or zombie."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG)[0]:
                continue
        except ChildProcessError:
            return
        if time.monotonic() > deadline:
            for pid in _children():
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def _on_sigterm(signum, frame):
    raise SystemExit(128 + signum)


def _metric(value, unit):
    return {"value": value, "unit": unit}


def main(argv=None) -> int:
    args = _parse(argv)
    _become_subreaper()
    signal.signal(signal.SIGTERM, _on_sigterm)
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    for sub in ("tmp", "local", "warehouse", "duckdb"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # everything Spark, its Python workers and DuckDB write stays in
    # the checkout; the workers import the engine from the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # spark-submit's launcher JVM, which starts before the driver's
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    bench = None
    try:
        import rsgislib_spark  # noqa: F401 — fail fast outside a checkout

        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; "
                             f"choose from {sorted(WORKLOADS)}")
        bench = Bench(args, work)
        bench.set_up()
        setup_s = _AGE0 + (time.perf_counter() - _T0)
        t_loop = time.perf_counter()
        plain, traced, tracer = _timed_loop(bench, args.seconds,
                                            bool(args.trace))
        loop_s = time.perf_counter() - t_loop
        walls = [r["wall_s"] for r in plain]
        job_p50 = statistics.median(walls)
        print(f"workload={args.workload} seed={args.seed} "
              f"properties={json.dumps(bench.props, sort_keys=True)}")
        print("setup " + " ".join(f"{k}={v:.2f}"
                                  for k, v in bench.phases.items()))
        if args.trace:
            metrics, record = _layer_report(bench, plain, traced, tracer)
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            path = os.path.join(
                out_dir, f"trace-{args.workload}-seed{args.seed}.json")
            with open(path, "w") as fh:
                json.dump(record, fh, indent=1, default=str)
            print(f"trace written to {os.path.relpath(path, ROOT)}")
        else:
            values = {"setup_s": setup_s, "job_s_p50": job_p50,
                      "input_rows_per_s": bench.wl.n * len(walls) / sum(walls),
                      "peak_rss_mb": statistics.median(
                          r["peak_rss_mb"] for r in plain)}
            metrics = {k: _metric(values[k], u) for k, u in END_TO_END.items()}
        failed_frac = bench.failed / bench.attempted
        print(f"jobs={len(walls)} job_s_p50={job_p50:.4f} s "
              f"failed_frac={failed_frac} (fraction) "
              f"ops_attempted={bench.attempted} loop_s={loop_s:.2f} "
              f"residue_rdds={sum(bench.residue)}")
        print("job_walls_s=" + ",".join(f"{w:.3f}" for w in walls)
              + " job_peaks_mb=" + ",".join(f"{r['peak_rss_mb']:.0f}"
                                            for r in plain))
        result = {"correct": bench.failed == 0, "attempted": bench.attempted,
                  "failed": bench.failed, "metrics": metrics}
    finally:
        try:
            if bench is not None:
                bench.stop()
        finally:
            _stop_children()
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def _layer_report(bench, plain, traced, tracer):
    layer_jobs = [r["layers"] for r in traced]
    metrics = {}
    for name, unit in PER_LAYER.items():
        vals = [j.get(name, 0) for j in layer_jobs]
        metrics[name] = _metric(statistics.median(vals) if vals else 0, unit)
    base = statistics.median(r["wall_s"] for r in plain)
    over = statistics.median(r["wall_s"] for r in traced) / base - 1.0
    metrics["trace.overhead_frac"] = _metric(over, "ratio")
    record = {
        "workload": bench.args.workload, "seed": bench.args.seed,
        "properties": bench.props,
        "untraced_jobs": plain, "traced_jobs": traced,
        "spans": tracer.spans, "per_layer": metrics,
    }
    return metrics, record


if __name__ == "__main__":
    sys.exit(main())
