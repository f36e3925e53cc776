"""Layered benchmark of the PySpark engine: one workload per process.

    python3 perfbench/run.py --workload ssc_grid --seed 1 --seconds 5 --trace 0

Runs one workload (see ``workloads.py`` and ``README.md``) on
``local[k]``, k = min(4, nproc), as a closed loop with one operation in
flight. Set-up (session start, registry import, an untimed warm-up pass
at the benchmark scale whose outputs are checked) is followed by timed
passes over the workload's operations until ``--seconds`` have been
measured.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). With ``--trace 1`` every
operation, grid cell, build and exec is a span with its own Spark job
group; the span tree is written to ``perfbench/.work/``.

Exits 2 without a result when the program (``tfm_semisup_spark``) is
not importable from the directory above this one.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import gc  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import contextmanager  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import counters  # noqa: E402
import workloads  # noqa: E402

DEFAULT_SEED = 1
#: digests of seed-dependent outputs are pinned for this parallelism
PINNED_PARALLELISM = 4
MAX_CPUS = 4


def _heap_size() -> str:
    """Driver heap: 3 GiB, or a quarter of physical memory if smaller."""
    with open("/proc/meminfo") as fh:
        total_kib = int(fh.readline().split()[1])
    return f"{min(3072, total_kib // 4096)}m"


def _pin_environment(cpus: int, heap: str) -> None:
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEM"] = heap
    os.environ.pop("SPARK_MASTER", None)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp


def _spark_conf() -> dict[str, str]:
    return {
        # a run launches hundreds of jobs (1,000 are kept by default);
        # keep every job and stage until the run has read them
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # keep the JVM's temp files (and its perf-data file) out of /tmp
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"
        ),
    }


class Tracer:
    """Spans kept in memory. Each span has its own Spark job group, so
    the jobs launched inside it (and their stages) attach to it."""

    def __init__(self, spark, run_id: str, tree: counters.ProcTree, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.tree = tree
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.idle_group = f"{run_id}/untimed"

    def _set_group(self, group: str) -> None:
        self.spark.sparkContext.setJobGroup(group, group)

    @contextmanager
    def span(self, name: str, kind: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "run": self.run_id,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "kind": kind,
            **attrs,
        }
        rec["group"] = f"{self.run_id}/{rec['id']}"
        self.spans.append(rec)
        self._set_group(rec["group"])
        rec["py_cpu0"] = time.process_time()
        rec["pyw_cpu0"] = self.tree.python_worker_cpu_s()
        rec["t0"] = time.perf_counter()
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            rec["py_cpu1"] = time.process_time()
            rec["pyw_cpu1"] = self.tree.python_worker_cpu_s()
            self._stack.pop()
            self._set_group(self._stack[-1]["group"] if self._stack else self.idle_group)


class Bench:
    """Runs the operations of a pass, times them and checks their outputs."""

    def __init__(self, args, spark, tracer, pins, oracle, out_dir):
        self.args = args
        self.spark = spark
        self.tracer = tracer
        self.pins = pins
        self.oracle = oracle
        self.out_dir = out_dir
        self.problems: list[str] = []
        #: time spent checking outputs, which set-up does not count
        self.check_s = 0.0
        self.parallelism = spark.sparkContext.defaultParallelism

    # -- timed work ----------------------------------------------------

    def _build_exec(self, name, build, sink_path):
        """Timed build + exec of one DataFrame; returns (df, build_s, exec_s)."""
        with self.tracer.span(name, "build"):
            t0 = time.perf_counter()
            df = build()
            t1 = time.perf_counter()
        with self.tracer.span(name, "exec"):
            if sink_path:
                workloads.parquet_write(df, sink_path)
            else:
                workloads.noop_write(df)
            t2 = time.perf_counter()
        return df, t1 - t0, t2 - t1

    def run_op(self, op, pass_no: int, check: bool) -> dict:
        """One operation: timed work, then untimed checks and cleanup."""
        rec = {"op": op.name, "s": 0.0, "ok": True, "cells": []}
        sink = os.path.join(self.out_dir, op.name) if op.sink == "parquet" else None
        with self.tracer.span(op.name, "op", pass_no=pass_no):
            try:
                if op.cells:
                    for cell in self._ordered(op.cells):
                        with self.tracer.span(cell.name, "cell", table=cell.table,
                                              family=cell.family):
                            df, b, e = self._build_exec(cell.name, cell.build, None)
                        rec["s"] += b + e
                        rec["cells"].append(
                            {"name": cell.name, "table": cell.table,
                             "family": cell.family, "s": b + e, "df": df, "rows": []}
                        )
                else:
                    df, b, e = self._build_exec(op.name, op.build, sink)
                    rec["s"] = b + e
                    rec["df"] = df
            except Exception:
                rec["ok"] = False
                self.problems.append(f"{op.name}: raised\n{traceback.format_exc()}")
        if rec["ok"] and check:
            t = time.perf_counter()
            try:
                problems = self._check(op, rec, sink)
            except Exception:
                problems = [f"{op.name}: check raised\n{traceback.format_exc()}"]
            self.check_s += time.perf_counter() - t
            if problems:
                rec["ok"] = False
                self.problems += problems
        rec.pop("df", None)
        for c in rec["cells"]:
            c.pop("df", None)
        self.spark.catalog.clearCache()
        gc.collect()
        return rec

    def _ordered(self, items):
        items = list(items)
        random.Random(self.args.seed).shuffle(items)
        return items

    def run_pass(self, ops, pass_no: int, check: bool) -> list[dict]:
        recs = [self.run_op(op, pass_no, check) for op in ops]
        self.spark._jvm.System.gc()
        return recs

    # -- checks (untimed) ----------------------------------------------

    def _pinned(self, key: str, got: tuple[str, int]) -> list[str]:
        """Compare with pins.json. The line names the digest obtained, so a
        change meant to alter results can paste it there."""
        want = self.pins.get(key)
        found = f'got {{"digest": "{got[0]}", "rows": {got[1]}}}'
        if want is None:
            return [f"{key}: no pinned digest; {found}"]
        if want["digest"] != got[0]:
            return [f"{key}: digest mismatch, pinned {want['rows']} rows; {found}"]
        return []

    def _check(self, op, rec, sink) -> list[str]:
        from tfm_semisup_spark.queries import ORACLES

        if op.check == workloads.ORACLE:
            got = checks.spark_digest(rec["df"])
            want = self.oracle.digest(ORACLES[op.name])
            if got[1] == 0:
                return [f"{op.name}: empty result"]
            if got != want:
                return [f"{op.name}: oracle mismatch ({got[1]} vs {want[1]} rows)"]
            return []
        if op.check == workloads.PINNED:
            got = checks.parquet_digest(sink) if sink else checks.spark_digest(rec["df"])
            if got[1] == 0:
                return [f"{op.name}: empty result"]
            return self._pinned(op.name, got)
        if op.check == workloads.HOLDOUT:
            rows = [r.asDict() for r in rec["df"].collect()]
            return checks.holdout_problems(rows) + self._pinned(
                op.name, (checks.digest(rec["df"].columns, rows), len(rows))
            )
        # GRID: invariants per cell, then the op's table at the default seed
        rows = []
        for c in rec["cells"]:
            c["rows"] = [r.asDict() for r in c["df"].collect()]
            rows += c["rows"]
        problems = checks.grid_problems(rows)
        ssl = [r for c in rec["cells"] if c["family"] != "supervised" for r in c["rows"]]
        if ssl and not any(r["LabeledFinal"] > r["LabeledInitial"] for r in ssl):
            problems.append(f"{op.name}: no self- or co-training cell promoted a pseudo-label")
        if self.args.seed == DEFAULT_SEED and self.parallelism == PINNED_PARALLELISM:
            cols = list(rows[0]) if rows else []
            problems += self._pinned(
                f"{op.name}@seed{DEFAULT_SEED}", (checks.digest(cols, rows), len(rows))
            )
        return problems


def _median(values):
    return statistics.median(values) if values else 0.0


def _layer_metrics(spans, by_group, passes, parallelism, warm) -> dict[str, float]:
    """Per-layer metrics, each the median over timed passes of its
    per-pass total. Spark counters come from each span's job group."""
    by_id = {s["id"]: s for s in spans}
    empty = dict.fromkeys(counters.GROUP_METRICS, 0.0)
    own = {s["id"]: by_group.get(s["group"], empty) for s in spans}

    def pass_of(s):
        while s["kind"] != "op":
            s = by_id[s["parent"]]
        return s["pass_no"]

    def op_of(s):
        while s["kind"] != "op":
            s = by_id[s["parent"]]
        return s["name"]

    per_pass: dict[int, dict[str, float]] = {p: {} for p in range(len(passes))}

    def add(p, key, v):
        per_pass[p][key] = per_pass[p].get(key, 0.0) + v

    for s in spans:
        p = pass_of(s)
        m = own[s["id"]]
        dur = s["t1"] - s["t0"]
        for key in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                    "jvm_gc_s", "shuffle_read_mb", "shuffle_write_mb"):
            add(p, f"spark.{key}", m[key])
        for key in ("input_mb", "input_rows", "output_mb"):
            add(p, f"io.{key}", m[key])
        add(p, f"op.{op_of(s)}.jobs", m["jobs"])
        if s["kind"] in ("build", "exec"):
            add(p, f"{s['kind']}.s", dur)
            add(p, f"{s['kind']}.jobs", m["jobs"])
            add(p, "python_workers.cpu_s", s["pyw_cpu1"] - s["pyw_cpu0"])
        if s["kind"] == "build":
            add(p, "driver.py_cpu_s", s["py_cpu1"] - s["py_cpu0"])
        if s["kind"] == "cell":
            add(p, "ssc.cells", 1)
            add(p, "ssc.cell_jobs", sum(
                own[c["id"]]["jobs"] for c in spans if c["parent"] == s["id"]))

    out: dict[str, list[float]] = {}
    for p, recs in enumerate(passes):
        run_s = sum(r["s"] for r in recs)
        vals = per_pass[p]
        vals["spark.busy_frac"] = vals.get("spark.executor_run_s", 0.0) / (
            run_s * parallelism
        )
        for r in recs:
            vals[f"op.{r['op']}.s"] = r["s"]
        vals.update(_ssc_metrics(recs, vals, warm))
        for k, v in vals.items():
            out.setdefault(k, []).append(v)
    return {k: _median(v) for k, v in out.items()}


def _ssc_metrics(recs, vals, warm) -> dict[str, float]:
    cells = [c for r in recs for c in r["cells"]]
    if not cells:
        return {}
    out = {"ssc.holdout_s": sum(r["s"] for r in recs if r["op"] == "holdout_baselines")}
    for label, pick in (
        ("small", lambda c: c["table"] == "small"),
        ("large", lambda c: c["table"] == "large"),
        ("selftraining", lambda c: c["family"] == "selfTraining"),
        ("cotraining", lambda c: c["family"] == "coTraining"),
        ("supervised", lambda c: c["family"] == "supervised"),
    ):
        chosen = [c["s"] for c in cells if pick(c)]
        out[f"ssc.{label}.cell_s"] = sum(chosen) / len(chosen) if chosen else 0.0
    if vals.get("ssc.cells"):
        out["ssc.jobs_per_cell"] = vals["ssc.cell_jobs"] / vals["ssc.cells"]
    # the grid's results are those of the checked warm-up pass (the same
    # seed gives the same rows in every pass)
    ssl = [
        row for r in warm for c in r["cells"] if c["family"] != "supervised"
        for row in c["rows"]
    ]
    if ssl:
        out["ssc.iterations"] = sum(row["iteration"] for row in ssl) / len(ssl)
        out["ssc.promoted_frac"] = sum(
            row["LabeledFinal"] - row["LabeledInitial"] for row in ssl
        ) / sum(row["UnLabeledInitial"] for row in ssl)
    return out


def per_layer_names() -> tuple[list[str], dict[str, str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer"]], {
        m["name"]: m["unit"] for m in spec["per_layer"]
    }


def _stop(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it to exit (the
    JVM stops its Python workers as it shuts down)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    spec = importlib.util.find_spec("tfm_semisup_spark")
    if spec is None or not spec.origin.startswith(ROOT + os.sep):
        print(f"perfbench: program tfm_semisup_spark not found under {ROOT}",
              file=sys.stderr)
        return 2

    cpus = min(MAX_CPUS, os.cpu_count() or 1)
    heap = _heap_size()
    _pin_environment(cpus, heap)
    pins = checks.load_pins()

    tree = counters.ProcTree()
    with counters.RssSampler(tree) as rss:
        from tfm_semisup_spark.session import get_spark

        t = time.perf_counter()
        spark = get_spark(app_name="perfbench", extra_conf=_spark_conf())
        session_s = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")
        t = time.perf_counter()
        from tfm_semisup_spark.queries import load_all_queries

        load_all_queries()
        import_s = time.perf_counter() - t
        try:
            result = _run(args, spark, tree, rss, pins, session_s, import_s)
        finally:
            _stop(spark)
    for line in result.pop("report"):
        print(line)
    print(json.dumps(result))
    return 0


def _run(args, spark, tree, rss, pins, session_s, import_s) -> dict:
    sc = spark.sparkContext
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    tracer = Tracer(spark, run_id, tree, enabled=False)
    oracle = checks.Oracle(workloads.SF01, os.path.join(WORK, "oracle-digests.json"))
    out_dir = os.path.join(WORK, "out", run_id)
    bench = Bench(args, spark, tracer, pins, oracle, out_dir)
    ops = bench._ordered(workloads.WORKLOADS[args.workload](spark, args.seed))

    # one untimed warm-up pass at the benchmark scale; its outputs are the
    # ones checked, so the timed passes run undisturbed
    t = time.perf_counter()
    warm = bench.run_pass(ops, -1, check=True)
    warmup_s = time.perf_counter() - t - bench.check_s
    setup_s = time.time() - PROCESS_START - bench.check_s
    wrong = {r["op"] for r in warm if not r["ok"]}

    tracer.enabled = bool(args.trace)
    if tracer.enabled:
        counters.wait_for_listener(spark)
        jobs_before = counters.SparkSnapshot(spark).job_ids()
    passes, rss_peaks = [], []
    measured = 0.0
    rss.take_peak()
    t = time.perf_counter()
    while not passes or measured < args.seconds:
        recs = bench.run_pass(ops, len(passes), check=False)
        rss_peaks.append(rss.take_peak())
        passes.append(recs)
        measured += sum(r["s"] for r in recs)
    loop_s = time.perf_counter() - t
    attempted = sum(len(p) for p in passes)
    failed = sum(1 for p in passes for r in p if not r["ok"] or r["op"] in wrong)
    problems = bench.problems
    correct = failed == 0 and not problems

    # each operation's median over the passes, summed: an outlier in one
    # operation of one pass does not move the result
    run_s = sum(_median([p[i]["s"] for p in passes]) for i in range(len(ops)))
    peak_mb = _median(rss_peaks) / 2**20
    input_rows = workloads.input_rows(args.workload)
    env = (f"env: master={sc.master} default_parallelism={sc.defaultParallelism} "
           f"nproc={os.cpu_count()} driver_heap={spark.conf.get('spark.driver.memory')} "
           f"ops_per_pass={len(ops)}")
    timing = (f"timing: session_s={session_s:.2f} import_s={import_s:.2f} "
              f"warm_pass_s={sum(r['s'] for r in warm):.2f} "
              f"check_s={bench.check_s:.2f} "
              f"pass_s={[round(sum(r['s'] for r in p), 2) for p in passes]} "
              f"loop_wall_s={loop_s:.2f}")
    ops_line = "ops_s: " + " ".join(f"{r['op']}={r['s']:.2f}" for r in passes[-1])
    report = [env, timing, ops_line]
    report += [f"problem: {p}" for p in problems]
    if args.trace:
        names, units = per_layer_names()
        counters.wait_for_listener(spark)
        snap = counters.SparkSnapshot(spark)
        by_group = snap.by_group()
        layer = _layer_metrics(tracer.spans, by_group, passes, bench.parallelism, warm)
        jobs_total = len(snap.job_ids() - jobs_before)
        jobs_grouped = sum(
            int(by_group.get(g, {}).get("jobs", 0))
            for g in [s["group"] for s in tracer.spans] + [tracer.idle_group]
        )
        layer.update({"session.start_s": session_s, "queries.import_s": import_s,
                      "warmup_s": warmup_s, "mem.peak_rss_mb": peak_mb,
                      "trace.run_s": run_s})
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": units[n]} for n in names}
        path = _write_trace(run_id, tracer, passes, layer, jobs_total, jobs_grouped)
        report.append(f"trace: file={path} jobs_total={jobs_total} "
                      f"jobs_in_groups={jobs_grouped}")
    else:
        metrics = {
            "run_s": {"value": run_s, "unit": "s"},
            "input_rows_per_s": {"value": input_rows / run_s, "unit": "rows/s"},
            "setup_s": {"value": setup_s, "unit": "s"},
        }
    report.append(
        f"{args.workload}: run_s={run_s:.3f} s  input_rows_per_s={input_rows / run_s:.1f} "
        f"rows/s  setup_s={setup_s:.3f} s  peak_rss_mb={peak_mb:.1f} MB  "
        f"failed_ops_frac={failed / attempted:.4f} ratio"
    )
    oracle.close()
    shutil.rmtree(out_dir, ignore_errors=True)
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": metrics, "report": report}


def _write_trace(run_id, tracer, passes, layer, jobs_total, jobs_grouped) -> str:
    os.makedirs(WORK, exist_ok=True)
    path = os.path.join(WORK, f"trace-{run_id}.json")
    with open(path, "w") as fh:
        json.dump({"run": run_id, "spans": tracer.spans, "layer": layer,
                   "jobs_total": jobs_total, "jobs_in_groups": jobs_grouped,
                   "passes": passes}, fh, indent=1, default=str)
    return path


if __name__ == "__main__":
    sys.exit(main())
