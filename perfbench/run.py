"""Closed-loop benchmark of the engine's ``__spark_entry__`` queries.

    python3 perfbench/run.py --workload grid_small --seed 1 --seconds 5 --trace 0

One client thread calls the workload's ``__spark_entry__.queries()`` keys one
after another on a ``local[<cores>]`` session, in an order shuffled per pass by
the seed, and materializes each result with the ``noop`` writer.  Each call is
timed from outside the package and split at the public-function boundaries
into table loads, operator build (the call that returns the DataFrame),
Catalyst planning (forcing the executed plan) and execution (the noop write).
Every key's output is checked once per run, on its warm-up call, against the
cached DuckDB answer of its ``oracle_sql()`` twin.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``).  A full report is
written under the work directory.  See README.md for the workloads, the
metrics and how they relate.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import re
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts")]

from perfbench import datagen, eventlog, procstat  # noqa: E402
from perfbench.workloads import ENTRY_MODULE, WORKLOADS  # noqa: E402

PREFIX = eventlog.PREFIX
PHASES = ("build", "plan", "execute")
_EXCHANGE = re.compile(r"(?m)^[\s:|+\-]*(?:Broadcast|Shuffle)?Exchange\b")
_clock = time.perf_counter


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="minimum timed span")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--work", default=os.path.join(HERE, ".work"), help="data, cache and log dir")
    p.add_argument("--data", help="use this table directory instead of generating one")
    return p.parse_args(argv)


class _Loads:
    """Stands in for ``__spark_entry__.load_table`` to time every table load
    a call makes and count the rows of the tables it reads."""

    def __init__(self, load_table, table_rows: dict[str, int]):
        self._load = load_table
        self._rows = table_rows
        self.reset()

    def reset(self):
        self.seconds = 0.0
        self.rows = 0
        self.spans: list[tuple[str, float, float]] = []

    def __call__(self, spark, sf_dir, name, *args, **kwargs):
        start = _clock()
        try:
            return self._load(spark, sf_dir, name, *args, **kwargs)
        finally:
            end = _clock()
            self.seconds += end - start
            self.rows += self._rows.get(name, 0)
            self.spans.append((name, start, end))


class Bench:
    """One benchmark run: a session, its warm-up calls and timed passes."""

    def __init__(self, entry, args, data_dir, table_rows, work):
        self.wl = args.workload
        self.keys = WORKLOADS[args.workload].keys
        self.data_dir = data_dir
        self.trace = bool(args.trace)
        self.work = work
        self.queries = entry.queries()
        self.loads = _Loads(entry.load_table, table_rows)
        entry.load_table = self.loads
        self.run_id = f"{self.wl}-seed{args.seed}-trace{args.trace}-{int(time.time())}-{os.getpid()}"
        self.eventlog_dir = os.path.join(work, "eventlog", self.run_id)
        self.spans: list[dict] = []
        self.t_origin = _clock()
        self.wl_span = None

    # -- session ---------------------------------------------------------
    def start_session(self):
        from dask_groupby_spark.session import get_spark

        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tempfile.gettempdir()}",
            "spark.ui.showConsoleProgress": "false",
            # job/stage counts are read from the status store after each
            # pass; keep every job of a run in it
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        }
        if self.trace:
            os.makedirs(self.eventlog_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"file://{self.eventlog_dir}",
                    "spark.eventLog.compress": "false",
                }
            )
        cores = len(os.sched_getaffinity(0))
        self.spark = get_spark("perfbench", cpus=cores, extra_conf=conf)
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.roots = [os.getpid(), self.sc._gateway.proc.pid]
        cm = self.spark._jsparkSession.sharedState().cacheManager()
        field = cm.getClass().getDeclaredField("cachedData")
        field.setAccessible(True)
        self._cached = lambda: field.get(cm).size()

    def stop(self):
        """Stop Spark, end the JVM and wait for its Python workers to exit.
        Safe to call when the session never came up."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        jvm = gateway.proc
        workers = set(procstat.tree([jvm.pid])) - {jvm.pid}
        if getattr(self, "spark", None) is not None:
            self.spark.stop()
        gateway.shutdown()
        SparkContext._gateway = None
        jvm.stdin.close()  # the JVM exits when its stdin closes
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
        deadline = time.monotonic() + 20
        while workers and time.monotonic() < deadline:
            workers = {p for p in workers if os.path.exists(f"/proc/{p}")}
            time.sleep(0.1)
        for pid in workers:
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass

    def persisted(self) -> int:
        """Persistent RDDs plus CacheManager entries currently held."""
        return self.sc._jsc.getPersistentRDDs().size() + self._cached()

    # -- one call ----------------------------------------------------------
    def span(self, name, start, end, parent=None, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append(
            {
                "id": sid,
                "parent": parent,
                "trace": self.run_id,
                "name": name,
                "start": start - self.t_origin,
                "end": end - self.t_origin,
                **attrs,
            }
        )
        return sid

    def call(self, key, label, execute, parent=None) -> tuple[dict, object]:
        """Build, plan and execute one key; ``execute`` consumes the
        DataFrame.  Returns the call record and what ``execute`` returned."""
        cid = f"{PREFIX}{self.wl}:{key}:{label}"
        rec = {"key": key, "pass": label, "call": cid}
        self.loads.reset()
        if self.trace:
            self.spark.addTag(cid)
        set_group = self.sc.setJobGroup
        cpu0 = procstat.tree(self.roots)
        try:
            t0 = _clock()
            set_group(f"{cid}:build", cid)
            b0 = _clock()
            df = self.queries[key](self.spark, self.data_dir)
            b1 = _clock()
            set_group(f"{cid}:plan", cid)
            p0 = _clock()
            plan = df._jdf.queryExecution().executedPlan()
            p1 = _clock()
            set_group(f"{cid}:execute", cid)
            e0 = _clock()
            result = execute(df)
            e1 = _clock()
        except Exception as exc:  # a failing key is counted, not fatal
            rec["error"] = f"{type(exc).__name__}: {str(exc)[:400]}"
            print(f"[perfbench] {key} ({label}) raised:\n{traceback.format_exc()}", file=sys.stderr)
            return rec, None
        finally:
            set_group(f"{PREFIX}idle", "")
            if self.trace:
                self.spark.removeTag(cid)
        rec.update(
            wall_s=e1 - t0,
            cpu_s=procstat.cpu_seconds(cpu0, procstat.tree(self.roots)),
            load_s=self.loads.seconds,
            build_s=b1 - b0,
            plan_s=p1 - p0,
            exec_s=e1 - e0,
            rows_in=self.loads.rows,
            exchanges=_count_exchanges(plan),
            persisted=self.persisted(),
        )
        rec["remainder_s"] = rec["wall_s"] - rec["build_s"] - rec["plan_s"] - rec["exec_s"]
        if self.trace:
            csid = self.span("call", t0, e1, parent, key=key, call=cid)
            bsid = self.span("build", b0, b1, csid, module=ENTRY_MODULE.get(key, "?"))
            for table, s, e in self.loads.spans:
                self.span("load", s, e, bsid, table=table)
            self.span("plan", p0, p1, csid)
            self.span("execute", e0, e1, csid)
        return rec, result

    def count_jobs(self, recs):
        """Jobs, stages run and tasks per call, from the status tracker."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        for rec in recs:
            stages, tasks, jobs = set(), 0, 0
            for phase in PHASES:
                ids = st.getJobIdsForGroup(f"{rec['call']}:{phase}")
                jobs += len(ids)
                if phase == "build":
                    rec["build_jobs"] = len(ids)
                for j in ids:
                    info = st.getJobInfo(j)
                    for s in info.stageIds if info else ():
                        si = st.getStageInfo(s)
                        if si is not None and si.numCompletedTasks and s not in stages:
                            stages.add(s)
                            tasks += si.numCompletedTasks
            rec.update(jobs=jobs, stages=len(stages), tasks=tasks)

    # -- the run -----------------------------------------------------------
    def warm_up(self, order, reference_answers, answer_of):
        """First call of every key, collecting its output to check it.
        Returns (call records, wall and CPU seconds spent comparing, failed
        keys)."""
        check_s, check_cpu_s, bad = 0.0, 0.0, {}
        recs = []
        t0 = _clock()
        psid = self.span("pass", t0, t0, self.wl_span, label="warmup") if self.trace else None
        for key in order:
            rec, rows = self.call(key, "warmup", lambda df: (df.columns, df.collect()), psid)
            recs.append(rec)
            if "error" in rec:
                bad[key] = rec["error"]
                continue
            t, c = _clock(), procstat.own_cpu_seconds()
            got = answer_of(*rows)
            want = reference_answers[key]
            if got != want:
                bad[key] = f"output differs from the oracle: got {got}, want {want}"
                print(f"[perfbench] {key}: {bad[key]}", file=sys.stderr)
            check_s += _clock() - t
            check_cpu_s += procstat.own_cpu_seconds() - c
        if self.trace:
            self.spans[psid]["end"] = _clock() - self.t_origin
        self.count_jobs(recs)
        return recs, check_s, check_cpu_s, bad

    def timed_passes(self, seconds, rng):
        records, passes = [], []
        host0 = procstat.cpu_times()
        start = _clock()
        while not passes or _clock() - start < seconds:
            label = str(len(passes))
            order = list(self.keys)
            rng.shuffle(order)
            cache0 = self.persisted()
            tree0, own0 = procstat.tree(self.roots), procstat.own_cpu_seconds()
            jit0 = procstat.jit_threads(self.roots[1])
            t0 = _clock()
            psid = self.span("pass", t0, t0, self.wl_span, label=label) if self.trace else None
            recs = [self.call(k, label, _noop, psid)[0] for k in order]
            t1 = _clock()
            tree1, own1 = procstat.tree(self.roots), procstat.own_cpu_seconds()
            jit1 = procstat.jit_threads(self.roots[1])
            if self.trace:
                self.spans[psid]["end"] = t1 - self.t_origin
            self.count_jobs(recs)
            passes.append(
                {
                    "wall_s": t1 - t0,
                    "tree_cpu_s": procstat.cpu_seconds(tree0, tree1),
                    "driver_cpu_s": own1 - own0,
                    "jit_cpu_s": procstat.cpu_seconds(jit0, jit1),
                    "leaked": self.persisted() - cache0,
                }
            )
            records.extend(recs)
        if self.trace:
            self.spans[self.wl_span]["end"] = _clock() - self.t_origin
        self.steal = procstat.steal_fraction(host0, procstat.cpu_times())
        self.rss_mb = procstat.tree_peak_rss_mb(self.roots)
        return records, passes


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _count_exchanges(plan) -> int:
    """Exchange nodes of the initial physical plan (before AQE re-plans)."""
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.initialPlan()
    return len(_EXCHANGE.findall(plan.toString()))


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def end_to_end(passes, setup_s) -> dict:
    return {
        "cpu_s": (_mean(p["tree_cpu_s"] for p in passes), "s"),
        "setup_s": (setup_s, "s"),
    }


def wall_clock(calls) -> dict:
    """Wall-clock throughput and latency, reported beside the metrics but
    not gated: on a VM with noisy neighbours they follow the hypervisor's
    steal from run to run, and a pass's 7-8 calls of unlike keys are too
    few for a steady median or any tail percentile (which needs ten samples
    beyond it)."""
    walls = sorted(r["wall_s"] for r in calls)
    return {
        "rows_per_s": sum(r["rows_in"] for r in calls) / sum(walls),
        "samples": len(walls),
        "call_s.p50": statistics.median(walls),
        "call_s.max": walls[-1],
        "call_cpu_s.p50": statistics.median(r["cpu_s"] for r in calls),
    }


def per_layer(calls, warm, passes, driver_pid, tree_rss_mb, task_metrics) -> dict:
    """Per-call means over the timed calls; Python-worker start-up is paid
    on the warm-up calls, so ``python_worker.boot_s`` sums those."""
    none = dict.fromkeys(eventlog.FIELDS, 0.0)
    tm = [task_metrics.get(r["call"], none) for r in calls]
    boot_ms = sum(task_metrics.get(r["call"], none)["python_boot_ms"] for r in warm)
    return {
        "sources.load_s": (_mean(r["load_s"] for r in calls), "s"),
        "build.self_s": (_mean(r["build_s"] - r["load_s"] for r in calls), "s"),
        "build.jobs": (_mean(r["build_jobs"] for r in calls), "count"),
        "catalyst.plan_s": (_mean(r["plan_s"] for r in calls), "s"),
        "catalyst.exchanges": (_mean(r["exchanges"] for r in calls), "count"),
        "execute.wall_s": (_mean(r["exec_s"] for r in calls), "s"),
        "scheduler.jobs": (_mean(r["jobs"] for r in calls), "count"),
        "scheduler.stages": (_mean(r["stages"] for r in calls), "count"),
        "scheduler.tasks": (_mean(r["tasks"] for r in calls), "count"),
        "executor.cpu_s": (_mean(m["cpu_ns"] for m in tm) / 1e9, "s"),
        "executor.run_s": (_mean(m["run_ms"] for m in tm) / 1e3, "s"),
        "executor.gc_s": (_mean(m["gc_ms"] for m in tm) / 1e3, "s"),
        "executor.input_bytes": (_mean(m["input_bytes"] for m in tm), "bytes"),
        "executor.shuffle_read_bytes": (_mean(m["shuffle_read_bytes"] for m in tm), "bytes"),
        "executor.shuffle_write_bytes": (_mean(m["shuffle_write_bytes"] for m in tm), "bytes"),
        "executor.spill_bytes": (_mean(m["spill_bytes"] for m in tm), "bytes"),
        "executor.peak_mem_bytes": (max(m["peak_mem_bytes"] for m in tm), "bytes"),
        "python_worker.total_s": (_mean(m["python_total_ms"] for m in tm) / 1e3, "s"),
        "python_worker.boot_s": (boot_ms / 1e3, "s"),
        "python_worker.bytes_sent": (_mean(m["python_bytes_sent"] for m in tm), "bytes"),
        "python_worker.bytes_received": (_mean(m["python_bytes_received"] for m in tm), "bytes"),
        "jvm.jit_cpu_s": (_mean(p["jit_cpu_s"] for p in passes), "s"),
        "driver.cpu_s": (_mean(p["driver_cpu_s"] for p in passes), "s"),
        "driver.rss_mb": (procstat.peak_rss_mb(driver_pid), "MiB"),
        "tree.rss_mb": (tree_rss_mb, "MiB"),
        "cache.persisted_after_call": (_mean(r["persisted"] for r in calls), "count"),
        "cache.leaked_per_pass": (_mean(p["leaked"] for p in passes), "count"),
    }


def by_module(calls) -> dict:
    """Build time (minus table loads) and build jobs per call, by the
    module holding each key's entry point."""
    out: dict[str, dict] = {}
    for r in calls:
        m = out.setdefault(ENTRY_MODULE.get(r["key"], "?"), {"calls": 0, "build_s": 0.0, "build_jobs": 0})
        m["calls"] += 1
        m["build_s"] += r["build_s"] - r["load_s"]
        m["build_jobs"] += r["build_jobs"]
    return {
        mod: {"calls": m["calls"], "build_s": m["build_s"] / m["calls"], "build_jobs": m["build_jobs"] / m["calls"]}
        for mod, m in sorted(out.items())
    }


def _reports_dir(work, workload):
    return os.path.join(work, "reports", workload)


def untraced_cpu_s(work, workload, seed, data_dir) -> list[float]:
    """``cpu_s`` of the correct untraced runs recorded so far with the same
    workload, seed and tables."""
    out = []
    d = _reports_dir(work, workload)
    for name in sorted(os.listdir(d)) if os.path.isdir(d) else ():
        if name.startswith("trace0-"):
            with open(os.path.join(d, name)) as f:
                rep = json.load(f)
            if (rep["seed"], rep["data_dir"], rep["correct"]) == (seed, data_dir, True):
                out.append(rep["metrics"]["cpu_s"]["value"])
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    workload = WORKLOADS[args.workload]
    keys = workload.keys
    work = os.path.abspath(args.work)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    load_before = procstat.load_average()

    t_import = _clock()
    import __spark_entry__ as entry

    import_s = _clock() - t_import
    # CPU of this process from its start through the package import
    import_cpu_s = procstat.own_cpu_seconds()
    from perfbench import reference

    t_prep = _clock()
    if args.data:
        data_dir = os.path.abspath(args.data)
    else:
        data_dir = datagen.ensure_dataset(os.path.join(work, "data"), args.seed, workload.rows)
    table_rows = _table_rows(data_dir)
    tag = hashlib.sha1(data_dir.encode()).hexdigest()[:8]
    ref_dir = os.path.join(work, "reference", f"{os.path.basename(data_dir)}-{tag}")
    answers = reference.load(ref_dir, data_dir, entry.oracle_sql(), keys, tmp)
    prep_s = _clock() - t_prep

    rng = random.Random(args.seed)
    bench = Bench(entry, args, data_dir, table_rows, work)
    t_setup = _clock()
    tree0 = procstat.tree([os.getpid()])
    if bench.trace:
        bench.wl_span = bench.span("workload", t_setup, t_setup, workload=args.workload)
    try:
        bench.start_session()
        order = list(keys)
        rng.shuffle(order)
        warm, check_s, check_cpu_s, bad = bench.warm_up(order, answers, reference.answer)
        setup_wall_s = import_s + (_clock() - t_setup) - check_s
        # set-up as process-tree CPU seconds: the import, the JVM and its
        # Python workers from their start, and the warm-up calls, less the
        # output checks.  Table generation and reference answers are not in it.
        setup_s = import_cpu_s + procstat.cpu_seconds(tree0, procstat.tree(bench.roots)) - check_cpu_s
        timed, passes = bench.timed_passes(args.seconds, rng)
    finally:
        bench.stop()

    task_metrics, attribution = {}, {}
    if bench.trace:
        task_metrics, attribution = eventlog.per_call(bench.eventlog_dir)
    calls = [r for r in timed if "error" not in r]
    failed_calls = [r for r in warm + timed if "error" in r or r["key"] in bad]
    attempted = len(warm) + len(timed)

    e2e = end_to_end(passes, setup_s) if calls else {}
    layers = {}
    if calls and bench.trace:
        layers = per_layer(calls, warm, passes, os.getpid(), bench.rss_mb, task_metrics)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "keys": list(keys),
        "data_dir": data_dir,
        "table_rows": table_rows,
        "cores": len(os.sched_getaffinity(0)),
        "load_average": {"before": load_before, "after": procstat.load_average()},
        "steal_frac": bench.steal,
        "tree_rss_mb": bench.rss_mb,
        "correct": not bad and not failed_calls,
        "attempted": attempted,
        "failed": len(failed_calls),
        "fail_frac": len(failed_calls) / attempted,
        "failures": bad,
        "timed_calls": len(timed),
        "passes": passes,
        "setup": {
            "prep_s": prep_s,
            "import_s": import_s,
            "wall_s": setup_wall_s,
            "cpu_s": setup_s,
            "check_s_excluded": check_s,
        },
        "wall_clock": wall_clock(calls) if calls else {},
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "layers": {k: {"value": v, "unit": u} for k, (v, u) in layers.items()},
        "modules": by_module(calls) if calls else {},
        "calls": warm + timed,
    }
    if bench.trace and calls:
        base = untraced_cpu_s(work, args.workload, args.seed, data_dir)
        traced = report["metrics"]["cpu_s"]["value"]
        report["trace_overhead"] = {
            "traced_cpu_s": traced,
            "untraced_cpu_s": statistics.median(base) if base else None,
            "untraced_runs": len(base),
            # extra process-tree CPU per pass with tracing on
            "overhead_frac": traced / statistics.median(base) - 1 if base else None,
        }
        report["span_remainder_s"] = _mean(r["remainder_s"] for r in calls)
        report["job_attribution"] = attribution
        spans_path = os.path.join(work, "traces", f"{bench.run_id}.jsonl")
        os.makedirs(os.path.dirname(spans_path), exist_ok=True)
        with open(spans_path, "w") as f:
            for s in bench.spans:
                f.write(json.dumps(s) + "\n")
        report["spans_file"] = spans_path
    rdir = _reports_dir(work, args.workload)
    os.makedirs(rdir, exist_ok=True)
    with open(os.path.join(rdir, f"trace{args.trace}-{bench.run_id}.json"), "w") as f:
        json.dump(report, f, indent=1)

    _summary(report, sys.stderr)
    if not calls:
        print("[perfbench] no timed call succeeded", file=sys.stderr)
        return 1
    shown = report["layers"] if args.trace else report["metrics"]
    print(
        json.dumps(
            {
                "correct": report["correct"],
                "attempted": attempted,
                "failed": len(failed_calls),
                "metrics": shown,
            }
        )
    )
    return 0


def _table_rows(data_dir) -> dict[str, int]:
    import pyarrow.parquet as pq

    rows = {}
    for name in os.listdir(data_dir):
        if name.endswith(".parquet") and os.path.isfile(os.path.join(data_dir, name)):
            rows[name[:-8]] = pq.ParquetFile(os.path.join(data_dir, name)).metadata.num_rows
    return rows


def _summary(rep, out):
    print(
        f"[perfbench] {rep['workload']} seed={rep['seed']} trace={rep['trace']} "
        f"cores={rep['cores']} load={rep['load_average']['before']} steal={rep['steal_frac']:.2f} "
        f"timed_calls={rep['timed_calls']} passes={len(rep['passes'])} "
        f"fail_frac={rep['fail_frac']:.3f} setup={rep['setup']}",
        file=out,
    )
    per_key: dict[str, list] = {}
    for r in rep["calls"]:
        if r["pass"] != "warmup" and "error" not in r:
            per_key.setdefault(r["key"], []).append(r)
    for key, rs in sorted(per_key.items()):
        med = lambda f: statistics.median(r[f] for r in rs)  # noqa: E731
        print(
            f"  {key:16s} wall {med('wall_s'):6.3f}  load {med('load_s'):5.3f}  "
            f"build {med('build_s'):6.3f}  plan {med('plan_s'):5.3f}  exec {med('exec_s'):6.3f}  "
            f"jobs {med('jobs'):4.0f}",
            file=out,
        )
    print(f"  wall clock: {rep['wall_clock']}", file=out)
    for name, m in {**rep["metrics"], **rep["layers"]}.items():
        print(f"  {name:32s} {m['value']:.6g} {m['unit']}", file=out)
    if "trace_overhead" in rep:
        print(f"  trace overhead: {rep['trace_overhead']}", file=out)


if __name__ == "__main__":
    sys.exit(main())
