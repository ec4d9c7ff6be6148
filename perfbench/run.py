#!/usr/bin/env python3
"""Closed-loop benchmark of the spark-graft engine, one workload per run.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One client on ``local[N]`` sends the
next op only after the previous one completed. A run:

1. sets up three times (import + ``load_all``, ``get_spark``, a first
   trivial action); the first setup launches the JVM, the other two
   restart the Spark application inside it. ``setup_s`` is the median;
2. checks outputs outside the timed window: every distinct query once
   against its DuckDB oracle (``oracle.compare_query``), every
   map→reduce op against word counts computed here in Python;
3. times whole rounds of the workload's ops, as many as take about
   ``--seconds`` (see ``Workload.round_s``).

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
untraced window, then restarts the application with a Spark event log
and repeats the window with spans and job-group counts around every
call, then once more untraced in a fresh application; it prints the
per-layer metrics and the tracing overhead (mean untraced minus traced
``ops_per_s``).

Everything the run writes (event log, Spark scratch, corpus, result and
span files) stays under ``perfbench/.work`` in the checkout. The last
stdout line is the JSON result; the lines before it print every metric
with its unit, the op-tail percentile and the host record.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import random
import shutil
import signal
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import corpus  # noqa: E402
from metrics import END_TO_END, PER_LAYER, mean, median, tail  # noqa: E402
from tracing import Spans, TreeRss, parse_event_log  # noqa: E402
from workloads import WORKLOADS, Op, Workload  # noqa: E402

PKG = "azure_batch_map_reduce_spark"
SETUPS = 3


def _load_1min() -> float:
    return os.getloadavg()[0]


def host_record() -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "load_1min_start": _load_1min(),
    }


def isolate(work: Path) -> dict[str, str]:
    """Point every scratch location of Python, the JVM and Spark into
    ``work``; return the Spark conf that completes it."""
    for sub in ("tmp", "local", "warehouse", "eventlog"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    # Spark's Python workers import the package from the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    jvm_opts = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    for var in ("SPARK_SUBMIT_OPTS", "SPARK_LAUNCHER_OPTS"):
        os.environ[var] = f"{os.environ.get(var, '')} {jvm_opts}".strip()
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": jvm_opts,
    }


def _purge_package() -> None:
    for mod in list(sys.modules):
        if mod == PKG or mod.startswith(PKG + "."):
            del sys.modules[mod]


class Bench:
    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.workload: Workload = WORKLOADS[args.workload]
        self.sf_dir = str(HERE / "fixtures" / args.sf)
        self.work = HERE / ".work"
        self.base_conf = isolate(self.work)
        self.spans = Spans()
        self.rss = TreeRss()
        self.spark = None
        self.setup_totals: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.bad_queries: set[str] = set()
        self.op_seq = 0
        self.corpus_paths: list[str] = []
        self.expected_words = None
        self.mr_info: dict[str, float] = {}

    # -- setup and teardown -------------------------------------------

    def setup(self, conf: dict[str, str]) -> None:
        """Import the package afresh, start the session, run a trivial
        action; the three timed parts make one setup."""
        if self.spark is not None:
            self.spark.stop()
        _purge_package()
        t0 = time.perf_counter()
        with self.spans.span("setup.load_all"):
            registry = importlib.import_module(f"{PKG}.registry")
            self.queries = registry.load_all()
        with self.spans.span("setup.get_spark"):
            session = importlib.import_module(f"{PKG}.session")
            self.spark = session.get_spark(app_name="perfbench", extra_conf=conf)
        with self.spans.span("setup.first_action"):
            self.spark.range(1).count()
        self.setup_totals.append(time.perf_counter() - t0)
        self.catalog = importlib.import_module(f"{PKG}.catalog")
        self.oracle = importlib.import_module(f"{PKG}.oracle")
        self.mapreduce = importlib.import_module(f"{PKG}.plans.mapreduce")
        self.text = importlib.import_module(f"{PKG}.functions.text")
        self.curation = importlib.import_module(f"{PKG}.functions.curation")

    def close(self) -> None:
        """Stop Spark, the JVM and its Python workers; wait for each."""
        from pyspark import SparkContext

        workers = self.rss.descendants()
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        deadline = time.monotonic() + 20
        for pid in workers:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        for sub in ("tmp", "local", "warehouse", "eventlog", "corpus"):
            shutil.rmtree(self.work / sub, ignore_errors=True)

    # -- ops ----------------------------------------------------------

    def _layer(self, layer: str, op_id: str, traced: bool):
        if not traced:
            return nullcontext()
        self.spark.sparkContext.setJobGroup(f"{op_id}:{layer}", layer)
        return self.spans.span(f"op.{layer}", op_id)

    def _maps(self):
        return self.mapreduce.map_files(
            self.spark,
            str(self.work / "corpus"),
            map_cmd=corpus.MAP_CMD,
            output_pattern=corpus.MAP_OUTPUT,
        )

    def _check_reduce(self, rows) -> bool:
        if len(rows) != 1 or rows[0]["exit_code"] != 0:
            return False
        try:
            gathered, counts = corpus.parse_reduce_output(bytes(rows[0]["content"]))
        except (ValueError, IndexError):
            return False
        self.mr_info["gathered_ratio"] = gathered / len(self.corpus_paths)
        return gathered == len(self.corpus_paths) and counts == self.expected_words

    def run_op(self, op: Op, traced: bool) -> dict:
        """One op: build (``fn()`` or the map→reduce plan) then sink
        (noop write, or collecting the reducer's output)."""
        self.op_seq += 1
        op_id = f"op{self.op_seq}"
        rec = {"op": op_id, "label": op.label, "query": op.query, "store": op.store}
        sc = self.spark.sparkContext
        ok = True
        t0 = time.perf_counter()
        try:
            with self.spans.span("op", op_id) if traced else nullcontext():
                with self._layer("build", op_id, traced):
                    if op.query is None:
                        df = self.mapreduce.gather_reduce(
                            self._maps(), reduce_cmd=corpus.REDUCE_CMD
                        )
                    else:
                        df = self.queries[op.query].fn(self.spark, self.sf_dir)
                t1 = time.perf_counter()
                with self._layer("sink", op_id, traced):
                    if traced:
                        with self.spans.span("op.sink.plan", op_id):
                            df._jdf.queryExecution().executedPlan()
                        rec["plan_s"] = time.perf_counter() - t1
                    if op.query is None:
                        rows = df.collect()
                    else:
                        df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        except Exception:  # one failed op must not end the run
            traceback.print_exc()
            ok = False
        finally:
            if traced:
                sc._jsc.clearJobGroup()
        if ok:
            rec.update(latency_s=t2 - t0, build_s=t1 - t0, sink_s=t2 - t1)
            if op.query is None:
                ok = self._check_reduce(rows)
            elif op.query in self.bad_queries:
                ok = False
        if traced:
            self._count_jobs(rec, op_id)
        rec["ok"] = ok
        self.attempted += 1
        self.failed += not ok
        if not self.workload.resets_stores:
            self.spark.catalog.clearCache()
        self.rss.sample()
        return rec

    def _count_jobs(self, rec: dict, op_id: str) -> None:
        tracker = self.spark.sparkContext.statusTracker()
        for layer in ("build", "sink"):
            jobs = tracker.getJobIdsForGroup(f"{op_id}:{layer}")
            rec[f"{layer}_jobs"] = len(jobs)
            if rec["query"] is None and layer == "sink" and jobs:
                # The map stage is the first stage of the reduce job.
                first = min(s for j in jobs for s in tracker.getJobInfo(j).stageIds)
                rec["map_stage_tasks"] = tracker.getStageInfo(first).numTasks

    def reset_round(self) -> None:
        if self.workload.resets_stores:
            self.text._ulm_clear_shared()
            self.curation._qc_clear_shared()
            self.spark.catalog.clearCache()

    # -- phases -------------------------------------------------------

    def prepare_inputs(self) -> None:
        if any(op.query is None for op in self.workload.round(random.Random(0))):
            self.corpus_paths = corpus.generate(str(self.work / "corpus"), self.args.seed)
            self.expected_words = corpus.expected_counts(self.corpus_paths)

    def check_round(self) -> None:
        """Untimed first round: warms every op and checks its output."""
        self.reset_round()
        con = self.oracle.duckdb_connection(self.sf_dir)
        try:
            seen: set[str | None] = set()
            for op in self.workload.round(random.Random(self.args.seed)):
                if op.query is None:
                    self.run_op(op, traced=False)
                    continue
                if op.query in seen:
                    continue
                seen.add(op.query)
                self.attempted += 1
                with self.spans.span("op.check", op.label):
                    try:
                        res = self.oracle.compare_query(
                            self.spark, self.queries[op.query], self.sf_dir, con
                        )
                        ok, detail = res.ok, res.detail
                    except Exception as e:  # a raising query is a failed check
                        traceback.print_exc()
                        ok, detail = False, repr(e)
                if not ok:
                    print(f"check failed: {op.query}: {detail}", file=sys.stderr)
                    self.bad_queries.add(op.query)
                    self.failed += 1
                self.rss.sample()
        finally:
            con.close()

    def window(self, traced: bool) -> dict:
        """The timed window: a fixed number of whole rounds, sized from
        ``--seconds`` by ``Workload.round_s``."""
        rng = random.Random(self.args.seed)
        rounds = max(1, round(self.args.seconds / self.workload.round_s))
        ops: list[dict] = []
        start = time.perf_counter()
        for _ in range(rounds):
            self.reset_round()
            for op in self.workload.round(rng):
                ops.append(self.run_op(op, traced))
        return {"ops": ops, "rounds": rounds, "wall_s": time.perf_counter() - start}

    def run(self) -> dict:
        self.prepare_inputs()
        for _ in range(SETUPS):
            self.setup(self.base_conf)
        self.check_round()
        untraced = self.window(traced=False)
        result = {"untraced": untraced}
        untraced["summary"] = self.summary(untraced)
        untraced["metrics"] = {
            k: {"value": untraced["summary"][k], "unit": u} for k, (u, _) in END_TO_END.items()
        }
        if self.args.trace:
            result["traced"] = self.traced_phase(untraced)
        return result

    def traced_phase(self, untraced: dict) -> dict:
        cold = {s["name"]: s["end"] - s["start"] for s in self.spans.records[:3]}
        catalog_s = []
        for _ in range(3):
            self.catalog.clear_table_cache()
            with self.spans.span("catalog.load_tables") as s:
                self.catalog.load_tables(self.spark, self.sf_dir)
            catalog_s.append(s["end"] - s["start"])
        if self.corpus_paths:
            self._map_only_job()
        conf = dict(self.base_conf)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (self.work / "eventlog").as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
        # Traced window B sits between the untraced window A and an
        # untraced window A' in a fresh application, so JIT warm-up and
        # application start weigh on both sides of the overhead figure.
        self.setup(conf)
        self.setup_totals.pop()  # restarts after the three setups are not samples
        app_id = self.spark.sparkContext.applicationId
        cores = self.spark.sparkContext.defaultParallelism
        traced = self.window(traced=True)
        self.setup(self.base_conf)
        self.setup_totals.pop()
        after = self.window(traced=False)
        log = self.work / "eventlog" / app_id
        groups = parse_event_log(str(log))
        log.unlink()
        reference = mean([untraced["summary"]["ops_per_s"], self.rate(after)])
        traced["metrics"] = self.per_layer(traced, groups, cores, cold, catalog_s, untraced, reference)
        return traced

    def _map_only_job(self) -> None:
        """Map fan-out alone, once: exit codes and its task count."""
        sc = self.spark.sparkContext
        sc.setJobGroup("map-only", "map-only")
        try:
            self.mr_info["nonzero_exit"] = self._maps().where("exit_code != 0").count()
        finally:
            sc._jsc.clearJobGroup()
        tracker = sc.statusTracker()
        stages = [s for j in tracker.getJobIdsForGroup("map-only") for s in tracker.getJobInfo(j).stageIds]
        self.mr_info["map_only_tasks"] = tracker.getStageInfo(min(stages)).numTasks

    # -- metrics ------------------------------------------------------

    def summary(self, w: dict) -> dict:
        """The end-to-end figures of an untraced window, tail and memory
        included (the JSON result carries those in ``END_TO_END``)."""
        lat = [r["latency_s"] for r in w["ops"] if "latency_s" in r]
        if not lat:
            raise RuntimeError("no op completed in the timed window")
        value, pct, n = tail(lat)
        return {
            "setup_s": median(self.setup_totals),
            "ops_per_s": self.rate(w),
            "op_p50_s": median(lat),
            "op_tail_s": value,
            "op_tail_pct": pct,
            "op_samples": n,
            "peak_rss_mb": self.rss.peak_mb(),
            "failed_op_ratio": self.failed / self.attempted,
        }

    @staticmethod
    def rate(w: dict) -> float:
        """Completed ops (a wrong output still completed) per second."""
        return sum("latency_s" in r for r in w["ops"]) / w["wall_s"]

    def per_layer(self, w, groups, cores, cold, catalog_s, untraced, reference) -> dict:
        ops = [r for r in w["ops"] if "latency_s" in r]
        for r in ops:
            for layer in ("build", "sink"):
                g = groups.get(f"{r['op']}:{layer}")
                r[f"{layer}_stages"] = g.stages if g else 0
                r[f"{layer}_tasks"] = g.tasks if g else 0
                r[f"{layer}_failed_tasks"] = g.failed_tasks if g else 0
                for k in ("task_run_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
                    r[k] = r.get(k, 0.0) + (getattr(g, k) if g else 0.0)

        def avg(key, rows=ops):
            return mean([r[key] for r in rows])

        cold_ops = [r for r in ops if r["store"] == "cold"]
        warm_ops = [r for r in ops if r["store"] == "warm"]
        mr_ops = [r for r in ops if r["query"] is None]
        base = untraced["summary"]
        values = {
            "registry.load_s": cold["setup.load_all"],
            "session.start_s": cold["setup.get_spark"],
            "session.first_action_s": cold["setup.first_action"],
            "catalog.load_tables_s": median(catalog_s),
            "build.s": avg("build_s"),
            "build.jobs": avg("build_jobs"),
            "build.stages": avg("build_stages"),
            "build.tasks": avg("build_tasks"),
            "sink.s": avg("sink_s"),
            "sink.plan_s": avg("plan_s"),
            "sink.jobs": avg("sink_jobs"),
            "sink.stages": avg("sink_stages"),
            "sink.tasks": avg("sink_tasks"),
            "sink.failed_tasks": sum(r["sink_failed_tasks"] for r in ops),
            "exec.task_run_s": avg("task_run_s"),
            "exec.busy_ratio": sum(r["task_run_s"] for r in ops) / (w["wall_s"] * cores),
            "exec.shuffle_write_mb": avg("shuffle_write_mb"),
            "exec.shuffle_read_mb": avg("shuffle_read_mb"),
            "exec.gc_s": avg("gc_s"),
            "exec.spill_mb": avg("spill_mb"),
            "store.cold_op_s": avg("latency_s", cold_ops),
            "store.warm_op_p50_s": median([r["latency_s"] for r in warm_ops]),
            "store.cold_build_jobs": avg("build_jobs", cold_ops),
            "store.warm_build_jobs": avg("build_jobs", warm_ops),
            "mapreduce.files": len(self.corpus_paths),
            "mapreduce.input_mb": sum(os.path.getsize(p) for p in self.corpus_paths) / 1e6,
            "mapreduce.map_stage_tasks": avg("map_stage_tasks", mr_ops),
            "mapreduce.map_only_tasks": self.mr_info.get("map_only_tasks", 0),
            "mapreduce.map_nonzero_exit": self.mr_info.get("nonzero_exit", 0),
            "mapreduce.outputs_gathered_ratio": self.mr_info.get("gathered_ratio", 0.0),
            "trace.ops_per_s": self.rate(w),
            "trace.overhead_ops_per_s": reference - self.rate(w),
            "op.tail_s": base["op_tail_s"],
            "op.tail_pct": base["op_tail_pct"],
            "op.samples": base["op_samples"],
            "mem.peak_rss_mb": base["peak_rss_mb"],
        }
        return {k: {"value": v, "unit": PER_LAYER[k][0]} for k, v in values.items()}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--sf",
        default="sf0.01",
        choices=sorted(os.listdir(HERE / "fixtures")),
        help="fixture scale factor under perfbench/fixtures",
    )
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    host = host_record()
    bench = Bench(args)
    try:
        result = bench.run()
    finally:
        bench.close()
    host["load_1min_end"] = _load_1min()
    metrics = result["traced" if args.trace else "untraced"]["metrics"]
    out = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }
    results = bench.work / "results"
    results.mkdir(parents=True, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "sf": args.sf,
        "host": host,
        "result": out,
        "untraced": result["untraced"],
        "traced": result.get("traced"),
        "spans": bench.spans.records,
    }
    (results / f"{stem}.json").write_text(json.dumps(detail, indent=1))

    print(f"perfbench workload={args.workload} seed={args.seed} sf={args.sf} trace={args.trace}")
    print("host " + json.dumps(host))
    base = result["untraced"]["summary"]
    print(
        f"untraced window: ops_per_s {base['ops_per_s']:.6g} ops/s, op_p50_s "
        f"{base['op_p50_s']:.6g} s, op_tail_s {base['op_tail_s']:.6g} s "
        f"(p{base['op_tail_pct']:.1f} of n={base['op_samples']}), peak_rss_mb "
        f"{base['peak_rss_mb']:.6g} MB, failed_op_ratio {base['failed_op_ratio']:.6g}, "
        f"setup_s {base['setup_s']:.6g} s"
    )
    for name, m in metrics.items():
        print(f"  {name:34s} {m['value']:.6g} {m['unit']}")
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
