#!/usr/bin/env python3
"""Repository benchmark: closed-loop workloads over the engine's two layers.

Run from the repository root:

    python3 perfbench/run.py --workload queries_short --seed 1 --seconds 15 --trace 0

Workloads (``BENCHMARK.json`` says why each exists):

* ``queries_short`` / ``queries_heavy`` - fixed query lists (``queries.py``)
  over tables generated at sf0.1 (``datagen.py``);
* ``cdc_incremental`` - the incremental REST-to-parquet pipeline (``cdc.py``).

``--seed`` permutes the query order of every pass and generates the CDC
change log. ``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs
the same loop with bench-side spans, Spark job groups and a Spark event log
and prints the per-layer metrics instead. ``--workload all`` runs every
workload in turn and prints one table.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. The line before it
is the full run record, which is also written under ``.perfbench/results``.
Everything the run writes stays under ``.perfbench`` in the working
directory (plus the engine's own caches there).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import cdc, queries  # noqa: E402
from perfbench.trace import GroupStats, Tracer, parse_event_log, tail_percentile  # noqa: E402

WORKLOADS = ("queries_short", "queries_heavy", "cdc_incremental")
SF = 0.1
DATA_SEED = 42  # the tables are fixed; --seed varies order and the change log
DRIVER_MEM = "4g"  # via SPARK_GRAFT_DRIVER_MEM; the package default is 48g
MAX_CORES = 4
CONTENDED_LOAD1 = 1.5

END_TO_END = {
    "setup_s": "s",
    "mix_wall_s": "s",
    "op_p50_s": "s",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.peak_rss_mb": "MB",
    "plans.import_s": "s",
    "catalog.load_table_calls": "count/op",
    "catalog.load_table_s": "s/op",
    "plans.build_s": "s/op",
    "plans.build_jobs": "count/op",
    "plans.local_checkpoints": "count/op",
    "catalyst.analysis_s": "s/op",
    "catalyst.optimization_s": "s/op",
    "catalyst.planning_s": "s/op",
    "operators.action_s": "s/op",
    "operators.jobs": "count/op",
    "operators.stages": "count/op",
    "operators.tasks": "count/op",
    "operators.empty_task_frac": "ratio",
    "operators.executor_run_s": "s/op",
    "operators.executor_cpu_s": "s/op",
    "operators.gc_s": "s/op",
    "operators.shuffle_write_bytes": "B/op",
    "operators.shuffle_read_bytes": "B/op",
    "operators.spill_bytes": "B/op",
    "sources.build_s": "s/op",
    "sources.requests": "count/op",
    "sources.records_per_request": "records/req",
    "sinks.write_s": "s/op",
    "sinks.files": "count/op",
    "sinks.bytes": "B/op",
    "streaming.run_once_s": "s/op",
    "streaming.state_save_s": "s/op",
    "streaming.records_per_s": "records/s",
    "trace.op_p50_s": "s",
    "trace.mix_wall_s": "s",
}


class Bench:
    """State of one benchmark run: arguments, Spark session, tracer and
    the run's private working directory."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer(trace)
        self.base = os.path.join(os.getcwd(), ".perfbench")
        self.work_dir = os.path.join(self.base, f"run-{workload}-{seed}-{os.getpid()}")
        self.data_dir = os.path.join(self.base, "data", f"sf{SF}")
        self.spark = None
        self.gateway = None
        self.layers: dict[str, float] = {}
        self.phases: dict[str, float] = {}
        self._ops = 0
        self._last_mark = T_START

    def mark(self, phase: str) -> None:
        """Record the wall time since the previous mark under ``phase``."""
        now = time.perf_counter()
        self.phases[phase] = now - self._last_mark
        self._last_mark = now

    # -- set-up and tear-down --------------------------------------------------

    def setup(self) -> float:
        """Imports, session and workload inputs; returns ``setup_s``."""
        tmp = os.path.join(self.work_dir, "tmp")
        local = os.path.join(self.work_dir, "local")
        for d in (tmp, local, os.path.join(self.work_dir, "events")):
            os.makedirs(d, exist_ok=True)
        # Python, its Spark workers and the JVM keep temporary files and
        # shuffle blocks inside the run directory.
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = local
        tempfile.tempdir = tmp
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        os.environ["SPARK_GRAFT_CPUS"] = str(min(MAX_CORES, len(os.sched_getaffinity(0))))

        from mk_kafka_connect_spark import catalog, session

        t0 = time.perf_counter()
        import mk_kafka_connect_spark.plans  # noqa: F401  # registers every query

        self.layers["plans.import_s"] = time.perf_counter() - t0
        # -XX:-UsePerfData: HotSpot would otherwise keep a file under /tmp.
        conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"}
        if self.tracer.enabled:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file:" + os.path.join(self.work_dir, "events"),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        t0 = time.perf_counter()
        self.spark = session.get_spark(app_name=f"perfbench-{self.workload}", extra_conf=conf)
        self.layers["session.get_spark_s"] = time.perf_counter() - t0
        self.gateway = self.spark.sparkContext._gateway
        if self.tracer.enabled:
            self._install_wrappers(catalog)
        if self.workload != "cdc_incremental":
            from perfbench.datagen import write_tables

            write_tables(self.data_dir, SF, DATA_SEED)
        self.mark("setup")
        return self.phases["setup"]

    def _install_wrappers(self, catalog) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        from perfbench.trace import patch_attr

        t = self.tracer
        orig = catalog.load_table
        mods = [m for n, m in sys.modules.items() if n.startswith("mk_kafka_connect_spark")]
        patch_attr(mods, "load_table", orig, t.wrap(orig, "catalog.load_table"))
        lc = DataFrame.localCheckpoint

        def local_checkpoint(df, *a, **k):
            t.count("plans.local_checkpoints")
            return lc(df, *a, **k)

        DataFrame.localCheckpoint = local_checkpoint

    def peak_rss_mb(self) -> float:
        """Peak resident set of the driver JVM (VmHWM)."""
        with open(f"/proc/{self.gateway.proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    def teardown(self) -> None:
        """Stop Spark and wait until the JVM has exited."""
        if self.spark is not None:
            self.spark.stop()
        if self.gateway is not None:
            self.gateway.shutdown()
            proc = self.gateway.proc
            proc.stdin.close()  # the JVM exits on EOF from its parent
            proc.wait(timeout=60)

    # -- hooks used by the workloads -------------------------------------------

    def set_group(self, group: str) -> None:
        if self.tracer.enabled:
            self.spark.sparkContext.setJobGroup(group, group)

    def next_op(self) -> int:
        self._ops += 1
        return self._ops

    def catalyst_phases(self, df) -> None:
        """Force optimization and planning of ``df``'s own query execution
        and record the Catalyst phase times its tracker measured."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            summary = phases.get(phase)
            if summary.isDefined():
                self.tracer.count(f"catalyst.{phase}_s", summary.get().durationMs() / 1e3)


def _git_sha() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown"


_OPERATOR_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
)


def _sum_groups(groups: dict, suffix: str, ops: set[int]) -> GroupStats:
    """Event-log stats summed over the job groups ``op<i>/<suffix>``."""
    tot = GroupStats()
    for op in ops:
        g = groups.get(f"op{op}/{suffix}")
        if g is not None:
            for name in (*_OPERATOR_FIELDS, "empty_tasks"):
                setattr(tot, name, getattr(tot, name) + getattr(g, name))
    return tot


def _event_groups(bench: Bench) -> dict:
    events = os.path.join(bench.work_dir, "events")
    groups: dict = {}
    for name in os.listdir(events):
        with open(os.path.join(events, name)) as f:
            groups.update(parse_event_log(f))
    return groups


def _dir_files(path: str) -> tuple[int, int]:
    n = size = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


def per_layer(bench: Bench, res: dict, op_ids: set[int], passes: list[float], lat: list[float]) -> dict:
    """Per-layer metrics of a traced run, averaged per operation."""
    n = max(len(op_ids), 1)
    spans = {name: t / n for name, t in bench.tracer.self_time_by_name().items()}
    counters = bench.tracer.counters
    groups = _event_groups(bench)
    out = dict.fromkeys(PER_LAYER, 0.0)
    out["session.get_spark_s"] = bench.layers["session.get_spark_s"]
    out["plans.import_s"] = bench.layers["plans.import_s"]
    out["session.peak_rss_mb"] = bench.layers["session.peak_rss_mb"]
    out["catalog.load_table_calls"] = sum(
        1 for s in bench.tracer.spans if s.name == "catalog.load_table"
    ) / n
    out["catalog.load_table_s"] = spans.get("catalog.load_table", 0.0)
    out["plans.build_s"] = spans.get("plans.build", 0.0)
    out["plans.local_checkpoints"] = counters.get("plans.local_checkpoints", 0) / n
    for phase in ("analysis", "optimization", "planning"):
        out[f"catalyst.{phase}_s"] = counters.get(f"catalyst.{phase}_s", 0.0) / n
    out["operators.action_s"] = spans.get("operators.action", 0.0)
    out["sources.build_s"] = spans.get("sources.build", 0.0)
    out["sinks.write_s"] = spans.get("sinks.write", 0.0)
    out["streaming.run_once_s"] = spans.get("streaming.run_once", 0.0)
    out["streaming.state_save_s"] = spans.get("streaming.state_save", 0.0)

    out["plans.build_jobs"] = _sum_groups(groups, "build", op_ids).jobs / n
    act = _sum_groups(groups, "window" if bench.workload == "cdc_incremental" else "action", op_ids)
    for name in _OPERATOR_FIELDS:
        out[f"operators.{name}"] = getattr(act, name) / n
    out["operators.empty_task_frac"] = act.empty_tasks / act.tasks if act.tasks else 0.0

    if bench.workload == "cdc_incremental":
        cdc_passes = res["passes"]
        requests = sum(p["requests"] for p in cdc_passes)
        records = res["records_per_pass"] * len(cdc_passes)
        out["sources.requests"] = requests / n
        out["sources.records_per_request"] = records / requests if requests else 0.0
        files = [_dir_files(os.path.join(p["dir"], "sink")) for p in cdc_passes]
        out["sinks.files"] = sum(f for f, _ in files) / n
        out["sinks.bytes"] = sum(b for _, b in files) / n
        out["streaming.records_per_s"] = res["records_per_pass"] / statistics.median(passes)
    out["trace.op_p50_s"] = statistics.median(lat)
    out["trace.mix_wall_s"] = statistics.median(passes)
    return out


def run_one(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    bench = Bench(workload, seed, seconds, trace)
    load_before = os.getloadavg()[0]
    try:
        setup_s = bench.setup()
        spark = bench.spark
        meta = {
            "master": spark.sparkContext.master,
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "driver_memory": spark.conf.get("spark.driver.memory"),
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        }
        if workload == "cdc_incremental":
            res = cdc.run_cdc(bench)
            passes = [p["wall"] for p in res["passes"]]
            lat = [w for p in res["passes"] for w in p["windows"]]
            op_ids = {op for p in res["passes"] for op in p["ops"]}
            attempted = len(lat) + len(passes)
            failed = len(res["check_failures"])
            extra = {"records_per_pass": res["records_per_pass"],
                     "records_per_s": res["records_per_pass"] / statistics.median(passes)}
        else:
            names = queries.SHORT if workload == "queries_short" else queries.HEAVY
            res = queries.run_queries(bench, names)
            passes = res["passes"]
            lat = [o["s"] for o in res["ops"] if o["ok"]]
            op_ids = {o["op"] for o in res["ops"]}
            all_ops = res["warmup_ops"] + res["ops"]
            attempted = res["checked"] + len(all_ops)
            failed = len(res["check_failures"]) + sum(not o["ok"] for o in all_ops)
            extra = {"op_s": {n: [o["s"] for o in res["ops"] if o["name"] == n] for n in names}}
        bench.mark("check")
        bench.layers["session.peak_rss_mb"] = bench.peak_rss_mb()
    finally:
        bench.teardown()
    bench.mark("teardown")
    load_after = os.getloadavg()[0]

    if not lat:
        lat = [float("nan")]
    metrics = {
        "setup_s": setup_s,
        "mix_wall_s": statistics.median(passes),
        "op_p50_s": statistics.median(lat),
    }
    tail = tail_percentile(lat)
    record = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": trace,
        "git_sha": _git_sha(),
        "sf": SF,
        "data_seed": DATA_SEED,
        **meta,
        "load1_before": load_before,
        "load1_after": load_after,
        "contended": max(load_before, load_after) > CONTENDED_LOAD1,
        "attempted": attempted,
        "failed": failed,
        "failed_frac": failed / attempted,
        "failures": {**res["check_failures"], **res.get("op_failures", {})},
        "phases_s": bench.phases,
        "pass_s": passes,
        "samples": len(lat),
        "tail": {"percentile": tail[0], "s": tail[1]} if tail else None,
        "driver_peak_rss_mb": bench.layers["session.peak_rss_mb"],
        "end_to_end": metrics,
        **extra,
    }
    if trace:
        record["per_layer"] = per_layer(bench, res, op_ids, passes, lat)
        record["trace_overhead"] = _overhead(bench, metrics)
    shutil.rmtree(bench.work_dir, ignore_errors=True)
    results = os.path.join(bench.base, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{workload}-seed{seed}-trace{int(trace)}.json"), "w") as f:
        json.dump(record, f, indent=1)
    return record


def _overhead(bench: Bench, traced: dict) -> dict | None:
    """Traced against the last untraced run of the same workload and seed,
    when one exists in this directory."""
    path = os.path.join(bench.base, "results", f"{bench.workload}-seed{bench.seed}-trace0.json")
    try:
        with open(path) as f:
            plain = json.load(f)["end_to_end"]
    except (OSError, KeyError, ValueError):
        return None
    return {k: traced[k] / plain[k] - 1.0 for k in ("mix_wall_s", "op_p50_s") if plain.get(k)}


def result_line(record: dict) -> dict:
    trace = record["trace"]
    source = record["per_layer"] if trace else record["end_to_end"]
    units = PER_LAYER if trace else END_TO_END
    return {
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {k: {"value": source[k], "unit": u} for k, u in units.items()},
    }


def run_all(seed: int, seconds: int, trace: bool) -> dict:
    """Every workload in its own process; prints one table."""
    lines = {}
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", str(int(trace))]
        out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True).stdout
        lines[w] = json.loads(out.strip().splitlines()[-1])
    names = list(PER_LAYER if trace else END_TO_END)
    print(f"{'metric':32s}" + "".join(f"{w:>18s}" for w in WORKLOADS))
    for m in names:
        unit = (PER_LAYER if trace else END_TO_END)[m]
        print(f"{m + ' [' + unit + ']':32s}"
              + "".join(f"{lines[w]['metrics'][m]['value']:18.4f}" for w in WORKLOADS))
    print(f"{'failed/attempted':32s}"
          + "".join(f"{str(lines[w]['failed']) + '/' + str(lines[w]['attempted']):>18s}" for w in WORKLOADS))
    return lines


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=24)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        lines = run_all(args.seed, args.seconds, bool(args.trace))
        print(json.dumps(lines))
        return 0 if all(v["correct"] for v in lines.values()) else 1
    record = run_one(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(record))
    print(json.dumps(result_line(record)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
