"""Benchmark entry point.

    python3 perfbench/run.py --workload train_serve_etl --seed 42 --seconds 3 --trace 0

Run it from the root of a checkout of the repository. Inputs are generated
from ``--seed`` and cached per seed under ``.bench_build/perfbench``; all
temporary output goes there too and is removed when the run ends. The run:

1. sets up: Spark session, Python worker pool, schema load of every input
   table, then one untimed warm-up pass over the workload on tiny inputs,
   which pays for first-use code generation, class loading and Python
   worker imports (``setup_s`` covers all of it; building the inputs is
   not set-up);
2. runs timed passes on the seeded inputs until ``--seconds`` have passed,
   at least one (``wall_s`` is the median pass);
3. checks every operation's output, outside the timed region;
4. prints, as its last line, one JSON object with ``correct``,
   ``attempted``, ``failed`` and ``metrics``.

With ``--trace 0`` the metrics are the end-to-end ones. With ``--trace 1``
every pass is traced and the metrics are the per-layer ones;
``trace.wall_s`` against the untraced run's ``wall_s`` gives the tracing
overhead. Spans go to a JSON-lines file beside the inputs.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import threading
import time

#: Root of the checkout: the directory that holds ``perfbench/``.
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4
WORKLOADS = ("train_serve_etl", "corpus_10x")


def _children_rss_kb() -> int:
    """Resident set of this process and all its descendants, in KiB."""
    parents: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
            with open(f"/proc/{entry}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        pid = int(entry)
        parents.setdefault(ppid, []).append(pid)
        rss[pid] = pages * (os.sysconf("SC_PAGE_SIZE") // 1024)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(parents.get(pid, []))
    return total


class RssSampler(threading.Thread):
    """Samples the process tree's resident memory every ``interval`` s."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_kb = 0
        self._stop_event = threading.Event()

    def run(self) -> None:
        while not self._stop_event.is_set():
            self.peak_kb = max(self.peak_kb, _children_rss_kb())
            self._stop_event.wait(self.interval)

    def stop(self) -> None:
        self._stop_event.set()
        self.join(timeout=5)


def _env(build_root: str) -> None:
    """Engine settings for the run; Spark, JVM and Python temporary files go
    under ``build_root``. The JVM reads these once, when it starts."""
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    local = os.path.join(build_root, "spark-local")
    tmp = os.path.join(build_root, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )


def set_up(sf_dir: str, tables) -> tuple[object, dict]:
    """Session, worker pool and schema load; returns the session and the
    time of each step."""
    t0 = time.perf_counter()
    from scraping_etl_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    t1 = time.perf_counter()
    n = spark.sparkContext.defaultParallelism
    spark.range(n, numPartitions=n).mapInPandas(
        lambda batches: batches, "id long"
    ).write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    from scraping_etl_spark.sources.readers import load_table

    for t in tables:
        load_table(spark, sf_dir, t).schema
    t3 = time.perf_counter()
    return spark, {
        "session.start_s": t1 - t0,
        "session.worker_warm_s": t2 - t1,
        "sources.schema_load_s": t3 - t2,
    }


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q):
    if not xs:
        return 0.0
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


def run_pass(wl, runner, results, traced: bool, n: int) -> tuple[float, list]:
    """One pass over the workload's operations; returns (wall s, records)."""
    from perfbench.workloads import clear_plan_caches

    clear_plan_caches()
    wl.reset()
    runner.traced = traced
    runner.pass_no = n
    runner.records = []
    span = runner.tracer.open(f"pass {n}", "pass", traced=traced) if traced else None
    t0 = time.perf_counter()
    for op in wl.ops:
        runner.op = op
        op_span = runner.tracer.open(op.name, "op", layer=op.layer) if traced else None
        try:
            results.setdefault(op.name, []).append(op.run(runner))
        except Exception as exc:  # noqa: BLE001 - one failing op must not end the run
            results.setdefault(op.name, []).append(exc)
        finally:
            if op_span is not None:
                runner.tracer.close(op_span)
    wall = time.perf_counter() - t0
    if span is not None:
        runner.tracer.close(span)
    return wall, runner.records


def layer_metrics(wl, passes, progress_by_pass, stats) -> dict[str, float]:
    """Per-layer metrics: each per-pass figure's median over traced passes."""
    from perfbench.trace import covered
    from perfbench.inputs import data_files
    from perfbench.workloads import PLAN_MODULES, TRAINERS

    per_pass: list[dict[str, float]] = []
    op_lat: list[float] = []
    for (wall, records, t_start, t_end), progress in zip(passes, progress_by_pass):
        jobs = [j for r in records for j in r.jobs]
        tot = stats.totals(jobs)
        m: dict[str, float] = {f"spark.{k}": v for k, v in tot.items()}
        m["spark.core_busy_share"] = tot["executor_run_s"] / (wall * CORES)
        m["spark.no_job_s"] = wall - covered([(j.start, j.end) for j in jobs], t_start, t_end)
        for mod in PLAN_MODULES:
            recs = [r for r in records if r.layer == f"plans.{mod}"]
            t = stats.totals([j for r in recs for j in r.jobs])
            m[f"plans.{mod}.build_s"] = sum(r.seconds for r in recs if r.phase == "build")
            m[f"plans.{mod}.exec_s"] = sum(r.seconds for r in recs if r.phase == "exec")
            m[f"plans.{mod}.jobs"] = t["jobs"]
            m[f"plans.{mod}.tasks"] = t["tasks"]
            m[f"plans.{mod}.shuffle_bytes"] = t["shuffle_read_bytes"] + t["shuffle_write_bytes"]
            m[f"plans.{mod}.executor_run_s"] = t["executor_run_s"]
        by_op: dict[str, float] = {}
        for r in records:
            if r.layer.startswith("plans."):
                by_op[r.op] = by_op.get(r.op, 0.0) + r.seconds
        op_lat.extend(by_op.values())
        m["phase.serve_s"] = sum(by_op.values())
        for a, *_ in TRAINERS:
            recs = [r for r in records if r.op == f"train:{a}"]
            m[f"train.{a}.s"] = sum(r.seconds for r in recs)
            m[f"train.{a}.jobs"] = sum(len(r.jobs) for r in recs)
        m["phase.train_s"] = sum(r.seconds for r in records if r.layer == "train")

        def secs(op):
            return sum(r.seconds for r in records if r.op == op)

        m["etl.build_s"] = secs("star_build")
        m["etl.write_jobs"] = sum(len(r.jobs) for r in records if r.op == "write_csv")
        m["sources.write_csv_s"] = secs("write_csv")
        m["sources.read_json_s"] = secs("read_json")
        written = data_files(wl.out_dir) if wl.out_dir else []
        files = [f for f in written if "stream_ckpt" not in f]
        m["sources.files_written"] = len(files)
        m["sources.bytes_written"] = sum(os.path.getsize(p) for p in files)
        m["sources.bytes_out_per_byte_in"] = (
            m["sources.bytes_written"] / wl.input_bytes if wl.input_bytes else 0.0)
        m.update(stream_metrics(progress))
        per_pass.append(m)
    out = {k: median([p[k] for p in per_pass]) for k in per_pass[0]}
    out["plans.op_p50_s"] = quantile(op_lat, 0.5)
    out["plans.op_p90_s"] = quantile(op_lat, 0.9)
    return out


def stream_metrics(progress) -> dict[str, float]:
    """Streaming metrics from a query's ``recentProgress`` (none → zeros);
    progress reports of triggers that found no new file are skipped."""
    reports = [p for p in progress or [] if p.numInputRows > 0]

    def dur(key):
        return sum(p.durationMs.get(key, 0) for p in reports) / 1e3

    trig = [p.durationMs.get("triggerExecution", 0) / 1e3 for p in reports]
    rows = sum(p.numInputRows for p in reports)
    return {
        "streaming.batches": len(reports),
        "streaming.batch_p50_s": median(trig),
        "streaming.add_batch_s": dur("addBatch"),
        "streaming.query_planning_s": dur("queryPlanning"),
        "streaming.wal_commit_s": dur("walCommit"),
        "streaming.commit_offsets_s": dur("commitOffsets"),
        "streaming.latest_offset_s": dur("latestOffset"),
        "streaming.rows_per_s": rows / sum(trig) if sum(trig) else 0.0,
    }


def main(argv=None, extra_ops=None, sizes=None) -> dict:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import scraping_etl_spark  # noqa: F401
    except ModuleNotFoundError:
        sys.exit(f"perfbench: no scraping_etl_spark package beside {ROOT}; "
                 "run from the root of a checkout")
    build_root = os.path.join(ROOT, ".bench_build", "perfbench")
    work_root = os.path.join(build_root, f"work-{os.getpid()}")
    _env(build_root)

    from perfbench import workloads
    from perfbench.trace import SparkStats, Tracer

    sampler = RssSampler()
    sampler.start()
    spark = None
    try:
        kind, size = (sizes or workloads.SIZES)[args.workload]
        from perfbench import inputs

        cache = os.path.join(build_root, "inputs")
        t_in = time.perf_counter()
        sf_dir, manifest = inputs.build(cache, kind, args.seed, **size)
        t_set = time.perf_counter()
        spark, setup = set_up(sf_dir, [t for t in manifest if "/" not in t])
        setup_s = time.perf_counter() - t_set
        t_wl = time.perf_counter()
        wl = workloads.build_workload(args.workload, spark, cache, work_root,
                                      args.seed, sizes)
        wl.ops.extend(extra_ops or [])
        warm = workloads.build_workload(args.workload, spark, cache,
                                        os.path.join(work_root, "warm"),
                                        workloads.WARM_SEED, workloads.WARM_SIZES)
        inputs_s = (t_set - t_in) + (time.perf_counter() - t_wl)

        tracer = Tracer() if args.trace else None
        runner = workloads.Runner(spark, tracer)
        results: dict[str, list] = {}
        passes, progress = [], []
        # the first pass in a fresh JVM pays for first-use code generation,
        # class loading and worker imports: it runs on the warm-up inputs and
        # is set-up
        warm_wall, _ = run_pass(warm, runner, {}, False, 0)
        setup_s += warm_wall
        stats = runner.stats = SparkStats(spark) if args.trace else None
        root_span = tracer.open(args.workload, "workload") if tracer else None
        t_loop = time.perf_counter()
        while not passes or time.perf_counter() - t_loop < args.seconds:
            t_start = time.time()
            wall, records = run_pass(wl, runner, results, bool(args.trace), len(passes) + 1)
            passes.append((wall, records, t_start, time.time()))
            progress.append(results.get("star_stream", [None])[-1])
        if root_span is not None:
            tracer.close(root_span)

        t_check = time.perf_counter()
        attempted = failed = 0
        reasons: dict[str, str] = {}
        for op in wl.ops:
            outs = results.get(op.name, [])
            attempted += len(outs)
            errs = [o for o in outs if isinstance(o, BaseException)]
            failed += len(errs)
            if errs:
                reasons[op.name] = f"{type(errs[0]).__name__}: {errs[0]}"[:300]
                continue
            if op.check is not None:
                try:
                    why = op.check(outs)
                except Exception as exc:  # noqa: BLE001 - a check that raises fails the op
                    why = f"check raised {type(exc).__name__}: {exc}"
                if why:
                    failed += 1
                    reasons[op.name] = why[:300]
        for name, why in reasons.items():
            print(f"FAIL {name}: {why}", file=sys.stderr)

        walls = [w for w, *_ in passes]
        if args.trace:
            metrics = layer_metrics(wl, passes, progress, stats)
            metrics.update(setup)
            metrics["ops.fail_share"] = failed / attempted
            metrics["trace.wall_s"] = median(walls)
            trace_path = os.path.join(
                build_root, f"trace-{args.workload}-seed{args.seed}.jsonl")
            tracer.dump(trace_path)
            print(f"spans: {trace_path}", file=sys.stderr)
        else:
            metrics = {
                "wall_s": median(walls),
                "setup_s": setup_s,
                "peak_rss_mb": sampler.peak_kb / 1024.0,
            }
        print(f"inputs: {wl.manifest}", file=sys.stderr)
        print(f"timing: inputs {inputs_s:.1f} s, set-up {setup_s - warm_wall:.1f} s, "
              f"warm-up pass {warm_wall:.1f} s, timed passes "
              f"{t_check - t_loop:.1f} s, checks {time.perf_counter() - t_check:.1f} s; "
              f"passes: {[round(w, 3) for w in walls]}", file=sys.stderr)
        per_op: dict[str, float] = {}
        for r in passes[-1][1]:
            per_op[r.op] = per_op.get(r.op, 0.0) + r.seconds
        print("last timed pass: " + ", ".join(
            f"{k} {v:.2f} s" for k, v in per_op.items()), file=sys.stderr)
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": _unit(k)}
                        for k, v in metrics.items()},
        }
    finally:
        if spark is not None:
            spark.stop()
        sampler.stop()
        import shutil

        shutil.rmtree(work_root, ignore_errors=True)


def _unit(name: str) -> str:
    if name.endswith("rows_per_s"):
        return "rows/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes") or name == "sources.bytes_written":
        return "bytes"
    if name.endswith(("share", "per_byte_in")):
        return "ratio"
    return "count"


def _stop_jvm() -> None:
    """Stop the Spark JVM this process launched and wait until it exits."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its parent's pipe closes
    proc.wait(timeout=60)


if __name__ == "__main__":
    import json

    sys.path.insert(0, ROOT)
    try:
        result = main()
    finally:
        _stop_jvm()
    print(json.dumps(result))
