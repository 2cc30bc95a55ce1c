"""Whole-pipeline benchmark of llm_training_data_pipeline_spark.

Run from the repository root:

    python3 perfbench/run.py --workload web_curation --seed 1 --seconds 30 --trace 0

It generates the workload's corpus from ``--seed``, starts a local Spark
session through ``session.get_spark`` (launching the JVM, for ``setup_s``),
runs the workload through the package's public entry points, checks every
run's outputs and prints the end-to-end metrics (``--trace 0``) or the
per-layer split of a separate traced run (``--trace 1``). The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. The exit code is non-zero when the package is
missing or any output check fails. See ``perfbench/NOTES.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
from checks import median  # noqa: E402

DEFAULT_SEED = 1
WARM_RUNS = 2
DRIVER_MEMORY = "2g"
# one call must end well inside 180 s
WALL_LIMIT_S = 150.0

END_TO_END = {
    "setup_s": "s",
    "first_run_s": "s",
    "run_s": "s",
    "peak_rss_mb": "MB",
    "out_bytes_per_in_byte": "ratio",
}


class RssSampler(threading.Thread):
    """Peak summed memory of this process and all its descendants (the
    Spark JVM and its Python workers), sampled from /proc. Each process
    counts its proportional set size, so pages the forked Python
    workers share are counted once, not once per worker."""

    def __init__(self, period_s: float = 0.5):
        super().__init__(name="rss-sampler", daemon=True)
        self.period_s = period_s
        self.peak_kb = 0
        self.samples = 0
        self._halt = threading.Event()

    def _tree_pss_kb(self) -> int:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat", "rb") as fh:
                    stat = fh.read()
            except OSError:
                continue
            ppid = int(stat[stat.rfind(b")") + 2:].split()[1])
            children.setdefault(ppid, []).append(int(name))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
                    for line in fh:
                        if line.startswith(b"Pss:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                pass
        return total

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_pss_kb())
            self.samples += 1
            self._halt.wait(self.period_s)

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=5)


def _session(work: str, extra: dict[str, str] | None = None):
    from llm_training_data_pipeline_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    conf.update(extra or {})
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(timeout_s: float = 30.0) -> None:
    """Stop the Spark JVM this process launched and wait for it to exit:
    the gateway exits when its stdin closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=timeout_s)


def setup_session(work: str, extra: dict[str, str] | None = None):
    """Launch the JVM through ``get_spark`` and run one trivial job;
    returns the session and the seconds that took."""
    t = time.perf_counter()
    spark = _session(work, extra)
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark, time.perf_counter() - t


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def run_batch_timed(w, spark, inp, work: str, seconds: float, t_start: float, report: dict, sampler) -> dict:
    """First run plus warm runs until ``seconds`` have been measured
    and at least ``WARM_RUNS`` warm runs are done."""
    runs, failed, digests = [], 0, []
    out_bytes = []
    t_measure = time.perf_counter()
    while True:
        out = _fresh(os.path.join(work, "out", f"run{len(runs)}"))
        t = time.perf_counter()
        try:
            summary = w.run(spark, inp, out)
            wall = time.perf_counter() - t
            errs, dig = w.check(inp, out, summary)
            expected = report["expected"]
            if report["seed"] == DEFAULT_SEED and expected and dig != expected:
                errs.append(f"digest {dig} != expected {expected} for seed {DEFAULT_SEED}")
            if digests and dig != digests[0]:
                errs.append(f"digest {dig} differs from the first run's {digests[0]}")
            digests.append(dig)
            out_bytes.append(checks.dir_bytes(out))
        except Exception:  # a failed run is counted, not fatal
            wall = time.perf_counter() - t
            errs = ["run raised:\n" + traceback.format_exc()]
        if errs:
            failed += 1
            report["errors"].extend(f"run {len(runs)}: {e}" for e in errs)
        runs.append(wall)
        shutil.rmtree(out, ignore_errors=True)
        measured = time.perf_counter() - t_measure
        elapsed = time.perf_counter() - t_start
        warm = len(runs) - 1
        last = runs[-1] if warm == 0 else median(runs[1:])
        if warm == WARM_RUNS:
            # memory is compared over the same work on every seed
            report["peak_rss_kb"] = sampler.peak_kb
        if elapsed + last > WALL_LIMIT_S and warm >= 1:
            break
        if measured >= seconds and warm >= WARM_RUNS:
            break
    report["digest"] = digests[0] if digests else None
    report["runs"] = runs
    in_bytes = inp.stats["text_bytes"]
    return {
        "attempted": len(runs),
        "failed": failed,
        "values": {
            "first_run_s": (runs[0], 1),
            "run_s": (median(runs[1:]), len(runs) - 1),
            "out_bytes_per_in_byte": (median(out_bytes) / in_bytes if out_bytes else 0.0, len(out_bytes)),
        },
    }


def run_traced(w, spark, inp, work: str, report: dict, log_dir: str) -> tuple[dict, int, int]:
    """Warm-up pass, fused traced pass, staged traced pass; then the
    event log is parsed into per-span counters (after the session
    stops, so the log is complete)."""
    import spans
    import workloads as wl

    sc = spark.sparkContext
    sc.setJobGroup("warmup", "warmup")
    w.run(spark, inp, _fresh(os.path.join(work, "out", "warmup")))
    fused_out = _fresh(os.path.join(work, "out", "fused"))
    sc.setJobGroup("pipeline.fused", "pipeline.fused")
    t = time.perf_counter()
    summary = w.run(spark, inp, fused_out)
    fused_s = time.perf_counter() - t
    errs, fused_dig = w.check(inp, fused_out, summary)
    tracer = spans.Tracer(sc)
    staged_out = _fresh(os.path.join(work, "out", "staged"))
    with tracer.span("pipeline.staged"):
        counts = w.staged(spark, tracer, inp, staged_out)
    staged_dig = w.digest_rows(staged_out)
    if staged_dig != fused_dig:
        errs.append(f"staged digest {staged_dig} != fused digest {fused_dig}")
    if report["seed"] == DEFAULT_SEED and report["expected"] and fused_dig != report["expected"]:
        errs.append(f"digest {fused_dig} != expected {report['expected']}")
    counts["sources.sink_mb"] = checks.dir_bytes(fused_out) / 1e6
    if w.name == "web_curation":
        # the streaming layer rides this workload's traced run: the same
        # shards drained closed-loop through the stream entry points
        files = sorted(os.path.join(inp.paths["web"], f) for f in os.listdir(inp.paths["web"]))
        res = wl.run_stream(spark, files, os.path.join(work, "stream"), timeout_s=120)
        counts.update(wl.stream_layer_counters(res))
        serr, _acc = wl.stream_check(spark, res)
        errs.extend(serr)
    report["errors"].extend(errs)
    report["digest"] = fused_dig
    report["staged_digest"] = staged_dig
    report["spans"] = tracer.to_json()
    staged_s = tracer.seconds("pipeline.staged")
    spark.stop()
    groups: dict = {}
    for f in spans.event_log_files(log_dir):
        groups.update(spans.parse_event_log(f))
    metrics: dict = {}
    for name in wl.SPANS:
        metrics.update(spans.span_counters(name, tracer.seconds(name), groups.get(name)))
    fused = groups.get("pipeline.fused") or spans.GroupStats()
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    counts["pipeline.jobs"] = fused.jobs
    counts["pipeline.stages"] = len(fused.stages)
    counts["pipeline.tasks"] = fused.tasks
    counts["pipeline.exec_util"] = fused.exec_ms / 1000.0 / (fused_s * cores)
    counts["trace.overhead_s"] = staged_s - fused_s
    report["fused_s"] = fused_s
    report["staged_s"] = staged_s
    for name in wl.COUNTS:
        metrics[name] = float(counts.get(name, 0.0))
    return metrics, 2, 1 if errs else 0


def _units(name: str) -> str:
    import spans
    import workloads as wl

    if name in END_TO_END:
        return END_TO_END[name]
    if name in wl.COUNTS:
        return wl.COUNTS[name]
    return spans.SPAN_COUNTERS[name.rsplit(".", 1)[-1]]


def main() -> int:
    ap = argparse.ArgumentParser(description="Whole-pipeline benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=30.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "llm_training_data_pipeline_spark", "__init__.py")):
        print("perfbench: run from the repository root; llm_training_data_pipeline_spark not found", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    import workloads as wl

    if args.workload not in wl.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(wl.WORKLOADS)}", file=sys.stderr)
        return 2
    w = wl.WORKLOADS[args.workload]
    t_start = time.perf_counter()
    work = os.path.join(root, ".perfbench_work", f"{w.name}-{os.getpid()}")
    _fresh(work)
    os.makedirs(os.path.join(work, "tmp"))
    cores = len(os.sched_getaffinity(0))  # what nproc reports
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p)
    with open(os.path.join(HERE, "expected_digests.json"), encoding="utf-8") as fh:
        expected = json.load(fh).get(w.name)
    report: dict = {"workload": w.name, "seed": args.seed, "expected": expected, "errors": []}
    sampler = RssSampler()
    spark = None
    try:
        t = time.perf_counter()
        inp = w.generate(args.seed, work)
        report["gen_s"] = time.perf_counter() - t
        sampler.start()
        if args.trace:
            log_dir = os.path.join(work, "eventlog")
            os.makedirs(log_dir)
            spark, _setup_s = setup_session(work, {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
            metrics, attempted, failed = run_traced(w, spark, inp, work, report, log_dir)
            spark = None
            values = {k: (v, 1) for k, v in metrics.items()}
        else:
            spark, setup_s = setup_session(work)
            r = run_batch_timed(w, spark, inp, work, args.seconds, t_start, report, sampler)
            attempted, failed = r["attempted"], r["failed"]
            values = dict(r["values"])
            values["setup_s"] = (setup_s, 1)
    except Exception:
        traceback.print_exc()
        print("perfbench: the workload could not run", file=sys.stderr)
        return 3
    finally:
        if spark is not None:
            spark.stop()
        if "pyspark" in sys.modules:
            stop_jvm()
        sampler.stop()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    if not args.trace:
        values["peak_rss_mb"] = (report.get("peak_rss_kb", sampler.peak_kb) / 1024.0, sampler.samples)
        names = list(END_TO_END)
    else:
        names = list(values)
    report["wall_s"] = time.perf_counter() - t_start
    correct = failed == 0 and not report["errors"]

    print(f"# workload {w.name}  seed {args.seed}  trace {args.trace}  input {json.dumps(inp.stats)}")
    for name in names:
        v, n = values[name]
        print(f"#   {name:34s} {v:14.6f} {_units(name):6s} n={n}")
    print(f"#   {'failed_frac':34s} {failed / max(1, attempted):14.6f} {'ratio':6s} n={attempted}")
    for key in ("digest", "staged_digest", "gen_s", "runs", "fused_s", "staged_s", "wall_s"):
        if key in report:
            print(f"# {key}: {json.dumps(report[key])}")
    if "spans" in report:
        print(f"# spans: {json.dumps(report['spans'])}")
    for e in report["errors"][:20]:
        print(f"# CHECK FAILED: {e}")
    if len(report["errors"]) > 20:
        print(f"# ... and {len(report['errors']) - 20} more failed checks")
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed if correct else max(1, failed),
        "metrics": {k: {"value": values[k][0], "unit": _units(k)} for k in names},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
