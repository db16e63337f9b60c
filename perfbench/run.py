#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload pretrain --seed 1 --seconds 20 --trace 0

Run from the repository root. The workloads, their reasons and the
layer-to-metric table are in ``perfbench/RATIONALE.md``; the metric names
and units are read from ``BENCHMARK.json``.

A run: host-speed loop, input generation, session set-up, the oracle
checks and a warm-up, closed-loop timed passes for ``--seconds`` and at
least ``MIN_PASSES`` passes, the output check of every pass, session
stop, and the host-speed loop again.
The last stdout line is the result; the line before it holds the details
(sample counts, digests, checks, phase times and, traced, the spans).

``--trace 1`` enables the Spark event log and spans, alternates traced
and untraced passes, and reports the per-layer metrics instead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
HOST_LOOP_REPS = 3
#: timed passes per run at the least, so that one slow host window cannot
#: decide a run's median
MIN_PASSES = 3


def steal_s() -> float:
    """Host CPU time stolen from the host's cores so far (/proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def since_process_start() -> float:
    with open("/proc/self/stat") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rfind(")") + 2 :].split()[19])  # stat field 22
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def host_loop() -> float:
    """Median seconds of a fixed single-thread loop (never gated)."""
    times = []
    for _ in range(HOST_LOOP_REPS):
        t0 = time.perf_counter()
        s = 0
        for i in range(1_000_000):
            s += i * i % 7
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def preflight() -> None:
    """Fail before any work when the program or its goldens are absent."""
    for rel in ("text_ocr_spark/pipeline.py", "__spark_entry__.py",
                "fixturedata/golden_sf0.01.parquet", "BENCHMARK.json"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            raise FileNotFoundError(f"{rel} not found under {ROOT}")


def checkout_env() -> None:
    """Import the program from the checkout, in this process and in the
    Python workers, and keep the temp files of every JVM (the spark-submit
    launcher too) and of Python inside the checkout."""
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # Spark prefers this variable to spark.local.dir for shuffle files
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")


def start_session(work: str, event_log: bool):
    """The program's session on ``local[nproc]`` with a fixed JVM heap,
    up once one trivial Python task has finished on every core."""
    from text_ocr_spark.pipeline import session_builder

    cores = len(os.sched_getaffinity(0))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    b = (
        session_builder(master=f"local[{cores}]", app="perfbench")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
    )
    if event_log:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + log_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def warm(batches):  # nested, so it pickles by value into the workers
        import text_ocr_spark.pipeline  # noqa: F401  (the kernel imports)

        yield from batches

    spark.range(cores).repartition(cores).mapInPandas(warm, "id long").count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait until every child has exited."""
    from pyspark import SparkContext

    from procs import tree_pids

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()  # the gateway JVM exits on EOF
        gw.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while len(tree_pids(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)
    for pid in tree_pids(os.getpid())[1:]:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


class Pass:
    def __init__(self, i: int, traced: bool) -> None:
        self.i = i
        self.traced = traced
        self.wall_s = self.cpu_s = 0.0
        self.window = (0.0, 0.0)
        self.result = None
        self.tracer = None
        self.problems: list[str] = []


def timed_passes(w, spark, tree, seconds: float, trace: bool) -> list[Pass]:
    """Closed loop: the next pass starts when the previous one finished,
    until ``seconds`` have passed and ``MIN_PASSES`` passes have run.
    Traced runs alternate traced and untraced passes, starting traced, so
    they have two traced passes, to tell which counts repeat exactly, and
    an untraced one, for the tracing overhead."""
    from layers import Tracer

    passes: list[Pass] = []
    deadline = time.perf_counter() + seconds
    while True:
        p = Pass(len(passes), traced=trace and len(passes) % 2 == 0)
        p.tracer = Tracer(spark, p.traced)
        c0, e0, t0 = tree.cpu_s(), time.time(), time.perf_counter()
        try:
            with p.tracer.span(f"pass{p.i}"):
                p.result = w.run_pass(spark, p.tracer, p.i)
        except Exception:  # a failed pass is counted, and the loop goes on
            p.problems.append(traceback.format_exc(limit=3))
        p.wall_s = time.perf_counter() - t0
        p.cpu_s = tree.cpu_s() - c0
        p.window = (e0, time.time())
        passes.append(p)
        if p.problems or (time.perf_counter() >= deadline and len(passes) >= MIN_PASSES):
            return passes


def _median(values):
    return statistics.median(values) if values else 0.0


def end_to_end(w, passes, setup_s: float, tree) -> tuple[dict, dict]:
    ok = [p for p in passes if not p.problems]
    wall = _median([p.wall_s for p in ok])
    values = {
        "setup_s": setup_s,
        "wall_s": wall,
        "turns_per_s": w.n_turns / wall if wall else 0.0,
        "cpu_s": _median([p.cpu_s for p in ok]),
        "py_peak_rss_mb": tree.peak_mb("python"),
    }
    samples = {"setup_s": 1, "wall_s": len(ok), "turns_per_s": len(ok),
               "cpu_s": len(ok), "py_peak_rss_mb": 1}
    return values, {"samples": samples}


def per_layer(w, passes, tree, log_dir: str) -> tuple[dict, dict]:
    """Medians over the traced passes of every per-layer metric."""
    from eventlog import EventLog
    from layers import fixture_pass, kernel_pass
    from text_ocr_spark.fixtures import build_payload

    log = EventLog(log_dir)
    traced = [p for p in passes if p.traced and not p.problems]
    untraced = [p for p in passes if not p.traced and not p.problems]
    rows: list[dict] = []
    for p in traced:
        root = next(s for s in p.tracer.spans if s.parent is None)
        row = {f"pipeline.{k}": v for k, v in log.summary(p.tracer.groups_under(root), p.window).items()}
        for s in p.tracer.spans:
            if s.parent == root.group and w.name == "pretrain":
                row[f"ops.{s.name}.s"] = s.seconds
                row[f"ops.{s.name}.jobs"] = log.summary(p.tracer.groups_under(s))["jobs"]
        row.update(w.checkpoint_metrics(p.result))
        row["trace.wall_s"] = p.wall_s
        rows.append(row)
    keys = {k for r in rows for k in r}
    values = {k: _median([r[k] for r in rows if k in r]) for k in keys}
    repeats = {
        k: len({r[k] for r in rows}) == 1
        for k in ("pipeline.jobs", "pipeline.stages", "pipeline.tasks", "pipeline.arrow_tasks")
    }
    values["trace.overhead_s"] = values.get("trace.wall_s", 0.0) - _median([p.wall_s for p in untraced])
    values["pipeline.jvm_peak_rss_mb"] = tree.peak_mb("jvm")
    docs = w.kernel_docs
    values.update(fixture_pass(docs))
    payloads = [
        build_payload(int(d), t or "")
        for d, t in zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist())
    ]
    values.update(kernel_pass(payloads))
    return values, {"traced_passes": len(traced), "untraced_passes": len(untraced),
                    "repeats_exactly": repeats}


def measure(w, spark, tree, args, setup_s: float, phase: dict) -> dict:
    """Checks, warm-up, timed passes and their output checks, then the
    metrics, all on the live session."""
    t0 = time.perf_counter()
    checks: dict[str, str | None] = {}
    try:
        checks = w.check(spark)
        checks.update(w.warm_up(spark))
    except Exception:
        checks[f"{w.name}.check"] = traceback.format_exc(limit=3)
    t1 = time.perf_counter()
    phase["check"] = t1 - t0
    steal0 = steal_s()
    passes = timed_passes(w, spark, tree, args.seconds, bool(args.trace))
    steal = steal_s() - steal0
    phase["passes"] = time.perf_counter() - t1
    digests = set()
    for p in passes:
        if p.problems:
            continue
        try:
            p.problems += w.verify(spark, p.result)
            digests.add(w.digest(p.result))
        except Exception:
            p.problems.append(traceback.format_exc(limit=3))
    checks["passes_agree"] = (
        f"{len(digests)} distinct output digests across passes" if len(digests) > 1 else None
    )
    recorded = _recorded_digest(w.name, args.seed)
    notes = {}
    if recorded is None:
        notes["recorded_digest"] = f"no digest recorded for seed {args.seed}"
    checks["recorded_digest"] = (
        f"digest {sorted(digests)} != recorded {recorded}"
        if recorded is not None and digests and digests != {recorded}
        else None
    )
    tree.stop()
    if args.trace:
        values, extra = per_layer(w, passes, tree, os.path.join(WORK, "eventlog"))
    else:
        values, extra = end_to_end(w, passes, setup_s, tree)
    for p in passes:
        if p.result is not None:
            w.cleanup(p.result)
    return {"checks": checks, "check_notes": notes, "passes": passes, "digests": digests,
            "steal": steal, "values": values, "extra": extra}


def run(args) -> int:
    from procs import ProcTree
    from workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    w = WORKLOADS[args.workload](WORK, traced_run=bool(args.trace))

    t0 = time.perf_counter()
    loop_before = host_loop()
    t1 = time.perf_counter()
    w.prepare(args.seed)
    gen_s = time.perf_counter() - t1
    spark = start_session(WORK, event_log=bool(args.trace))
    # set-up excludes the host loop and input generation that preceded it
    setup_s = since_process_start() - (t1 - t0) - gen_s
    phase = {"host_loop": t1 - t0, "gen": gen_s, "setup": time.perf_counter() - t1 - gen_s}
    tree = ProcTree()
    tree.start()
    try:
        m = measure(w, spark, tree, args, setup_s, phase)
    finally:
        tree.stop()
        t2 = time.perf_counter()
        stop_session(spark)
        phase["stop"] = time.perf_counter() - t2
    loop_after = host_loop()
    phase["total"] = since_process_start()

    checks, passes, values = m["checks"], m["passes"], m["values"]
    failed = sum(1 for p in passes if p.problems) + sum(1 for v in checks.values() if v)
    attempted = len(passes) + len(checks)
    if args.trace:
        values["host.loop_s"] = _median([loop_before, loop_after])
    metrics = {
        s["name"]: {"value": float(values.get(s["name"], 0.0)), "unit": s["unit"]}
        for s in spec["per_layer" if args.trace else "end_to_end"]
    }
    detail = {
        "workload": w.name, "seed": args.seed, "trace": args.trace,
        "n_turns": w.n_turns, "input_digest": w.input_digest, "gen_s": gen_s,
        "setup_s": setup_s,
        "pass_wall_s": [round(p.wall_s, 4) for p in passes],
        "pass_cpu_s": [round(p.cpu_s, 3) for p in passes],
        "output_digests": sorted(m["digests"]), "checks": checks,
        "check_notes": m["check_notes"],
        "problems": [p.problems for p in passes if p.problems],
        "failed_frac": failed / attempted,
        "host.loop_s": {"before": loop_before, "after": loop_after},
        "host.steal_s_during_passes": m["steal"],
        "phase_s": {k: round(v, 2) for k, v in phase.items()},
        **m["extra"],
    }
    if args.trace:
        detail["spans"] = [
            [s.group, round(s.start - passes[0].window[0], 3), round(s.seconds, 4), s.parent]
            for p in passes if p.traced for s in p.tracer.spans
        ]
    print(json.dumps(detail, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    shutil.rmtree(WORK, ignore_errors=True)
    return 0


def _recorded_digest(workload: str, seed: int) -> str | None:
    path = os.path.join(HERE, "expected_digests.json")
    if not os.path.isfile(path):
        return None
    with open(path) as f:
        return json.load(f).get(workload, {}).get(str(seed))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        preflight()
    except FileNotFoundError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    checkout_env()
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
