"""Host-true benchmark of the validation engine.

    python3 perfbench/run.py --workload contract-batched --seed 1 --seconds 1 --trace 0

Run from the repository root. Generates (and caches) the seeded inputs,
starts the engine's own session (``session.get_spark``, no extra conf) on
``local[<nproc>]``, then makes timed calls one at a time until ``--seconds``
of calls have been measured, checking every output untimed. The first timed
call is the first engine call of the session, as in a run_validation.py
process.
Prints one JSON report line (host fingerprint, samples, problems) and, as
the last line, ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import uuid
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("contract-batched", "leaf-sweep")
END_TO_END = ("setup_s", "wall_s", "rows_per_s")


def per_layer_names() -> list[str]:
    from workloads import FAMILIES, FUNCTION_MODULES, LEAVES

    names = ["session.start_s", "session.peak_rss_mb", "plan.decode_s",
             "plan.fill_s", "plan.compile_s", "plan.compile_jobs"]
    for f in FAMILIES:
        names += [f"checks.{f}.{m}" for m in
                  ("s", "violation_rows", "jobs", "task_s", "shuffle_mb")]
    names += [f"runner.{m}" for m in (
        "jobs", "stages", "tasks", "idle_s", "task_s", "busy_ratio", "write_s",
        "collect_s", "gc_s", "spill_mb", "violation_files", "violation_mb",
        "manifest_kb", "manifest_record_s",
    )]
    for q in LEAVES:
        names += [f"queries.{q}.s", f"queries.{q}.task_s"]
    for m in FUNCTION_MODULES:
        names += [f"functions.{m}.s", f"functions.{m}.task_s"]
    return names + ["functions.arrow_rows", "trace.wall_s", "trace.overhead_s",
                    "error_rate"]


def refuse_toggles(environ) -> list[str]:
    """Engine A/B toggles that would silently change what is measured."""
    return sorted(k for k in environ if k.startswith("RAQC_"))


# ------------------------------------------------------------- host facts


def _since_process_start() -> float:
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _source_digest() -> str:
    """sha256 of the engine sources: the code identity where no .git is."""
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(os.path.join(ROOT, "raqc_spark"))):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return h.hexdigest()


def _git_commit() -> str | None:
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as f:
            ref = f.read().strip()
        if not ref.startswith("ref: "):
            return ref
        with open(os.path.join(ROOT, ".git", ref[5:])) as f:
            return f.read().strip()
    except OSError:
        return None


def fingerprint(spark, seed: int, in_dir: str) -> dict:
    import pandas
    import pyarrow
    import pyspark

    from inputs import load_meta

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_count": os.cpu_count(),
        "ram_mb": mem_kb / 1024.0,
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "jdk": spark._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "git_commit": _git_commit(),
        "engine_source_sha256": _source_digest(),
        "seed": seed,
        "inputs": load_meta(in_dir),
        "spark_conf": dict(sorted(spark.sparkContext.getConf().getAll())),
    }


# ----------------------------------------------------------------- session


def start_spark(extra_conf: dict | None = None):
    """The engine session, exactly as ``get_spark`` builds it."""
    from raqc_spark.session import get_spark

    return get_spark("perfbench", extra_conf=extra_conf)


def peak_rss_mb(spark) -> float:
    """High-water RSS of the driver JVM plus this Python driver."""
    pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    return (_vm_hwm_kb(pid) + _vm_hwm_kb("self")) / 1024.0


def shutdown_jvm() -> None:
    """Stop the gateway JVM and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


# ------------------------------------------------------------------- loop


class Counter:
    """Engine calls attempted and failed. A failed call or a failed output
    check is counted, never dropped."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def add(self, attempted: int, problems: list[str]) -> None:
        self.attempted += attempted
        self.failed += min(attempted, len(problems))
        self.problems += problems


def timed_loop(wl, seconds: float, counter: Counter, tracer=None) -> list[float]:
    """Timed calls, one at a time, until ``seconds`` of calls are measured.
    Each output is checked after its call, untimed."""
    samples: list[float] = []
    raised = 0
    while sum(samples) < seconds:
        span = tracer.span("call") if tracer else nullcontext()
        t0 = time.perf_counter()
        try:
            with span:
                wl.call()
        except Exception as e:  # noqa: BLE001 - counted, never dropped
            counter.add(wl.calls, [f"call raised {e!r:.300}"] * wl.calls)
            raised += 1
            if raised == 3:
                raise
            continue
        samples.append(time.perf_counter() - t0)
        counter.add(wl.calls, wl.check())
    return samples


def make_workload(name: str, spark, in_dir: str, run_dir: str, tracer=None):
    from workloads import ContractBatched, LeafSweep

    if name == "contract-batched":
        return ContractBatched(spark, in_dir, run_dir)
    return LeafSweep(spark, in_dir, tracer)


def start(args, in_dir: str, run_dir: str, extra_conf=None, tracer=None):
    """The engine session after its first action, and the workload."""
    spark = start_spark(extra_conf)
    spark.range(1).count()
    return spark, make_workload(args.workload, spark, in_dir, run_dir, tracer)


def untraced(args, in_dir: str, gen_s: float, run_dir: str, counter: Counter):
    spark, wl = start(args, in_dir, run_dir)
    setup_s = _since_process_start() - gen_s
    samples = timed_loop(wl, args.seconds, counter)
    t0 = time.perf_counter()
    counter.add(wl.verify_calls, wl.verify())
    verify_s = time.perf_counter() - t0
    wall = statistics.median(samples)
    detail = {
        "samples_s": samples,
        "verify_s": verify_s,
        "peak_rss_mb": peak_rss_mb(spark),
        "fingerprint": fingerprint(spark, args.seed, in_dir),
    }
    if args.workload == "leaf-sweep":
        detail["last_pass_s"] = wl.times
    spark.stop()
    return {"setup_s": setup_s, "wall_s": wall, "rows_per_s": wl.rows / wall}, detail


def untraced_child(args, counter: Counter) -> float:
    """Run the untraced benchmark for the same workload and seed in a child
    process; its wall_s is the base of the tracing overhead."""
    import subprocess

    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    child = subprocess.run(cmd, capture_output=True, text=True, check=False)
    if child.returncode != 0:
        raise RuntimeError(f"untraced run failed: {child.stderr[-2000:]}")
    report, result = map(json.loads, child.stdout.strip().splitlines()[-2:])
    counter.attempted += result["attempted"]
    counter.failed += result["failed"]
    counter.problems += report["problems"]
    return result["metrics"]["wall_s"]["value"]


def traced(args, in_dir: str, run_dir: str, counter: Counter):
    """An untraced run in a child process, then the same timed calls inside
    spans in a session with the event log on, then the workload's layer
    probes. A layer the workload never calls reads 0."""
    import spans as sp
    from workloads import (
        FAMILIES, FUNCTION_MODULES, LEAVES, decompose_contract,
        expected_violation_rows, runner_artifacts,
    )

    base_wall = untraced_child(args, counter)
    run_id = uuid.uuid4().hex[:12]
    tracer = sp.Tracer(run_id)
    event_dir = os.path.join(WORK, "eventlog", run_id)
    os.makedirs(event_dir)
    with tracer.span("session.start"):
        spark, wl = start(args, in_dir, run_dir, {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }, tracer)
    samples = timed_loop(wl, args.seconds, counter, tracer)
    counter.add(wl.verify_calls, wl.verify())
    contract = args.workload == "contract-batched"
    if contract:
        violation_rows = decompose_contract(wl, tracer)
        want = expected_violation_rows(wl)
        counter.add(len(violation_rows), [
            f"checks.{f}: {n} violation rows, golden {want[f]}"
            for f, n in violation_rows.items() if f in want and n != want[f]
        ])
        artifacts = runner_artifacts(wl, os.path.join(run_dir, "manifest_probe"))
    cores = spark.sparkContext.defaultParallelism
    fp = fingerprint(spark, args.seed, in_dir)
    m = dict.fromkeys(per_layer_names(), 0.0)
    m["session.peak_rss_mb"] = peak_rss_mb(spark)
    spark.stop()

    log = sp.read_event_logs(event_dir)
    last = {s.name: s for s in tracer.spans}  # latest span of each name

    def attr(name):
        return sp.attribute(log, last[name].start, last[name].end)

    m["session.start_s"] = last["session.start"].duration
    if contract:
        for name in ("decode", "fill", "compile"):
            m[f"plan.{name}_s"] = last[f"plan.{name}"].duration
        m["plan.compile_jobs"] = attr("plan.compile").jobs
        for f in FAMILIES:
            a = attr(f"checks.{f}")
            m[f"checks.{f}.s"] = last[f"checks.{f}"].duration
            m[f"checks.{f}.violation_rows"] = violation_rows[f]
            m[f"checks.{f}.jobs"] = a.jobs
            m[f"checks.{f}.task_s"] = a.task_s
            m[f"checks.{f}.shuffle_mb"] = a.shuffle_mb
        r = attr("call")  # the last whole run_contract call
        for k in ("jobs", "stages", "tasks", "idle_s", "task_s", "write_s",
                  "collect_s", "gc_s", "spill_mb"):
            m[f"runner.{k}"] = getattr(r, k)
        m["runner.busy_ratio"] = r.task_s / (last["call"].duration * cores)
        for k, v in artifacts.items():
            m[f"runner.{k}"] = v
    else:
        q_attr = {q: attr(f"queries.{q}") for q in LEAVES}
        for q in LEAVES:
            m[f"queries.{q}.s"] = last[f"queries.{q}"].duration
            m[f"queries.{q}.task_s"] = q_attr[q].task_s
        for mod, members in FUNCTION_MODULES.items():
            m[f"functions.{mod}.s"] = sum(m[f"queries.{q}.s"] for q in members)
            m[f"functions.{mod}.task_s"] = sum(q_attr[q].task_s for q in members)
        m["functions.arrow_rows"] = sum(a.python_rows for a in q_attr.values())
    m["trace.wall_s"] = statistics.median(samples)
    m["trace.overhead_s"] = m["trace.wall_s"] - base_wall
    m["error_rate"] = counter.failed / max(1, counter.attempted)

    spans_path = os.path.join(WORK, "spans", f"{run_id}.jsonl")
    os.makedirs(os.path.dirname(spans_path), exist_ok=True)
    tracer.write(spans_path)
    return m, {
        "untraced_wall_s": base_wall, "traced_samples_s": samples,
        "spans": os.path.relpath(spans_path, ROOT),
        "event_log": os.path.relpath(event_dir, ROOT), "fingerprint": fp,
    }


def _declared_units(section: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    toggles = refuse_toggles(os.environ)
    if toggles:
        print(f"refusing to run with engine toggles set: {toggles}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "raqc_spark")) or not os.path.exists(
        os.path.join(ROOT, "fixtures", "generate.py")
    ):
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2

    # keep every file the run writes inside the checkout
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    sys.path[:0] = [HERE, ROOT]
    from inputs import ensure

    kind = "contract" if args.workload == "contract-batched" else "leaf"
    in_dir, gen_s = ensure(kind, args.seed, os.path.join(WORK, "inputs"))
    run_dir = os.path.join(WORK, "run", str(os.getpid()))
    counter = Counter()
    try:
        if args.trace:
            metrics, detail = traced(args, in_dir, run_dir, counter)
        else:
            metrics, detail = untraced(args, in_dir, gen_s, run_dir, counter)
    finally:
        shutdown_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)

    declared = _declared_units("per_layer" if args.trace else "end_to_end")
    if set(metrics) != set(declared):
        print(f"emitted metrics {sorted(set(metrics) ^ set(declared))} are not "
              "the ones BENCHMARK.json declares", file=sys.stderr)
        return 3
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "input_generation_s": gen_s,
        "problems": counter.problems, **detail,
    }
    print(json.dumps(report))
    print(json.dumps({
        "correct": counter.failed == 0,
        "attempted": counter.attempted,
        "failed": counter.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in declared.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
