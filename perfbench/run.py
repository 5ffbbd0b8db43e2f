"""Benchmark of the near-duplicate engine: one run of one workload.

    python3 perfbench/run.py --workload code_lake --seed 1 --seconds 10 --trace 0

Prints, as its last stdout line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. The line before it is the drift sentinel.

The run itself happens in a child process (this file with ``--child``)
so that this parent can sample the resident memory of the child's whole
process tree (driver JVM and Python workers), time a constant-work
drift probe before and after, and make sure every process the run
started has ended. Everything the run writes stays under
``.perfbench_work/`` at the root of the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"

# workload -> (corpus kind, corpus scale, protocol)
WORKLOADS = {
    "code_lake": ("code", "lake", "lake"),
    "code_stream": ("code", "stream", "stream"),
    "prose_borderline": ("prose", "lake", "lake"),
}

# Not used while tuning the benchmark: confirm a claimed gain on it.
HELD_OUT_SEED = 777001

# Fixed driver heap for every run, so memory and GC behaviour do not
# depend on the host's size (the engine's own default scales with cores).
DRIVER_MEM = "2g"

# A run must end within 180 s; leave room for the drift probe and reaping.
RUN_LIMIT_S = 165.0


def parse(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="self-test sizes: every corpus at its tiny scale")
    p.add_argument("--child", metavar="RUN_DIR", help=argparse.SUPPRESS)
    return p.parse_args(argv)


# ---- parent ------------------------------------------------------------


def drift_probe() -> float:
    """Best of three timings of a fixed CPU + memory workload."""
    buf = bytes(range(256)) * 4096
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        h = hashlib.sha256()
        for _ in range(48):
            h.update(buf)
        sum(i * i for i in range(300_000))
        best = min(best, time.perf_counter() - t)
    return best


def host_state() -> dict:
    with open("/proc/meminfo") as f:
        mem = dict(line.split(":", 1) for line in f)
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": list(os.getloadavg()),
        "mem_available_mb": int(mem["MemAvailable"].split()[0]) / 1024,
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def _pss_bytes(pid: int) -> int:
    """Proportional set size: shared pages (the forked Python workers
    share their daemon's) are split between sharers, not counted twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class TreeSampler(threading.Thread):
    """Peak summed PSS of a process and all its descendants, sampled
    every 100 ms; remembers every pid it saw so they can be reaped."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid, self.peak, self.seen = pid, 0, {pid}
        self.at_peak: dict[str, float] = {}  # MB per command at the peak
        self.done = threading.Event()

    def run(self) -> None:
        while not self.done.wait(0.1):
            kids, tree, i = _children(), [self.pid], 0
            while i < len(tree):
                tree.extend(kids.get(tree[i], []))
                i += 1
            self.seen.update(tree)
            pss = {p: _pss_bytes(p) for p in tree}
            total = sum(pss.values())
            if total > self.peak:
                self.peak, self.at_peak = total, {}
                for p, b in pss.items():
                    name = _comm(p)
                    self.at_peak[name] = self.at_peak.get(name, 0) + b / 1e6


def reap(pids: set[int], timeout: float = 30.0) -> None:
    """Wait for every pid to exit; kill what is left after ``timeout``."""
    deadline = time.monotonic() + timeout
    alive = {p for p in pids if os.path.exists(f"/proc/{p}")}
    while alive and time.monotonic() < deadline:
        time.sleep(0.2)
        alive = {p for p in alive if os.path.exists(f"/proc/{p}")}
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while any(os.path.exists(f"/proc/{p}") for p in alive):
        time.sleep(0.1)


def child_env(scratch: Path) -> dict[str, str]:
    tmp = scratch / "tmp"
    for d in (tmp, scratch / "local"):
        d.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), env.get("PYTHONPATH")])),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(scratch / "local"),
        "SPARK_WAREHOUSE_DIR": str(scratch / "warehouse"),
        "XDG_CACHE_HOME": str(WORK / "cache"),  # native LCS kernel build
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    return env


def metric_specs(trace: int) -> list[dict]:
    with open(ROOT / "BENCHMARK.json") as f:
        bench = json.load(f)
    return bench["per_layer" if trace else "end_to_end"]


def parent(args) -> int:
    started = time.monotonic()
    kind, scale, _ = WORKLOADS[args.workload]
    if args.tiny:
        scale = "tiny"
    import corpora

    # generated (or checksum-verified from cache) before anything is timed
    corpora.load(str(WORK), kind, scale, args.seed)

    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = WORK / "runs" / tag
    scratch = run_dir / "scratch"
    run_dir.mkdir(parents=True, exist_ok=True)
    drift = {"before": host_state(), "probe_before_s": drift_probe()}

    cmd = [sys.executable, str(HERE / "run.py"), "--child", str(run_dir),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace)]
    if args.tiny:
        cmd.append("--tiny")
    proc = subprocess.Popen(cmd, env=child_env(scratch), cwd=ROOT,
                            stdout=sys.stderr, stdin=subprocess.DEVNULL)
    sampler = TreeSampler(proc.pid)
    sampler.start()
    timeline = {"spawn_s": time.monotonic() - started}
    try:
        code = proc.wait(timeout=RUN_LIMIT_S - (time.monotonic() - started))
    except subprocess.TimeoutExpired:
        proc.kill()
        code = proc.wait()
    finally:
        timeline["child_exit_s"] = time.monotonic() - started
        sampler.done.set()
        sampler.join()
        reap(sampler.seen - {proc.pid})
        timeline["reaped_s"] = time.monotonic() - started
        shutil.rmtree(scratch, ignore_errors=True)

    drift["probe_after_s"] = drift_probe()
    drift["after"] = host_state()
    drift["probe_ratio"] = drift["probe_after_s"] / drift["probe_before_s"]
    with open(run_dir / "parent.json", "w") as f:
        json.dump({"drift": drift, "timeline": timeline,
                   "peak_mb_by_command": sampler.at_peak}, f)
    if code != 0:
        print(f"perfbench: run failed (exit {code}); see {run_dir}", file=sys.stderr)
        return 1

    with open(run_dir / "child.json") as f:
        res = json.load(f)
    attempted = len(res["ops"])
    failed = sum(not o["ok"] for o in res["ops"])
    measured = dict(res["layers"] if args.trace else res["metrics"])
    if not args.trace:
        measured["peak_rss_mb"] = sampler.peak / 1e6
        measured["ok_share"] = (attempted - failed) / attempted
    metrics = {}
    for spec in metric_specs(args.trace):
        name = spec["name"]
        if name not in measured and not args.trace:
            print(f"perfbench: metric {name} not measured", file=sys.stderr)
            return 1
        # a layer this workload never reaches did no work in it
        metrics[name] = {"value": float(measured.get(name, 0.0)),
                         "unit": spec["unit"]}
    print(json.dumps({"drift": drift, "record": str(run_dir.relative_to(ROOT))}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


# ---- child -------------------------------------------------------------


def stop_spark(spark) -> None:
    """Stop the session, then end its JVM now rather than at interpreter
    exit: the run's outputs are already collected, and the JVM's own
    shutdown (hooks deleting scratch dirs this run removes anyway) would
    otherwise add seconds to every run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.kill()
        gateway.proc.wait()


def child(args) -> int:
    from workloads import PROTOCOLS, Run

    kind, scale, protocol = WORKLOADS[args.workload]
    run_dir = Path(args.child)
    run = Run(kind, "tiny" if args.tiny else scale, args.seed, args.seconds,
              bool(args.trace), str(WORK), str(run_dir / "scratch"))
    try:
        PROTOCOLS[protocol](run)
    finally:
        run.mark("measured")
        if run.spark is not None:
            stop_spark(run.spark)
        run.mark("stopped")
    if run.tracer.enabled:
        run.tracer.dump(str(run_dir / "spans.json"))
    with open(run_dir / "child.json", "w") as f:
        json.dump({"metrics": run.metrics, "layers": run.layers,
                   "ops": run.ops, "timeline": run.timeline,
                   "walls": run.walls}, f)
    return 0


def main(argv=None) -> int:
    args = parse(argv)
    if not (ROOT / "twinspect_spark" / "__init__.py").is_file():
        print(f"perfbench: no engine sources at {ROOT / 'twinspect_spark'}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    return child(args) if args.child else parent(args)


if __name__ == "__main__":
    sys.exit(main())
