"""Self-test of the benchmark at tiny sizes.

    python3 perfbench/selftest.py

Checks that the corpus generators are seed-deterministic (same seed →
same checksum, from scratch and from the cache; another seed → another
checksum), and that a run of every workload in BENCHMARK.json, untraced
and traced, prints every metric named there with its unit, passes its
output checks and reads no end-to-end metric as 0; and that every
per-layer metric is measured by at least one workload (a layer a
workload never reaches is reported as 0). Takes a few minutes: each
run starts Spark.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

import corpora  # noqa: E402

WORK = ROOT / ".perfbench_work" / "selftest"


def check_generators() -> None:
    for kind in corpora.GENERATORS:
        sums = []
        for attempt in range(2):
            d = WORK / f"gen{attempt}"
            shutil.rmtree(d, ignore_errors=True)
            sums.append(corpora.load(str(d), kind, "tiny", 5).checksum)
        cached = corpora.load(str(WORK / "gen1"), kind, "tiny", 5).checksum
        other = corpora.load(str(WORK / "gen1"), kind, "tiny", 6).checksum
        assert sums[0] == sums[1] == cached, f"{kind}: checksum differs by run"
        assert other != sums[0], f"{kind}: seed does not change the corpus"
        print(f"selftest: {kind} generator deterministic ({sums[0][:12]})")


def run(workload: str, trace: int) -> tuple[dict, dict]:
    """The run's result line and the child's own record of it."""
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True,
    )
    lines = out.stdout.strip().splitlines()
    with open(ROOT / json.loads(lines[-2])["record"] / "child.json") as f:
        return json.loads(lines[-1]), json.load(f)


def check_metrics() -> None:
    with open(ROOT / "BENCHMARK.json") as f:
        bench = json.load(f)
    measured: set[str] = set()
    for w in bench["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res, record = run(w["name"], trace)
            assert set(res) == {"correct", "attempted", "failed", "metrics"}
            assert res["correct"] and res["failed"] == 0, (w["name"], res)
            assert res["attempted"] >= 1
            specs = {s["name"]: s["unit"] for s in bench[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == specs, (w["name"], trace, set(specs) ^ set(got))
            if trace:
                measured |= set(record["layers"])
            else:
                zero = [k for k, v in res["metrics"].items() if not v["value"]]
                assert not zero, (w["name"], "end-to-end metrics read 0", zero)
            print(f"selftest: {w['name']} trace={trace} emits all {key}")
    never = {s["name"] for s in bench["per_layer"]} - measured
    assert not never, f"per-layer metrics no workload measures: {sorted(never)}"
    print("selftest: every per-layer metric is measured by some workload")


if __name__ == "__main__":
    check_generators()
    check_metrics()
    print("selftest: ok")
