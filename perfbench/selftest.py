"""Self-test of the benchmark at tiny scale (sf0.001-sized inputs).

    python3 perfbench/selftest.py            # all four workloads, ~10 min
    python3 perfbench/selftest.py query      # one workload

For each workload: an untraced run must print every end-to-end metric
with ``correct: true``; two traced runs with the same seed must print
every per-layer metric, and the exact counts (``workloads.EXACT``) must
repeat bit for bit.  On ``query`` and ``build`` the traced spans must
cover at least 90% of the untraced twins' wall time, and a traced
``build`` must reach the lifecycle and ops layers.  Finally the benchmark must refuse to run (non-zero
exit, no result line) in a directory holding only BENCHMARK.json and
perfbench/.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, os.path.join(ROOT, "tests"), HERE]

import workloads  # noqa: E402

SEED = 7


def bench(*args: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=900)
    return proc.returncode, proc.stdout.splitlines()


def result(workload: str, trace: int) -> dict:
    code, lines = bench("--workload", workload, "--seed", str(SEED),
                        "--seconds", "1", "--trace", str(trace),
                        "--scale", "tiny")
    assert code == 0, f"{workload} trace={trace}: exit {code}"
    out = json.loads(lines[-1])
    assert out["correct"] and out["failed"] == 0, (workload, lines[-5:])
    assert out["attempted"] >= 1
    return out["metrics"]


def expected(workload: str, trace: int) -> set:
    if trace:
        return set(workloads.LAYERS)
    if workload == "curate":
        return {"setup_s", "curate_docs_per_s", "peak_rss_mb"}
    return set(workloads.E2E)


def check_workload(workload: str) -> None:
    m = result(workload, 0)
    assert set(m) == expected(workload, 0), (workload, sorted(m))
    assert all(v["value"] > 0 for v in m.values()), (workload, m)
    a, b = result(workload, 1), result(workload, 1)
    assert set(a) == expected(workload, 1), (workload, sorted(a))
    if workload in ("query", "build"):
        # the spans of each traced read cover its untraced twin's wall time
        for r in (a, b):
            cov = r["trace.coverage_pct"]["value"]
            assert cov >= 90.0, (workload, "trace.coverage_pct", cov)
    if workload == "build":
        # the traced run also reaches the lifecycle and ops layers
        for name in ("lifecycle.add_jobs", "lifecycle.delete_jobs",
                     "ops.dedup_components_jobs"):
            assert a[name]["value"] > 0, (workload, name)
    for name in workloads.EXACT:
        if name in a:
            assert a[name] == b[name], (workload, name, a[name], b[name])
    print(f"ok {workload}")


def check_refuses_without_program() -> None:
    bare = os.path.join(ROOT, ".bench_work", f"selftest-{os.getpid()}")
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        code, lines = bench("--workload", "query", "--seed", "1",
                            "--seconds", "1", "--trace", "0", cwd=bare)
        assert code != 0 and not any(ln.startswith("{") for ln in lines)
    finally:
        shutil.rmtree(bare)
    print("ok refuses without the program")


def main(argv: list[str]) -> None:
    for w in argv or ["query", "build", "update", "curate"]:
        check_workload(w)
    check_refuses_without_program()


if __name__ == "__main__":
    main(sys.argv[1:])
