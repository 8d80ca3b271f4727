"""zsolr benchmark: run one named workload and print its metrics.

    python3 perfbench/run.py --workload query --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The program under test is the
checkout's ``zsolr`` package, on Spark ``local[nproc]`` with one
closed-loop client thread (each request is sent after the previous one
returns).  Inputs are generated from ``--seed``; every operation's output
is checked (see workloads.py).

stdout: header lines starting with ``#`` (seed, nproc, Spark version,
input sizes, loop shape, and in traced runs the span self-time table),
then, as the LAST line, one JSON object ``{"correct", "attempted",
"failed", "metrics"}``.  ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer metrics (see METRICS.md).  Traced runs write
every span to ``.bench_out/trace_<workload>_<seed>.json`` at exit.

``--scale tiny`` shrinks every input (sf0.001-sized) for the benchmark's
own self-test (selftest.py).  Spark scratch space and the index live in
``.bench_work/`` under the checkout and are removed at exit.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("query", "update", "build", "curate")


def _need_program() -> None:
    """Refuse to run without the program under test (exit 2, no result)."""
    for rel in ("zsolr/__init__.py", "tests/oracle.py", "tests/queryset.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            print(f"perfbench: {rel} not found under {ROOT}; run from the"
                  " root of a zsolr checkout", file=sys.stderr)
            sys.exit(2)


def _prepare_env(work: str, nproc: int) -> None:
    """Keep Spark's scratch, temp files and Python workers inside the
    checkout, and quiet the console so stdout stays parseable."""
    spark_local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(spark_local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep)
    os.environ["ZSOLR_LOCAL_DIR"] = spark_local
    os.environ["SPARK_LOCAL_DIRS"] = spark_local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    # a 2 GB driver heap is ample for these corpora (the engine's default
    # is 8 GB) and keeps the run small on a shared box
    heap = os.environ.setdefault("ZSOLR_DRIVER_MEM", "2g")
    # every JVM, the launcher's too: temp files in the checkout, no
    # hsperfdata files in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = \
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # the heap is resident at its full size from the start: grown lazily,
    # its size at the peak follows GC timing (peak_rss_mb's ten-run spread
    # was 0.24), not the program's memory use
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Xms{heap} -XX:+AlwaysPreTouch'"
        " --conf spark.ui.showConsoleProgress=false pyspark-shell")


def _cpu_ticks() -> list[int]:
    """Aggregate CPU time counters (user … steal) from /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (the JVM's Python workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def _stop_jvm(gateway) -> None:
    """Shut the JVM down (it exits when its stdin closes) and wait until it
    and every process it started have ended."""
    procs = _descendants(gateway.proc.pid)
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    deadline = time.time() + 30
    while procs and time.time() < deadline:
        procs = [p for p in procs if _alive(p)]
        time.sleep(0.1)
    for p in procs:
        with contextlib.suppress(ProcessLookupError):
            os.kill(p, signal.SIGKILL)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            state = fh.read().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return False
    return state not in ("Z", "X")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("default", "tiny"),
                    default="default")
    args = ap.parse_args(argv)
    _need_program()

    nproc = len(os.sched_getaffinity(0))
    ticks0 = _cpu_ticks()
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    _prepare_env(work, nproc)
    # the program, its reference oracle + query set, and this directory
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests"), HERE]

    import workloads  # noqa: E402  (needs the env above)
    from zsolr.session import get_spark  # noqa: E402

    spark = gateway = None
    try:
        spark = get_spark("perfbench", master=f"local[{nproc}]",
                          shuffle_partitions=nproc * 2)
        gateway = spark.sparkContext._gateway
        spark.sparkContext.setLogLevel("ERROR")
        ctx = workloads.Context(
            spark=spark, work=work, seed=args.seed, seconds=args.seconds,
            scale=args.scale, traced=bool(args.trace), nproc=nproc,
            t_start=T_START)
        result = workloads.run(args.workload, ctx)
        if not args.trace:
            peak_kb = _vm_hwm_kb("self") + _vm_hwm_kb(gateway.proc.pid)
            result.metrics["peak_rss_mb"] = (peak_kb / 1024.0, "MB")
        ticks = _cpu_ticks()
        header = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "scale": args.scale, "nproc": nproc,
            "spark": spark.version, "python": sys.version.split()[0],
            "loop": "closed loop, 1 client thread",
            # share of CPU time the hypervisor gave to other guests during
            # the run: the main source of run-to-run noise on a shared box
            "cpu_steal_pct": round(100.0 * (ticks[7] - ticks0[7])
                                   / max(1, sum(ticks) - sum(ticks0)), 2),
            **result.header,
        }
        print("# header " + json.dumps(header, sort_keys=True))
        if result.spans is not None:
            out_dir = os.path.join(ROOT, ".bench_out")
            os.makedirs(out_dir, exist_ok=True)
            path = os.path.join(
                out_dir, f"trace_{args.workload}_{args.seed}.json")
            with open(path, "w") as fh:
                json.dump(result.spans, fh)
            print("# span self time (ms) by name "
                  + json.dumps(result.self_times, sort_keys=True))
            print(f"# spans written to {os.path.relpath(path, ROOT)}")
        for err in result.errors[:20]:
            print(f"# error: {err}")
        metrics = {k: {"value": v, "unit": u}
                   for k, (v, u) in sorted(result.metrics.items())}
        print(json.dumps({
            "correct": result.failed == 0 and not result.errors,
            "attempted": result.attempted,
            "failed": result.failed,
            "metrics": metrics,
        }), flush=True)
        return 0
    finally:
        if spark is not None:
            spark.stop()
        if gateway is not None:
            _stop_jvm(gateway)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
