"""Run one benchmark workload in this process and print its metrics.

    python3 perfbench/run.py --workload osm --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. Workloads: `osm` (replication drain,
then a bulk import) and `curate` (document curation passes); see
perfbench/README.md. With ``--trace 0`` the final line carries the
end-to-end metrics, with ``--trace 1`` the per-layer ones. The lines above
it name every check and every metric with its unit. Scratch files go to
``.perfbench/`` in the checkout; the traced run leaves its spans there as
JSON.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# library knobs that would change what is measured; unset for every run
KNOBS = (
    "SPARK_GRAFT_SPREAD",
    "SPARK_GRAFT_DIFF_GATE",
    "SPARK_GRAFT_DIFF_BROADCAST_LIMIT",
    "SPARK_DRIVER_MEMORY",
)
END_TO_END = {
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
    "setup_s": "s",
}


def _proc_stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            text = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return text[text.rindex(")") + 2 :].split()


def process_tree(root: int) -> dict[int, int]:
    """pid -> RSS bytes for root and all its descendants."""
    parent, rss = {}, {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            f = _proc_stat(pid)
            if f is not None:
                parent[int(pid)] = int(f[1])
                rss[int(pid)] = int(f[21]) * os.sysconf("SC_PAGE_SIZE")
    tree, frontier = {}, [root]
    while frontier:
        pid = frontier.pop()
        if pid in rss:
            tree[pid] = rss[pid]
            frontier.extend(c for c, p in parent.items() if p == pid)
    return tree


def process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    start_ticks = int(_proc_stat("self")[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


class RssSampler(threading.Thread):
    """Samples the summed RSS of this process tree (driver, JVM, Python
    workers) every `period` seconds and keeps the peak."""

    def __init__(self, period: float = 0.2):
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.wait(self.period):
            self.peak = max(self.peak, sum(process_tree(os.getpid()).values()))

    def stop(self) -> None:
        self._halt.set()
        self.join()


def _alive(pid: int) -> bool:
    f = _proc_stat(str(pid))
    return f is not None and f[0] != "Z"


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait until every
    process this run started (JVM, Python workers) has exited. Workers
    outlive the JVM briefly and are re-parented, so they are tracked by
    pid, not by parentage."""
    started = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in started):
        if time.monotonic() > deadline:
            for p in started:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
            deadline = time.monotonic() + 30
        time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("osm", "curate"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "imposm3_spark", "__init__.py")):
        print(f"perfbench: no imposm3_spark package under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    knobs = {k: os.environ.pop(k, None) for k in KNOBS}
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    # keep every scratch file of Spark, the JVM and Python inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"

    print(f"perfbench: workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} cpus={cpus}")
    print("perfbench: env SPARK_GRAFT_CPUS=" + str(cpus) + " " + " ".join(
        f"{k}=<unset, was {v!r}>" if v is not None else f"{k}=<unset>" for k, v in knobs.items()
    ))

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads
    from spans import Tracer

    from imposm3_spark.session import get_spark

    sampler = RssSampler()
    sampler.start()
    spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    run_id = f"{args.workload}-seed{args.seed}-pid{os.getpid()}"
    run = workloads.Run(spark, Tracer(spark, run_id), work, args.seed, args.seconds, bool(args.trace))
    crashed = False
    setup_s = 0.0
    try:
        workloads.WORKLOADS[args.workload](run)
    except Exception:
        traceback.print_exc()
        run.op(False)
        crashed = True
    finally:
        if run.setup_done is not None:
            # process start to the first timed call
            setup_s = process_age_s() - (time.perf_counter() - run.setup_done)
        stop_spark(spark)
        sampler.stop()

    for name, ok, detail in run.checks:
        print(f"check {name}: {'ok' if ok else 'FAILED'} {detail}".rstrip())
    for note in run.notes:
        print(f"note: {note}")
    run.results["setup_s"] = (setup_s, "s")
    run.results["peak_rss_mb"] = (sampler.peak / 1e6, "MB")
    run.results["ops_failed_share"] = (run.failed / max(run.attempted, 1), "ratio")
    for name, (value, unit) in run.results.items():
        print(f"metric {name} = {value:.6g} {unit}")

    if args.trace:
        os.makedirs(base, exist_ok=True)
        trace_path = os.path.join(base, f"trace-{run_id}.json")
        run.tracer.dump(trace_path)
        print(f"spans: {len(run.tracer.spans)} written to {os.path.relpath(trace_path, ROOT)}")
        metrics = workloads.layer_metrics(run)
        # peak RSS swings with the JVM's heap sizing (IQR 0.29 of the median
        # over ten `osm` runs on 4 cores), too unsteady to bound: unbounded here
        metrics["process.peak_rss_mb"] = run.results["peak_rss_mb"]
    else:
        metrics = {k: run.results.get(k, (0.0, u)) for k, u in END_TO_END.items()}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": not crashed and run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
