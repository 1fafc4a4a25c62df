"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest_live,serve} --seed N \
        --seconds S --trace {0,1}

Run from the root of a source checkout. One process drives the engine
on local[nproc] from a single closed-loop client, checks every result
against oracle.py, and prints as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 they are the per-layer
ones from spans.py. The line before it ("perfbench-report") carries the
per-kind operation counts, percentiles with their sample counts, the
host's CPU steal share over the run and the input make-up.

Everything the run writes goes to .perfbench_work/ in the checkout, which
is removed at exit. README.md explains the choices that make runs repeat.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
HEAP = "2g"

DOMAIN_COUNTS = (
    "compaction.merges", "registry.segments_max", "codec.postings",
    "codec.bytes_per_posting", "segment_io.bytes_on_disk",
    "wand.scored.blocks_decoded", "wand.scored.blocks_total",
    "wand.batch.blocks_decoded", "wand.batch.blocks_total",
)


def _process_start() -> float:
    """time.monotonic() at which this process started (from /proc, read
    only); falls back to now when /proc is unavailable."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        age = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
        return time.monotonic() - max(age, 0.0)
    except (OSError, ValueError, IndexError):
        return time.monotonic()


T_START = _process_start()


def _cpu_times() -> list[int] | None:
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def _steal_share(a, b) -> float | None:
    if not a or not b or len(a) < 8:
        return None
    d = [y - x for x, y in zip(a, b)]
    # user nice system idle iowait irq softirq steal (guest is in user)
    total = sum(d[:8])
    return d[7] / total if total > 0 else None


def _host_probe_ms() -> float:
    """A fixed pure-Python loop, timed: tells a run the host slowed down
    apart from one the program did."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i
    return (time.perf_counter() - t0) * 1000.0


def _descendants() -> set[int]:
    """Pids of this process's descendants, read from /proc."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                parent[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
    out, frontier = set(), {os.getpid()}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier} - out
        out |= frontier
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _start_spark():
    from search_suite_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    return get_spark(
        app="perfbench", cores=cores, shuffle_partitions=2 * cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": "false",
            # fixed heap; JVM temp files inside the checkout
            "spark.driver.extraJavaOptions":
                f"-Xms{HEAP} -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        },
    ), cores


def _stop_spark(spark) -> None:
    """Stop Spark, then wait for the JVM and every process it started."""
    from pyspark import SparkContext

    kids = _descendants()
    gw = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(_alive(p) for p in kids):
        time.sleep(0.2)
    for p in kids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    for p in kids:  # reap our own children; grandchildren have gone
        try:
            os.waitpid(p, os.WNOHANG)
        except ChildProcessError:
            pass


def _pct(xs: list[float], p: float) -> float | None:
    if not xs:
        return None
    s = sorted(xs)
    return s[min(len(s) - 1, int(round(p * (len(s) - 1))))]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "search_suite_spark",
                                       "__init__.py")):
        print(f"perfbench: no search_suite_spark package under {ROOT}; "
              "run from the root of a source checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import oracle
    import workloads
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    if args.seconds < 1:
        print("perfbench: --seconds must be at least 1", file=sys.stderr)
        return 2

    oracle.self_check()

    # Spark's Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("local", "tmp", "data"):
        os.makedirs(os.path.join(WORK, d))

    # a terminated run still stops Spark and removes its files (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cpu0, probe0 = _cpu_times(), _host_probe_ms()
    data = os.path.join(WORK, "data")
    t_prep = time.monotonic()
    try:
        inputs = workloads.prepare(args.workload, args.seed, args.seconds,
                                   data)
    except BaseException:
        shutil.rmtree(WORK, ignore_errors=True)
        raise
    t_spark = time.monotonic()
    spark, cores = _start_spark()
    spark_up_s = time.monotonic() - t_spark
    tracer = Tracer(spark, enabled=bool(args.trace))
    run = workloads.Run(tracer)
    setup = {}

    def setup_done() -> float:
        import gc

        gc.collect()
        spark._jvm.System.gc()
        tracer.start()
        setup["s"] = time.monotonic() - T_START
        return setup["s"]

    e2e, lat, failure = None, [], None
    try:
        e2e, lat = workloads.WORKLOADS[args.workload](
            spark, run, inputs, args.seconds, data, setup_done)
    except workloads.Failed as e:
        failure = f"write-path operation failed: {e}"
    finally:
        t_stop = time.monotonic()
        _stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)
    cpu1, probe1 = _cpu_times(), _host_probe_ms()

    if "s" not in setup:
        print(f"perfbench: set-up failed: {failure or run.errors}",
              file=sys.stderr)
        return 1
    attempted = sum(k["attempted"] for k in run.kinds.values())
    failed = sum(k["failed"] for k in run.kinds.values())
    correct = failure is None and not run.mismatches
    report = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "cores": cores,
        "heap": HEAP, "checks": run.checks,
        "mismatches": run.mismatches, "errors": run.errors[:10],
        "failure": failure,
        "steal_share": _steal_share(cpu0, cpu1),
        "host_probe_ms": [probe0, probe1],
        "phases_s": {"prepare": t_spark - t_prep, "spark_up": spark_up_s,
                     "setup": setup.get("s"),
                     "after_setup": t_stop - T_START - setup.get("s", 0.0),
                     "stop": time.monotonic() - t_stop},
        "operations": {
            kind: {
                "attempted": k["attempted"], "failed": k["failed"],
                "samples": len(k["ms"]),
                "p50_ms": _pct(k["ms"], 0.5), "p90_ms": _pct(k["ms"], 0.9),
                "ms": [round(x, 1) for x in k["ms"]],
            } for kind, k in sorted(run.kinds.items())
        },
        "query_p90_ms": {"value": _pct(lat, 0.9), "samples": len(lat)},
        "inputs": run.extra,
    }
    metrics = {}
    if e2e is not None:
        report["end_to_end"] = {k: {"value": v, "unit": u}
                                for k, (v, u) in e2e.items()}
    if args.trace:
        layer = tracer.metrics(workloads.LAYER_OPS)
        counts = dict(tracer.counts)
        ex = run.extra
        if "n_postings" in ex:
            counts["codec.postings"] = ex["n_postings"]
            counts["codec.bytes_per_posting"] = (
                ex["packed_bytes"] / max(ex["n_postings"], 1))
            counts["segment_io.bytes_on_disk"] = ex["bytes_on_disk"]
        for name in DOMAIN_COUNTS:
            layer[name] = float(counts.get(name, 0))
        metrics = {k: {"value": v, "unit": _layer_unit(k)}
                   for k, v in layer.items()}
        report["span_calls"] = {op: int(t.get("calls", 0))
                                for op, t in sorted(tracer.totals.items())}
        report["tracer_own_ms"] = tracer.own_ms
    elif e2e is not None:
        metrics = report["end_to_end"]
    print("perfbench-report " + json.dumps(report, sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": max(attempted, 1),
                      "failed": failed, "metrics": metrics}))
    return 0


def _layer_unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes") or name == "segment_io.bytes_on_disk":
        return "B"
    if name == "codec.bytes_per_posting":
        return "B/posting"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
