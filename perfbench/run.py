#!/usr/bin/env python3
"""Benchmark of the validation engine on ``local[4]``.

    python3 perfbench/run.py --workload dense_suite --seed 1 --seconds 10 --trace 0

Run from the repository root. One Python process drives the engine through
its public API, one validation at a time, and checks every iteration against
a pandas oracle. Workloads (see BENCHMARK.json for why each was chosen):

  dense_suite    every partition fails; validate + overlapped materialize
  resume_append  incremental resume over a seeded manifest; one partition

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` makes a separate
traced run and prints the per-layer metrics. The last stdout line is the
result object; the line before it records the host and the inputs. Inputs
and scratch state live under ``.perfbench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
CORES = 4
MIN_SAMPLES = 2
MIN_TRACED_PAIRS = 2


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _prepare_environment() -> None:
    # Python workers import the engine: they inherit PYTHONPATH, not sys.path
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # temporary files (ours, pyspark's, the JVM's) stay inside the checkout
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp


def start_session():
    from slower_whisper_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=64,
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(32 << 20),
            "spark.ui.showConsoleProgress": "false",
            # no hsperfdata file: the JVM writes it to the system temp dir
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # the traced run reads stage metrics back from the status store
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "20000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def shutdown() -> None:
    """Stop the active context, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def adopt_orphans() -> None:
    """Make this process the child subreaper: descendants orphaned when
    their parent exits (the JVM's Python workers, when the JVM stops) are
    re-parented here, where stop_descendants can find and reap them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass  # not Linux: stop_descendants still sees the live tree


def _descendants() -> list[int]:
    """Live (not zombie) descendants of this process, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z":
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [os.getpid()]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace: float = 15.0, limit: float = 30.0) -> None:
    """Terminate every process this one started, directly or not, and wait
    until each has ended: SIGTERM, then SIGKILL after ``grace`` seconds."""
    import signal

    if not os.path.isdir("/proc"):
        return
    start = time.monotonic()
    sig = signal.SIGTERM
    while True:
        _reap()
        pids = _descendants()
        if not pids:
            return
        elapsed = time.monotonic() - start
        if elapsed > limit:
            print(f"perfbench: processes {pids} did not end", file=sys.stderr)
            return
        if elapsed > grace:
            sig = signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def peak_rss_mb() -> float:
    """VmHWM of this process plus the JVM's."""
    total = 0
    for pid in ("self", jvm_pid()):
        if pid is None:
            continue
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


def jvm_heap_peak_mb(spark) -> float:
    """Sum of the JVM heap pools' peak use since start: heap growth that
    stays inside the committed heap, which VmHWM cannot see."""
    mgmt = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    pools = mgmt.getMemoryPoolMXBeans()
    total = sum(p.getPeakUsage().getUsed() for p in pools if p.getType().name() == "HEAP")
    return total / float(1 << 20)


class Counter:
    """Operations attempted, and those that raised or failed the output check."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, errors: list[str]) -> None:
        self.attempted += 1
        if errors:
            self.failed += 1
            self.errors.extend(errors[:3])


def _iterate(wl, counter: Counter):
    """One checked iteration; an exception counts as a failed operation."""
    wl.spark.catalog.clearCache()  # CacheManager must not substitute earlier results
    try:
        it = wl.iterate()
    except Exception as exc:  # noqa: BLE001 - the loop must go on and report it
        import traceback

        traceback.print_exc(file=sys.stderr)
        counter.record([f"{type(exc).__name__}: {exc}"[:300]])
        return None
    counter.record(it.errors)
    return it


def _loop(wl, counter: Counter, seconds: float) -> list:
    its, end = [], time.monotonic() + seconds
    while time.monotonic() < end or len(its) < MIN_SAMPLES:
        it = _iterate(wl, counter)
        if it is not None:
            its.append(it)
        elif counter.failed > 2 * MIN_SAMPLES:
            break
    return its


def end_to_end(wl, counter: Counter, seconds: float) -> tuple[dict, dict]:
    # one set-up per run keeps a run near a minute; a second one (a
    # restarted context and its first iteration) adds 10-20 s
    t0 = time.monotonic()
    spark = start_session()
    wl.start(spark)
    _iterate(wl, counter)
    setup = time.monotonic() - t0 - wl.input_s
    its = _loop(wl, counter, seconds)
    if not its:
        raise RuntimeError("no iteration succeeded: " + "; ".join(counter.errors[:5]))
    wall = statistics.median(it.wall for it in its)
    metrics = {
        "setup_s": (setup, "s"),
        "wall_s": (wall, "s"),
        "docs_per_s": (statistics.median(it.rows / it.wall for it in its), "docs/s"),
    }
    # memory is recorded, not bounded: under the engine's default 8g driver
    # heap the collector sizes the heap by its own timing, and peak RSS
    # spreads by about a third across seeds
    info = {
        "samples": len(its),
        "walls_s": [round(it.wall, 4) for it in its],
        "setup_s": round(setup, 4),
        "peak_rss_mb": round(peak_rss_mb(), 1),
        "jvm_heap_peak_mb": round(jvm_heap_peak_mb(spark), 1),
    }
    if its[0].manifest_bytes:
        info["manifest_bytes"] = statistics.median(it.manifest_bytes for it in its)
    return metrics, info


def traced(wl, counter: Counter, seconds: float) -> tuple[dict, dict]:
    """Pairs of one untraced and one traced iteration, in the sequential
    form, then the table-rule legs, the WARC parser and (on resume_append)
    the query leaves alone. Pairing the two, and alternating which goes
    first, keeps drift in the host's speed and the warm-up trend out of the
    tracing overhead."""
    from perfbench import layers
    from perfbench.trace import NullTracer, Tracer, install_wrappers

    t0 = time.monotonic()
    spark = start_session()
    get_spark_s = time.monotonic() - t0
    wl.start(spark)
    wl.sequential = True
    _iterate(wl, counter)  # warm-up
    tracer = Tracer(spark)
    ckpt: dict = {k: 0 for k in layers.CHECKPOINT_COUNTS}

    def traced_iteration():
        wl.tracer = tracer
        with install_wrappers(tracer, ckpt):
            before = dict(ckpt)
            tracer.new_run()
            it = _iterate(wl, counter)
        wl.tracer = NullTracer()
        return it, {k: ckpt[k] - before[k] for k in ckpt}

    plain, runs = [], []
    end = time.monotonic() + seconds
    while time.monotonic() < end or len(runs) < MIN_TRACED_PAIRS:
        if len(runs) % 2:
            it_traced, delta = traced_iteration()
            it = _iterate(wl, counter)
        else:
            it = _iterate(wl, counter)
            it_traced, delta = traced_iteration()
        if it is None or it_traced is None:
            break
        plain.append(it)
        runs.append((tracer.run_id, it_traced, delta))
    if not runs:
        raise RuntimeError("no iteration succeeded: " + "; ".join(counter.errors[:5]))
    wl.tracer = tracer
    tracer.new_run()
    counter.record(wl.leg_probes())
    wl.tracer = NullTracer()
    tracer.dump(os.path.join(WORK, "traces", f"{wl.name}-seed{wl.seed}-{os.getpid()}.json"))
    metrics = layers.per_layer(tracer, runs, CORES)
    metrics["session.get_spark.s"] = (get_spark_s, "s")
    metrics["peak_rss_mb"] = (peak_rss_mb(), "MB")
    metrics["jvm.heap_peak_mb"] = (jvm_heap_peak_mb(spark), "MB")
    overhead = statistics.median(it.wall for _, it, _ in runs) - statistics.median(it.wall for it in plain)
    metrics["trace.overhead_s"] = (overhead, "s")
    return metrics, {"samples_traced": len(runs), "samples_untraced": len(plain)}


def host_record() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "cores_used": CORES,
        "python": sys.version.split()[0],
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
    }


def main(argv=None) -> int:
    args = _parse(argv)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        import slower_whisper_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    _prepare_environment()
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    adopt_orphans()
    wl = WORKLOADS[args.workload](WORK, args.seed)
    counter = Counter()
    try:
        wl.prepare_inputs()
        if args.trace:
            metrics, info = traced(wl, counter, args.seconds)
        else:
            metrics, info = end_to_end(wl, counter, args.seconds)
        record = {"host": host_record(), "inputs": wl.describe(), "workload": wl.name, **info}
    finally:
        try:
            shutdown()
        finally:
            stop_descendants()
    if args.trace:  # end-to-end runs report it as failed / attempted
        metrics["ops_failed_frac"] = (counter.failed / counter.attempted, "fraction")
    if counter.errors:
        record["errors"] = counter.errors[:10]
    print(json.dumps(record))
    print(
        json.dumps(
            {
                "correct": counter.failed == 0,
                "attempted": counter.attempted,
                "failed": counter.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
