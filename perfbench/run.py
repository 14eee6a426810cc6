"""Benchmark entry point: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload medallion_batch --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from
``--seed``, then sets up ``SETUPS`` times: ``get_spark`` plus the
workload's probe call (the first set-up launches the JVM; each later one
stops the session and builds a new one in the same JVM). It warms up,
then repeats the workload's operation for at least ``--seconds`` and at
least the workload's ``min_ops`` times, checking every output. The last
stdout line is the result object: end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``. Inputs, outputs and Spark's
scratch space live under ``.perfbench_work/`` and are removed on exit;
the run record (settings and, when traced, every span) is written to
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

from tracer import Tracer
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3
DRIVER_MEM = "2g"
# Spark task threads. Both workloads are bound by fixed costs per job,
# not by task throughput: on a 4-CPU machine local[2] ran them as fast as
# local[4], and it leaves CPUs to the JIT and GC threads and the client.
SPARK_CPUS = min(2, os.cpu_count() or 1)

# Per-layer metrics: each module layer reports these, aggregated over the
# traced operations of the run (zero when the workload never calls it).
LAYERS = (
    "medallion.pipeline.smoke",
    "medallion.generate",
    "medallion.silver",
    "medallion.gold",
    "queries",
    "queries.inline",
    "operators.relational",
    "operators.timeseries",
    "operators.similarity",
    "operators.dedup.exact",
    "operators.dedup.lsh",
    "operators.text.pack",
    "streaming.jobs",
    "sources.io",
)
LAYER_COUNTERS = {
    "self_frac": "ratio",
    "jobs": "count",
    "tasks": "count",
    "shuffle_bytes": "B",
    "input_bytes": "B",
    "output_bytes": "B",
    "busy_frac": "ratio",
    "cpu_frac": "ratio",
}


def _proc_status(pid: int, key: str) -> int:
    """A ``kB`` field of /proc/<pid>/status, or 0 once the process is gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of the machine so far, from /proc/stat:
    the time the hypervisor gave this machine's CPUs to other guests."""
    try:
        with open("/proc/stat") as fh:
            ticks = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def peak_rss_mb() -> float:
    """VmHWM of this process plus every live descendant (the JVM and its
    Python workers)."""
    pid = os.getpid()
    kb = sum(_proc_status(p, "VmHWM") for p in [pid, *_descendants(pid)])
    return kb / 1024.0


def sandbox(work: str) -> dict[str, str]:
    """Keep every file Spark, Python and the program write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # Every JVM (the launcher too): no hsperfdata files in the system /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    os.environ["SPARK_GRAFT_SCRATCH_DIR"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(SPARK_CPUS)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # A fixed heap, touched at start-up: a JVM left to grow its heap
        # adaptively ended runs of the same code 1.9 to 2.4 GB resident.
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
    }


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


class Run:
    """One benchmark run of one workload."""

    def __init__(self, workload, seconds: float, trace: bool, corrupt: bool = False):
        self.wl = workload
        self.seconds = seconds
        self.trace = trace
        self.corrupt = corrupt
        self.tracer = Tracer(trace)
        self.attempted = 0
        self.failures: list[str] = []
        self.setup_s: list[float] = []
        # (wall, items, traced, {part: wall}, steal share) per measured op
        self.ops: list[tuple[float, int, bool, dict[str, float], float]] = []
        self.extras: dict[str, list[float]] = {}

    def _checked(self, check, *args) -> None:
        """Run one correctness check; a problem or an error fails the op."""
        self.attempted += 1
        try:
            problem = check(*args)
        except Exception as e:  # noqa: BLE001 - a failed check is a failed op
            problem = f"check raised {type(e).__name__}: {e}"
        if problem:
            self.failures.append(f"{check.__name__}: {problem}")

    def _op(self, i: int, measured: bool):
        traced = self.tracer.enabled
        self.tracer.run_id = i
        steal0, total0 = cpu_ticks()
        try:
            with self.tracer.span("op"):
                wall, items, result, parts = self.wl.run(i)
            steal1, total1 = cpu_ticks()
        except Exception as e:  # noqa: BLE001 - an op that raises is a failed op
            self.attempted += 1
            self.failures.append(f"op {i} raised {type(e).__name__}: {e}")
            return
        if self.corrupt:
            result = self.wl.corrupt(result)
            self.corrupt = False
        self._checked(self.wl.check, result)
        if measured:
            steal = (steal1 - steal0) / max(total1 - total0, 1)
            self.ops.append((wall, items, traced, parts, steal))
            self._extras(result, items)
        self.wl.cleanup(result)

    def _extras(self, result, items) -> None:
        add = self.extras.setdefault
        if hasattr(self.wl, "stored_bytes"):
            add("stored_bytes_per_item", []).append(self.wl.stored_bytes(result) / items)
        if hasattr(self.wl, "quality") and self.tracer.enabled:
            n, recall, precision = self.wl.quality(result)
            add("candidate_pairs", []).append(n)
            add("useful_frac", []).append(precision)

    def execute(self, extra_conf: dict[str, str]) -> dict:
        from spark_lakehouse_medallion_pipeline_spark.session import get_spark

        wl, tracer = self.wl, self.tracer
        wl.generate()
        i = 0
        spark = None
        try:
            for k in range(SETUPS):
                t0 = time.perf_counter()
                with tracer.span("session"):
                    spark = get_spark("perfbench", extra_conf=extra_conf)
                spark.sparkContext.setLogLevel("ERROR")
                tracer.bind(spark)
                wl.attach(spark, tracer)
                self._checked(wl.probe)
                self.setup_s.append(time.perf_counter() - t0)
                if k < SETUPS - 1:
                    wl.detach()
                    tracer.unbind()
                    spark.stop()
            # Untimed operations: compile every plan once.
            t0 = time.perf_counter()
            for _ in range(wl.warmup_ops):
                self._op(i, measured=False)
                i += 1
            self.warmup_s = time.perf_counter() - t0
            self.conf = {
                k: spark.conf.get(k, None)
                for k in ("spark.driver.memory", "spark.local.dir", "spark.master")
            }
            self.first_measured = i
            # A traced run alternates tracing, so that it is on for half
            # of every op's repeats; the gap between the two halves is the
            # tracing overhead. The JIT still makes each op a little faster
            # than the one before, so the order must cancel that drift. A
            # workload that runs its ops in blocks (the same block again
            # and again) alternates op by op and flips the phase with the
            # next block; a single op runs traced, untraced, untraced,
            # traced. Per-layer counters need no more repeats than that.
            if self.trace:
                block = 2 * wl.trace_block if wl.trace_block > 1 else 4
                floor = block
            else:
                block, floor = wl.trace_block, wl.min_ops
            t0 = time.perf_counter()
            n = 0
            while time.perf_counter() - t0 < self.seconds or n < floor or n % block:
                if self.trace:
                    if wl.trace_block > 1:
                        tracer.enabled = (n + n // wl.trace_block) % 2 == 0
                    else:
                        tracer.enabled = n % 4 in (0, 3)
                self._op(i, measured=True)
                i += 1
                n += 1
            self.measure_s = time.perf_counter() - t0
            self.rss = peak_rss_mb()
            wl.detach()
            tracer.unbind()
        finally:
            if spark is not None:
                stop_jvm(spark)
        return self.metrics()

    def op_s(self) -> float:
        """Time of one operation: the sum over its parts (pipeline stages,
        or the queries of the mix) of each part's fastest untraced run,
        divided by the operations in a block (the queries in the mix).

        Other tenants of a shared host slow some operations of a run by
        tens of percent, in bursts of a few seconds; the fastest repeat
        of each part is the one least disturbed. Taking it part by part
        drops a burst that hit one stage of an otherwise clean pipeline."""
        best: dict[str, float] = {}
        for _, _, traced, parts, _ in self.ops:
            if traced:
                continue
            for part, wall in parts.items():
                best[part] = min(wall, best.get(part, wall))
        return sum(best.values()) / self.wl.trace_block

    def metrics(self) -> dict[str, tuple[float, str]]:
        if not self.trace:
            return {
                "setup_s": (statistics.median(self.setup_s), "s"),
                "peak_rss_mb": (self.rss, "MB"),
                "ok_frac": (1.0 - len(self.failures) / self.attempted, "ratio"),
                "op_s": (self.op_s(), "s"),
            }
        return self.layer_metrics()

    def layer_metrics(self) -> dict[str, tuple[float, str]]:
        totals = self.tracer.layer_totals(self.first_measured)
        traced = [w for w, _, t, _, _ in self.ops if t]
        untraced = [w for w, _, t, _, _ in self.ops if not t]
        op_wall = sum(traced)
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        out: dict[str, tuple[float, str]] = {
            "session.wall_s": (statistics.median(
                sp.end - sp.start for sp in self.tracer.spans if sp.name == "session"
            ), "s"),
        }
        for layer in LAYERS:
            t = totals.get(layer, {})
            wall, run_ms = t.get("wall_s", 0.0), t.get("run_ms", 0.0)
            vals = {
                "self_frac": t.get("self_s", 0.0) / op_wall,
                "busy_frac": run_ms / 1000.0 / (wall * cores) if wall else 0.0,
                "cpu_frac": t.get("cpu_ms", 0.0) / run_ms if run_ms else 0.0,
            }
            for c, unit in LAYER_COUNTERS.items():
                out[f"{layer}.{c}"] = (vals.get(c, t.get(c, 0.0)), unit)
        spans = [s for s in self.tracer.spans if s.run_id >= self.first_measured]
        out["failed_tasks"] = (sum(s.counters.get("failed_tasks", 0) for s in spans), "count")
        out["spill_bytes"] = (sum(s.counters.get("spill_bytes", 0) for s in spans), "B")
        for key, name, unit in (
            ("stored_bytes_per_item", "stored_bytes_per_item", "B"),
            ("candidate_pairs", "operators.dedup.lsh.candidate_pairs", "count"),
            ("useful_frac", "operators.dedup.lsh.useful_frac", "ratio"),
        ):
            vals = self.extras.get(key)
            out[name] = (statistics.median(vals) if vals else 0.0, unit)
        out["trace_overhead_frac"] = (
            statistics.mean(traced) / statistics.mean(untraced) - 1.0, "ratio"
        )
        return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="small inputs (self-test)")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print("perfbench: run from a checkout of the repository", file=sys.stderr)
        return 2
    result = run_once(args.workload, args.seed, args.seconds, bool(args.trace), args.tiny)
    print(json.dumps(result))
    return 0


def run_once(
    workload: str, seed: int, seconds: float, trace: bool, tiny: bool, corrupt: bool = False
) -> dict:
    """Run one workload and return the result object."""
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    conf = sandbox(work)
    wl = WORKLOADS[workload](work, seed, tiny)
    run = Run(wl, seconds, trace, corrupt)
    try:
        metrics = run.execute(conf)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    record = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "tiny": tiny, "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"], **run.conf,
        "setup_s": run.setup_s, "warmup_s": run.warmup_s,
        "measure_s": run.measure_s, "ops": run.ops, "failures": run.failures,
        "metrics": metrics,
        "layers": run.tracer.layer_totals(run.first_measured) if trace else None,
        "spans": run.tracer.records() if trace else None,
    }
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{workload}-seed{seed}-trace{int(trace)}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    for f in run.failures:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    return {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


if __name__ == "__main__":
    sys.exit(main())
