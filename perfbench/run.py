#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload ingest_sync --seed 1 --seconds 10 --trace 0

Inputs are generated from ``--seed``; the timed phase lasts ``--seconds``:
an operation starts only while it is expected to end less than half an
operation past the deadline (an open-loop workload sends on its schedule
until the deadline and then waits for what it sent).  Outputs are checked
against a numpy oracle.  Lines before the last name the workload's own
figures with units and sample counts; the last line of standard output is
one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics of ``BENCHMARK.json`` with
``--trace 0``, its per-layer metrics with ``--trace 1``.  A full report
(and, when traced, every span) is written under ``.perfbench_out/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import itertools  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent

#: top-level calls whose Spark-side split is measured per call
SPLIT_CALLS = (
    "tsdb.insert",
    "tsdb.sync",
    "tsdb.idle_sync",
    "tsdb.get_metric",
    "tsdb.list_metrics",
    "app.graph",
)
#: nested calls reported as time per call and calls per operation
NESTED_CALLS = (
    "operators.aggregate",
    "storage.read_table",
    "storage.append",
    "storage.overwrite_partitions",
    "storage.drop_partitions_below",
    "storage.write_manifest",
)
#: JVM thread-name prefixes of compiler, GC and VM service threads
JVM_SERVICE_THREADS = ("C1 ", "C2 ", "GC ", "G1 ", "VM ", "Sweeper", "Service Thread", "Monitor Deflation")


class Op:
    def __init__(self, op_id: int, kind: str):
        self.id = op_id
        self.kind = kind
        self.seconds = 0.0
        self.failed = False


class Bench:
    """Harness shared by the workloads: session, timing, checks, output."""

    def __init__(self, args):
        from perfbench.trace import Tracer

        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.tracer = Tracer(bool(args.trace))
        self.work = str(ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}")
        self.out = ROOT / ".perfbench_out"
        self.spark = None
        self.ops: list[Op] = []
        self._ids = itertools.count(1)
        self.checks = 0
        self.check_failures: list[str] = []
        self.named_metrics: dict[str, dict] = {}
        self.layer: dict[str, float] = {}
        self.points_ingested = 0
        #: what ``jobs_per_op`` divides by, when not the operation count
        self.job_ops: int | None = None
        #: job groups, besides none, whose jobs ``jobs_per_op`` counts
        self.job_groups: list[str] = []
        self.deadline = None
        self._t_timed = None
        self._cpu_timed = (0.0, 0.0)
        self._jobs_timed = 0

    # -- session ---------------------------------------------------------------

    def start_spark(self) -> None:
        from smalltsdb_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # keep every scratch file of Python, the JVM and Spark in the checkout
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ["SPARK_GRAFT_EXTRA_JAVA_OPTIONS"] = (
            os.environ.get("SPARK_GRAFT_EXTRA_JAVA_OPTIONS", "")
            + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ).strip()
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.tracer.enabled:
            conf |= {
                "spark.ui.enabled": "true",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            }
        ncpu = len(os.sched_getaffinity(0))
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{ncpu}]", shuffle_partitions=ncpu, extra_conf=conf
        )
        self.jvm_pid = int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        if self.tracer.enabled:
            self.tracer.count_py4j(self.spark)
        self.phase("session started")

    def close(self) -> None:
        """Stop Spark and its JVM, wait for it, and remove scratch files."""
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.phase("stopping Spark")
            try:
                self.spark.stop()
            finally:
                proc = getattr(gateway, "proc", None)
                if proc is not None:
                    with contextlib.suppress(Exception):
                        gateway.shutdown()
                    with contextlib.suppress(Exception):
                        proc.stdin.close()
                    try:
                        proc.wait(timeout=30)
                    except Exception:
                        proc.kill()
                        proc.wait(timeout=30)
        shutil.rmtree(self.work, ignore_errors=True)
        self.phase("done")

    # -- measurement -------------------------------------------------------------

    def _cpu_s(self) -> tuple[float, float]:
        """CPU seconds of this process and the JVM: ``(all threads, threads
        doing the work)``; the second leaves out the JVM's JIT compiler, GC
        and VM service threads, whose load depends on how warm the JVM is."""
        tick = os.sysconf("SC_CLK_TCK")

        def cpu(stat_path):
            with open(stat_path) as f:
                fields = f.read().rsplit(")", 1)[1].split()
            return (int(fields[11]) + int(fields[12])) / tick

        own = cpu("/proc/self/stat")
        total = own + cpu(f"/proc/{self.jvm_pid}/stat")
        work = own
        for tid in os.listdir(f"/proc/{self.jvm_pid}/task"):
            try:
                with open(f"/proc/{self.jvm_pid}/task/{tid}/comm") as f:
                    name = f.read()
                if not name.startswith(JVM_SERVICE_THREADS):
                    work += cpu(f"/proc/{self.jvm_pid}/task/{tid}/stat")
            except FileNotFoundError:  # the thread ended meanwhile
                pass
        return total, work

    def _peak_rss_mb(self) -> float:
        own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        with open(f"/proc/{self.jvm_pid}/status") as f:
            hwm = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        return own + hwm / 1024.0

    def _jobs_submitted(self) -> int:
        """Spark jobs submitted so far (job ids are sequential), from the
        status tracker, which the UI-less session keeps as well: the
        highest id outside any job group or in one of ``job_groups`` (the
        streaming queries run their jobs in groups of their own).
        Meaningful in untraced runs only: a traced run puts each top-level
        call's jobs in a group of its own."""
        tracker = self.spark.sparkContext.statusTracker()
        ids = [i for g in [None, *self.job_groups] for i in tracker.getJobIdsForGroup(g)]
        return max(ids) + 1 if ids else 0

    def start_timing(self) -> None:
        self.phase("timed phase")
        self._jobs_timed = self._jobs_submitted()
        self._t_timed = time.perf_counter()
        self._cpu_timed = self._cpu_s()
        self.deadline = self._t_timed + self.seconds

    def more(self, last: float | None = None) -> bool:
        """Whether to start another operation: it is expected to end less
        than half an operation past the deadline, judged by ``last`` (by
        default the last operation's seconds)."""
        if last is None:
            last = self.ops[-1].seconds if self.ops else 0.0
        return time.perf_counter() + last / 2 < self.deadline

    def stop_timing(self) -> None:
        self._cpu_timed = tuple(b - a for a, b in zip(self._cpu_timed, self._cpu_s()))
        self.phase("checks")
        time.sleep(0.2)  # the status tracker learns of jobs from an event queue
        self._jobs_timed = self._jobs_submitted() - self._jobs_timed

    @contextlib.contextmanager
    def op(self, kind: str, timed: bool):
        """One benchmark operation; an exception inside marks it failed."""
        op = Op(next(self._ids), kind)
        self.tracer.begin_op(op.id, f"op.{kind}")
        t = time.perf_counter()
        try:
            yield op
        except Exception:
            op.failed = True
            traceback.print_exc(file=sys.stderr)
        finally:
            op.seconds = time.perf_counter() - t
            self.tracer.end_op()
            if timed:
                self.ops.append(op)

    def record(self, kind: str, seconds: float, failed: bool = False) -> None:
        """A timed operation measured by the workload itself."""
        op = Op(next(self._ids), kind)
        op.seconds, op.failed = seconds, failed
        self.ops.append(op)

    def phase(self, name: str) -> None:
        """Log the time since process start at the start of a phase."""
        print(f"[perfbench {time.perf_counter() - T_START:7.2f}s] {name}", file=sys.stderr, flush=True)

    def check(self, label: str, ok: bool) -> None:
        self.checks += 1
        if not ok:
            self.check_failures.append(label)
            print(f"check failed: {label}", file=sys.stderr)

    def named(self, name: str, value: float, unit: str) -> None:
        self.named_metrics[name] = {"value": value, "unit": unit}

    def named_summary(self, name: str, values: list[float], unit: str) -> None:
        """A workload figure: median, p90 from 100 samples on, sample count,
        and the medians of the first and second half of the run."""
        from perfbench.stats import halves, summarize

        s = summarize(values)
        first, second = halves(values)
        self.named_metrics[name] = {
            "value": s.get("p50"),
            "unit": unit,
            "n": s["n"],
            "p90": s.get("p90"),
            "first_half": first,
            "second_half": second,
        }

    # -- results -----------------------------------------------------------------

    def end_to_end(self) -> dict[str, float]:
        done = [o for o in self.ops if not o.failed]
        if not done:
            raise RuntimeError("no operation completed in the timed phase")
        lat = [o.seconds * 1000.0 for o in done]
        self.named_summary("op_ms", lat, "ms")
        # times and memory are reported by name only: on a shared 4-core VM
        # their run-to-run spread (host load, JIT compiler and GC threads,
        # heap growth) is wider than any bound the benchmark could hold
        self.named("work_cpu_ms_per_op", self._cpu_timed[1] * 1000.0 / len(self.ops), "ms")
        self.named("cpu_ms_per_op", self._cpu_timed[0] * 1000.0 / len(self.ops), "ms")
        self.named("peak_rss_mb", self._peak_rss_mb(), "MB")
        return {
            "op_mean_ms": statistics.mean(lat),
            "jobs_per_op": self._jobs_timed / (self.job_ops or len(self.ops)),
            "store_bytes_per_dp": self.named_metrics["store_bytes_per_dp"]["value"],
            "setup_s": self._t_timed - T_START,
        }

    def per_layer(self, e2e: dict[str, float]) -> None:
        """Fill ``self.layer`` from the spans and the Spark status API."""
        from perfbench.trace import median_or_zero

        tr = self.tracer
        timed = {o.id for o in self.ops}
        jobs = tr.spark_jobs(self.spark)
        py4j = tr.inclusive_py4j()
        out_bytes = 0.0
        for name in SPLIT_CALLS:
            spans = tr.by_name(name, timed)
            top = [s for s in spans if s["group"]]
            splits = [tr.spark_split(s, jobs.get(s["group"], [])) for s in top]
            out_bytes += sum(sp["output_bytes"] for sp in splits)
            self.layer[f"{name}.s"] = median_or_zero([s["end"] - s["start"] for s in spans])
            self.layer[f"{name}.py4j_calls"] = median_or_zero([py4j[s["id"]] for s in top])
            for measure in ("jobs", "tasks", "build_s", "outside_jobs_s", "executor_cpu_s", "gc_s", "shuffle_bytes", "input_bytes"):
                self.layer[f"{name}.{measure}"] = median_or_zero([sp[measure] for sp in splits])
        for name in NESTED_CALLS:
            spans = tr.by_name(name, timed)
            self.layer[f"{name}.s"] = median_or_zero([s["end"] - s["start"] for s in spans])
            self.layer[f"{name}.calls"] = len(spans) / len(self.ops)
        self.layer["operators.aggregate.build_s"] = self.layer.pop("operators.aggregate.s")
        # each manifest publish is a new version of one table's file list
        self.layer["storage.manifest_versions"] = self.layer.pop("storage.write_manifest.calls")
        del self.layer["storage.write_manifest.s"]
        self.layer["storage.write_bytes_per_dp"] = out_bytes / self.points_ingested if self.points_ingested else 0.0
        self.layer["trace.op.mean_ms"] = e2e["op_mean_ms"]

    def write_spans(self) -> None:
        path = self.out / f"{self.workload}-s{self.seed}-spans.jsonl"
        with open(path, "w") as f:
            for s in sorted(self.tracer.spans, key=lambda s: s["id"]):
                f.write(json.dumps(s) + "\n")

    def result(self) -> dict:
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
        e2e = self.end_to_end()
        report = {
            "workload": self.workload,
            "seed": self.seed,
            "seconds": self.seconds,
            "trace": int(self.tracer.enabled),
            "end_to_end": e2e,
            "named": self.named_metrics,
            "ops": [(o.kind, o.seconds, o.failed) for o in self.ops],
            "checks": self.checks,
            "check_failures": self.check_failures,
        }
        self.out.mkdir(exist_ok=True)
        if self.tracer.enabled:
            self.per_layer(e2e)
            report["per_layer"] = self.layer
            untraced = self.out / f"{self.workload}-s{self.seed}-t0.json"
            if untraced.is_file():
                base = json.loads(untraced.read_text())["end_to_end"]["op_mean_ms"]
                report["tracing_overhead"] = e2e["op_mean_ms"] / base - 1.0
            self.write_spans()
            wanted = [(m["name"], m["unit"]) for m in spec["per_layer"]]
            values = {n: self.layer.get(n, 0.0) for n, _ in wanted}
        else:
            wanted = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
            values = e2e
        (self.out / f"{self.workload}-s{self.seed}-t{report['trace']}.json").write_text(
            json.dumps(report, indent=1, default=str)
        )
        for name, m in self.named_metrics.items():
            extra = "".join(
                f" {k}={m[k]:.6g}" for k in ("p90", "first_half", "second_half") if m.get(k) is not None
            )
            n = f" n={m['n']}" if "n" in m else ""
            value = "n/a" if m["value"] is None else f"{m['value']:.6g}"
            print(f"{self.workload} {name} = {value} {m['unit']}{n}{extra}")
        if "tracing_overhead" in report:
            print(f"{self.workload} tracing_overhead = {report['tracing_overhead']:.4f} (mean operation time, traced/untraced - 1)")
        failed = sum(o.failed for o in self.ops) + len(self.check_failures)
        return {
            "correct": failed == 0,
            "attempted": len(self.ops) + self.checks,
            "failed": failed,
            "metrics": {n: {"value": float(values[n]), "unit": u} for n, u in wanted},
        }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not (ROOT / "smalltsdb_spark" / "__init__.py").is_file():
        print(f"no engine source (smalltsdb_spark/) under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    bench = Bench(args)
    try:
        bench.start_spark()
        WORKLOADS[args.workload](bench)
        result = bench.result()
    finally:
        bench.close()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
