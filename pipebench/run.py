"""Seeded, self-checking pipeline benchmark.

    python3 pipebench/run.py --workload pages_rollup --seed 1 --seconds 16 --trace 0

Run from the repository root.  The load is a closed loop from one driver
process: the next batch is submitted when the previous batch's result is
complete in its sink, and every batch reads rows the run has not read
before.  The engine runs ``local[<nproc>]``.

``--trace 0`` prints the end-to-end metrics (``setup_s``, ``docs_per_s``,
``batch_p50_s``); ``--trace 1`` runs each batch's layer prefixes too and
prints the per-layer metrics instead.  The last line of standard output
is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``.  See ``pipebench/README.md``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # set-up time counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOAD_NAMES = ("pages_rollup", "otlp_intake", "sink_fanout")  # workloads.WORKLOADS, without importing pyspark
WARMUP_BATCHES = 4  # the first batches of a process pay JIT and codegen
MIN_TIMED_BATCHES = 3


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(prog="pipebench/run.py", description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="timed batch time to accumulate")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_spark(work: str):
    """The program's own session factory, with its default driver heap, at
    local[<nproc>] and with every scratch directory inside ``work``."""
    from opentelemetry_collector_components_spark.session import get_spark

    slots = len(os.sched_getaffinity(0))
    spark = get_spark(
        app_name="pipebench",
        master=f"local[{slots}]",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def column_bytes(path: str) -> dict[str, int]:
    """Compressed bytes per column over the parquet files under ``path``."""
    import pyarrow.parquet as pq

    sizes: dict[str, int] = {}
    for name in os.listdir(path):
        meta = pq.ParquetFile(os.path.join(path, name)).metadata
        for rg in range(meta.num_row_groups):
            for c in range(meta.num_columns):
                col = meta.row_group(rg).column(c)
                sizes[col.path_in_schema] = sizes.get(col.path_in_schema, 0) + col.total_compressed_size
    return sizes


def median(values):
    return statistics.median(values) if values else 0.0


class Runner:
    def __init__(self, args: argparse.Namespace, work: str, spark):
        from pipebench import gen
        from pipebench.trace import StatusReader, Tracer
        from pipebench.workloads import WORKLOADS

        self.args = args
        self.work = work
        self.untimed = 0.0  # load generation and checks, kept out of set-up time
        self.spark = spark
        t = time.perf_counter()
        self.wl = WORKLOADS[args.workload](self.spark, gen.dimension(args.seed))
        self.untimed += time.perf_counter() - t
        self.tracer = Tracer(self.spark, args.trace == 1)
        self.status = StatusReader(self.spark) if args.trace else None
        self.attempted = self.failed = 0
        self.wrong = False
        self.layers: list[dict[str, float]] = []  # traced per-batch raw values

    def _prepare(self, i: int):
        from pipebench import gen
        from pipebench.workloads import Batch

        t = time.perf_counter()
        d = gen.docs(self.args.seed, self.wl.stream, i, self.wl.batch_docs)
        base = os.path.join(self.work, "batches", f"b{i:04d}")
        b = Batch(i, d, os.path.join(base, "in"), os.path.join(base, "out"))
        self.wl.write_input(d, b.input_dir)
        self.untimed += time.perf_counter() - t
        return b

    def _finish(self, b, ok: bool) -> bool:
        """Check the batch's sink against the truth; drop its files."""
        t = time.perf_counter()
        if ok:
            errors = self.wl.check(b)
            for e in errors:
                print(f"batch {b.index}: {e}", file=sys.stderr)
            self.wrong |= bool(errors)
            ok = not errors
        self.attempted += 1
        self.failed += not ok
        shutil.rmtree(os.path.dirname(b.input_dir), ignore_errors=True)
        self.untimed += time.perf_counter() - t
        return ok

    def batch(self, i: int, timed: bool) -> tuple[float, bool]:
        b = self._prepare(i)
        before = self._snapshot() if self.args.trace else None
        ok = True
        t0 = time.perf_counter()
        try:
            with self.tracer.span("batch", i):
                self.wl.submit(b, self.tracer)
        except Exception:
            traceback.print_exc()
            ok = False
        elapsed = time.perf_counter() - t0
        if before is not None and ok:
            raw = self._trace_counters(b, before, elapsed)
            raw.update(self._trace_prefixes(b))
            if timed:
                self.layers.append(raw)
        ok = self._finish(b, ok)
        print(f"pipebench: batch {i} {elapsed:.3f} s {'ok' if ok else 'FAILED'}", file=sys.stderr)
        return elapsed, ok

    def _snapshot(self) -> dict[str, float]:
        self.status.drain()
        return {"first_execution": self.status.executions_count(), "storage_bytes": self.status.storage_bytes()}

    def _trace_counters(self, b, before: dict[str, float], elapsed: float) -> dict[str, float]:
        """Counters of the full batch, read before any prefix action runs."""
        self.status.drain()
        spans = self.tracer.batch_spans(b.index)
        raw = {"batch": elapsed}
        for s in spans:
            raw[f"span:{s.name}"] = s.end - s.start
        raw.update(self.status.stage_totals([s.group for s in spans]))
        first = int(before["first_execution"])
        raw.update(self.status.python_totals(first))
        sizes = column_bytes(b.input_dir)
        raw["scan_bytes"] = float(sum(sizes[c] for cols in self.status.scan_columns(first) for c in cols))
        # what this batch left cached once its scoped_intermediates() block exited
        raw["storage_bytes"] = self.status.storage_bytes() - before["storage_bytes"]
        raw.update(self.wl.sink_counters(b))
        return raw

    def _trace_prefixes(self, b) -> dict[str, float]:
        """Noop-sink actions for the cumulative layer prefixes, after the
        full batch so that it runs as in an untraced run."""
        raw = {}
        for layer, df in self.wl.prefixes(b):
            with self.tracer.span(f"prefix:{layer}", b.index):
                t = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                raw[f"prefix:{layer}"] = time.perf_counter() - t
        return raw

    def run(self) -> dict:
        for i in range(WARMUP_BATCHES):
            self.batch(i, timed=False)
        setup_s = time.perf_counter() - T_START - self.untimed
        times, docs = [], 0
        i = WARMUP_BATCHES
        deadline = time.perf_counter() + 3 * self.args.seconds + 60
        while (sum(times) < self.args.seconds or len(times) < MIN_TIMED_BATCHES) and time.perf_counter() < deadline:
            elapsed, ok = self.batch(i, timed=True)
            times.append(elapsed)
            docs += self.wl.batch_docs if ok else 0
            i += 1
        print(f"pipebench: setup {setup_s:.3f} s, timed {sum(times):.3f} s in {len(times)} batches, "
              f"generation and checks {self.untimed:.3f} s", file=sys.stderr)
        if self.args.trace:
            metrics = self.layer_metrics()
            self.tracer.dump(os.path.join(ROOT, ".pipebench", f"spans-{self.wl.name}-{self.args.seed}.json"))
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "docs_per_s": {"value": docs / sum(times), "unit": "docs/s"},
                "batch_p50_s": {"value": median(times), "unit": "s"},
            }
        return {"correct": not self.wrong, "attempted": self.attempted, "failed": self.failed, "metrics": metrics}

    def layer_metrics(self) -> dict:
        from pipebench.trace import peak_rss_mb

        L = self.layers
        n = self.wl.batch_docs

        def m(key):
            return median([r[key] for r in L if key in r])

        chain = [k for k in L[0] if k.startswith("prefix:")]
        selfs = {k: m(k) - (m(chain[j - 1]) if j else 0.0) for j, k in enumerate(chain)}
        route = m("prefix:operators.route")
        rollup = self.wl.rollup
        out = {
            "sources.scan.self_s": (selfs["prefix:sources.scan"], "s"),
            "sources.scan.bytes_per_doc": (m("scan_bytes") / n, "B"),
            "sources.otlp.decode_self_s": (selfs.get("prefix:sources.otlp.decode", 0.0), "s"),
            "sources.otlp.python_s": (m("python_s"), "s"),
            "sources.otlp.arrow_bytes_per_doc": (
                (m("python_sent_bytes") + m("python_received_bytes")) / n, "B"),
            "operators.parse.self_s": (selfs["prefix:operators.parse"], "s"),
            "operators.enrich.self_s": (selfs["prefix:operators.enrich"], "s"),
            "operators.route.self_s": (selfs["prefix:operators.route"], "s"),
            "operators.aggregate.self_s": (m("span:operators.aggregate") - route if rollup else 0.0, "s"),
            "operators.aggregate.shuffle_bytes_per_doc": (
                m("shuffle_write_bytes") / n if rollup else 0.0, "B"),
            "operators.aggregate.spill_bytes": (m("spill_bytes") if rollup else 0.0, "B"),
            "operators.aggregate.groups_per_doc": (m("groups_1m") / n if rollup else 0.0, "count"),
            "plans.pipeline.build_s": (m("span:plans.pipeline.build"), "s"),
            "plans.sinks.write_s": (0.0 if rollup else m("span:plans.sinks.write") - route, "s"),
            "plans.sinks.lineage_s": (0.0 if rollup else m("span:plans.sinks.lineage"), "s"),
            "plans.sinks.scans_per_doc": (0.0 if rollup else m("input_records") / n, "ratio"),
            "plans.sinks.files_written": (0.0 if rollup else m("files_written"), "count"),
            "caching.storage_bytes_after_batch": (m("storage_bytes"), "B"),
            "session.jobs_per_batch": (m("jobs"), "count"),
            "session.tasks_per_batch": (m("tasks"), "count"),
            "session.cpu_s_per_batch": (m("cpu_s"), "s"),
            "session.gc_s_per_batch": (m("gc_s"), "s"),
            "session.driver_peak_rss_mb": (peak_rss_mb(self.jvm_pid()), "MB"),
            "trace.batch_s": (m("batch"), "s"),
        }
        return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    # import pipebench as a package from the root, never its modules as top-level names
    if sys.path and os.path.abspath(sys.path[0]) == os.path.dirname(os.path.abspath(__file__)):
        sys.path.pop(0)
    sys.path.insert(0, ROOT)
    try:
        import opentelemetry_collector_components_spark  # noqa: F401
    except ImportError as e:
        print(f"pipebench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".pipebench", f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # every scratch file of Python, the JVM and the Python workers stays in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    spark = None
    try:
        spark = start_spark(work)
        result = Runner(args, work, spark).run()
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
