#!/usr/bin/env python3
"""Run one benchmark workload and print one JSON result line.

    python3 perfbench/run.py --workload sql_analytics --seed 1 --seconds 20 --trace 0

Run from the repository root. One process, ``local[nproc]``, one op at
a time (a single-client closed loop):

1. host probe (no JVM yet), then set-up: session start, package ship,
   fixture build (plus the seeded warehouse for ``etl_jobs``) and a
   fixed light warm-up. ``setup_s`` is process start to the end of
   set-up, minus the host probe;
2. one untimed verification pass that checks every op's result digest
   against ``pins.json`` and doubles as the warm pass;
3. timed passes, each in a seed-permuted op order, as many as fit
   ``--seconds`` at the workload's nominal pass length;
4. the run's record is written to ``.perfbench_out/`` before the session
   is stopped; stopping is best-effort, then a second host probe.

``--trace 1`` alternates untraced and traced passes: traced passes
record spans and Spark counters and give the per-layer metrics; the
difference between the two kinds of pass is the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, REPO)

import fixtures  # noqa: E402
import hostprobe  # noqa: E402
import layers  # noqa: E402
import report  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402
from tracing import Tracer  # noqa: E402

# Fixture scale: TPC-H sf0.01 shapes and a 200-document corpus.
FIXTURE_SF = 0.01
FIXTURE_DOCS = 200

# Session posture, fixed so that runs compare.
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "2g"
PYTHON_WORKER_IDLE_TIMEOUT_S = "0"  # keep warm workers between ops

# A run measures a fixed number of whole passes: --seconds divided by the
# workload's nominal pass length (``workloads.PASS_SECONDS``), at least
# two, since a median needs more than one. A loop bounded by elapsed time
# would fit an extra pass on a fast host, and as passes speed up while the
# JIT warms, that extra pass would move the median on its own. A traced
# run alternates untraced and traced passes and needs three, so that its
# traced pass is bracketed by untraced ones and the warming trend cancels
# out of the tracing overhead.
MIN_PASSES = 2
MIN_PASSES_TRACED = 3

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "op_geomean_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}


def _process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        text = f.read()
    start_ticks = int(text[text.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def posture(work: str) -> dict:
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.python.worker.idleTimeoutSeconds": PYTHON_WORKER_IDLE_TIMEOUT_S,
        "spark.ui.enabled": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }


def warm_up(spark, fixture_dir: str) -> None:
    """Fixed light warm-up: JVM codegen, the parquet reader and the
    Python worker fleet (one per slot). The same on every workload."""
    noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
    noop(spark.range(1_000_000).selectExpr("sum(id)"))
    noop(spark.read.parquet(f"{fixture_dir}/lineitem.parquet").limit(1000))
    slots = spark.sparkContext.defaultParallelism
    noop(spark.range(10_000, numPartitions=slots).mapInPandas(lambda it: it, "id long"))


def release_persisted(spark) -> None:
    """Unpersist every RDD an op left cached, so ops do not share."""
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(False)


def stop_session(manager) -> "str | None":
    """Stop Spark, then wait until the JVM and every process under it
    (the Python workers) have exited. Best-effort: returns the error
    text instead of raising, so a failed shutdown never loses a
    measured run."""
    from pyspark import SparkContext

    started = [p for p in hostprobe.descendants(hostprobe.process_table(), os.getpid())
               if p != os.getpid()]
    errors = []
    try:
        manager.stop()
    except Exception as e:  # the gateway may already be gone
        errors.append(f"stop: {e!r}")
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
    except Exception as e:
        errors.append(f"gateway: {e!r}")
    SparkContext._gateway = SparkContext._jvm = None
    wait_gone(started)
    return "; ".join(errors) or None


def _alive(pid: int) -> bool:
    text = hostprobe.read_proc(f"/proc/{pid}/stat")
    return bool(text) and text[text.rindex(")") + 2] != "Z"


def wait_gone(pids, timeout_s: float = 30.0) -> None:
    """Wait for ``pids`` to exit. Workers orphaned by the JVM's exit are
    no longer our children, so this polls /proc; what is left at the
    deadline gets SIGKILL and five more seconds."""
    import signal

    deadline = time.monotonic() + timeout_s
    killed = False
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        for pid in alive:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:  # not our child, or already reaped
                pass
        alive = [p for p in alive if _alive(p)]
        if alive and not killed and time.monotonic() > deadline - 5:
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
        time.sleep(0.05)


class Run:
    """One workload run: set-up, verification, timed passes, metrics."""

    def __init__(self, args, work: str) -> None:
        self.args = args
        self.work = work
        self.fixture_dir = os.path.join(work, "fixtures")
        self.rng = random.Random(args.seed)
        self.tracer = Tracer(enabled=False)
        self.record = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "cpus": len(os.sched_getaffinity(0)),
            "fixture": {"sf": FIXTURE_SF, "documents": FIXTURE_DOCS},
        }
        self.failures = []
        self.attempted = 0

    # -- set-up ---------------------------------------------------------------

    def setup(self, probe_s: float) -> None:
        from spark_etl_agent_spark.core.session import SparkManager
        from spark_etl_agent_spark.core.ship import ship_package

        phases = {}
        self.tracer.enabled = bool(self.args.trace)
        self.tracer.op = "setup"

        def phase(name, fn):
            t = time.perf_counter()
            with self.tracer.span(name):
                fn()
            phases[f"{name.split('.')[-1]}_s"] = time.perf_counter() - t

        for d in ("spark-local", "tmp"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        conf = posture(self.work)
        self.record["posture"] = {"spark.sql.shuffle.partitions": SHUFFLE_PARTITIONS, **conf}
        self.manager = SparkManager(
            app_name="perfbench", shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf
        )
        phase("core.session_start", lambda: self.manager.spark)
        self.spark = self.manager.spark
        phase("core.ship", lambda: ship_package(self.spark))
        phase("fixtures.fixture_build", self._build_inputs)
        phase("core.warm_up", lambda: warm_up(self.spark, self.fixture_dir))
        self.tracer.enabled = False
        phases["setup_s"] = _process_age_s() - probe_s
        self.record["setup"] = phases
        self.ops = self._build_ops()

    def _build_inputs(self) -> None:
        self.input_bytes = fixtures.write_fixtures(self.fixture_dir, FIXTURE_SF, FIXTURE_DOCS)
        if self.args.workload == "etl_jobs":
            self.live, self.pristine, built = workloads.pristine_warehouse(
                self.spark, self.fixture_dir, os.path.dirname(self.work),
                workloads.active_ops("etl_jobs"), (FIXTURE_SF, FIXTURE_DOCS),
            )
            self.record["warehouse_built"] = built

    def _build_ops(self) -> list:
        names = workloads.active_ops(self.args.workload)
        with open(os.path.join(HERE, "pins.json")) as f:
            self.pins = json.load(f)
        if self.args.workload != "etl_jobs":
            return workloads.query_ops(self.spark, names, self.fixture_dir, self.tracer)
        self.alerter = layers.CountingAlerter()
        self.catalog = layers.TimingCatalog(
            self.spark, self.live, tracer=self.tracer, footprint=bool(self.args.trace)
        )
        service = workloads.job_service(self.catalog, self.alerter)
        return workloads.job_ops(
            self.spark, names, service, self.catalog, self.tracer, self.pins
        )

    # -- passes ---------------------------------------------------------------

    def _before_pass(self) -> None:
        if self.args.workload == "etl_jobs":
            workloads.restore_warehouse(self.pristine, self.live)

    def verify_pass(self) -> None:
        """Untimed: every op's digest against its pin."""
        self._before_pass()
        results = {}
        for op in self._order():
            self.attempted += 1
            try:
                got = op.verify()
            except Exception as e:
                got = f"error: {e!r}"[:300]
            want = self.pins.get(op.name)
            results[op.name] = {"digest": got, "pinned": want}
            if got != want:
                self.failures.append({"op": op.name, "pass": "verify", "got": got,
                                      "pinned": want})
            release_persisted(self.spark)
        self.record["verify"] = results

    def _order(self) -> list:
        order = list(self.ops)
        self.rng.shuffle(order)
        return order

    def timed_pass(self, traced: bool, counters=None, listener=None) -> dict:
        """One pass over every op. The pass wall excludes the untimed
        cache release between ops."""
        self._before_pass()
        self.tracer.enabled = traced
        if self.args.workload == "etl_jobs":
            self.catalog.reset()
            self.alerter.alerts = 0
        ops, untimed, roots = {}, 0.0, []
        first_span = len(self.tracer.spans)
        cpu0 = hostprobe.tree_cpu_s()
        t_pass = time.perf_counter()
        for op in self._order():
            self.attempted += 1
            self.tracer.op = op.name
            job0 = counters.next_job_id() if counters else None
            root = self.tracer.start(f"op.{op.name}")
            t0 = time.perf_counter()
            try:
                err = op.run()
            except Exception as e:
                err = f"error: {e!r}"[:300]
            wall = time.perf_counter() - t0
            self.tracer.end(root)
            if err is not None:
                self.failures.append({"op": op.name, "pass": "timed", "error": err})
            t_untimed = time.perf_counter()
            rec = {"wall_s": wall}
            if counters:
                rec.update(counters.collect(job0, counters.next_job_id()))
                rec["cached_mb"] = counters.cached_mb()
            if listener:
                rec["batches"] = []
                roots.append((root, rec))
            ops[op.name] = rec
            release_persisted(self.spark)
            untimed += time.perf_counter() - t_untimed
        wall = time.perf_counter() - t_pass - untimed
        if listener:
            self._attribute_batches(listener, roots)
        self.tracer.enabled = False
        out = {"wall_s": wall, "cpu_s": hostprobe.tree_cpu_s() - cpu0, "traced": traced,
               "ops": ops, "span_range": (first_span, len(self.tracer.spans))}
        if self.args.workload == "etl_jobs":
            out["catalog"] = {
                "seconds": dict(self.catalog.seconds),
                "calls": dict(self.catalog.calls),
                "files_written": self.catalog.files_written,
                "bytes_written": self.catalog.bytes_written,
            }
            out["alerts"] = self.alerter.alerts
            out["warehouse_bytes"] = layers.dir_footprint(self.live)[1]
        return out

    def _attribute_batches(self, listener, roots) -> None:
        """Give each micro-batch of the pass to the op it ran in, by time.
        Listener events arrive asynchronously, possibly after their op
        returned, so they are collected once the pass is over."""
        time.sleep(0.5)  # let the last progress events arrive
        for t_end, d in listener.take():
            end = self.tracer.from_wall(t_end)
            started = [(root, rec) for root, rec in roots if root["start"] <= end - d]
            root, rec = started[-1] if started else roots[0]
            rec["batches"].append(d)
            self.tracer.op = root["op"]
            self.tracer.add("streaming.batch", end - d, end,
                            innermost(self.tracer.spans, root, end - d, end))

    def timed_passes(self) -> list:
        counters = listener = None
        if self.args.trace:
            counters = layers.SparkCounters(self.spark)
            listener = layers.BatchListener()
        passes = []
        n = round(self.args.seconds / workloads.PASS_SECONDS[self.args.workload])
        n = max(n, MIN_PASSES_TRACED if self.args.trace else MIN_PASSES)
        t0 = time.perf_counter()
        while len(passes) < n:
            traced = bool(self.args.trace) and len(passes) % 2 == 1
            if traced:
                self.spark.streams.addListener(listener)
            passes.append(self.timed_pass(traced, counters if traced else None,
                                          listener if traced else None))
            if traced:
                self.spark.streams.removeListener(listener)
        self.record["measured_s"] = time.perf_counter() - t0
        return passes


def innermost(spans: list, root: dict, start: float, end: float) -> dict:
    """The latest-opened span of ``root``'s op that encloses
    [start, end]: the main-thread call a micro-batch ran under."""
    best = root
    for sp in spans[root["id"] :]:
        if sp["name"] != "streaming.batch" and sp["start"] <= start and sp["end"] >= end:
            best = sp
    return best


def end_to_end(record: dict, passes: list, peak_rss_mb: float) -> dict:
    plain = [p for p in passes if not p["traced"]] or passes
    per_op = {}
    for p in plain:
        for name, rec in p["ops"].items():
            per_op.setdefault(name, []).append(rec["wall_s"])
    return {
        "setup_s": record["setup"]["setup_s"],
        "wall_s": stats.median(p["wall_s"] for p in plain),
        "op_geomean_s": stats.geomean_of_medians(per_op),
        "cpu_s": stats.median(p["cpu_s"] for p in plain),
        "peak_rss_mb": peak_rss_mb,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["sql_analytics", "etl_jobs"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    # Everything the run writes stays under the working directory.
    base = os.path.abspath(".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    out_dir = os.path.abspath(".perfbench_out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))

    # Spark and library chatter that targets fd 1 goes to stderr; fd 1
    # is restored only for the result line.
    real_stdout = os.dup(1)
    os.dup2(2, 1)

    t_probe = time.perf_counter()
    cal_pre = hostprobe.cpu_probe()
    probe_s = time.perf_counter() - t_probe
    host0 = hostprobe.cpu_times()

    run = Run(args, work)
    manager = None
    try:
        run.setup(probe_s)
        manager = run.manager
        t = time.perf_counter()
        run.verify_pass()
        run.record["verify_s"] = time.perf_counter() - t
        passes = run.timed_passes()
        metrics = end_to_end(run.record, passes, hostprobe.peak_rss_mb())
        run.record["passes"] = passes
        run.record["end_to_end"] = metrics
        run.record["failures"] = run.failures
        run.record["attempted"] = run.attempted
        run.record["host"] = {"during": hostprobe.host_share(host0, hostprobe.cpu_times()),
                              "pre": cal_pre}
        if args.trace:
            run.record["per_layer"] = report.per_layer(run, passes)
            run.record["spans"] = run.tracer.spans
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
        artifact = os.path.join(out_dir, name)
        # written before the session stops: a failed stop loses nothing
        with open(artifact, "w") as f:
            json.dump(run.record, f, indent=1, default=str)
    finally:
        if manager is not None:
            t = time.perf_counter()
            run.record["stop_error"] = stop_session(manager)
            run.record["stop_s"] = time.perf_counter() - t
        if args.workload == "etl_jobs":
            shutil.rmtree(os.path.join(base, "etl_warehouse"), ignore_errors=True)
        shutil.rmtree(work, ignore_errors=True)

    run.record["host"]["post"] = hostprobe.cpu_probe()
    with open(artifact, "w") as f:
        json.dump(run.record, f, indent=1, default=str)

    wanted = run.record["per_layer"] if args.trace else metrics
    units = report_units(args.trace, wanted)
    line = json.dumps(
        {
            "correct": not run.failures,
            "attempted": run.attempted,
            "failed": len(run.failures),
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in wanted.items()},
        }
    )
    sys.stdout.flush()
    os.dup2(real_stdout, 1)
    summary = ", ".join(f"{k}={v:.4g}" for k, v in metrics.items())
    fail_frac = len(run.failures) / max(1, run.attempted)
    print(f"# {args.workload}: {summary}, fail_frac={fail_frac:.4g} -> {artifact}",
          file=sys.stderr)
    os.write(real_stdout, (line + "\n").encode())
    return 0


def report_units(trace: int, wanted: dict) -> dict:
    if not trace:
        return END_TO_END
    return {k: report.unit_of(k) for k in wanted}


if __name__ == "__main__":
    sys.exit(main())
