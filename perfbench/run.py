"""Pipeline benchmark: forced ``whistler-spark play``, incremental re-play and a
reference-resolving load on seeded synthetic studies.

Run from the repository root:

    python3 perfbench/run.py --workload play-wide --seed 1 --seconds 45 --trace 0

One run generates its inputs from ``--seed``, starts Spark on
``local[<cpus>]`` (``setup_s``), then runs one round of three operations,
each timed cold, one client waiting on each before the next (a closed
loop):

1. ``whistler-spark play --force`` on the study (``play_s``);
2. ``whistler-spark play`` on the unchanged study -- incremental skip,
   read, inspect, load (``replay_s``);
3. ``sinks.idresolve.load_fixpoint`` over a frame of reference chains, each
   loaded round sent through ``sinks.rest.load_resources`` to a counting
   transport with a fixed simulated round trip (``load_s``).

A round is the unit of work and takes 40-50 s on four cores, whatever
``--seconds`` says: a second round would time warm operations, which no
user who types the command sees. With ``--trace 0`` the last stdout line
carries the end-to-end metrics; ``--trace 1`` runs the same calls with
spans around the program's layer entry points and reports per-layer
metrics instead. Progress goes to stderr.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import io
import json
import os
import shutil
import sys
import tempfile
import time
from collections import Counter
from dataclasses import dataclass

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PROJECTOR_LIB = os.path.join(ROOT, "examples", "demo_study", "projector")

sys.path[:0] = [ROOT, BENCH_DIR]

import checks  # noqa: E402
import inputs  # noqa: E402
from counting_transport import Counters, counting_factory  # noqa: E402


@dataclass(frozen=True)
class Workload:
    study: inputs.StudyShape
    chain: inputs.ChainShape


WORKLOADS = {
    # data-heavy study on a literal-map harmony file; shallow chains
    "play-wide": Workload(
        inputs.StudyShape(participants=6500, enum_vars=8, codes_per_var=6),
        inputs.ChainShape(roots=50, depth=2, dangling=3),
    ),
    # few rows, a harmony map above ConceptMap.MAX_DRIVER_ROWS, deep chains
    "harmony-refs": Workload(
        inputs.StudyShape(
            participants=200, enum_vars=6, codes_per_var=90,
            harmony_only_vars=116, distinct_code_vars=30,
        ),
        inputs.ChainShape(roots=300, depth=4, dangling=25),
    ),
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Session:
    """One benchmark run's Spark session, inputs and operations."""

    def __init__(self, args, scratch: str):
        self.n = len(os.sched_getaffinity(0))  # what `nproc` reports
        self.master = f"local[{self.n}]"
        wl = WORKLOADS[args.workload]
        study_dir = os.path.join(scratch, "study")
        self.study_yaml = inputs.write_study(study_dir, 2 * args.seed, wl.study, PROJECTOR_LIB)
        self.workdir = os.path.join(scratch, "work")
        self.expect = checks.StudyExpectation(study_dir)
        self.chain_rows, planted = inputs.chain_rows(2 * args.seed + 1, wl.chain)
        self.chain_expect = checks.ChainExpectation(self.chain_rows, planted)
        self.problems: list[str] = []
        self.attempted = self.failed = 0
        self.acked = 0  # resources the loads acknowledged (their ``ok``)
        self.tracer = None

    # -- set-up ----------------------------------------------------------

    def start_spark(self) -> float:
        t0 = time.perf_counter()
        from ncpi_whistler_spark.session import get_spark

        self.spark = get_spark(master=self.master)
        self.spark.range(1).count()
        setup_s = time.perf_counter() - t0
        self.jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        self.counters = Counters.create(self.spark.sparkContext)
        self.chain_frame = self.spark.createDataFrame(self.chain_rows, inputs.CHAIN_SCHEMA)
        from ncpi_whistler_spark.sinks.rest import load_resources

        # taken before the traced run wraps it: the chain load counts its
        # transport calls itself
        self.load_resources = load_resources
        return setup_s

    def stop_spark(self) -> None:
        """Stop Spark and wait for the driver JVM (and with it the Python
        workers it forked) to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        with contextlib.suppress(Exception):  # the JVM may already be gone
            self.spark.stop()
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)

    def settle(self) -> None:
        """Collect both heaps before a timed operation, so that the garbage
        one operation leaves is not collected inside the next one's time."""
        gc.collect()
        self.spark._jvm.java.lang.System.gc()

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("no VmHWM in /proc status")

    # -- operations --------------------------------------------------------

    def _span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def play(self, force: bool) -> float | None:
        """One ``whistler-spark play`` as a user types it; returns its wall time, or None
        when it failed."""
        from ncpi_whistler_spark import cli

        argv = ["--master", self.master, "play", self.study_yaml,
                "--workdir", self.workdir, "--threads", str(self.n)]
        if force:
            argv.append("--force")
        out = io.StringIO()
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self._span("op.play" if force else "op.replay"), contextlib.redirect_stdout(out):
                rc = cli.main(argv)
        except Exception as e:  # counted, reported, and the run goes on
            rc = f"{type(e).__name__}: {e}"
        wall = time.perf_counter() - t0
        self.spark.catalog.clearCache()
        text = out.getvalue()
        if rc != 0:
            self.failed += 1
            log(f"play (force={force}) failed: {rc}\n{text[-2000:]}")
            return None
        found, ok = checks.check_load_counts(text, self.expect.counts)
        self.problems += found
        self.acked += ok
        skipped = "up-to-date, skipped" in text
        if skipped == force:
            self.problems.append(f"play (force={force}) {'skipped' if skipped else 'rebuilt'} the resources")
        return wall

    def load(self) -> float | None:
        """Reference-resolving load of the chain frame: fixpoint, then every
        loaded round through ``load_resources``; returns its wall time."""
        from pyspark.sql import functions as F

        from ncpi_whistler_spark.sinks.idresolve import empty_id_map, load_fixpoint

        self.attempted += 1
        factory = counting_factory(self.counters)
        calls0, acked0, _ = self.counters.snapshot()
        acked, errs = Counter(), 0
        t0 = time.perf_counter()
        try:
            with self._span("op.load"):
                with self._span("sinks.fixpoint"):
                    res = load_fixpoint(
                        self.spark, self.chain_frame, empty_id_map(self.spark), ["subject"]
                    )
                for rnd in res.loaded_rounds:
                    with self._span("sinks.load"):
                        counts = self.load_resources(_as_json(rnd), factory, parallelism=self.n).collect()
                    for r in counts:
                        acked[r["resourceType"]] += r["ok"]
                        errs += r["err"]
                invalid = {
                    r[0] for r in res.invalid.select(F.col("identifier")[0]["value"]).collect()
                }
        except Exception as e:
            self.failed += 1
            log(f"load failed: {type(e).__name__}: {e}")
            self.spark.catalog.clearCache()
            return None
        wall = time.perf_counter() - t0
        self.fixpoint = res
        rounds = [
            rnd.select(F.col("identifier")[0]["value"], "subject_ref").collect()
            for rnd in res.loaded_rounds
        ]
        self.spark.catalog.clearCache()
        calls, acks = self.counters.calls.value - calls0, self.counters.acked.value - acked0
        self.problems += checks.check_chain(self.chain_expect, rounds, invalid, acked)
        self.acked += sum(acked.values())
        if errs or acks < sum(acked.values()) or calls < acks:
            self.problems.append(f"load: {calls} transport calls, {acks} acks, {errs} errors")
        self.invalid = invalid
        return wall

    def check_outputs(self) -> int:
        """Checks on what the forced play wrote; returns bundle entries."""
        res_dir = os.path.join(self.workdir, "resources")
        self.problems += checks.check_resources(res_dir, self.expect)
        lost = checks.check_harmony_vocabulary(res_dir, self.expect)
        if lost:
            # the ConceptMap/ValueSet loss of maps above
            # ConceptMap.MAX_DRIVER_ROWS: the forced play counts as failed
            # (every seed: the map's size is fixed per workload)
            self.failed += 1
            log("forced play failed the harmony vocabulary check: " + "; ".join(lost))
        found, entries = checks.check_bundles(
            os.path.join(self.workdir, "bundles"), sum(self.expect.counts.values())
        )
        self.problems += found
        return entries


def _as_json(rnd):
    """A loaded fixpoint round as (resourceType, resource_json) rows with the
    identifier stubs replaced by the resolved references."""
    from pyspark.sql import functions as F

    subject = F.when(
        F.col("subject_ref").isNotNull(), F.struct(F.col("subject_ref").alias("reference"))
    ).alias("subject")
    return rnd.select(
        "resourceType",
        F.to_json(
            F.struct("resourceType", "identifier", subject),
            {"ignoreNullFields": "true"},
        ).alias("resource_json"),
    )


def run(args, scratch: str) -> dict:
    s = Session(args, scratch)
    setup_s = s.start_spark()
    log(f"setup_s={setup_s:.3f} on {s.master}")
    try:
        trace = None
        if args.trace:
            import layers

            trace = layers.TracedRun(s)
        ops = {"play": lambda: s.play(True), "replay": lambda: s.play(False), "load": s.load}
        walls = {}
        t0 = time.perf_counter()
        if trace:
            trace.start()
        for op, fn in ops.items():
            s.settle()
            walls[op] = fn()
            if walls[op] is not None:
                log(f"{op}_s={walls[op]:.3f}")
        if trace:
            trace.finish(time.perf_counter() - t0)
        entries = s.check_outputs()
        if trace:
            metrics = trace.metrics(entries, s.peak_rss_mb())
            trace.dump(os.path.join(ROOT, ".perfbench_out", f"spans-{args.workload}-seed{args.seed}.json"))
        else:
            missing = [op for op, wall in walls.items() if wall is None]
            if missing:
                raise RuntimeError(f"the {'/'.join(missing)} operation failed")
            metrics = {f"{op}_s": (wall, "s") for op, wall in walls.items()}
            metrics["setup_s"] = (setup_s, "s")
    finally:
        s.stop_spark()
    for p in s.problems:
        log(f"CHECK FAILED: {p}")
    return {
        "correct": not s.problems,
        "attempted": s.attempted,
        "failed": s.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="the run length the caller plans for; a run is always one round")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "ncpi_whistler_spark")) or not os.path.isdir(PROJECTOR_LIB):
        log(f"the program (ncpi_whistler_spark, examples/demo_study) is not under {ROOT}")
        return 2
    # Spark's Python workers import the package and counting_transport by
    # name; keep every file the run writes inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, BENCH_DIR] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x]
    )
    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=base)
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    # HotSpot writes its perf-data file under /tmp whatever java.io.tmpdir
    # says; -XX:-UsePerfData keeps the JVM from writing outside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [os.environ.get("JAVA_TOOL_OPTIONS", ""), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
    ).strip()
    try:
        result = run(args, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
