"""Per-layer metrics of the traced run.

Wraps the public entry points of each layer of ``ncpi_whistler_spark``
from outside (the package is not edited), runs the same round as the
untraced run, and turns the spans into per-layer figures. Span times are
self times: a span's duration minus that of the spans it contains, so the
layer figures of one operation add up instead of overlapping.
"""

from __future__ import annotations

import os

from counting_transport import counting_factory
from tracing import Tracer

SOURCES = ("sources.dd_parse", "sources.harmony_load")


class TracedRun:
    def __init__(self, session):
        self.s = session
        self.t = session.tracer = Tracer(session.spark)
        self.plan_kb: list[float] = []
        self._install()

    def _install(self) -> None:
        from importlib import import_module

        from pyspark.sql.readwriter import DataFrameWriter

        from ncpi_whistler_spark import cli
        from ncpi_whistler_spark.operators import inspector
        from ncpi_whistler_spark.plans import incremental, pipeline
        from ncpi_whistler_spark.sinks import bundle, rest
        from ncpi_whistler_spark.sources import dd
        from ncpi_whistler_spark.sources import harmony as hm

        # the package re-exports the function under the module's name
        harmonize = import_module("ncpi_whistler_spark.operators.harmonize")
        t = self.t
        t.wrap(dd.DataDictionary, "from_csv", "sources.dd_parse", staticmethod)
        t.wrap(hm.ConceptMap, "from_csv", "sources.harmony_load", staticmethod)
        t.wrap(hm.ConceptMap, "_collected", "sources.harmony_load")
        t.wrap(hm, "read_code_details", "sources.harmony_load")
        t.wrap(pipeline, "extract_dataset", "plans.extract_build")
        t.wrap(incremental.BuildManifest, "is_current", "plans.incremental_check")
        t.wrap(incremental.BuildManifest, "record", "plans.incremental_check")
        # the only parquet write of a play is the resource frame's
        t.wrap(DataFrameWriter, "parquet", "plans.resources_write")
        t.wrap(harmonize, "harmonize", "operators.harmonize_build")
        t.wrap(pipeline, "add_display_columns", "operators.harmonize_build")
        t.wrap(inspector, "run_inspections", "operators.inspect")
        t.wrap(bundle, "write_bundles", "sinks.bundle_write")
        t.wrap(cli, "_load_via_args", "sinks.load")

        generate = cli._generate_resources

        def generate_resources(spark, cfg):
            with t.span("plans.resources_build"):
                out = generate(spark, cfg)
            plan = out._jdf.queryExecution().analyzed().toString()
            self.plan_kb.append(len(plan.encode()) / 1024)
            return out

        cli._generate_resources = generate_resources

        # count the play's own (in-memory) transport calls too
        load_resources = rest.load_resources
        counters = self.s.counters

        def counted_load(resources, transport_factory, *args, **kwargs):
            return load_resources(resources, counting_factory(counters, transport_factory), *args, **kwargs)

        rest.load_resources = counted_load

    # -- per round ---------------------------------------------------------

    def _gc_s(self) -> float:
        beans = self.s.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000

    def start(self) -> None:
        """Called before the round: the set-up's GC time is not the round's."""
        self._gc0 = self._gc_s()

    def finish(self, wall: float) -> None:
        t, s = self.t, self.s
        t.collect_jobs()
        ops = {sp.name: sp for sp in t.spans if sp.parent is None}
        play, replay, load = ops.get("op.play"), ops.get("op.replay"), ops.get("op.load")

        def self_s(root, name):
            return sum(t.self_time(sp) for sp in t.under(root, name)) if root else 0.0

        def jobs(root, names):
            return sum(len(sp.jobs) for sp in (t.subtree(root) if root else ()) if sp.name in names)

        calls, _, wait = s.counters.snapshot()
        acked = s.acked
        builds = [sp for sp in t.under(play, "plans.resources_build")] if play else []
        res_dir = os.path.join(s.workdir, "resources")
        self.figures = {
            "sources.dd_parse_s": (self_s(play, "sources.dd_parse"), "s"),
            "sources.harmony_load_s": (self_s(play, "sources.harmony_load"), "s"),
            "sources.spark_jobs": (jobs(play, SOURCES), "count"),
            "plans.extract_build_s": (self_s(play, "plans.extract_build"), "s"),
            "plans.resources_build_s": (self_s(play, "plans.resources_build"), "s"),
            "plans.build_spark_jobs": (sum(len(x.jobs) for b in builds for x in t.subtree(b)), "count"),
            "plans.resources_plan_kb": (sum(self.plan_kb), "KiB"),
            "plans.resources_write_s": (self_s(play, "plans.resources_write"), "s"),
            "plans.resources_rows": (_parquet_rows(res_dir), "count"),
            "operators.harmonize_build_s": (self_s(play, "operators.harmonize_build"), "s"),
            "sinks.bundle_write_s": (self_s(play, "sinks.bundle_write"), "s"),
            "sinks.output_mb": (
                (_du(res_dir) + _du(os.path.join(s.workdir, "bundles"))) / 2**20, "MB"),
            "spark.tasks": (sum(sp.tasks for sp in t.subtree(play)) if play else 0, "count"),
            "plans.incremental_check_s": (self_s(replay, "plans.incremental_check"), "s"),
            "operators.inspect_s": (self_s(replay, "operators.inspect"), "s"),
            "operators.inspect_spark_jobs": (jobs(replay, ("operators.inspect",)), "count"),
            "sinks.load_s": (self_s(replay, "sinks.load"), "s"),
            "sinks.transport_calls": (calls, "count"),
            "sinks.resources_acked": (acked, "count"),
            "sinks.acked_per_call": (acked / max(calls, 1), "ratio"),
            "sinks.transport_wait_s": (wait, "s"),
            "sinks.fixpoint_s": (self_s(load, "sinks.fixpoint"), "s"),
            "sinks.fixpoint_rounds": (s.fixpoint.rounds if load else 0, "count"),
            "sinks.fixpoint_spark_jobs": (jobs(load, ("sinks.fixpoint",)), "count"),
            "sinks.invalid_refs": (len(s.invalid) if load else 0, "count"),
            "jvm.gc_s": (self._gc_s() - self._gc0, "s"),
            "trace.round_s": (wall, "s"),
        }

    def metrics(self, bundle_entries: int, peak_rss_mb: float) -> dict:
        out = dict(self.figures)
        out["sinks.bundle_entries"] = (bundle_entries, "count")
        out["jvm.peak_rss_mb"] = (peak_rss_mb, "MB")
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        self.t.dump(path)


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetDataset(path).read(columns=["resourceType"]).num_rows
