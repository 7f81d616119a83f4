"""Counting REST transport for the pipeline benchmark.

``sinks.rest.load_resources`` calls its transport inside Spark's Python
workers, one transport per partition, so the counts travel back through
accumulators: each partition adds its own calls, acknowledgements and time
spent waiting on the transport, and Spark merges them when the task ends.
Workers import this module by name, so the benchmark directory must be on
the workers' ``PYTHONPATH`` (run.py puts it there).
"""

from __future__ import annotations

import time
from dataclasses import dataclass

#: fixed simulated server round trip of the stand-in FHIR server
ROUND_TRIP_S = 0.001


@dataclass
class Counters:
    """Driver-side handles of the three accumulators."""

    calls: object
    acked: object
    wait_s: object

    @classmethod
    def create(cls, sc) -> "Counters":
        return cls(sc.accumulator(0), sc.accumulator(0), sc.accumulator(0.0))

    def snapshot(self) -> tuple[int, int, float]:
        return self.calls.value, self.acked.value, self.wait_s.value


class CountingTransport:
    """Transport that counts every call. With ``inner`` it forwards to that
    transport; without, it stands in for a FHIR server that acknowledges
    each request after :data:`ROUND_TRIP_S`."""

    def __init__(self, counters: Counters, inner=None):
        self.counters = counters
        self.inner = inner

    def __call__(self, method, resource_type, body, headers=None):
        from ncpi_whistler_spark.sinks.rest import LoadResult

        t0 = time.perf_counter()
        if self.inner is None:
            time.sleep(ROUND_TRIP_S)
            result = LoadResult(status=201, resource_type=resource_type)
        else:
            result = self.inner(method, resource_type, body, headers)
        self.counters.wait_s.add(time.perf_counter() - t0)
        self.counters.calls.add(1)
        if result.status < 400:
            self.counters.acked.add(1)
        return result


def counting_factory(counters: Counters, inner_factory=None):
    """Transport factory for ``load_resources``: one counting transport per
    partition, wrapping ``inner_factory()`` when given."""

    def factory():
        inner = inner_factory() if inner_factory is not None else None
        return CountingTransport(counters, inner)

    return factory
