"""Spans around calls into the program's layers.

Every call the benchmark makes into a layer's public function runs inside
``Tracer.span(layer, label)``. A span always records its wall time. When
tracing is on it also

- sets a Spark job group named after the span, so the jobs the call
  submits can be found again in the event log;
- counts the py4j round trips made while it is open;
- counts lineage cuts (``DataFrame.localCheckpoint`` / ``checkpoint``),
  wrapped at the pyspark method so the program itself runs unchanged.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    sid: str  # also the job group of the jobs it submits
    layer: str
    t0: float = 0.0  # epoch seconds, comparable to event-log times
    t1: float = 0.0
    py4j_calls: int = 0
    cuts: int = 0

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


class _Counters:
    py4j_calls = 0
    cuts = 0


def _install_counters() -> None:
    """Wrap py4j's send_command and the two pyspark lineage-cut methods
    with counters. Idempotent."""
    from py4j.java_gateway import GatewayClient
    from pyspark.sql.classic.dataframe import DataFrame

    if getattr(GatewayClient, "_perfbench_wrapped", False):
        return
    send = GatewayClient.send_command

    def counted_send(self, *args, **kwargs):
        _Counters.py4j_calls += 1
        return send(self, *args, **kwargs)

    GatewayClient.send_command = counted_send
    GatewayClient._perfbench_wrapped = True

    for name in ("localCheckpoint", "checkpoint"):
        method = getattr(DataFrame, name)

        def counted_cut(self, *args, _method=method, **kwargs):
            _Counters.cuts += 1
            return _method(self, *args, **kwargs)

        setattr(DataFrame, name, counted_cut)


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.opened = 0  # never reset: job groups stay unique per run
        self.spark = None
        if enabled:
            _install_counters()

    def bind(self, spark) -> None:
        """Point the tracer at the session whose job groups it sets."""
        self.spark = spark

    def reset(self) -> None:
        """Forget the spans recorded so far (warm-up work)."""
        self.spans = []

    @contextmanager
    def span(self, layer: str, label: str):
        sp = Span(sid=f"pb{self.opened}", layer=layer)
        self.opened += 1
        sc = self.spark.sparkContext if self.enabled else None
        if sc is not None:
            sc.setJobGroup(sp.sid, f"{layer} {label}")
        calls0, cuts0 = _Counters.py4j_calls, _Counters.cuts
        sp.t0 = time.time()
        try:
            yield sp
        finally:
            sp.t1 = time.time()
            sp.py4j_calls = _Counters.py4j_calls - calls0
            sp.cuts = _Counters.cuts - cuts0
            if sc is not None:
                sc.setJobGroup("perfbench-idle", "outside any span")
            self.spans.append(sp)
