"""Operation timing and, in a traced pass, layer spans.

Every operation is timed from the call until its result is complete. A
traced pass also records one span per layer call the benchmark makes and
tags the Spark jobs each span starts with the job group ``<op>|<span>``,
so the event log attributes jobs, stages and tasks back to the span.
"""
import time
from contextlib import contextmanager
from dataclasses import dataclass

from .metrics import Span, job_group


@dataclass
class OpRecord:
    pass_no: int
    kind: str       # "read" or "write"
    name: str
    seconds: float
    cpu_s: float    # CPU seconds the Spark JVM spent meanwhile, JIT compiler aside
    jit_s: float    # CPU seconds the JVM's JIT compiler threads spent meanwhile
    error: str = ""


def now_ms():
    return time.time() * 1000.0


def short_error(e):
    """One line naming the failure; for a JVM exception, the exception itself
    rather than py4j's "An error occurred while calling ..." preamble."""
    java = getattr(e, "java_exception", None)
    lines = (str(java.toString()) if java is not None else str(e)).strip().splitlines()
    return (lines[0] if lines else type(e).__name__)[:300]


class Recorder:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.traced = False
        # CPU seconds the Spark JVM has used so far, as (program, JIT compiler)
        self.cpu = lambda: (0.0, 0.0)
        self.ops = []
        self.spans = []

    @contextmanager
    def span(self, op, name):
        if not self.traced:
            yield
            return
        self.sc.setJobGroup(job_group(op, name), name)
        t0 = now_ms()
        try:
            yield
        finally:
            self.spans.append(Span(op, name, t0, now_ms()))
            self.sc.setJobGroup(job_group(op, "op"), "op")

    def run(self, pass_no, op, kind, name, body):
        """Time ``body(op)``; failures are recorded, never raised."""
        error = ""
        if self.traced:
            self.sc.setJobGroup(job_group(op, "op"), "op")
        t_span = now_ms()
        c0, t0 = self.cpu(), time.perf_counter()
        try:
            body(op)
        except Exception as e:  # a failed operation is data, not a crash
            error = short_error(e)
        seconds, c1 = time.perf_counter() - t0, self.cpu()
        if self.traced:
            self.spans.append(Span(op, "op", t_span, now_ms()))
            self.sc._jsc.clearJobGroup()
        self.ops.append(OpRecord(pass_no, kind, name, seconds, c1[0] - c0[0],
                                 c1[1] - c0[1], error))
        return error == ""
