"""A fixed reference job that tracks how fast the host runs right now.

On a shared host the same operation can take twice as long when other
guests are busy, and that contention drifts within a minute. The
measured loop runs this probe before the first operation and after
every operation; ``metrics.Recorder.rescale`` divides each operation's
time by the slowdown of the probes around it, which turns it into
seconds on a host where the probe takes ``REF_S``. The probe calls
nothing in the library, so no engine change moves it.
"""

from __future__ import annotations

import statistics
import time

ROWS = 10_000_000  # hashed and summed by a plain Spark job, one task per core
PY_LOOP = 100_000  # iterations of a pure-Python loop in the driver
REF_S = 0.1  # nominal probe time: a run whose probes take this long is not rescaled


def probe_s(spark, cores: int) -> float:
    t0 = time.perf_counter()
    spark.range(0, ROWS, 1, cores).selectExpr("sum(hash(id))").collect()
    acc = 0
    for i in range(PY_LOOP):
        acc += i * i
    return time.perf_counter() - t0


def slowdown(samples: list[float]) -> float:
    """How many times slower than the reference the host ran, as the
    median of the probes (1.0 when there are none)."""
    return statistics.median(samples) / REF_S if samples else 1.0
