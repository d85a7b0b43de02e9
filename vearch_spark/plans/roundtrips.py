"""Count the py4j round trips a piece of PySpark code makes.

Every PySpark call into the JVM (building a ``Column``, a ``DataFrame``
transformation, reading a schema) sends one or more commands through
the Spark session's gateway client. Their number is the plan-build
cost that host CPU steal does not move, so it pins a request's build
cost where milliseconds cannot.

Only commands sent from the counting thread are counted: py4j releases
the JVM handle of a dead ``JavaObject`` from a finalizer thread of its
own, whenever that thread gets to it. Python's cyclic garbage collector
is paused while counting, so no collection runs finalizers inside the
counted block.

Usage::

    with count_round_trips(spark) as rt:
        df = space.search(...)
    print(rt.n)
"""

from __future__ import annotations

import gc
import threading
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class RoundTrips:
    n: int = 0


@contextmanager
def count_round_trips(spark) -> Iterator[RoundTrips]:
    """Count the gateway commands sent inside the ``with`` block."""
    client = spark.sparkContext._gateway._gateway_client
    shadowed = "send_command" in vars(client)  # set by an enclosing counter
    send = client.send_command
    counter = RoundTrips()
    owner = threading.get_ident()

    def counting(*args, **kwargs):
        if threading.get_ident() == owner:
            counter.n += 1
        return send(*args, **kwargs)

    was_enabled = gc.isenabled()
    gc.disable()
    client.send_command = counting
    try:
        yield counter
    finally:
        if shadowed:
            client.send_command = send
        else:
            del client.send_command
        if was_enabled:
            gc.enable()
