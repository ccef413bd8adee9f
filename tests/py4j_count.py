"""Count the driver→JVM py4j round trips a block of driver code makes.

Every Column node, DataFrame method and conf lookup on the Python side
is one py4j call (~0.2 ms), so a builder's round-trip count is its
fixed driver cost independent of data size. Budget tests pin it.
"""

from __future__ import annotations

import gc
import threading


def py4j_round_trips(spark, build) -> int:
    """Run ``build()`` and return how many py4j commands the calling
    thread sent while it ran."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    builder = threading.current_thread()
    calls = [0]

    def counting(*args, **kwargs):
        # only the building thread's calls: py4j frees dropped proxies
        # from a background thread too, at a pace the builder does not set
        calls[0] += threading.current_thread() is builder
        return send(*args, **kwargs)

    # cyclic garbage from earlier work would otherwise free py4j
    # proxies (one call each) inside the counted window
    gc.collect()
    gc.disable()
    client.send_command = counting
    try:
        build()
    finally:
        client.send_command = send
        gc.enable()
    return calls[0]
