from __future__ import annotations

import contextlib
import datetime as dt
import gc
import os
import threading

import pytest
from pyspark.sql import SparkSession

# spark temp inside the repo: host /tmp reapers have deleted active
# blockmgr shuffle dirs mid-job
_SPARK_TMP = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".spark-tmp"
)
os.makedirs(_SPARK_TMP, exist_ok=True)


@pytest.fixture(scope="session")
def spark():
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("fame2pygen_spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.local.dir", _SPARK_TMP)
        # the suite compiles thousands of generated classes and runs many
        # queries twice (oracle parity, then partitioning invariance); the
        # default 100-entry cache evicts them, even mid-query, and recompiles
        .config("spark.sql.codegen.cache.maxEntries", "4000")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture()
def py4j_calls():
    """``with py4j_calls() as calls:`` counts in ``calls[0]`` the py4j
    round trips made inside the block."""
    return _count_py4j_calls


@contextlib.contextmanager
def _count_py4j_calls():
    """Count the py4j round trips made inside the block: this thread's
    sends plus the proxy deletes it queues, with ``gc`` paused.

    Freeing a py4j proxy costs a delete command. With pinned threads
    py4j queues it and a finalizer thread sends it later, so that
    thread's sends are earlier tests' garbage: count the deletes this
    thread queues, when it queues them, and only this thread's sends.
    Yields a one-element list holding the count."""
    from py4j.clientserver import JavaClient
    from py4j.java_gateway import GatewayClient

    me = threading.get_ident()
    calls = [0]
    orig_send = GatewayClient.send_command
    orig_gc = JavaClient.garbage_collect_object

    def counting(client, *args, **kwargs):
        if threading.get_ident() == me:
            calls[0] += 1
        return orig_send(client, *args, **kwargs)

    def counting_gc(client, target_id, enqueue=True):
        if enqueue and threading.get_ident() == me:
            calls[0] += 1
        return orig_gc(client, target_id, enqueue)

    # collect earlier tests' garbage before counting
    gc.collect()
    gc.disable()
    GatewayClient.send_command = counting
    JavaClient.garbage_collect_object = counting_gc
    try:
        yield calls
    finally:
        GatewayClient.send_command = orig_send
        JavaClient.garbage_collect_object = orig_gc
        gc.enable()


def month_starts(start: dt.date, n: int) -> list[dt.date]:
    out = []
    y, m = start.year, start.month
    for _ in range(n):
        out.append(dt.date(y, m, 1))
        m += 1
        if m > 12:
            m = 1
            y += 1
    return out


@pytest.fixture()
def ts_monthly(spark):
    """F1 fixture from FIXTURES.md — 120 monthly rows, deterministic."""
    import math

    dates = month_starts(dt.date(2015, 1, 1), 120)
    rows = []
    for i, d in enumerate(dates):
        rows.append(
            (
                d,
                100.0 + 2.0 * i,                 # A
                50.0 * math.sin(i / 6.0) + 60.0,  # B
                (i * 37 % 200) * 1.0,             # C (deterministic "uniform")
                float(i * i % 97),                # D
                (i * 13 % 20) * 1.0,              # X
                100.0 + i,                        # Y
                0.0,                              # Z
                40.0 + (i * 7 % 80),              # PRICE
                1.0 + (i % 12),                   # QUANTITY
                float(d.year),                    # YEAR
            )
        )
    return spark.createDataFrame(
        rows,
        "DATE date, A double, B double, C double, D double, X double, "
        "Y double, Z double, PRICE double, QUANTITY double, YEAR double",
    )
