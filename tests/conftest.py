import uuid
from contextlib import contextmanager

import pytest

from iceberg_compaction_spark.session import session_builder


@pytest.fixture(scope="session")
def spark():
    # the shared builder adds the preloading worker daemon (guide §4.5),
    # so workers forked mid-suite inherit pandas/pyarrow copy-on-write
    # instead of re-importing them — the bench session has run this way
    # since r15; r16 extends it to the suite (VERDICT r15 item 7)
    spark = session_builder(
        master="local[4]",
        app_name="iceberg-compaction-spark-tests",
        shuffle_partitions=4,
    ).getOrCreate()
    yield spark
    spark.stop()


class _Count:
    n = 0


@contextmanager
def py4j_round_trips():
    """Counts the py4j commands this process sends to the JVM while the
    block runs (``.n`` of the yielded object); each is one round trip.
    Garbage-collected Python proxies send detach commands at random
    moments, so assert bounds, not exact counts."""
    from py4j.clientserver import ClientServerConnection

    count = _Count()
    send = ClientServerConnection.send_command

    def counted(self, *args, **kwargs):
        count.n += 1
        return send(self, *args, **kwargs)

    ClientServerConnection.send_command = counted
    try:
        yield count
    finally:
        ClientServerConnection.send_command = send


def spark_jobs(spark, fn) -> int:
    """Spark jobs started by ``fn()`` on this thread."""
    sc = spark.sparkContext
    group = f"pinned-jobs-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "pinned job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))
