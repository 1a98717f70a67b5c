from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from pbf2json_spark.session import get_spark

    s = get_spark("pbf2json_spark-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture()
def run_stream_to_memory():
    """Drive a bounded-source streaming frame to completion into an
    in-memory table named ``query_name`` (complete output mode, so the
    table holds the full result) and return the query."""

    def run(frame, query_name: str):
        q = (
            frame.writeStream.outputMode("complete")
            .format("memory")
            .queryName(query_name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        return q

    return run
