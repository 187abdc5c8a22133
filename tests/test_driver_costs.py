"""Fixed costs every op pays: py4j round trips on the driver and the
columns a Python worker receives (docs/SCALING.md §28)."""

from __future__ import annotations

from pudatalake_spark import registry
from pudatalake_spark.loaders import load

from tests.conftest import SF_DIR
from tests.test_loader_normalize import TESTDATA_SFS

registry.load_all()

#: py4j's command to release a Python-side handle; its finalizer
#: thread sends these whenever Python collects one.
RELEASE = "m\nd\n"


def test_lake_load_round_trips(spark, monkeypatch):
    """Loading the 10-table lake stays well under the 500-600 py4j
    calls a per-segment class lookup and a JSON schema round trip
    made. Every loading thread's calls count; handle releases do not."""
    client = spark.sparkContext._gateway._gateway_client
    send, calls = client.send_command, []

    def counting(command, *args, **kwargs):
        if not command.startswith(RELEASE):
            calls.append(command)
        return send(command, *args, **kwargs)

    load(spark, TESTDATA_SFS[1])  # so that SF_DIR is a memo miss
    try:
        monkeypatch.setattr(client, "send_command", counting)
        load(spark, SF_DIR)
        monkeypatch.undo()
        assert 0 < len(calls) <= 350
    finally:
        load(spark, SF_DIR)


def test_grouped_map_worker_reads_two_columns(spark):
    """Catalyst cannot prune through ``applyInPandas``: the builder
    selects what its function reads, so the scan reads two columns."""
    df = registry.QUERIES["udf_grouped_map"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<user_id:bigint,value:double>" in plan
