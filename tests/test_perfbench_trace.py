"""Guard for ``perfbench --trace 1``: its layer instrumentation wraps
``ServingTable`` methods and ``fs`` functions by name, reads
``{path}/_commits.json`` and sums rows under ``{path}/__bucket=b/``
(perfbench/engine.py). An engine change that breaks any of that fails
here instead of silently emptying the traced run's metrics."""

import os
import sys

from pyspark.sql import Row

from platypus_ingestion_plugins_spark import fs
from platypus_ingestion_plugins_spark.serving.table import ServingTable

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
sys.path.insert(0, PERFBENCH)  # perfbench imports its modules by bare name
try:
    from common import Tracer
    from engine import LayerTrace
finally:
    sys.path.remove(PERFBENCH)


def test_layer_trace_records_apply_batch(spark, tmp_path):
    tbl = ServingTable(spark, str(tmp_path / "t"), key="id", num_buckets=4)
    rows = [Row(_seq=i, _row_kind="+I", id=f"k{i}", title="v1") for i in range(8)]
    tbl.apply_batch(spark.createDataFrame(rows))
    orig_apply, orig_exists = ServingTable.apply_batch, fs.exists

    layer = LayerTrace(Tracer()).install()
    try:
        tbl.apply_batch(spark.createDataFrame(rows[:3]))
    finally:
        layer.uninstall()

    assert len(layer.rewritten) == 1
    rewritten, changelog_rows = layer.rewritten[0]
    assert changelog_rows == 3 and rewritten > 0
    assert len(layer.fs_calls) > 0
    assert ServingTable.apply_batch is orig_apply and fs.exists is orig_exists
