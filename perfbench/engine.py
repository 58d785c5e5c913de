"""Session lifecycle and layer instrumentation around the engine.

Everything here calls the engine's public surface from outside; the
traced run swaps in timing wrappers for ``ServingTable`` methods and
the ``fs`` module's functions and restores them afterwards.
"""

from __future__ import annotations

import json
import os
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

from common import CommitWatcher, Tracer, percentile, vm_hwm_mb, wrap_function


class Session:
    """A local Spark session whose scratch (block manager, event log,
    JVM temp) lives under ``tmp``; ``close`` stops Spark and waits for
    the JVM to exit."""

    def __init__(self, tmp: str, event_log: bool):
        from pyspark import SparkContext

        from platypus_ingestion_plugins_spark.session import get_spark

        local = os.path.join(tmp, "spark-local")
        os.makedirs(local)
        os.environ["SPARK_LOCAL_DIRS"] = local
        # every JVM the launcher starts: temp files here, no /tmp/hsperfdata
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={local}"
        confs = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        }
        self.event_dir = None
        if event_log:
            self.event_dir = os.path.join(tmp, "eventlog")
            os.makedirs(self.event_dir)
            confs["spark.eventLog.enabled"] = "true"
            confs["spark.eventLog.dir"] = "file://" + self.event_dir
            confs["spark.eventLog.compress"] = "false"
            confs["spark.eventLog.rolling.enabled"] = "false"
        self.spark = get_spark("perfbench", extra_confs=confs)
        self.spark.sparkContext.setLogLevel("ERROR")
        self._gateway = SparkContext._gateway
        self.jvm_pid = int(self.spark._jvm.ProcessHandle.current().pid())

    def peak_rss_mb(self) -> float:
        return vm_hwm_mb(os.getpid()) + vm_hwm_mb(self.jvm_pid)

    def close(self) -> None:
        self.spark.stop()
        proc = getattr(self._gateway, "proc", None)
        self._gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            proc.wait(timeout=60)


class ProgressLog(StreamingQueryListener):
    """Records every streaming progress event (batch id, rows,
    per-phase durations) with the time it arrived."""

    def __init__(self):
        self.events: list[dict] = []
        self.lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        p["_seen"] = time.perf_counter()
        with self.lock:
            self.events.append(p)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def batches_in(events: list[dict], t0: float, t1: float) -> list[dict]:
    """Progress events of micro-batches that processed rows and were
    reported inside [t0, t1] (perf_counter seconds)."""
    return [e for e in events if e["numInputRows"] > 0 and t0 <= e["_seen"] <= t1]


class LayerTrace:
    """Wraps the serving-table and fs layers with spans and counters.
    ``install`` returns self; ``uninstall`` restores the originals."""

    FS_FUNCS = (
        "exists", "is_dir", "list_names", "rename", "delete", "mkdirs",
        "write_text", "write_text_atomic", "_rename_or_raise", "read_text",
    )

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._undo: list = []
        self.fs_calls: list[tuple[float, float]] = []  # (start, seconds)
        self.rewritten: list[tuple[int, int]] = []  # (rows rewritten, changelog rows)
        self._depth = threading.local()

    def install(self):
        from platypus_ingestion_plugins_spark import fs
        from platypus_ingestion_plugins_spark.serving.table import ServingTable

        t = self.tracer
        self._undo.append(
            wrap_function(ServingTable, "apply_batch", t, "serving.apply_batch", self._after_apply)
        )
        self._undo.append(wrap_function(ServingTable, "read", t, "serving.read"))
        self._undo.append(wrap_function(ServingTable, "lookup", t, "serving.lookup"))
        for name in self.FS_FUNCS:
            self._undo.append(self._wrap_fs(fs, name))
        return self

    def uninstall(self) -> None:
        while self._undo:
            self._undo.pop()()

    def _wrap_fs(self, module, name: str):
        orig = getattr(module, name)
        calls, depth = self.fs_calls, self._depth

        def wrapper(*args, **kwargs):
            if isinstance(threading.current_thread(), CommitWatcher):
                return orig(*args, **kwargs)  # the benchmark's own poller
            d = getattr(depth, "n", 0)
            depth.n = d + 1
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                depth.n = d
                if d == 0:  # count outermost calls only
                    calls.append((t0, time.perf_counter() - t0))

        setattr(module, name, wrapper)
        return lambda: setattr(module, name, orig)

    def _after_apply(self, _result, args, _kwargs) -> None:
        """Rows now stored in the buckets the batch touched (parquet
        footers), against the batch's changelog row count."""
        import pyarrow.parquet as pq

        table = args[0]
        # straight from the local file: going through table.commits()
        # would count as fs-layer work
        with open(f"{table.path}/_commits.json") as f:
            commits = json.load(f)
        if not commits or commits[-1]["kind"] != "batch":
            return
        last = commits[-1]
        dirs = (
            [f"{table.path}/__bucket={b}" for b in last["buckets"]]
            if last["buckets"] is not None
            else [table.path]
        )
        rows = 0
        for d in dirs:
            local = d.removeprefix("file:")
            if not os.path.isdir(local):
                continue
            for n in os.listdir(local):
                if n.endswith(".parquet"):
                    rows += pq.read_metadata(os.path.join(local, n)).num_rows
        self.rewritten.append((rows, last["n_rows"]))

    def fs_in(self, t0: float, t1: float) -> tuple[int, float]:
        sel = [dur for start, dur in self.fs_calls if t0 <= start <= t1]
        return len(sel), sum(sel) * 1000


def table_files(path: str) -> tuple[int, int]:
    """(parquet files in the table, most files in one bucket)."""
    total, per_bucket = 0, {}
    for dirpath, _dirs, files in os.walk(path):
        n = sum(1 for f in files if f.endswith(".parquet"))
        total += n
        if n:
            per_bucket[dirpath] = n
    return total, max(per_bucket.values(), default=0)


def p50(values, default: float = 0.0) -> float:
    return percentile(values, 50) if values else default
