"""The ingest workload, ``cdc_live``: small CDC drops at a fixed rate
into a running Paimon-plugin pipeline, then one backlog drained at
once. Its traced run also times the Kafka-plugin decode path alone on
one topic file of Confluent-framed Avro records."""

from __future__ import annotations

import math
import os
import time

import duckdb
import numpy as np
import pyarrow as pa

import gen
from common import CommitWatcher, file_batches, percentile
from engine import batches_in, p50, table_files

DOC_COLS = ["id", "title", "content", "category", "rating", "tags", "author", "publish_date"]
RENAMES = {"metadata_author": "author", "metadata_publishDate": "publish_date"}


def last_wins_diff(changelog: pa.Table, actual: pa.Table, cols: list[str]) -> int:
    """Rows in the symmetric difference between the engine's serving
    state and a DuckDB last-wins (highest ``_seq`` per key; a final
    ``-D`` removes the key) over the whole generated changelog."""
    con = duckdb.connect()
    try:
        con.register("changelog", changelog)
        con.register("actual", actual)
        sel = ", ".join(cols)
        con.execute(
            f"""CREATE TEMP VIEW expected AS
            SELECT {sel} FROM (
              SELECT *, row_number() OVER (PARTITION BY id ORDER BY _seq DESC) AS rn
              FROM changelog WHERE _row_kind IN ('+I', '+U', '-D'))
            WHERE rn = 1 AND _row_kind <> '-D'"""
        )
        missing = con.execute(
            f"SELECT count(*) FROM (SELECT {sel} FROM expected EXCEPT ALL SELECT {sel} FROM actual)"
        ).fetchone()[0]
        extra = con.execute(
            f"SELECT count(*) FROM (SELECT {sel} FROM actual EXCEPT ALL SELECT {sel} FROM expected)"
        ).fetchone()[0]
        return int(missing + extra)
    finally:
        con.close()


def serving_state(table, cols: list[str]) -> pa.Table:
    return pa.Table.from_pandas(table.query().select(*cols).toPandas(), preserve_index=False)


def stream_layers(ctx, table, m: dict) -> dict[str, float]:
    """Per-layer metrics of the micro-batches reported inside the
    measured window [m["t0"], m["t1"]]."""
    t0, t1 = m["t0"], m["t1"]
    batches = batches_in(ctx.progress.events, t0, t1)
    n = max(len(batches), 1)

    def dur(key):
        return [b["durationMs"].get(key, 0) for b in batches]

    offsets = [b["durationMs"].get("latestOffset", 0) + b["durationMs"].get("walCommit", 0) for b in batches]
    fs_calls, fs_ms = ctx.layer.fs_in(t0, t1)
    amp = [rw / max(cl, 1) for rw, cl in ctx.layer.rewritten]
    files_end, files_max = table_files(table.path)
    return {
        "streaming.batches": len(batches),
        "streaming.rows_per_batch_p50": p50([b["numInputRows"] for b in batches]),
        "streaming.trigger_ms_p50": p50(dur("triggerExecution")),
        "streaming.add_batch_ms_p50": p50(dur("addBatch")),
        "streaming.offsets_ms_p50": p50(offsets),
        "streaming.commit_ms_p50": p50(dur("commitOffsets")),
        "serving.apply_batch_ms_p50": p50(ctx.tracer.durations_ms("serving.apply_batch")),
        "serving.write_amplification": p50(amp),
        "serving.read_ms_p50": p50(ctx.tracer.durations_ms("serving.read")),
        "serving.buckets_touched_p50": p50(
            [len(c["buckets"] or []) for c in table.commits()[m["c0"] : m["c1"]] if c["kind"] == "batch"]
        ),
        "serving.files_end": files_end,
        "serving.files_per_bucket_max": files_max,
        "fs.calls_per_batch": fs_calls / n,
        "fs.ms_per_batch": fs_ms / n,
        "streaming.retries": ctx.stats.errors,
    }


def noop_ms_per_krow(df, build, reps: int = 3) -> float:
    """Median time of ``build(df)`` written to the noop sink, in ms per
    thousand input rows; ``df`` is cached and counted first."""
    df = df.cache()
    n = df.count()
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        build(df).write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t)
    df.unpersist()
    return percentile(times, 50) * 1000 / (n / 1000)


def kafka_transform(raw):
    """The Kafka-plugin decode chain: registry-map decode (pure-Python
    Avro) -> flatten nested records -> rename/drop."""
    from platypus_ingestion_plugins_spark.functions.converters import flatten_structs
    from platypus_ingestion_plugins_spark.operators.projection import drop_by_prefix, rename_fields
    from platypus_ingestion_plugins_spark.sources.avro_decode import python_avro_decoder
    from platypus_ingestion_plugins_spark.sources.kafka import decode_with_schema_map

    out = decode_with_schema_map(raw, gen.schema_jsons(), decoder=python_avro_decoder)
    out = rename_fields(flatten_structs(out), RENAMES)
    return drop_by_prefix(out, ["value", "_schema_id"])


class CdcLive:
    """Open loop: CDC drops due at a fixed rate land (pyarrow-written,
    atomically renamed) in the source directory of a continuously
    running ``PaimonIngestionConfig.build_pipeline``. Freshness runs
    from a drop's due time to its commit showing in
    ``ServingTable.commits()``. Then a closed step: one backlog lands
    at once.

    The stream runs on a processing-time trigger, which Spark fires on
    multiples of its interval since the epoch. The open loop starts
    just after a tick and the backlog lands just before one, so every
    run groups drops into batches the same way; what varies is the
    engine's batch time. Each batch finishes within its interval, so
    the stream is idle at every tick and each batch drains a backlog:
    the drops that landed since the last tick."""

    KEYS = 100_000
    BUCKETS = 8
    DROP_ROWS = 200
    RATE = 12.5  # drops per second
    OPEN_DROPS = 100
    BACKLOG_DROPS = 60
    TRIGGER_S = 5
    TOPIC_RECORDS = 10_000

    def __init__(self, ctx):
        self.ctx = ctx
        self.root = os.path.join(ctx.tmp, "cdc")
        self.staging = os.path.join(self.root, "staging")
        self.log = gen.Changelog(ctx.seed, self.KEYS)
        self.ops: list[pa.Table] = []
        self.drop_no = 0

    def config(self):
        from platypus_ingestion_plugins_spark.config import PaimonIngestionConfig

        return PaimonIngestionConfig(
            {
                "database.name": "shop",
                "table.name": "documents",
                "target.index.name": "documents_idx",
                "warehouse.path": os.path.join(self.root, "warehouse"),
                "index.key": "id",
                "index.buckets": self.BUCKETS,
                "field.mapping": RENAMES,
                "field.drop.prefixes": ["__internal_"],
                "spark.max.files.per.trigger": 1000,
            }
        )

    def _write(self, ops: pa.Table, name: str) -> str:
        ops = ops.drop(["_body"])
        self.ops.append(ops)
        withmeta = ops.append_column(
            "__internal_ingest_ts", pa.array(np.arange(ops.num_rows), pa.int64())
        )
        path = os.path.join(self.staging, name)
        gen.write_parquet(withmeta, path)
        return path

    def setup(self) -> None:
        from platypus_ingestion_plugins_spark.serving.table import ServingTable

        spark = self.ctx.spark
        os.makedirs(self.staging)
        cfg = self.config()
        self.src = cfg.source_path()
        os.makedirs(self.src)
        pre = self._write(self.log.preload(self.KEYS), "preload.parquet")
        df = spark.read.parquet(pre)
        self.table = ServingTable(spark, cfg.index_path(), key="id", num_buckets=self.BUCKETS)
        self.table.overwrite(cfg.build_transform()(df).drop("_seq", "_row_kind"))
        self.pipe = cfg.build_pipeline(
            spark, df.schema, checkpoint_path=os.path.join(self.root, "checkpoint")
        )
        self.pipe.stats = self.ctx.stats  # counts failed sink attempts
        self.ckpt = self.pipe.checkpoint_path
        self.watcher = CommitWatcher(self.table)
        self.watcher.start()
        # warm-up drop: the stream's first batch pays worker start-up.
        # Landed before the start, it goes into the batch the stream runs
        # at once rather than waiting for a tick.
        name = self._next_drop()
        self._land_all([name])
        self.pipe.start(trigger={"processingTime": f"{self.TRIGGER_S} seconds"})
        self._wait_visible(name, 60)

    def _next_drop(self) -> str:
        name = f"drop-{self.drop_no:06d}.parquet"
        self.drop_no += 1
        self._write(self.log.batch(self.DROP_ROWS), name)
        return name

    def _wait_visible(self, name: str, timeout_s: float) -> int:
        """Block until the micro-batch holding ``name`` has committed;
        returns its batch id."""
        deadline = time.perf_counter() + timeout_s
        while True:
            batch = file_batches(self.ckpt).get(name)
            if batch is not None and self.watcher.wait_for(batch + 1, max(deadline - time.perf_counter(), 0)):
                return batch
            if time.perf_counter() > deadline or self.watcher.error is not None:
                raise TimeoutError(f"{name} not visible after {timeout_s}s")
            time.sleep(0.02)

    def _land_all(self, names: list[str]) -> None:
        for name in names:
            gen.land(os.path.join(self.staging, name), os.path.join(self.src, name))

    def _committed(self, names: list[str]) -> None:
        """Waits until every drop in ``names`` has committed."""
        self._wait_visible(names[-1], 120)
        last = max(file_batches(self.ckpt)[n] for n in names)
        if not self.watcher.wait_for(last + 1, 120):
            raise TimeoutError(f"batch {last} not visible")

    def _next_tick(self, after: float) -> float:
        """The first trigger tick after ``after`` (both perf_counter
        seconds)."""
        now_p, now_e = time.perf_counter(), time.time()
        epoch = after - now_p + now_e
        tick = (math.floor(epoch / self.TRIGGER_S) + 1) * self.TRIGGER_S
        return tick - now_e + now_p

    def measure(self, duration: float) -> dict:
        """Open loop for the window (at least OPEN_DROPS drops, so p90
        rests on 100 values); then one backlog."""
        n = max(self.OPEN_DROPS, int(round(self.RATE * duration)))
        names = [self._next_drop() for _ in range(n)]
        c0 = len(self.table.commits())
        due, landed = [], []
        tracer = self.ctx.tracer
        t0 = self._next_tick(time.perf_counter()) + 0.05
        for i, name in enumerate(names):
            d = t0 + i / self.RATE
            wait = d - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            with tracer.span("loadgen.land", trace_id=name):
                self._land_all([name])
            due.append(d)
            landed.append(time.perf_counter())
        t_last = time.perf_counter()
        self._committed(names)
        back, back_landed = self._backlog()
        batch_of = file_batches(self.ckpt)
        seen = self.watcher.seen_at
        visible = [seen[batch_of[n]] for n in names]
        time.sleep(0.3)  # let the last progress event reach the listener
        return {
            "freshness_ms": [(v - d) * 1000 for v, d in zip(visible, due)],
            "drain_rows_per_s": self._drain_rates(names + back, landed + back_landed, batch_of),
            "lag_s": [l - d for l, d in zip(landed, due)],
            "backlog_end": sum(1 for v in visible if v > t_last),
            "t0": t0,
            "t1": time.perf_counter(),
            "c0": c0,
            "c1": len(self.table.commits()),
        }

    def _backlog(self) -> tuple[list[str], list[float]]:
        """BACKLOG_DROPS drops landed at once into the idle stream just
        before a tick; returns them and their landing times once they
        have committed."""
        names = [self._next_drop() for _ in range(self.BACKLOG_DROPS)]
        tick = self._next_tick(time.perf_counter() + 0.5)
        time.sleep(max(tick - 0.3 - time.perf_counter(), 0))
        with self.ctx.tracer.span("loadgen.backlog", trace_id=names[0]):
            self._land_all(names)
            landed = time.perf_counter()
            self._committed(names)
        return names, [landed] * len(names)

    def _drain_rates(self, names: list[str], landed: list[float], batch_of: dict[str, int]) -> list[float]:
        """Per micro-batch: its rows over the time from its start to its
        commit showing. A batch starts on the first tick after its last
        drop landed, or when the batch before it committed, if that is
        later. The batch's drops were all waiting at its start, so the
        engine alone sets this rate."""
        last: dict[int, float] = {}
        count: dict[int, int] = {}
        for name, t in zip(names, landed):
            b = batch_of[name]
            last[b] = max(last.get(b, t), t)
            count[b] = count.get(b, 0) + 1
        seen = self.watcher.seen_at
        return [
            count[b] * self.DROP_ROWS / (seen[b] - max(self._next_tick(last[b]), seen[b - 1]))
            for b in sorted(count)
        ]

    @staticmethod
    def summarize(m: dict) -> dict:
        return {
            "throughput_per_s": percentile(m["drain_rows_per_s"], 50),
            "latency_p50_ms": percentile(m["freshness_ms"], 50),
            "latency_p90_ms": percentile(m["freshness_ms"], 90),
        }

    @staticmethod
    def named(e2e: dict) -> dict:
        return {
            "drain_rows_per_s": (e2e["throughput_per_s"], "1/s"),
            "freshness_p50_s": (e2e["latency_p50_ms"] / 1000, "s"),
            "freshness_p90_s": (e2e["latency_p90_ms"] / 1000, "s"),
        }

    @staticmethod
    def overhead(untraced: dict, traced: dict) -> float:
        return traced["latency_p50_ms"] / untraced["latency_p50_ms"]

    @staticmethod
    def operations(m: dict) -> int:
        return len(m["freshness_ms"])

    def layers(self, m: dict) -> dict:
        ctx = self.ctx
        out = stream_layers(ctx, self.table, m)
        out["loadgen.lag_p90_s"] = percentile(m["lag_s"], 90)
        out["loadgen.backlog_drops_end"] = m["backlog_end"]
        out.update(self._isolated(int(out["streaming.rows_per_batch_p50"])))
        return out

    def _isolated(self, batch_rows: int) -> dict:
        """Last-wins on a batch-sized slice of the changelog, and the
        Kafka decode chain on one topic file of the same documents,
        each timed alone into the noop sink."""
        from platypus_ingestion_plugins_spark.operators.cdc import apply_changelog

        spark = self.ctx.spark
        batch = os.path.join(self.root, "batch.parquet")
        gen.write_parquet(pa.concat_tables(self.ops[1:])[-max(batch_rows, self.DROP_ROWS):], batch)
        ops = self.log.batch(self.TOPIC_RECORDS)  # not ingested
        frames, poison, _ = gen.FrameEncoder(self.log.pool).frames(ops, np.random.default_rng([self.ctx.seed, 6]))
        topic = os.path.join(self.root, "topic.parquet")
        gen.write_parquet(
            pa.table(
                {
                    "partition": pa.array(np.zeros(len(frames)), pa.int32()),
                    "offset": pa.array(np.arange(len(frames)), pa.int64()),
                    "value": pa.array(frames, pa.binary()),
                },
                schema=gen.TOPIC_SCHEMA,
            ),
            topic,
        )
        decoded = kafka_transform(spark.read.parquet(topic))
        return {
            "cdc.last_wins_ms_per_krow": noop_ms_per_krow(
                spark.read.parquet(batch), lambda df: apply_changelog(df, "id")
            ),
            "decode.ms_per_krow": noop_ms_per_krow(spark.read.parquet(topic), kafka_transform),
            "decode.poison_ratio": decoded.filter("_is_poison").count() / len(frames),
        }

    def stop(self) -> None:
        self.pipe.stop()
        self.watcher.stop()

    def check(self) -> tuple[int, int]:
        self.stop()
        changelog = pa.concat_tables(self.ops).rename_columns(
            [RENAMES.get(c, c) for c in self.ops[0].column_names]
        )
        wrong = last_wins_diff(changelog, serving_state(self.table, DOC_COLS), DOC_COLS)
        attempted = changelog.num_rows
        return attempted, min(wrong, attempted)
