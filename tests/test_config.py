"""Config-driven assembly (config.py): reference key/default/validation
parity (IngestionConfigTest / PaimonConfigTest shapes) and a config
map driven END TO END — dict in, queryable serving table out."""

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from platypus_ingestion_plugins_spark.config import (
    KafkaIngestionConfig,
    PaimonIngestionConfig,
    config_get,
)
from platypus_ingestion_plugins_spark.serving.table import ServingTable

CDC_SCHEMA = T.StructType(
    [
        T.StructField("_seq", T.LongType()),
        T.StructField("_row_kind", T.StringType()),
        T.StructField("doc_key", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("tmp_internal", T.StringType()),
    ]
)


def test_config_get_flat_and_nested():
    cfg = {"database.name": "flatdb", "a": {"b": {"c": 7}}}
    assert config_get(cfg, "database.name") == "flatdb"  # flat key with dots
    assert config_get(cfg, "a.b.c") == 7  # ConfigHelper dot descent
    assert config_get(cfg, "a.b.missing", "dflt") == "dflt"
    with pytest.raises(ValueError, match="Required configuration 'x.y'"):
        config_get(cfg, "x.y")


def test_kafka_config_defaults_and_validation():
    """IngestionConfig.java parity: defaults for every optional key,
    required topic/indexName/bootstrapServers."""
    c = KafkaIngestionConfig({"topic": "t", "indexName": "idx"})
    assert c.bootstrap_servers == "localhost:9092"
    assert c.consumer_group_id == "nrtsearch-kafka-consumer"
    assert c.auto_offset_reset == "earliest"
    assert c.auto_commit_enabled is False
    assert c.batch_size == 1000
    assert c.schema_registry_url is None

    with pytest.raises(ValueError, match="topic is required"):
        KafkaIngestionConfig({"indexName": "idx"})
    with pytest.raises(ValueError, match="Index name is required"):
        KafkaIngestionConfig({"topic": "t"})
    with pytest.raises(ValueError, match="Bootstrap servers"):
        KafkaIngestionConfig(
            {"topic": "t", "indexName": "idx", "bootstrapServers": ""}
        )
    # string-typed overrides parse like the reference's Map<String,Object>
    c2 = KafkaIngestionConfig(
        {"topic": "t", "indexName": "idx", "batchSize": "250",
         "autoCommitEnabled": "true"}
    )
    assert c2.batch_size == 250 and c2.auto_commit_enabled is True


def test_paimon_config_defaults_and_validation():
    """PaimonConfig.java parity: required db/table/index/warehouse,
    defaults 4/1000/1000/30000/10000/10."""
    base = {
        "database.name": "db",
        "table.name": "docs",
        "target.index.name": "idx",
        "warehouse.path": "/tmp/wh",
    }
    c = PaimonIngestionConfig(base)
    assert c.table_path == "db.docs"
    assert c.worker_threads == 4 and c.batch_size == 1000
    assert c.poll_timeout_ms == 1000 and c.scan_interval_ms == 30000
    assert c.queue_capacity == 10000 and c.checkpoint_timeout_minutes == 10
    assert c.source_path() == "/tmp/wh/db.db/docs"
    assert c.index_path() == "/tmp/wh/_indexes/idx"

    for missing in base:
        broken = {k: v for k, v in base.items() if k != missing}
        with pytest.raises(ValueError, match=missing):
            PaimonIngestionConfig(broken)
    # getOptionalInt parity (PaimonConfig.java): a malformed numeric
    # logs a warning and falls back to the default — it must NOT fail
    # the load, so a config that deploys on the reference loads here
    c_bad = PaimonIngestionConfig({**base, "batch.size": "lots"})
    assert c_bad.batch_size == 1000


def test_paimon_config_drives_pipeline_end_to_end(spark, tmp_path):
    """The reference's deployment unit on Spark rails: ONE config map
    (field mapping, prefix drops, index key) assembles the whole
    CDC-to-serving pipeline; two drops + a drain each produce the
    merged, renamed, pruned table."""
    wh = str(tmp_path / "wh")
    cfg = PaimonIngestionConfig(
        {
            "database.name": "db",
            "table.name": "docs",
            "target.index.name": "idx",
            "warehouse.path": wh,
            "field.mapping": {"doc_key": "id"},
            "field.drop.prefixes": ["tmp_"],
            "index.key": "id",
        }
    )
    src = cfg.source_path()

    def drop(*ops):
        spark.createDataFrame(
            [Row(_seq=s, _row_kind=k, doc_key=i, title=t, tmp_internal="x")
             for s, k, i, t in ops],
            CDC_SCHEMA,
        ).write.mode("append").parquet(src)

    drop((1, "+I", "a", "v1"), (2, "+I", "b", "v1"))
    pipe = cfg.build_pipeline(spark, CDC_SCHEMA)
    pipe.run_available()
    # the index is a snapshot table: replaced files stay on disk for
    # pinned readers, so it is read through its latest snapshot
    index = ServingTable(spark, cfg.index_path(), key="id")
    table = index.query()
    assert "tmp_internal" not in table.columns  # prefix drop applied
    assert "id" in table.columns  # rename applied
    got = {r.id: r.title for r in table.collect()}
    assert got == {"a": "v1", "b": "v1"}

    drop((3, "+U", "a", "v2"), (4, "-D", "b", "v1"))
    pipe.run_available()
    got = {r.id: r.title for r in index.query().collect()}
    assert got == {"a": "v2"}


def test_ingestion_config_from_full_document():
    """Whole-document dispatch: the reference's YAML shape
    (pluginConfigs.ingestion.<plugin>) resolves to the right typed
    config; an empty/unknown section fails loudly."""
    from platypus_ingestion_plugins_spark.config import ingestion_config_from

    kafka_doc = {
        "pluginConfigs": {
            "ingestion": {
                "kafka": {"topic": "t", "indexName": "idx"},
            }
        }
    }
    assert isinstance(ingestion_config_from(kafka_doc), KafkaIngestionConfig)

    paimon_doc = {
        "pluginConfigs": {
            "ingestion": {
                "paimon": {
                    "database.name": "db",
                    "table.name": "docs",
                    "target.index.name": "idx",
                    "warehouse.path": "/tmp/wh",
                }
            }
        }
    }
    assert isinstance(ingestion_config_from(paimon_doc), PaimonIngestionConfig)

    with pytest.raises(ValueError, match="no ingestion plugin configured"):
        ingestion_config_from({"pluginConfigs": {"ingestion": {}}})
    with pytest.raises(ValueError, match="no ingestion plugin configured"):
        ingestion_config_from({})


def test_clean_corpus_composition(spark):
    """pipelines.clean_corpus: normalization collapses spelling
    variants into the exact-dedup stage, near-dups keep the min-id
    survivor, low-quality rows drop, and benchmark-contaminated docs
    are removed — one call, the full hygiene chain."""
    from platypus_ingestion_plugins_spark.pipelines import clean_corpus

    base = "the quick brown fox jumps over the lazy dog again and again today"
    good = base.replace("a", "\u00e1")          # composed a-acute
    decomposed = base.replace("a", "a\u0301")   # same visible text, decomposed
    rows = [
        Row(doc_id=1, text=good),
        Row(doc_id=2, text=decomposed),  # NFC-normalizes to exactly doc 1
        Row(doc_id=3, text=good + " extra"),               # near-dup of 1
        Row(doc_id=4, text="!!! ??? ### $$$ %%% ^^^ &&&"), # quality reject
        Row(doc_id=5, text="completely different words about benchmark leakage "
                           "that match the eval set exactly word for word here"),
        Row(doc_id=6, text="an independent document with its own vocabulary "
                           "talking about sailing ships and ocean weather"),
    ]
    docs = spark.createDataFrame(rows)
    bench = spark.createDataFrame([rows[4]])  # doc 5 is the eval set

    kept = {
        r.doc_id
        for r in clean_corpus(
            docs, benchmark=bench, near_dup_threshold=0.5, decontam_n=5
        ).collect()
    }
    assert 1 in kept        # exact-group survivor (doc 2 normalized == doc 1)
    assert 2 not in kept    # spelling variant deduped via normalization
    assert 3 not in kept    # near-dup suppressed
    assert 4 not in kept    # quality floor
    assert 5 not in kept    # contaminated
    assert 6 in kept        # clean independent doc survives
