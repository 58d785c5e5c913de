"""S3A config translation (reference S4): the four scenarios pinned by
PaimonIngestorS3ConfigTest.java:40-227."""

from platypus_ingestion_plugins_spark.session import apply_s3a, s3a_options

PFX = "spark.hadoop.fs.s3a."


def test_s3a_test_environment_static_creds():
    # endpoint provided -> S3Mock-style local stack: static credentials
    opts = s3a_options(
        "s3a://test-bucket/warehouse",
        endpoint="http://localhost:9090",
        access_key="ak",
        secret_key="sk",
        path_style_access=True,
    )
    assert opts[PFX + "endpoint"] == "http://localhost:9090"
    assert opts[PFX + "access.key"] == "ak"
    assert opts[PFX + "secret.key"] == "sk"
    assert opts[PFX + "path.style.access"] == "true"
    assert (
        opts[PFX + "aws.credentials.provider"]
        == "org.apache.hadoop.fs.s3a.SimpleAWSCredentialsProvider"
    )
    # universal tuning always applied for s3a warehouses
    assert opts[PFX + "connection.maximum"] == "256"
    assert opts[PFX + "threads.max"] == "128"
    assert opts[PFX + "block.size"] == "64M"
    assert opts[PFX + "impl"] == "org.apache.hadoop.fs.s3a.S3AFileSystem"


def test_s3a_production_default_chain():
    # no endpoint -> production IAM roles, no static keys leaked
    opts = s3a_options("s3a://prod-bucket/warehouse", access_key="ak", secret_key="sk")
    assert (
        opts[PFX + "aws.credentials.provider"]
        == "com.amazonaws.auth.DefaultAWSCredentialsProviderChain"
    )
    assert PFX + "access.key" not in opts
    assert PFX + "secret.key" not in opts
    assert PFX + "endpoint" not in opts
    assert opts[PFX + "connection.maximum"] == "256"


def test_s3a_production_without_s3_block():
    opts = s3a_options("s3a://prod-bucket/warehouse")
    assert (
        opts[PFX + "aws.credentials.provider"]
        == "com.amazonaws.auth.DefaultAWSCredentialsProviderChain"
    )
    assert PFX + "path.style.access" not in opts


def test_local_warehouse_no_s3a_confs():
    assert s3a_options("/tmp/warehouse") == {}
    assert s3a_options("file:///tmp/warehouse") == {}
    assert s3a_options("hdfs://nn/warehouse") == {}


def test_apply_s3a_to_live_session(spark):
    opts = s3a_options("s3a://b/w", endpoint="http://e:1", access_key="a", secret_key="s")
    apply_s3a(spark, opts)
    hconf = spark._jsc.hadoopConfiguration()
    assert hconf.get("fs.s3a.endpoint") == "http://e:1"
    assert hconf.get("fs.s3a.connection.maximum") == "256"


def test_driver_memory_default_follows_host(tmp_path, monkeypatch):
    from platypus_ingestion_plugins_spark.session import _driver_memory

    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    small = tmp_path / "small"
    small.write_text("MemTotal:       15728640 kB\nMemFree:  1 kB\n")  # 15 GiB host
    assert _driver_memory(str(small)) == "7680m"
    big = tmp_path / "big"
    big.write_text("MemTotal:       131072000 kB\n")
    assert _driver_memory(str(big)) == "16384m"  # capped at 16g
    assert _driver_memory(str(tmp_path / "missing")) == "16g"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert _driver_memory(str(small)) == "3g"
