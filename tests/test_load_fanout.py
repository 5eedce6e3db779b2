"""``load_fanout``'s scan fan-out decision: the split-size conf is a Spark
byte string, and a table ``os.stat`` cannot size is left as scanned."""

import pytest

from google_maps_scraper_spark.operators.analytics import load_fanout

_CONF = "spark.sql.files.maxPartitionBytes"


@pytest.fixture
def one_file_table(spark, tmp_path):
    spark.range(40).coalesce(1).write.parquet(str(tmp_path / "t.parquet"))
    return tmp_path


def test_byte_string_split_size(spark, one_file_table):
    try:
        spark.conf.set(_CONF, "128m")
        df = load_fanout(spark, str(one_file_table), "t")
    finally:
        spark.conf.unset(_CONF)
    # one file under the split size → spread across the session's cores
    assert df.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert df.count() == 40

    from google_maps_scraper_spark.operators.analytics import byte_string

    assert byte_string("128m") == 128 * 2**20
    assert byte_string("1g") == 2**30
    assert byte_string("134217728b") == 134217728
    assert byte_string(" 64KB ") == 64 * 2**10
    assert byte_string("4096") == 4096
    with pytest.raises(ValueError):
        byte_string("1.5g")


def test_unstatable_path_is_not_repartitioned(spark, one_file_table):
    # a URI path: Spark reads it, os.stat cannot (as on s3/hdfs)
    df = load_fanout(spark, f"file://{one_file_table}", "t")
    assert df.rdd.getNumPartitions() == 1
    assert df.count() == 40
