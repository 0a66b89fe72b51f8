"""The engine's session builder (``session.get_spark``)."""

from __future__ import annotations


def test_get_spark_compresses_blocks_with_zstd(spark):
    # shuffle, broadcast and spill blocks; Spark's own default is lz4
    assert spark.sparkContext.getConf().get("spark.io.compression.codec") == "zstd"
