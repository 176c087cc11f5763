"""I/O module tests following the reference's round-trip pattern
(RCFileTest.java:82-133, ORCFileTest.java:90-136): write format X,
read back, compare; compression variant must match uncompressed."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cascading_hive_spark import io as IO
from cascading_hive_spark.tables import load_table


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("fmt", ["orc", "parquet", "json", "csv"])
def test_round_trip(spark, sf_dir, tmp_path, fmt):
    src = load_table(spark, sf_dir, "nation")
    path = str(tmp_path / f"rt_{fmt}")
    IO.write_table(src, path, fmt=fmt)
    schema = src.schema if fmt in ("json", "csv") else None
    back = IO.read_table(spark, path, fmt=fmt, schema=schema)
    assert _rows(back) == _rows(src)


def test_compressed_equals_uncompressed(spark, sf_dir, tmp_path):
    # RCFileTest.java:106-133 pattern: snappy output reads identically
    src = load_table(spark, sf_dir, "supplier")
    p1, p2 = str(tmp_path / "plain"), str(tmp_path / "snappy")
    IO.write_table(src, p1, fmt="orc", compression="none")
    IO.write_table(src, p2, fmt="orc", compression="snappy")
    assert _rows(IO.read_table(spark, p1, fmt="orc")) == _rows(
        IO.read_table(spark, p2, fmt="orc")
    )


def test_orc_schema_inference_from_footer(spark, sf_dir, tmp_path):
    # A7: ORC is self-describing (ORCFile.java:181-236 inference)
    src = load_table(spark, sf_dir, "region")
    path = str(tmp_path / "orc_infer")
    IO.write_table(src, path, fmt="orc")
    back = IO.read_table(spark, path, fmt="orc")  # no schema arg
    assert back.schema == src.schema


def test_ddl_schema_mode(spark, tmp_path):
    # A9: schema from Hive DDL string
    df = spark.createDataFrame([(1, "x"), (2, "y")], "uid bigint, name string")
    path = str(tmp_path / "csvd")
    IO.write_table(df, path, fmt="csv")
    back = IO.read_table(spark, path, fmt="csv", schema="uid BIGINT, name STRING")
    assert back.schema.simpleString() == "struct<uid:bigint,name:string>"
    assert _rows(back) == _rows(df)


def test_projection_prunes_scan(spark, sf_dir):
    from cascading_hive_spark.plans import assert_read_schema

    df = IO.read_table(
        spark,
        f"{sf_dir}/lineitem.parquet",
        columns=["l_orderkey", "l_quantity"],
    )
    # A3/A6: unselected columns never read off disk
    assert_read_schema(df, ["l_orderkey", "l_quantity"], ["l_extendedprice", "l_shipdate"])


def test_multi_path_union_read(spark, sf_dir, tmp_path):
    # A13: MultiSourceTap concatenation
    src = load_table(spark, sf_dir, "region")
    p1, p2 = str(tmp_path / "m1"), str(tmp_path / "m2")
    IO.write_table(src.filter(F.col("r_regionkey") < 2), p1)
    IO.write_table(src.filter(F.col("r_regionkey") >= 2), p2)
    back = IO.read_table(spark, [p1, p2])
    assert back.count() == 5


def test_partitioned_write_layout(spark, sf_dir, tmp_path):
    # A14: one directory per partition value
    import os

    src = load_table(spark, sf_dir, "nation")
    path = str(tmp_path / "parted")
    IO.write_table(src, path, partition_by=["n_regionkey"])
    dirs = sorted(d for d in os.listdir(path) if d.startswith("n_regionkey="))
    assert len(dirs) == 5
    # partition pruning: filter on the partition column prunes files
    back = IO.read_table(spark, path)
    pruned = back.filter(F.col("n_regionkey") == 0)
    assert pruned.count() == 5
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "n_regionkey" in plan


def test_align_to_schema_null_fill(spark):
    # A17 write alignment semantics at the io layer
    from pyspark.sql import types as T

    target = T.StructType(
        [
            T.StructField("a", T.IntegerType()),
            T.StructField("b", T.StringType()),
            T.StructField("c", T.DoubleType()),
        ]
    )
    df = spark.createDataFrame([(1.0, "zz", 9)], "c double, junk string, a long")
    out = IO.align_to_schema(df, target)
    assert out.columns == ["a", "b", "c"]
    row = out.collect()[0]
    assert (row.a, row.b, row.c) == (9, None, 1.0)


def test_missing_input_raises_with_path(spark):
    # ORCFileTest.java:229-234: missing input -> error names the path
    with pytest.raises(Exception, match="nonexistent"):
        IO.read_table(spark, "/tmp/nonexistent_input_dir_xyz", fmt="orc").collect()


def test_direct_open_read_write(spark, sf_dir, tmp_path):
    # B9 (ORCFileTest.java:164-209): direct open-for-read iteration and
    # open-for-write without a flow — toLocalIterator / createDataFrame
    src = load_table(spark, sf_dir, "region")
    rows = list(src.toLocalIterator())  # streamed, not collect()
    assert len(rows) == 5
    path = str(tmp_path / "direct")
    spark.createDataFrame(rows, src.schema).write.orc(path)
    assert _rows(IO.read_table(spark, path, fmt="orc")) == _rows(src)


def test_text_format_round_trip(spark, tmp_path):
    # single-column line-oriented text (the reference's delimited-text
    # test inputs, RCFileTest.java:85)
    df = spark.createDataFrame([("line one",), ("line two",)], "value string")
    path = str(tmp_path / "textrt")
    IO.write_table(df, path, fmt="text", compression=None)
    back = IO.read_table(spark, path, fmt="text")
    assert _rows(back) == _rows(df)


def test_parquet_merge_schema_evolution(spark, tmp_path):
    """Schema evolution on read: two parquet batches with different
    column sets union under mergeSchema, missing values null-filled —
    the append-only table evolution a long-lived pipeline needs."""
    from pyspark.sql import functions as F

    p = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, v1 string").write.parquet(p + "/b1")
    spark.createDataFrame([(2, "b", 9.5)], "id long, v1 string, v2 double").write.parquet(
        p + "/b2"
    )
    merged = spark.read.option("mergeSchema", "true").parquet(p + "/b1", p + "/b2")
    assert set(merged.columns) == {"id", "v1", "v2"}
    rows = {r.id: (r.v1, r.v2) for r in merged.collect()}
    assert rows[1] == ("a", None) and rows[2] == ("b", 9.5)


def test_binary_file_source_feeds_multimodal_decode(spark, tmp_path):
    from cascading_hive_spark.io import read_binary_files
    from cascading_hive_spark.operators.multimodal import decode_image

    # two real PNG headers + one oversized decoy + one non-matching ext
    def png(w, h):
        return (
            b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\x0dIHDR"
            + w.to_bytes(4, "big") + h.to_bytes(4, "big") + b"\x08\x06\x00\x00\x00"
        )

    (tmp_path / "a.png").write_bytes(png(640, 480))
    (tmp_path / "b.png").write_bytes(png(32, 16))
    (tmp_path / "big.png").write_bytes(png(1, 1) + b"\x00" * 4096)
    (tmp_path / "notes.txt").write_bytes(b"not an image")

    df = read_binary_files(spark, str(tmp_path), glob="*.png", max_bytes=1024)
    rows = df.select("path", "length", "content").collect()
    assert len(rows) == 2  # glob drops .txt, max_bytes drops big.png

    from pyspark.sql import functions as F

    payloads = df.select(
        F.abs(F.xxhash64("path")).alias("id"), F.col("content").alias("payload")
    )
    decoded = {(r.width, r.height) for r in decode_image(payloads).collect()}
    assert decoded == {(640, 480), (32, 16)}


def test_zorder_layout_narrows_both_dimensions(spark, tmp_path):
    from cascading_hive_spark.io import zorder_write

    df = spark.range(0, 40_000).select(
        (F.col("id") * 2654435761 % 1024).alias("a"),
        (F.col("id") * 40503 % 1024).alias("b"),
        F.col("id").alias("payload"),
    )
    out = str(tmp_path / "z")
    zorder_write(df, out, "a", "b", n_files=16)
    per_file = (
        spark.read.parquet(out)
        .groupBy(F.input_file_name().alias("f"))
        .agg(
            (F.max("a") - F.min("a")).alias("span_a"),
            (F.max("b") - F.min("b")).alias("span_b"),
            F.count(F.lit(1)).alias("n"),
        )
    ).collect()
    assert len(per_file) == 16
    avg_a = sum(r.span_a for r in per_file) / len(per_file)
    avg_b = sum(r.span_b for r in per_file) / len(per_file)
    # a naive single-column sort gives one dim span ~64 and the other
    # ~1023 (unclustered); the Z-layout must narrow BOTH dims
    assert avg_a < 600 and avg_b < 600, (avg_a, avg_b)
    assert spark.read.parquet(out).count() == 40_000


def test_observe_runtime_metrics(spark, sf_dir):
    """df.observe: accumulator-style metrics collected DURING the real
    pass (no second scan) — the pipeline-invariant hook (row counts,
    null counts) every production job wants."""
    from pyspark.sql import Observation

    from cascading_hive_spark.tables import load_table

    obs = Observation("quality")
    li = load_table(spark, sf_dir, "lineitem").observe(
        obs,
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum(F.col("l_quantity").isNull().cast("long")).alias("null_qty"),
    )
    n = li.filter(F.col("l_quantity") > 0).count()
    assert obs.get["rows_seen"] >= n
    assert obs.get["null_qty"] == 0


def test_many_path_listing_runs_one_task_per_core(spark, tmp_path, spark_jobs):
    """Reading more paths than Spark's parallel-listing threshold (32)
    lists them in a Spark job; the session caps that job at one task
    per core instead of one task per path."""
    df = spark.range(400).withColumn("d", F.col("id") % 40)
    IO.write_table(df, str(tmp_path / "t"), fmt="orc", partition_by=["d"])
    paths = [str(tmp_path / "t" / f"d={d}") for d in range(40)]
    back, tasks = spark_jobs(lambda: IO.read_table(spark, paths, fmt="orc"))
    assert tasks, "40 paths should be listed by a Spark job"
    assert max(tasks) <= spark.sparkContext.defaultParallelism, tasks
    assert back.count() == 400


def test_supplied_session_gets_listing_cap_unless_set(spark):
    """``tune_for_queries`` (sessions an external driver supplies)
    applies the same per-core listing cap, and keeps a cap the
    session already sets."""
    from cascading_hive_spark.session import tune_for_queries

    key = "spark.sql.sources.parallelPartitionDiscovery.parallelism"
    old = spark.conf.get(key)
    try:
        spark.conf.unset(key)
        tune_for_queries(spark)
        assert spark.conf.get(key) == str(spark.sparkContext.defaultParallelism)
        spark.conf.set(key, "3")
        tune_for_queries(spark)
        assert spark.conf.get(key) == "3"
    finally:
        spark.conf.set(key, old)
