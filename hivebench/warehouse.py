"""One-time Hive warehouse build for the benchmark's Hive workloads.

Run as ``python3 hivebench/warehouse.py <state_dir> <size>`` in its own
process: the derby metastore admits one JVM at a time, and the timed run
must start from a cold JVM. Uses plain PySpark, not the library under
test, so a library change cannot change the warehouse it is timed on.

The metastore points every seeded table at ``<state_dir>/live``, a
symlink the runner repoints to the seed's generated files; the partition
lists are the same for every seed (``gen.day_strings``), so the
metastore is built once per checkout and size.
"""

from __future__ import annotations

import os
import sys

LIVE_TABLES = {
    # name -> (relative location, format, partition column or None)
    "lineitem": ("lineitem", "orc", "l_shipday"),
    "orders": ("orders", "parquet", "o_month"),
    "sales_base": ("write/base", "parquet", None),
    "sales_batch": ("write/batch", "parquet", None),
    "sales_updates": ("write/updates", "parquet", None),
    "sales_cdc": ("write/cdc", "parquet", None),
    "documents": ("curation/documents.parquet", "parquet", None),
    "embeddings": ("curation/embeddings.parquet", "parquet", None),
}

CUSTOMER_DDL = (
    "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, "
    "c_mktsegment STRING"
)


def hive_conf(state: str) -> dict[str, str]:
    """Session settings that keep the metastore, warehouse, Hive and
    Spark scratch space, JVM temp files and derby log inside ``state``."""
    tmp = os.path.join(state, "tmp")
    return {
        "spark.sql.warehouse.dir": os.path.join(state, "wh"),
        "spark.hadoop.javax.jdo.option.ConnectionURL": (
            f"jdbc:derby:;databaseName={os.path.join(state, 'metastore_db')};create=true"
        ),
        # Hive's local scratch and resource dirs default under java.io.tmpdir
        "spark.hadoop.hive.exec.scratchdir": os.path.join(tmp, "hive"),
        "spark.local.dir": os.path.join(state, "spark-local"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Dderby.system.home={state} "
            f"-Dderby.stream.error.file={os.path.join(state, 'derby.log')}"
        ),
    }


def build(state: str, size: str) -> None:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import gen
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName("hivebench-warehouse").master("local[2]")
    for k, v in hive_conf(state).items():
        builder = builder.config(k, v)
    builder = builder.config("spark.ui.enabled", "false").config(
        "spark.driver.host", "127.0.0.1"
    )
    spark = builder.enableHiveSupport().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try:
        live = os.path.join(state, "live")
        dims = os.path.join(state, "dims")
        for name in ("region", "nation"):
            spark.sql(f"CREATE TABLE {name} USING parquet LOCATION '{dims}/{name}'")
        for name, ddl in (
            ("part", "p_partkey BIGINT, p_name STRING, p_brand STRING, "
                     "p_size INT, p_retailprice DOUBLE"),
            ("supplier", "s_suppkey BIGINT, s_name STRING, s_nationkey INT, "
                         "s_acctbal DOUBLE"),
        ):
            spark.sql(f"CREATE TABLE {name} ({ddl}) STORED AS RCFILE")
            spark.read.parquet(f"{dims}/{name}").write.insertInto(name)
        spark.sql(
            f"CREATE TABLE customer ({CUSTOMER_DDL}) ROW FORMAT DELIMITED "
            f"FIELDS TERMINATED BY '\\001' STORED AS TEXTFILE "
            f"LOCATION '{live}/customer'"
        )
        days = gen.day_strings(gen.SIZES[size]["days"])
        months = sorted({gen.day_str(i)[:7] for i in range(gen.SIZES[size]["days"])})
        for name, (rel, fmt, pcol) in LIVE_TABLES.items():
            loc = f"{live}/{rel}"
            if pcol is None:
                spark.sql(f"CREATE TABLE {name} USING {fmt} LOCATION '{loc}'")
                continue
            # the schema comes from one partition's file; the partition
            # column is declared, not inferred, so it stays a string
            first = os.path.join(loc, sorted(os.listdir(loc))[0])
            cols = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}"
                for f in spark.read.format(fmt).load(first).schema.fields
            )
            spark.sql(
                f"CREATE TABLE {name} ({cols}, {pcol} STRING) USING {fmt} "
                f"PARTITIONED BY ({pcol}) LOCATION '{loc}'"
            )
            values = days if pcol == "l_shipday" else months
            for i in range(0, len(values), 500):
                specs = " ".join(f"PARTITION ({pcol}='{v}')" for v in values[i:i + 500])
                spark.sql(f"ALTER TABLE {name} ADD IF NOT EXISTS {specs}")
    finally:
        spark.stop()


if __name__ == "__main__":
    build(os.path.abspath(sys.argv[1]), sys.argv[2])
