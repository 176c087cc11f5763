"""Catalog parity tests (A10-A20): field validation, by-name aligned
writes with null-fill, partition enumeration/pruning, atomic publish
via SET LOCATION."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cascading_hive_spark import catalog as C
from cascading_hive_spark.tables import load_table


@pytest.fixture(scope="module")
def nation_table(spark, sf_dir):
    C.drop_table(spark, "t_nation")
    C.create_table(spark, "t_nation", load_table(spark, sf_dir, "nation"))
    yield "t_nation"
    C.drop_table(spark, "t_nation")


def test_table_read_and_filter(spark, nation_table):
    df = C.table(spark, nation_table, filter="n_regionkey = 0")
    rows = df.collect()
    assert len(rows) == 5
    assert all(r.n_regionkey == 0 for r in rows)


def test_field_validation_raises(spark, nation_table):
    # HCatTapTest.java:107-115: invalid source fields -> plan-time error
    with pytest.raises(ValueError, match="nope"):
        C.table(spark, nation_table, fields=["n_name", "nope"])


def test_write_into_aligns_by_name_with_null_fill(spark, nation_table):
    # DefaultHCatScheme.java:119-149: reorder by name, missing -> null,
    # extra ignored
    extra = spark.createDataFrame(
        [(99, "extra_col_ignored", 77)],
        "n_regionkey int, junk string, n_nationkey int",
    )
    C.write_into(spark, extra, nation_table)
    got = spark.table(nation_table).filter(F.col("n_nationkey") == 77).collect()
    assert len(got) == 1
    assert got[0].n_name is None  # null-filled
    assert got[0].n_regionkey == 99


def test_partitioned_table_enumeration_and_pruning(spark, sf_dir, tmp_path):
    C.drop_table(spark, "t_orders_part")
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    C.create_table(spark, "t_orders_part", orders, partition_by=["o_year"])
    try:
        parts = C.partitions(spark, "t_orders_part")
        years = {p["o_year"] for p in parts}
        assert len(years) >= 2
        one = C.partitions(spark, "t_orders_part", filter=f"o_year={min(years)}")
        assert len(one) == 1
        # ADVICE r12: an empty-string filter means "all partitions",
        # exactly like None — must not reach F.expr("")
        assert C.partitions(spark, "t_orders_part", filter="") == parts
        # partition filter prunes at plan level
        df = C.table(spark, "t_orders_part", filter=f"o_year = {min(years)}")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert df.count() > 0
    finally:
        C.drop_table(spark, "t_orders_part")


def test_publish_set_location_swaps_data(spark, sf_dir, tmp_path):
    # A18: write new path, ALTER TABLE SET LOCATION, readers see the swap
    C.drop_table(spark, "t_pub")
    region = load_table(spark, sf_dir, "region")
    p1 = str(tmp_path / "v1")
    p2 = str(tmp_path / "v2")
    C.publish(spark, region, "t_pub", p1)
    try:
        assert spark.table("t_pub").count() == 5
        C.publish(spark, region.limit(2), "t_pub", p2)
        assert spark.table("t_pub").count() == 2  # repointed, not appended
    finally:
        C.drop_table(spark, "t_pub")


def test_exists_and_drop(spark, sf_dir):
    C.drop_table(spark, "t_tmp")
    assert not C.table_exists(spark, "t_tmp")
    C.create_table(spark, "t_tmp", load_table(spark, sf_dir, "region"))
    assert C.table_exists(spark, "t_tmp")
    C.drop_table(spark, "t_tmp")
    assert not C.table_exists(spark, "t_tmp")


def test_partition_filter_full_grammar(spark, sf_dir):
    """Reference grammar: and or like ( ) = <> < > <= >=
    (HCatTap.java:76-88) over the enumeration API."""
    C.drop_table(spark, "t_ord_grammar")
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate").cast("string")
    ).withColumn("o_pri", F.substring("o_orderpriority", 1, 1))
    C.create_table(spark, "t_ord_grammar", orders, partition_by=["o_year", "o_pri"])
    try:
        allp = C.partitions(spark, "t_ord_grammar")
        years = sorted({p["o_year"] for p in allp})
        pris = sorted({p["o_pri"] for p in allp})
        got = C.partitions(
            spark,
            "t_ord_grammar",
            filter=(
                f"(o_year = '{years[0]}' or o_year > '{years[-1]}') "
                f"and o_pri like '{pris[0]}%' and o_pri <> 'zzz'"
            ),
        )
        want = [p for p in allp if p["o_year"] == years[0] and p["o_pri"] == pris[0]]
        assert sorted(got, key=str) == sorted(want, key=str)
        lt = C.partitions(spark, "t_ord_grammar", filter=f"o_year <= '{years[0]}'")
        assert {p["o_year"] for p in lt} == {years[0]}
    finally:
        C.drop_table(spark, "t_ord_grammar")


def test_publish_partition_swaps_one_partition(spark, sf_dir, tmp_path):
    """A18 at partition granularity: repoint ONE partition; other
    partitions keep their data; re-publish swaps again (old-or-new,
    never partial)."""
    C.drop_table(spark, "t_part_pub")
    region = load_table(spark, sf_dir, "region").withColumn(
        "side", (F.col("r_regionkey") % 2).cast("string")
    )
    C.create_table(spark, "t_part_pub", region, partition_by=["side"])
    try:
        before = spark.table("t_part_pub").count()
        n_side0 = spark.table("t_part_pub").filter("side = '0'").count()
        n_side1 = before - n_side0
        # publish a 1-row replacement for side=0 at a fresh location
        repl = region.filter("side = '0'").drop("side").limit(1)
        C.publish_partition(spark, repl, "t_part_pub", {"side": "0"}, str(tmp_path / "s0v2"))
        assert spark.table("t_part_pub").filter("side = '0'").count() == 1
        assert spark.table("t_part_pub").filter("side = '1'").count() == n_side1
        # and a brand-new partition via ADD PARTITION
        C.publish_partition(
            spark, repl, "t_part_pub", {"side": "9"}, str(tmp_path / "s9v1")
        )
        assert spark.table("t_part_pub").filter("side = '9'").count() == 1
        assert {p["side"] for p in C.partitions(spark, "t_part_pub")} == {"0", "1", "9"}
    finally:
        C.drop_table(spark, "t_part_pub")


def test_publish_partition_rejects_quoted_values(spark, sf_dir, tmp_path):
    """DDL-breaking partition values / paths fail loudly instead of
    producing a malformed ALTER TABLE (ADVICE r2)."""
    region = load_table(spark, sf_dir, "region").limit(1)
    with pytest.raises(ValueError, match="quote"):
        C.publish_partition(
            spark, region, "t_nope", {"side": "o'brien"}, str(tmp_path / "x")
        )
    with pytest.raises(ValueError, match="quote"):
        C.publish_partition(spark, region, "t_nope", {"side": "0"}, "/tmp/o'x")


def test_publish_partition_special_chars_republish(spark, sf_dir, tmp_path):
    """Partition values Hive URL-escapes in partition paths (':')
    must round-trip through the SHOW PARTITIONS membership check: the
    second publish of the same spec must SET LOCATION, not fail in
    ADD PARTITION (ADVICE r2)."""
    C.drop_table(spark, "t_esc_pub")
    region = load_table(spark, sf_dir, "region").withColumn("side", F.lit("a:b"))
    C.create_table(spark, "t_esc_pub", region, partition_by=["side"])
    try:
        assert {p["side"] for p in C.partitions(spark, "t_esc_pub")} == {"a:b"}
        repl = region.drop("side").limit(1)
        C.publish_partition(spark, repl, "t_esc_pub", {"side": "a:b"}, str(tmp_path / "v1"))
        assert spark.table("t_esc_pub").filter(F.col("side") == "a:b").count() == 1
        # re-publish the SAME spec: must take the SET LOCATION branch
        C.publish_partition(spark, repl, "t_esc_pub", {"side": "a:b"}, str(tmp_path / "v2"))
        assert spark.table("t_esc_pub").filter(F.col("side") == "a:b").count() == 1
    finally:
        C.drop_table(spark, "t_esc_pub")


def test_overwrite_partitions_dynamic(spark, sf_dir):
    """Dynamic partition overwrite: only partitions present in the
    incoming frame are replaced."""
    C.drop_table(spark, "t_dyn")
    region = load_table(spark, sf_dir, "region").withColumn(
        "side", (F.col("r_regionkey") % 2).cast("string")
    )
    C.create_table(spark, "t_dyn", region, partition_by=["side"])
    try:
        n_side1 = spark.table("t_dyn").filter("side = '1'").count()
        repl = region.filter("side = '0'").limit(1)
        C.overwrite_partitions(spark, repl, "t_dyn")
        assert spark.table("t_dyn").filter("side = '0'").count() == 1  # replaced
        assert spark.table("t_dyn").filter("side = '1'").count() == n_side1  # intact
    finally:
        C.drop_table(spark, "t_dyn")


def test_partition_metadata_filter_pushdown(spark, sf_dir):
    """VERDICT r10 #4 (CascadingHCatUtil.java:75-95 parity): equality
    filters push INTO the catalog as a partial partition spec
    (SHOW PARTITIONS ... PARTITION(...) == listPartitionNames-with-
    spec), so non-matching specs are never materialized; residual
    grammar filters the spec DataFrame before collect, so the Python
    driver only ever receives matching specs."""
    from cascading_hive_spark.catalog import _equality_partial_spec

    # -- parser: what pushes and what falls back
    assert _equality_partial_spec("ds = '20120401'", {"ds"}) == {"ds": "20120401"}
    # unquoted NUMERIC equality is NOT pushed (ADVICE r11): it falls
    # back to the expression path so 'ds = 401' coerces numerically,
    # consistent with 'ds <= 401' — a string-spec push would miss a
    # '0401' partition the numeric semantics match
    assert _equality_partial_spec("ds=20120401", {"ds"}) is None
    # unquoted non-numeric barewords still push (the expression
    # fallback would parse 'us' as a column reference)
    assert _equality_partial_spec("region = us", {"region"}) == {"region": "us"}
    assert _equality_partial_spec(
        'ds = \'2012\' and region = "us"', {"ds", "region"}
    ) == {"ds": "2012", "region": "us"}
    assert _equality_partial_spec("(ds = '1' and r = '2')", {"ds", "r"}) == {
        "ds": "1",
        "r": "2",
    }
    assert _equality_partial_spec("ds >= '2012'", {"ds"}) is None  # range
    assert _equality_partial_spec("ds = '1' or ds = '2'", {"ds"}) is None  # OR
    assert _equality_partial_spec("ds like '2012%'", {"ds"}) is None  # LIKE
    assert _equality_partial_spec("v = '1'", {"ds"}) is None  # not a part col
    assert _equality_partial_spec("ds = '1' and ds = '2'", {"ds"}) is None  # dup
    assert _equality_partial_spec("ds = 'o''x'", {"ds"}) is None  # quote

    # -- end-to-end over a real partitioned table
    C.drop_table(spark, "t_meta_push")
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate").cast("string")
    )
    C.create_table(spark, "t_meta_push", orders, partition_by=["o_year"])
    try:
        years = sorted({p["o_year"] for p in C.partitions(spark, "t_meta_push")})
        assert len(years) >= 2
        got = C.partitions(spark, "t_meta_push", filter=f"o_year = '{years[0]}'")
        assert got == [{"o_year": years[0]}]
        # the catalog-level command itself returns ONLY the matching spec
        raw = spark.sql(
            f"SHOW PARTITIONS t_meta_push PARTITION (`o_year` = '{years[0]}')"
        ).collect()
        assert len(raw) == 1, raw
        # unquoted numeric style ("ds=20120401") resolves via the
        # expression fallback (numeric coercion), same result here
        got2 = C.partitions(spark, "t_meta_push", filter=f"o_year = {years[0]}")
        assert got2 == got
        # residual grammar still honored (falls back to spec-DF pruning)
        got3 = C.partitions(spark, "t_meta_push", filter=f"o_year <= '{years[0]}'")
        assert {p["o_year"] for p in got3} == {years[0]}
    finally:
        C.drop_table(spark, "t_meta_push")


def test_pushed_equality_partitions_run_no_spark_job(spark, sf_dir, spark_jobs):
    """The pushed-equality path is pure catalog metadata: reading the
    partition columns and the matching spec launches no Spark job
    (PySpark's ``spark.catalog.listColumns`` alone ran several)."""
    C.drop_table(spark, "t_meta_jobs")
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate").cast("string")
    )
    C.create_table(spark, "t_meta_jobs", orders, partition_by=["o_year"])
    try:
        years = sorted({p["o_year"] for p in C.partitions(spark, "t_meta_jobs")})
        # the counter sees jobs when there are some
        _, tasks = spark_jobs(lambda: spark.range(8, numPartitions=2).count())
        assert tasks
        got, tasks = spark_jobs(
            lambda: C.partitions(spark, "t_meta_jobs", f"o_year = '{years[0]}'")
        )
        assert got == [{"o_year": years[0]}]
        assert tasks == [], tasks
    finally:
        C.drop_table(spark, "t_meta_jobs")


def test_pushed_equality_agrees_with_expression_fallback(spark):
    """The coercion contract made executable (ADVICE r11): a QUOTED
    equality filter must return identical specs whether it takes the
    metastore-pushed path (``SHOW PARTITIONS .. PARTITION``) or the
    spec-DataFrame expression fallback — across URL-escaped chars,
    spaces, '+' (the URLDecoder trap), '%', and numeric-looking
    strings with leading zeros (where only exact STRING compare is
    correct). The fallback is forced by appending a no-op OR clause,
    which knocks the filter out of the pushable grammar without
    changing its meaning."""
    vals = ["0401", "401", "us west", "a:b", "A+B", "100%", "x=y"]
    C.drop_table(spark, "t_push_eq")
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id INT, p STRING"
    )
    C.create_table(spark, "t_push_eq", df, partition_by=["p"])
    try:
        assert {x["p"] for x in C.partitions(spark, "t_push_eq")} == set(vals)
        for v in vals:
            pushed = C.partitions(spark, "t_push_eq", filter=f"p = '{v}'")
            fallback = C.partitions(
                spark, "t_push_eq", filter=f"(p = '{v}') or (1 = 0)"
            )
            assert pushed == fallback == [{"p": v}], (v, pushed, fallback)
    finally:
        C.drop_table(spark, "t_push_eq")
    # unquoted numeric equality: NOT pushed, numeric coercion — '401'
    # and '0401' BOTH match p = 401 on the expression path. (Checked
    # on an all-numeric table: under ANSI mode the int coercion of a
    # non-numeric partition value raises, which is the documented
    # reason to quote values for the exact-string fast path.)
    C.drop_table(spark, "t_push_num")
    dfn = spark.createDataFrame(
        [(0, "0401"), (1, "401"), (2, "500")], "id INT, p STRING"
    )
    C.create_table(spark, "t_push_num", dfn, partition_by=["p"])
    try:
        got = {x["p"] for x in C.partitions(spark, "t_push_num", filter="p = 401")}
        assert got == {"401", "0401"}, got
    finally:
        C.drop_table(spark, "t_push_num")
