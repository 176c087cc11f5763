"""The benchmark's three workloads as ordered steps.

Each step calls the public functions of one library module (its
*layer*, used for the per-layer metrics), then forces the work with an
action: a ``collect`` of the result, or, for writes, the write itself
inside the call. Every step has an independent check: a DuckDB oracle
over the same input files (fingerprinted once per seed), a DuckDB or
pyarrow read-back of what a write left on disk, or, for the rows-only
MinHash step, planted-pair recall plus a Jaccard floor.

Each step's layer comes from ``layers.json``, the one declaration of
the step-to-layer map: registry steps (``queries.queries()[name]``) are
attributed to the operator module each mostly calls, or to ``queries``
for an entry that composes several. The same file says which end-to-end
metric each layer metric should move on which workload.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os
import re
from dataclasses import dataclass, field
from decimal import Decimal
from typing import Any, Callable

import gen
from warehouse import CUSTOMER_DDL

with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "layers.json")) as _f:
    LAYER_MAP: dict[str, dict[str, str]] = json.load(_f)["steps"]

# --------------------------------------------------------------------------
# result fingerprints (engine-neutral, order-insensitive)
# --------------------------------------------------------------------------


def _cell(v: Any) -> str:
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9) + 0.0)
    if isinstance(v, Decimal):
        return format(v, ".6f")
    if isinstance(v, (dt.date, dt.datetime)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def fingerprint(columns: list[str], rows: list) -> dict:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return {"rows": len(rows), "cols": sorted(columns), "fp": h}


def duck_fp(con, sql: str) -> dict:
    rel = con.sql(sql)
    return fingerprint(list(rel.columns), rel.fetchall())


# --------------------------------------------------------------------------
# step model
# --------------------------------------------------------------------------


@dataclass
class Ctx:
    spark: Any
    state: str  # per-size state directory
    live: str  # the current seed's input files
    out: str  # this pass's write outputs
    size: str
    manifest: dict
    stats: dict = field(default_factory=dict)  # per-pass counters set by checks


@dataclass
class Step:
    name: str
    plan: Callable[[Ctx], Any]  # the layer call(s); may run eager jobs
    act: Callable[[Any], Any] | None = None  # forces execution, returns the result
    oracle: str | None = None  # DuckDB SQL over the seed's inputs
    check: Callable[[Ctx, Any, dict | None], str | None] | None = None
    layer: str = ""  # set from LAYER_MAP by workload_steps


def collect_rows(df) -> tuple[list[str], list]:
    return df.columns, [tuple(r) for r in df.collect()]


def fp_check(ctx: Ctx, result, expected: dict | None) -> str | None:
    cols, rows = result
    got = fingerprint(cols, rows)
    if got != expected:
        return f"fingerprint {got} != oracle {expected}"
    return None


def params(size: str) -> dict[str, str]:
    """Filter literals, placed relative to the generated day range so
    every size selects data."""
    days = gen.SIZES[size]["days"]
    d = gen.day_str
    q3 = days // 2
    q5 = days // 3
    return {
        "eq": d(days // 3),
        "range_lo": d(days // 5), "range_hi": d(days // 5 + max(days // 28, 2)),
        "like": d(days // 2)[:7] + "%",
        "year_lo": d(days // 4), "year_hi": d(days // 4 + max(days // 7, 3)),
        "q1_cut": d(days - max(days // 40, 1)),
        "q3_date": d(q3), "q3_month": d(q3)[:7], "q3_ship_hi": d(q3 + 30),
        "q5_lo": d(q5), "q5_hi": d(q5 + min(365, days // 2)),
        "q5_ship_hi": d(q5 + min(365, days // 2) + 30),
        "rank_year": d(int(days * 0.6))[:4] + "%",
        "union_days": ",".join(
            d(i) for i in range(days // 2, days // 2 + min(30, max(days // 4, 2)))
        ),
    }


# --------------------------------------------------------------------------
# hive_catalog_scan
# --------------------------------------------------------------------------


def scan_steps(size: str) -> list[Step]:
    from pyspark.sql import functions as F

    from cascading_hive_spark import catalog as C
    from cascading_hive_spark import io as IO
    from cascading_hive_spark.operators import relational as R

    p = params(size)

    def parts_rows(specs: list[dict], col: str):
        return [col], [(s[col],) for s in specs]

    def revenue():
        return F.col("l_extendedprice").cast("decimal(12,2)") * (
            F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
        )

    def q3(ctx: Ctx):
        spark = ctx.spark
        c = C.table(spark, "customer", filter="c_mktsegment = 'BUILDING'", fields=["c_custkey"])
        o = C.table(
            spark, "orders",
            filter=f"o_month <= '{p['q3_month']}' AND o_orderdate < '{p['q3_date']}'",
            fields=["o_orderkey", "o_custkey", "o_orderdate"],
        )
        li = C.table(
            spark, "lineitem",
            filter=f"l_shipday > '{p['q3_date']}' AND l_shipday <= '{p['q3_ship_hi']}'",
            fields=["l_orderkey", "l_extendedprice", "l_discount"],
        )
        co = R.join(o, c.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey")
        j = R.join(li, co.withColumnRenamed("o_orderkey", "l_orderkey"), "l_orderkey")
        agg = j.groupBy("l_orderkey", "o_orderdate").agg(F.sum(revenue()).alias("revenue"))
        return R.top_k(agg, [F.col("revenue").desc(), F.col("l_orderkey")], 10)

    def q5(ctx: Ctx):
        spark = ctx.spark
        r = C.table(spark, "region", filter="r_name = 'ASIA'", fields=["r_regionkey"])
        n = C.table(spark, "nation", fields=["n_nationkey", "n_name", "n_regionkey"])
        c = C.table(spark, "customer", fields=["c_custkey", "c_nationkey"])
        o = C.table(
            spark, "orders",
            filter=f"o_orderdate >= '{p['q5_lo']}' AND o_orderdate < '{p['q5_hi']}' "
                   f"AND o_month >= '{p['q5_lo'][:7]}' AND o_month <= '{p['q5_hi'][:7]}'",
            fields=["o_orderkey", "o_custkey"],
        )
        li = C.table(
            spark, "lineitem",
            filter=f"l_shipday > '{p['q5_lo']}' AND l_shipday <= '{p['q5_ship_hi']}'",
            fields=["l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"],
        )
        s = C.table(spark, "supplier", fields=["s_suppkey", "s_nationkey"])
        rn = R.join(n, r.withColumnRenamed("r_regionkey", "n_regionkey"), "n_regionkey", broadcast_right=True)
        cn = R.join(c, rn.withColumnRenamed("n_nationkey", "c_nationkey"), "c_nationkey")
        oc = R.join(o, cn.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey")
        lo = R.join(li, oc.withColumnRenamed("o_orderkey", "l_orderkey"), "l_orderkey")
        ls = R.join(
            lo, s.withColumnRenamed("s_suppkey", "l_suppkey").withColumnRenamed("s_nationkey", "c_nationkey"),
            ["l_suppkey", "c_nationkey"],
        )
        return ls.groupBy("n_name").agg(F.sum(revenue()).alias("revenue"))

    union_days = p["union_days"].split(",")
    union_in = ", ".join(f"'{x}'" for x in union_days)
    return [
        Step(
            "partitions_eq",
            lambda ctx: C.partitions(ctx.spark, "lineitem", f"l_shipday = '{p['eq']}'"),
            act=lambda specs: parts_rows(specs, "l_shipday"),
            oracle=f"SELECT DISTINCT l_shipday FROM lineitem WHERE l_shipday = '{p['eq']}'",
        ),
        Step(
            "partitions_range_like",
            lambda ctx: C.partitions(
                ctx.spark, "lineitem",
                f"(l_shipday >= '{p['range_lo']}' AND l_shipday < '{p['range_hi']}') "
                f"OR l_shipday LIKE '{p['like']}'",
            ),
            act=lambda specs: parts_rows(specs, "l_shipday"),
            oracle=(
                "SELECT DISTINCT l_shipday FROM lineitem WHERE "
                f"(l_shipday >= '{p['range_lo']}' AND l_shipday < '{p['range_hi']}') "
                f"OR l_shipday LIKE '{p['like']}'"
            ),
        ),
        Step(
            "partitions_orders_range",
            lambda ctx: C.partitions(
                ctx.spark, "orders",
                f"o_month >= '{p['year_lo'][:7]}' AND o_month <= '{p['year_hi'][:7]}'",
            ),
            act=lambda specs: parts_rows(specs, "o_month"),
            oracle=(
                "SELECT DISTINCT o_month FROM orders WHERE "
                f"o_month >= '{p['year_lo'][:7]}' AND o_month <= '{p['year_hi'][:7]}'"
            ),
        ),
        Step(
            "table_count_by",
            lambda ctx: R.count_by(
                C.table(
                    ctx.spark, "lineitem",
                    filter=f"l_shipday >= '{p['year_lo']}' AND l_shipday < '{p['year_hi']}'",
                    fields=["l_returnflag", "l_linestatus"],
                ),
                ["l_returnflag", "l_linestatus"],
            ),
            act=collect_rows,
            oracle=(
                "SELECT l_returnflag, l_linestatus, count(*) AS cnt FROM lineitem "
                f"WHERE l_shipday >= '{p['year_lo']}' AND l_shipday < '{p['year_hi']}' "
                "GROUP BY 1, 2"
            ),
        ),
        Step(
            "read_table_csv_coerce",
            lambda ctx: R.coerce(
                IO.read_table(
                    ctx.spark, os.path.join(ctx.live, "customer"), fmt="csv",
                    schema=CUSTOMER_DDL, sep="\x01",
                ),
                {"c_acctbal": "decimal(12,2)", "c_nationkey": "bigint"},
            ),
            act=collect_rows,
            oracle=(
                "SELECT c_custkey, c_name, CAST(c_nationkey AS BIGINT) AS c_nationkey, "
                "CAST(c_acctbal AS DECIMAL(12,2)) AS c_acctbal, c_mktsegment FROM customer"
            ),
        ),
        Step(
            "wordcount_rcfile",
            lambda ctx: R.wordcount(C.table(ctx.spark, "part", fields=["p_name"]), "p_name", " "),
            act=collect_rows,
            oracle=(
                "SELECT token, count(*) AS cnt FROM "
                "(SELECT unnest(string_split(p_name, ' ')) AS token FROM part) GROUP BY token"
            ),
        ),
        Step(
            "q1_partial_agg",
            lambda ctx: R.partial_agg(
                C.table(ctx.spark, "lineitem", filter=f"l_shipday <= '{p['q1_cut']}'"),
                ["l_returnflag", "l_linestatus"], "l_extendedprice", scale=2,
            ),
            act=collect_rows,
            oracle=(
                "SELECT l_returnflag, l_linestatus, count(*) AS cnt, "
                "sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sum_img FROM lineitem "
                f"WHERE l_shipday <= '{p['q1_cut']}' GROUP BY 1, 2"
            ),
        ),
        Step(
            "q3_join_top_k", q3, act=collect_rows,
            oracle=(
                "SELECT l_orderkey, o_orderdate, sum(CAST(l_extendedprice AS DECIMAL(12,2)) "
                "* (1 - CAST(l_discount AS DECIMAL(4,2)))) AS revenue "
                "FROM customer JOIN orders ON c_custkey = o_custkey "
                "JOIN lineitem ON l_orderkey = o_orderkey "
                f"WHERE c_mktsegment = 'BUILDING' AND o_orderdate < '{p['q3_date']}' "
                f"AND l_shipday > '{p['q3_date']}' AND l_shipday <= '{p['q3_ship_hi']}' "
                "GROUP BY 1, 2 ORDER BY revenue DESC, l_orderkey LIMIT 10"
            ),
        ),
        Step(
            "q5_join", q5, act=collect_rows,
            oracle=(
                "SELECT n_name, sum(CAST(l_extendedprice AS DECIMAL(12,2)) "
                "* (1 - CAST(l_discount AS DECIMAL(4,2)))) AS revenue "
                "FROM region JOIN nation ON r_regionkey = n_regionkey "
                "JOIN customer ON c_nationkey = n_nationkey "
                "JOIN orders ON o_custkey = c_custkey "
                "JOIN lineitem ON l_orderkey = o_orderkey "
                "JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey "
                f"WHERE r_name = 'ASIA' AND o_orderdate >= '{p['q5_lo']}' "
                f"AND o_orderdate < '{p['q5_hi']}' AND l_shipday > '{p['q5_lo']}' "
                f"AND l_shipday <= '{p['q5_ship_hi']}' GROUP BY n_name"
            ),
        ),
        Step(
            "orders_ranked",
            lambda ctx: R.ranked(
                C.table(
                    ctx.spark, "orders", filter=f"o_month LIKE '{p['rank_year']}'",
                    fields=["o_orderkey", "o_orderpriority", "o_totalprice"],
                ),
                ["o_orderpriority"], [F.col("o_totalprice").desc()],
            ).filter("rnk <= 3"),
            act=collect_rows,
            oracle=(
                "SELECT * FROM (SELECT o_orderkey, o_orderpriority, o_totalprice, "
                "rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC) AS rnk "
                f"FROM orders WHERE o_month LIKE '{p['rank_year']}') WHERE rnk <= 3"
            ),
        ),
        Step(
            "orders_top_k",
            lambda ctx: R.top_k(
                C.table(ctx.spark, "orders", fields=["o_orderkey", "o_custkey", "o_totalprice"]),
                [F.col("o_totalprice").desc(), F.col("o_orderkey")], 20,
            ),
            act=collect_rows,
            oracle=(
                "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
                "ORDER BY o_totalprice DESC, o_orderkey LIMIT 20"
            ),
        ),
        Step(
            "union_paths_read",
            lambda ctx: IO.read_table(
                ctx.spark,
                [os.path.join(ctx.live, "lineitem", f"l_shipday={x}") for x in union_days],
                fmt="orc", columns=["l_orderkey", "l_extendedprice"],
            ).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("amt"),
                F.countDistinct("l_orderkey").alias("orders"),
            ),
            act=collect_rows,
            oracle=(
                "SELECT count(*) AS n, sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS amt, "
                f"count(DISTINCT l_orderkey) AS orders FROM lineitem WHERE l_shipday IN ({union_in})"
            ),
        ),
    ]


# --------------------------------------------------------------------------
# hive_partitioned_write
# --------------------------------------------------------------------------

WRITE_TABLE = "w_sales"

# Expected warehouse state after each write step, as SQL over the seed's
# inputs; ``sales_agg`` over the files the step left on disk must match
# ``sales_agg`` over this state.
_NEW = "(SELECT sale_id, cust_id, amount, qty, CAST(NULL AS VARCHAR) AS note, day FROM sales_batch)"
_PUB_DAY = "(SELECT min(day) FROM sales_batch)"
_PUB = f"(SELECT sale_id, cust_id, amount, qty, 'pub' AS note, day FROM sales_batch WHERE day = {_PUB_DAY})"
_BASE = "(SELECT sale_id, cust_id, amount, qty, note, day FROM sales_base)"
_UPD = "(SELECT sale_id, cust_id, amount, qty, note, day FROM sales_updates)"
STATE = {
    "create": _BASE,
    "into": f"({_BASE} UNION ALL {_NEW})",
    "overwrite": (
        f"((SELECT * FROM {_BASE} WHERE day NOT IN (SELECT day FROM sales_updates)) "
        f"UNION ALL {_UPD} UNION ALL {_NEW})"
    ),
}
STATE["publish"] = (
    f"((SELECT * FROM {STATE['overwrite']} WHERE day <> {_PUB_DAY}) UNION ALL {_PUB})"
)
STATE["cdc"] = (
    f"((SELECT * FROM {STATE['publish']} WHERE sale_id NOT IN (SELECT sale_id FROM sales_cdc)) "
    "UNION ALL (SELECT sale_id, cust_id, amount, qty, note, day FROM sales_cdc WHERE op <> 'D'))"
)


def sales_agg(src: str) -> str:
    return (
        "SELECT count(*) AS n, sum(CAST(amount AS DECIMAL(18,2))) AS amt, "
        f"count(DISTINCT day) AS days, count(note) AS notes FROM {src} AS t"
    )


def _files(root: str, suffix: str) -> list[str]:
    out = []
    for d, _, names in os.walk(root):
        out += [os.path.join(d, n) for n in names if n.endswith(suffix)]
    return out


def _parquet(files: list[str], partitioned: bool) -> str:
    lst = ", ".join(f"'{f}'" for f in files)
    hive = "hive_partitioning=true, hive_types_autocast=false" if partitioned else "hive_partitioning=false"
    return f"read_parquet([{lst}], {hive})"


def _readback_orc(con, root: str) -> dict:
    import pyarrow.dataset as ds

    con.register("_rb", ds.dataset(root, format="orc", partitioning="hive").to_table())
    return duck_fp(con, sales_agg("_rb"))


def write_steps(size: str) -> list[Step]:
    from pyspark.sql import functions as F

    from cascading_hive_spark import catalog as C
    from cascading_hive_spark import io as IO

    per = gen.SIZES[size]["sales_per_day"]

    def table_source(ctx: Ctx, published: bool) -> str:
        """The table's rows as DuckDB reads them from disk; after the
        publish step one partition lives at the published location."""
        files = _files(os.path.join(ctx.state, "wh", WRITE_TABLE), ".parquet")
        if not published:
            return _parquet(files, True)
        day = ctx.manifest["write_first_new_day"]
        rest = [f for f in files if f"/day={day}/" not in f]
        pub = _files(os.path.join(ctx.out, "pub"), ".parquet")
        cols = "sale_id, cust_id, amount, qty, note"
        return (
            f"(SELECT {cols}, day FROM {_parquet(rest, True)} UNION ALL "
            f"SELECT {cols}, '{day}' AS day FROM {_parquet(pub, False)})"
        )

    def state_check(published: bool):
        def check(ctx: Ctx, _result, expected: dict | None) -> str | None:
            import duckdb

            got = duck_fp(duckdb.connect(), sales_agg(table_source(ctx, published)))
            return None if got == expected else f"read-back {got} != expected {expected}"
        return check

    def write_orc(ctx: Ctx):
        IO.write_table(
            C.table(ctx.spark, "sales_base"), os.path.join(ctx.out, "orc_sales"),
            fmt="orc", partition_by=["day"], max_records_per_file=per // 3,
        )

    def check_orc(ctx: Ctx, _result, expected: dict | None) -> str | None:
        import duckdb
        import pyarrow.orc as orc

        files = _files(os.path.join(ctx.out, "orc_sales"), ".orc")
        too_big = [f for f in files if orc.ORCFile(f).nrows > per // 3]
        if too_big:
            return f"{len(too_big)} ORC files over max_records_per_file"
        got = _readback_orc(duckdb.connect(), os.path.join(ctx.out, "orc_sales"))
        return None if got == expected else f"read-back {got} != expected {expected}"

    def publish(ctx: Ctx):
        day = ctx.manifest["write_first_new_day"]  # min(day) of the batch
        C.publish_partition(
            ctx.spark,
            C.table(ctx.spark, "sales_batch", filter=f"day = '{day}'").select(
                "sale_id", "cust_id", "amount", "qty", F.lit("pub").alias("note")
            ),
            WRITE_TABLE, {"day": day}, os.path.join(ctx.out, "pub"),
        )

    def cdc(ctx: Ctx) -> int:
        merged = IO.cdc_apply(
            C.table(ctx.spark, WRITE_TABLE), C.table(ctx.spark, "sales_cdc"), keys=["sale_id"]
        )
        IO.write_table(merged, os.path.join(ctx.out, "cdc"), fmt="parquet")
        return IO.compact_files(
            ctx.spark, os.path.join(ctx.out, "cdc"), os.path.join(ctx.out, "cdc_compact"),
            target_file_bytes=256 << 10,
        )

    def check_cdc(ctx: Ctx, _result, expected: dict | None) -> str | None:
        import duckdb

        files = _files(os.path.join(ctx.out, "cdc_compact"), ".parquet")
        got = duck_fp(duckdb.connect(), sales_agg(_parquet(files, False)))
        return None if got == expected else f"read-back {got} != expected {expected}"

    def read_back(ctx: Ctx):
        batch_lo = ctx.manifest["write_first_new_day"]
        return C.table(
            ctx.spark, WRITE_TABLE, filter=f"day >= '{batch_lo}'",
            fields=["sale_id", "amount", "note", "day"],
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("amount").cast("decimal(18,2)")).alias("amt"),
            F.countDistinct("day").alias("days"),
            F.count("note").alias("notes"),
        )

    return [
        Step("write_table_orc", write_orc, oracle=sales_agg(_BASE), check=check_orc),
        Step(
            "create_table",
            lambda ctx: C.create_table(
                ctx.spark, WRITE_TABLE, C.table(ctx.spark, "sales_base"),
                fmt="parquet", partition_by=["day"],
            ),
            oracle=sales_agg(STATE["create"]), check=state_check(False),
        ),
        Step(
            "write_into_drifted",
            lambda ctx: C.write_into(ctx.spark, C.table(ctx.spark, "sales_batch"), WRITE_TABLE),
            oracle=sales_agg(STATE["into"]), check=state_check(False),
        ),
        Step(
            "overwrite_partitions",
            lambda ctx: C.overwrite_partitions(
                ctx.spark, C.table(ctx.spark, "sales_updates"), WRITE_TABLE
            ),
            oracle=sales_agg(STATE["overwrite"]), check=state_check(False),
        ),
        Step(
            "publish_partition", publish,
            oracle=sales_agg(STATE["publish"]), check=state_check(True),
        ),
        Step("cdc_apply_compact", cdc, oracle=sales_agg(STATE["cdc"]), check=check_cdc),
        Step(
            "read_back", read_back, act=collect_rows,
            oracle=sales_agg(
                f"(SELECT * FROM {STATE['publish']} WHERE day >= (SELECT min(day) FROM sales_batch))"
            ),
        ),
    ]


# --------------------------------------------------------------------------
# llm_curation
# --------------------------------------------------------------------------

MINHASH_RECALL_FLOOR = 0.9
MINHASH_JACCARD_FLOOR = 0.8


def _shingles(text: str) -> set[str]:
    toks = re.split(r"\s+", text)
    if len(toks) < 2:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + 2]) for i in range(len(toks) - 1)}


def minhash_check(ctx: Ctx, result, _expected) -> str | None:
    """Rows-only step: the planted pairs found (recall at or above the
    floor) and every emitted pair a true near-duplicate."""
    import pyarrow.parquet as pq

    docs = pq.read_table(os.path.join(ctx.live, "curation", "documents.parquet"))
    return minhash_check_texts(
        ctx, result, dict(zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()))
    )


def minhash_check_texts(ctx: Ctx, result, text: dict[int, str]) -> str | None:
    cols, rows = result
    ia, ib = cols.index("id_a"), cols.index("id_b")
    pairs = {(min(r[ia], r[ib]), max(r[ia], r[ib])) for r in rows}
    planted = {(min(a, b), max(a, b)) for a, b in ctx.manifest["planted_pairs"]}
    recall = len(planted & pairs) / len(planted) if planted else 1.0
    ctx.stats["dedup.planted_recall"] = recall
    if recall < MINHASH_RECALL_FLOOR:
        return f"planted-pair recall {recall:.3f} < {MINHASH_RECALL_FLOOR}"
    for a, b in sorted(pairs):
        sa, sb = _shingles(text[a]), _shingles(text[b])
        j = len(sa & sb) / len(sa | sb)
        if j < MINHASH_JACCARD_FLOOR:
            return f"pair ({a}, {b}) has Jaccard {j:.3f} < {MINHASH_JACCARD_FLOOR}"
    return None


def curation_steps(size: str) -> list[Step]:
    from cascading_hive_spark import queries as Q

    qs, oracles = Q.queries(), Q.oracles()

    def run(name: str):
        return lambda ctx: qs[name](ctx.spark, os.path.join(ctx.live, "curation"))

    return [
        Step(
            name, run(name), act=collect_rows, oracle=oracles.get(name),
            check=minhash_check if name == "dedup_minhash_lsh" else None,
        )
        for name in LAYER_MAP["llm_curation"]
    ]


WORKLOADS = {
    "hive_catalog_scan": {
        "steps": scan_steps,
        "tables": ["lineitem", "orders", "customer", "part", "supplier", "nation", "region"],
        "input": "scan",
    },
    "hive_partitioned_write": {
        "steps": write_steps,
        "tables": ["sales_base", "sales_batch", "sales_updates", "sales_cdc"],
        "input": "write",
    },
    "llm_curation": {
        "steps": curation_steps,
        "tables": ["documents", "embeddings"],
        "input": "curation",
    },
}


def workload_steps(workload: str, size: str) -> list[Step]:
    """The workload's steps in order, each with its layer from LAYER_MAP."""
    steps_ = WORKLOADS[workload]["steps"](size)
    layers = LAYER_MAP[workload]
    if [s.name for s in steps_] != list(layers):
        raise ValueError(f"{workload}: steps differ from layers.json")
    for s in steps_:
        s.layer = layers[s.name]
    return steps_


# seeded input tables per workload (rows_per_s, stored_bytes_per_input_byte);
# the fixed dimension tables are left out
INPUT_TABLES = {
    "scan": ["lineitem", "orders", "customer"],
    "write": ["base", "batch", "updates", "cdc"],
    "curation": ["documents", "embeddings"],
}


def oracle_views(con, live: str, dims: str) -> None:
    """DuckDB views over the seed's input files, named as in the metastore."""
    import pyarrow.dataset as ds

    con.register(
        "lineitem",
        ds.dataset(os.path.join(live, "lineitem"), format="orc", partitioning="hive").to_table(),
    )
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM read_parquet("
        f"'{live}/orders/*/*.parquet', hive_partitioning=true)"
    )
    con.execute(
        "CREATE VIEW customer AS SELECT * FROM read_csv("
        f"'{live}/customer/*', delim='\x01', header=false, nullstr='\\N', columns={{"
        "'c_custkey': 'BIGINT', 'c_name': 'VARCHAR', 'c_nationkey': 'INTEGER', "
        "'c_acctbal': 'DOUBLE', 'c_mktsegment': 'VARCHAR'})"
    )
    for name in ("part", "supplier", "nation", "region"):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{dims}/{name}/*.parquet')")
    for name in ("base", "batch", "updates", "cdc"):
        con.execute(
            f"CREATE VIEW sales_{name} AS SELECT * FROM read_parquet('{live}/write/{name}/*.parquet')"
        )
    for name in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{live}/curation/{name}.parquet/*.parquet')"
        )
