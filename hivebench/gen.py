"""Seeded input generator for the benchmark (numpy + pyarrow only).

Every table is a pure function of ``(seed, size)``; the same pair gives
byte-identical files. Nothing here imports the library under test, so a
change to the library cannot change its own inputs.

Shapes follow the repo's test data (TPC-H-ish star schema, a documents
corpus with planted near-duplicates, unit embeddings) and the tiling
rules of ``scripts/make_sf1.py``: keys are shifted by a seed-chosen
offset consistently on both sides of every join, customer/order names
carry a seed-chosen suffix, rows are written in a seed-chosen order,
and the planted-duplicate rate is fixed.

Dimension tables (region, nation, part, supplier) are seed-independent:
they are loaded into the Hive metastore once per checkout (part and
supplier as RCFILE, which only a Hive writer can produce). The seeded
fact side (lineitem, orders, customer, the write batch and the corpus)
is regenerated per seed without a JVM.
"""

from __future__ import annotations

import datetime as dt
import os
import zlib
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.orc as orc
import pyarrow.parquet as pq

SIZES = {
    # The scan side has the row counts of the repo's TPC-H sf0.1 tables
    # (150k orders, ~590k lineitem rows, 15k customers, 20k parts, 1k
    # suppliers) over 730 ship-day partitions against 24 order-month
    # partitions: the partition count is the input property that
    # changes catalog/scan behaviour (listing and partition fetch
    # dominate the cold pass). The corpus stays small (sf0.1 has 5k
    # documents, 2k embeddings) to fit the run-time budget; see
    # STEADINESS.md.
    "full": dict(
        days=730, orders=150_000, customers=15_000, parts=20_000, suppliers=1_000,
        sale_days=20, new_days=10, sales_per_day=200, updated_days=3,
        cdc_changes=2_000, docs=400, vectors=400,
    ),
    "smoke": dict(
        days=40, orders=400, customers=100, parts=100, suppliers=10,
        sale_days=6, new_days=3, sales_per_day=20, updated_days=2,
        cdc_changes=40, docs=120, vectors=120,
    ),
}

START = dt.date(1992, 1, 2)
SALES_START = dt.date(2024, 1, 1)
DUP_RATE = 0.05  # planted near-duplicate share of the corpus
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
COLORS = (
    "almond antique aquamarine azure beige bisque black blanched blue blush "
    "brown burlywood chartreuse chiffon chocolate coral cornflower cream cyan "
    "dark"
).split()


def _rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


def day_str(i: int) -> str:
    return (START + dt.timedelta(days=int(i))).isoformat()


def day_strings(days: int) -> list[str]:
    """Ship-day partition values: day 1 .. ``days`` after START."""
    return [day_str(i) for i in range(1, days + 1)]


def key_offsets(seed: int) -> dict[str, int]:
    r = _rng(seed, "offsets")
    return {
        "order": int(r.integers(1, 1000)) * 1_000_000,
        "cust": int(r.integers(1, 1000)) * 100_000,
        "sale": int(r.integers(1, 1000)) * 1_000_000,
        "doc": int(r.integers(1, 1000)) * 100_000,
    }


def suffix(seed: int) -> str:
    return f"s{zlib.crc32(str(seed).encode()) % 9973:04d}"


# --------------------------------------------------------------------------
# seed-independent dimensions
# --------------------------------------------------------------------------


def dims(size: str) -> dict[str, pa.Table]:
    p = SIZES[size]
    r = _rng(0, "dims")
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i:02d}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n_p = p["parts"]
    words = r.integers(0, len(COLORS), size=(n_p, 3))
    part = pa.table({
        "p_partkey": pa.array(np.arange(1, n_p + 1), pa.int64()),
        "p_name": [" ".join(COLORS[w] for w in row) for row in words],
        "p_brand": [f"Brand#{b}" for b in r.integers(11, 56, n_p)],
        "p_size": pa.array(r.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": np.round(r.integers(90_000, 200_000, n_p) / 100.0, 2),
    })
    n_s = p["suppliers"]
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(1, n_s + 1), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, n_s + 1)],
        "s_nationkey": pa.array(r.integers(0, 25, n_s), pa.int32()),
        "s_acctbal": np.round(r.integers(-99_999, 999_999, n_s) / 100.0, 2),
    })
    return {"region": region, "nation": nation, "part": part, "supplier": supplier}


# --------------------------------------------------------------------------
# seeded fact side of the warehouse
# --------------------------------------------------------------------------


def scan_tables(seed: int, size: str) -> dict[str, pa.Table]:
    p = SIZES[size]
    r = _rng(seed, "scan")
    off = key_offsets(seed)
    sfx = suffix(seed)
    days = p["days"]

    n_c = p["customers"]
    ckeys = off["cust"] + np.arange(1, n_c + 1)
    customer = pa.table({
        "c_custkey": pa.array(ckeys, pa.int64()),
        "c_name": [f"Customer#{k:09d}_{sfx}" for k in ckeys],
        "c_nationkey": pa.array(r.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": np.round(r.integers(-99_999, 999_999, n_c) / 100.0, 2),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, n_c)],
    })

    n_o = p["orders"]
    okeys = off["order"] + np.arange(1, n_o + 1)
    odays = r.integers(0, days, n_o)  # order day; ship = order + 1..30
    n_items = r.integers(1, 8, n_o)
    li_order = np.repeat(np.arange(n_o), n_items)
    li_line = np.concatenate([np.arange(1, k + 1) for k in n_items])
    li_day = odays[li_order] + r.integers(1, 31, len(li_order))
    keep = li_day <= days
    li_order, li_line, li_day = li_order[keep], li_line[keep], li_day[keep]
    # every ship day must hold rows for every seed: the metastore's
    # partition list is built once per checkout, not per seed
    missing = np.setdiff1d(np.arange(1, days + 1), li_day)
    if len(missing):
        fill = np.array([int(np.argmin(np.abs(odays - (d - 1)))) for d in missing])
        odays[fill] = np.minimum(odays[fill], missing - 1)
        li_order = np.concatenate([li_order, fill])
        li_line = np.concatenate([li_line, np.full(len(fill), 8)])
        li_day = np.concatenate([li_day, missing])
    n_l = len(li_order)
    day_names = np.array([day_str(i) for i in range(days + 1)], dtype=object)
    qty = r.integers(1, 51, n_l)
    part_keys = r.integers(1, p["parts"] + 1, n_l)
    extprice = qty * r.integers(90_000, 200_000, n_l)  # cents
    lineitem = pa.table({
        "l_orderkey": pa.array(okeys[li_order], pa.int64()),
        "l_partkey": pa.array(part_keys, pa.int64()),
        "l_suppkey": pa.array(r.integers(1, p["suppliers"] + 1, n_l), pa.int64()),
        "l_linenumber": pa.array(li_line, pa.int32()),
        "l_quantity": qty.astype(np.float64),
        "l_extendedprice": extprice / 100.0,
        "l_discount": r.integers(0, 11, n_l) / 100.0,
        "l_tax": r.integers(0, 9, n_l) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"], dtype=object)[r.integers(0, 3, n_l)],
        "l_linestatus": np.where(li_day < days * 0.6, "F", "O").astype(object),
        "l_shipday": day_names[li_day],
    })
    tot = np.bincount(li_order, weights=extprice, minlength=n_o) / 100.0
    orders = pa.table({
        "o_orderkey": pa.array(okeys, pa.int64()),
        "o_custkey": pa.array(ckeys[r.integers(0, n_c, n_o)], pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, n_o)],
        "o_totalprice": np.round(tot, 2),
        "o_orderdate": day_names[odays],
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, n_o)],
        "o_clerk": [f"Clerk#{i:09d}_{sfx}" for i in r.integers(1, 1000, n_o)],
        "o_month": np.array([d[:7] for d in day_names], dtype=object)[odays],
    })
    return {
        "customer": customer.take(r.permutation(n_c)),
        "orders": orders.take(r.permutation(n_o)),
        "lineitem": lineitem.take(r.permutation(n_l)),
    }


def write_tables(seed: int, size: str) -> dict[str, pa.Table]:
    """The write workload's per-pass ingest: a base of ``sale_days``
    day partitions, a batch of ``new_days`` further days in a drifted
    schema (no ``note``, an extra ``channel``), replacement rows for
    ``updated_days`` existing days, and a CDC feed over the base."""
    p = SIZES[size]
    r = _rng(seed, "write")
    off = key_offsets(seed)["sale"]
    per = p["sales_per_day"]

    def sales(first_day: int, n_days: int, first_id: int) -> dict:
        n = n_days * per
        return {
            "sale_id": pa.array(off + first_id + np.arange(n), pa.int64()),
            "cust_id": pa.array(r.integers(1, 5_000, n), pa.int64()),
            "amount": r.integers(100, 100_000, n) / 100.0,
            "qty": pa.array(r.integers(1, 20, n), pa.int32()),
            "day": [
                (SALES_START + dt.timedelta(days=first_day + i // per)).isoformat()
                for i in range(n)
            ],
        }

    b = sales(0, p["sale_days"], 0)
    base = pa.table({**b, "note": [f"n{i % 97}" for i in range(len(b["day"]))]})
    nb = sales(p["sale_days"], p["new_days"], p["sale_days"] * per)
    batch = pa.table({
        **nb,
        "channel": [("web", "store", "app")[i] for i in r.integers(0, 3, len(nb["day"]))],
    })
    upd_days = sorted(r.choice(p["sale_days"], p["updated_days"], replace=False).tolist())
    rows = []
    for d in upd_days:
        u = sales(int(d), 1, 10_000_000 + int(d) * per)
        rows.append(pa.table({**u, "note": ["upd"] * per}))
    updates = pa.concat_tables(rows)
    n_ch = p["cdc_changes"]
    base_ids = np.asarray(base["sale_id"])
    hit = r.choice(len(base_ids), n_ch, replace=False)
    ops = np.array(["U", "D"])[r.integers(0, 2, n_ch)]
    n_ins = n_ch // 10
    cdc = pa.table({
        "sale_id": pa.array(np.concatenate([base_ids[hit], off + 50_000_000 + np.arange(n_ins)]), pa.int64()),
        "cust_id": pa.array(r.integers(1, 5_000, n_ch + n_ins), pa.int64()),
        "amount": r.integers(100, 100_000, n_ch + n_ins) / 100.0,
        "qty": pa.array(r.integers(1, 20, n_ch + n_ins), pa.int32()),
        "note": ["cdc"] * (n_ch + n_ins),
        "day": [base["day"][int(i)].as_py() for i in hit] + [b["day"][0]] * n_ins,
        "seq": pa.array(np.arange(n_ch + n_ins) + 1, pa.int64()),
        "op": list(ops) + ["I"] * n_ins,
    })
    return {
        "base": base.take(r.permutation(base.num_rows)),
        "batch": batch.take(r.permutation(batch.num_rows)),
        "updates": updates,
        "cdc": cdc.take(r.permutation(cdc.num_rows)),
    }


# --------------------------------------------------------------------------
# curation corpus
# --------------------------------------------------------------------------


def curation_tables(seed: int, size: str) -> tuple[dict[str, pa.Table], list[tuple[int, int]]]:
    """Documents (random vocabulary text, DUP_RATE of them a planted
    near-duplicate ``<base text> dup``) and unit-norm 64-d embeddings.
    Returns the tables and the planted (base_id, dup_id) pairs."""
    p = SIZES[size]
    r = _rng(seed, "curation")
    off = key_offsets(seed)["doc"]
    n = p["docs"]
    n_dup = int(round(n * DUP_RATE))
    n_base = n - n_dup
    texts = [
        " ".join(VOCAB[i] for i in r.integers(0, len(VOCAB), int(r.integers(10, 101))))
        for _ in range(n_base)
    ]
    src = r.choice(n_base, n_dup, replace=False)
    texts += [texts[i] + " dup" for i in src]
    ids = off + r.permutation(n)  # doc_id of text slot i
    planted = [(int(ids[s]), int(ids[n_base + j])) for j, s in enumerate(src)]
    order = np.argsort(ids)
    documents = pa.table({
        "doc_id": pa.array(ids[order], pa.int64()),
        "text": [texts[i] for i in order],
        "lang": [LANGS[i] for i in r.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(texts[i]) for i in order], pa.int64()),
    })
    m = p["vectors"]
    x = r.normal(size=(m, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, m), pa.int32()),
    })
    return {"documents": documents, "embeddings": embeddings}, sorted(planted)


# --------------------------------------------------------------------------
# on-disk layout
# --------------------------------------------------------------------------


def _write_partitioned(t: pa.Table, col: str, root: str, fmt: str) -> None:
    t = t.take(pc.sort_indices(t, sort_keys=[(col, "ascending")]))  # stable
    counts = pc.value_counts(t[col])  # in order of first appearance
    values = counts.field("values").to_pylist()
    bounds = [0, *np.cumsum(counts.field("counts").to_numpy()).tolist()]
    body = t.drop_columns([col])

    def one(i: int) -> None:
        d = os.path.join(root, f"{col}={values[i]}")
        os.makedirs(d)
        part = body.slice(bounds[i], bounds[i + 1] - bounds[i])
        if fmt == "orc":
            orc.write_table(part, os.path.join(d, "part-00000.orc"), compression="snappy")
        else:
            pq.write_table(part, os.path.join(d, "part-00000.parquet"), compression="snappy")

    # the writers release the GIL; thousands of small files go 3-4x
    # faster on a few threads
    with ThreadPoolExecutor(max_workers=4) as pool:
        for f in [pool.submit(one, i) for i in range(len(values))]:
            f.result()


def _write_parquet_dir(t: pa.Table, root: str) -> None:
    os.makedirs(root)
    pq.write_table(t, os.path.join(root, "part-00000.parquet"), compression="snappy")


def _write_text(t: pa.Table, root: str) -> None:
    """Hive TEXTFILE layout: ``\\x01``-separated fields, ``\\N`` null."""
    os.makedirs(root)
    cols = [c.to_pylist() for c in t.columns]
    with open(os.path.join(root, "part-00000"), "w", encoding="utf-8") as f:
        for row in zip(*cols):
            f.write("\x01".join("\\N" if v is None else str(v) for v in row) + "\n")


def write_dims(size: str, root: str) -> None:
    for name, t in dims(size).items():
        _write_parquet_dir(t, os.path.join(root, name))


def write_seed(seed: int, size: str, root: str) -> dict:
    """Write every seeded input under ``root``; return a manifest of
    row counts, partition counts, input bytes and planted pairs."""
    scan = scan_tables(seed, size)
    days = SIZES[size]["days"]
    shipdays = set(pc.unique(scan["lineitem"]["l_shipday"]).to_pylist())
    months = set(pc.unique(scan["orders"]["o_month"]).to_pylist())
    if shipdays != set(day_strings(days)) or months != {day_str(i)[:7] for i in range(days)}:
        raise RuntimeError(f"seed {seed}: partition set differs from the metastore's")
    _write_partitioned(scan["lineitem"], "l_shipday", os.path.join(root, "lineitem"), "orc")
    _write_partitioned(scan["orders"], "o_month", os.path.join(root, "orders"), "parquet")
    _write_text(scan["customer"], os.path.join(root, "customer"))
    wr = write_tables(seed, size)
    for name, t in wr.items():
        _write_parquet_dir(t, os.path.join(root, "write", name))
    cur, planted = curation_tables(seed, size)
    for name, t in cur.items():
        _write_parquet_dir(t, os.path.join(root, "curation", f"{name}.parquet"))
    return {
        "seed": seed,
        "size": size,
        "rows": {k: t.num_rows for k, t in {**scan, **wr, **cur}.items()},
        "partitions": {"lineitem": len(shipdays), "orders": len(months)},
        "input_bytes": {
            "scan": sum(t.nbytes for t in scan.values()),
            "write": sum(t.nbytes for t in wr.values()),
            "curation": sum(t.nbytes for t in cur.values()),
        },
        "planted_pairs": planted,
        "write_first_new_day": (
            SALES_START + dt.timedelta(days=SIZES[size]["sale_days"])
        ).isoformat(),
        "offsets": key_offsets(seed),
        "suffix": suffix(seed),
    }
