"""The benchmark's own tests: generator invariants, result fingerprints,
the layer map, and one smoke run per workload.

    python3 -m pytest hivebench -q            # everything (~5 min)
    python3 -m pytest hivebench -q -m "not slow"
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
from decimal import Decimal

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
import steps as S  # noqa: E402
import tracing as T  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def _tree_digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_generator_same_seed_same_bytes(tmp_path):
    a = gen.write_seed(7, "smoke", str(tmp_path / "a"))
    b = gen.write_seed(7, "smoke", str(tmp_path / "b"))
    assert a == b
    assert _tree_digest(str(tmp_path / "a")) == _tree_digest(str(tmp_path / "b"))
    c = gen.write_seed(8, "smoke", str(tmp_path / "c"))
    assert c["offsets"] != a["offsets"]
    assert _tree_digest(str(tmp_path / "c")) != _tree_digest(str(tmp_path / "a"))


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_generator_counts(tmp_path, seed):
    p = gen.SIZES["smoke"]
    m = gen.write_seed(seed, "smoke", str(tmp_path))
    rows = m["rows"]
    assert rows["customer"] == p["customers"]
    assert rows["orders"] == p["orders"]
    assert rows["lineitem"] >= p["orders"]
    assert rows["base"] == p["sale_days"] * p["sales_per_day"]
    assert rows["batch"] == p["new_days"] * p["sales_per_day"]
    assert rows["updates"] == p["updated_days"] * p["sales_per_day"]
    assert rows["documents"] == p["docs"] and rows["embeddings"] == p["vectors"]
    # the partition lists are seed-independent (the metastore is built once)
    assert m["partitions"]["lineitem"] == p["days"]
    assert sorted(os.listdir(tmp_path / "lineitem")) == [
        f"l_shipday={d}" for d in gen.day_strings(p["days"])
    ]
    months = {gen.day_str(i)[:7] for i in range(p["days"])}
    assert m["partitions"]["orders"] == len(months)


def test_planted_duplicates():
    tables, planted = gen.curation_tables(5, "smoke")
    docs = dict(zip(tables["documents"]["doc_id"].to_pylist(), tables["documents"]["text"].to_pylist()))
    assert len(docs) == gen.SIZES["smoke"]["docs"]
    assert len(planted) == round(gen.SIZES["smoke"]["docs"] * gen.DUP_RATE)
    for base, dup in planted:
        assert docs[dup] == docs[base] + " dup"


def test_fingerprint_is_order_insensitive_and_engine_neutral():
    a = S.fingerprint(["b", "a"], [(Decimal("1.50"), 2), (Decimal("0.1"), 1)])
    b = S.fingerprint(["a", "b"], [(1, Decimal("0.100")), (2, Decimal("1.5"))])
    assert a == b
    assert S.fingerprint(["x"], [(0.1 + 0.2,)]) == S.fingerprint(["x"], [(0.3,)])
    assert S.fingerprint(["x"], [(1,)]) != S.fingerprint(["x"], [(2,)])


def test_minhash_check_uses_recall_and_jaccard_floor():
    tables, planted = gen.curation_tables(5, "smoke")
    ctx = S.Ctx(None, "", "", "", "smoke", {"planted_pairs": planted})
    texts = dict(zip(tables["documents"]["doc_id"].to_pylist(), tables["documents"]["text"].to_pylist()))

    def run(rows):
        return S.minhash_check_texts(ctx, (["id_a", "id_b", "jaccard"], rows), texts)

    assert run([(a, b, 0.9) for a, b in planted]) is None
    assert "recall" in run([])
    a, b = sorted(texts)[:2]
    assert "Jaccard" in run([(x, y, 0.9) for x, y in planted] + [(a, b, 0.9)])


def test_every_layer_has_a_step():
    """layers.json names every step of every workload, and each per-step
    layer is measured on some workload."""
    used = set()
    for workload in S.WORKLOADS:
        used |= {s.layer for s in S.workload_steps(workload, "smoke")}
    assert used == set(T.LAYERS)


def _run(args: list[str], cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "hivebench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.slow
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
@pytest.mark.parametrize("traced", [0, 1])
def test_smoke_run(workload, traced):
    r = _run(["--workload", workload, "--seed", "3", "--seconds", "1",
              "--trace", str(traced), "--smoke"])
    assert r.returncode == 0, r.stderr[-3000:]
    res = json.loads(r.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0, r.stdout.splitlines()[-2][-3000:]
    key = "per_layer" if traced else "end_to_end"
    want = {m["name"]: m["unit"] for m in BENCH[key]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want


@pytest.mark.slow
def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "hivebench", ignore=shutil.ignore_patterns("__pycache__"))
    r = _run(["--workload", "llm_curation", "--seed", "1", "--seconds", "1", "--trace", "0"],
             cwd=str(tmp_path))
    assert r.returncode != 0
    assert '"metrics"' not in r.stdout
