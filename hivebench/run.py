"""Benchmark for cascading_hive_spark: Hive-catalog scans, partitioned
writes and LLM data curation, one closed-loop client each.

Run from the root of a checkout:

    python3 hivebench/run.py --workload hive_catalog_scan --seed 1 --seconds 10 --trace 0

One process drives ``local[nproc]`` (shuffle partitions = nproc) through
the library's Hive-backed session. A run prepares the seed's inputs and
oracle answers (cached per seed, outside every timed metric), starts the
session, runs a cold pass and then warm passes back to back for
``--seconds`` (at least one). Every step's output is checked. The last
stdout line is the JSON result; the line before it carries host
context, per-step times and any failures.

End-to-end metrics (``--trace 0``):

- ``setup_s``: process start until the session is up and the workload's
  tables resolve in the metastore, minus input preparation;
- ``cold_pass_s``: the first pass in the fresh JVM;
- ``pass_s``: median warm pass (steps only, checks excluded). At
  ``--seconds 1`` this is the one pass after the cold pass, while the
  JIT is still compiling hot paths (see STEADINESS.md);
- ``rows_per_s``: the workload's seeded input rows per ``pass_s``;
- ``retained_mem_mb``: JVM heap and non-heap in use after full GCs,
  plus the Python workers' peak RSS, after the cold and one warm pass;
- ``ops_ok_share``: steps that neither raised nor failed their check,
  over steps attempted;
- ``stored_bytes_per_input_byte``: bytes on disk under the tables a
  pass writes (write workload) or the seeded input tables (the others),
  per in-memory byte of input.

``--trace 1`` runs untraced and traced warm passes alternately (U T U
...) and reports the per-layer metrics as medians over traced passes,
plus the tracing overhead (traced minus untraced pass). ``--smoke``
runs tiny inputs with the minimum number of passes.

State lives in ``.hivebench/<size>-<hash>/`` under the checkout: the
derby metastore and warehouse (built once), one input directory per
seed, and the traces of traced runs.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
KEEP_SEEDS = 24  # input directories kept in the per-seed cache
RUN_BUDGET_S = 150  # stop starting warm passes after this much wall time
MB = 1 << 20


def process_age() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, one warm pass")
    return ap.parse_args(argv)


# --------------------------------------------------------------------------
# preparation (excluded from every timed metric)
# --------------------------------------------------------------------------


def dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, n)) for d, _, names in os.walk(root) for n in names
    )


def data_files(root: str) -> int:
    return sum(
        1 for _, _, names in os.walk(root) for n in names
        if not n.startswith((".", "_"))
    )


def state_dir(size: str) -> str:
    """``.hivebench/<size>-<hash>``: the hash covers the generator and
    the warehouse builder, so changing either starts a fresh cache (and
    drops the stale one)."""
    h = hashlib.sha256()
    for name in ("gen.py", "warehouse.py"):
        with open(os.path.join(HERE, name), "rb") as f:
            h.update(f.read())
    base = os.path.join(ROOT, ".hivebench")
    state = os.path.join(base, f"{size}-{h.hexdigest()[:10]}")
    if not os.path.isdir(state):
        if os.path.isdir(base):
            for old in os.listdir(base):
                if old.startswith(f"{size}-"):
                    shutil.rmtree(os.path.join(base, old), ignore_errors=True)
        os.makedirs(state)
    return state


def prepare_inputs(state: str, size: str, seed: int) -> dict:
    import gen

    dims = os.path.join(state, "dims")
    if not os.path.isdir(dims):
        tmp = dims + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.write_dims(size, tmp)
        os.replace(tmp, dims)
    seeds = os.path.join(state, "seeds")
    sdir = os.path.join(seeds, str(seed))
    mpath = os.path.join(sdir, "manifest.json")
    if not os.path.exists(mpath):
        shutil.rmtree(sdir, ignore_errors=True)
        manifest = gen.write_seed(seed, size, sdir)
        with open(mpath, "w") as f:
            json.dump(manifest, f)
        cached = sorted(
            (os.path.getmtime(os.path.join(seeds, s)), s) for s in os.listdir(seeds)
        )
        for _, s in cached[:-KEEP_SEEDS]:
            if s != str(seed):
                shutil.rmtree(os.path.join(seeds, s), ignore_errors=True)
    live = os.path.join(state, "live")
    tmp = live + ".tmp"
    if os.path.lexists(tmp):
        os.remove(tmp)
    os.symlink(os.path.join("seeds", str(seed)), tmp)
    os.replace(tmp, live)
    with open(mpath) as f:
        return json.load(f)


def prepare_warehouse(state: str, size: str) -> None:
    marker = os.path.join(state, "warehouse.ok")
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read() == state:
                return
    for d in ("metastore_db", "wh"):
        shutil.rmtree(os.path.join(state, d), ignore_errors=True)
    subprocess.run(
        [sys.executable, os.path.join(HERE, "warehouse.py"), state, size],
        check=True, stdout=sys.stderr, timeout=600,
    )
    with open(marker, "w") as f:
        f.write(state)


def expected_results(state: str, seed: int, workload: str, steps_: list) -> dict:
    """Oracle fingerprints per step, computed by DuckDB over the seed's
    inputs once and cached next to them."""
    import duckdb

    import steps as S

    key = hashlib.sha256(
        json.dumps([(s.name, s.oracle) for s in steps_]).encode()
    ).hexdigest()[:12]
    path = os.path.join(state, "seeds", str(seed), f"oracle-{workload}-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = duckdb.connect()
    S.oracle_views(con, os.path.join(state, "live"), os.path.join(state, "dims"))
    out = {}
    for s in steps_:
        if s.oracle is None:
            continue
        try:
            out[s.name] = S.duck_fp(con, s.oracle)
        except duckdb.Error as exc:
            out[s.name] = {"oracle_error": str(exc)[:300]}
    with open(path, "w") as f:
        json.dump(out, f)
    return out


# --------------------------------------------------------------------------
# measurement
# --------------------------------------------------------------------------


def descendants(pid: int) -> list[int]:
    parent: dict[int, int] = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as f:
                    parent[int(p)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    out, frontier = [], [pid]
    while frontier:
        cur = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == cur]
        out += kids
        frontier += kids
    return out


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def other_jvms(own: int) -> int:
    n = 0
    for p in os.listdir("/proc"):
        if p.isdigit() and int(p) != own:
            try:
                with open(f"/proc/{p}/comm") as f:
                    n += f.read().strip() == "java"
            except OSError:
                continue
    return n


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v[:8])


def cpu_steal_share(a: tuple[int, int], b: tuple[int, int]) -> float:
    return (b[0] - a[0]) / max(1, b[1] - a[1])


def quantiles(xs: list[float]) -> dict:
    xs = sorted(xs)
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
    out = {"n": len(xs), "median": statistics.median(xs), "q1": q[0], "q3": q[2]}
    # highest percentile with at least ten samples beyond it
    if len(xs) >= 11:
        pct = int(100 * (1 - 10 / len(xs)))
        out[f"p{pct}"] = xs[min(len(xs) - 1, int(len(xs) * pct / 100))]
    return out


class Runner:
    def __init__(self, spark, workload: str, ctx, steps_, expected, tracer, cores: int):
        self.spark = spark
        self.workload = workload
        self.ctx = ctx
        self.steps = steps_
        self.expected = expected
        self.tracer = tracer
        self.cores = cores
        self.attempted = 0
        self.failures: list[dict] = []

    def reset(self) -> None:
        """Return the warehouse to its pre-pass state (untimed)."""
        if self.workload != "hive_partitioned_write":
            return
        import steps as S

        self.spark.sql(f"DROP TABLE IF EXISTS {S.WRITE_TABLE}")
        shutil.rmtree(os.path.join(self.ctx.state, "wh", S.WRITE_TABLE), ignore_errors=True)
        shutil.rmtree(self.ctx.out, ignore_errors=True)
        os.makedirs(self.ctx.out)

    def run_pass(self, pass_id: int, traced: bool) -> dict:
        import steps as S
        from tracing import layer_totals

        self.reset()
        self.ctx.stats = {}
        tr = self.tracer if traced else None
        rec = {"pass": pass_id, "traced": traced, "steps": [], "stats": self.ctx.stats}
        check_s = 0.0
        p0 = time.perf_counter()
        for step in self.steps:
            self.attempted += 1
            if tr:
                gid, io0 = tr.begin_step()
            t0 = time.perf_counter()
            err = None
            x = result = t1 = None
            try:
                x = step.plan(self.ctx)
                t1 = time.perf_counter()
                result = step.act(x) if step.act else x
            except Exception as exc:  # noqa: BLE001 - a failing step is reported, the pass goes on
                err = f"raised {type(exc).__name__}: {str(exc)[:300]}"
            t2 = time.perf_counter()
            t1 = t2 if t1 is None else t1
            s = {"name": step.name, "layer": step.layer, "wall_s": t2 - t0, "plan_s": t1 - t0}
            if tr:
                c = tr.end_step(gid, io0)
                s["counters"] = c.__dict__
                sid = tr.span(step.name, t0, t2, None, pass_id, layer=step.layer, **c.__dict__)
                tr.span("plan", t0, t1, sid, pass_id)
                tr.span("action", t1, t2, sid, pass_id)
                self._scan_stats(step, x, rec["stats"])
            c0 = time.perf_counter()
            if err is None:
                check = step.check or S.fp_check
                try:
                    err = check(self.ctx, result, self.expected.get(step.name))
                except Exception as exc:  # noqa: BLE001 - a check that cannot run is a failed check
                    err = f"check raised {type(exc).__name__}: {str(exc)[:300]}"
            check_s += time.perf_counter() - c0
            if err:
                self.failures.append({"pass": pass_id, "step": step.name, "error": err})
            s["ok"] = err is None
            rec["steps"].append(s)
        p1 = time.perf_counter()
        rec["wall_s"] = p1 - p0 - check_s
        rec["self_s"] = rec["wall_s"] - sum(s["wall_s"] for s in rec["steps"])
        if self.workload == "hive_partitioned_write":
            written = [self.ctx.out, os.path.join(self.ctx.state, "wh", S.WRITE_TABLE)]
            rec["stored_bytes"] = sum(dir_bytes(d) for d in written)
            if traced:
                rec["stats"]["io.files_written"] = sum(data_files(d) for d in written)
        if tr:
            pid = tr.span("pass", p0, p1, None, pass_id, check_s=check_s)
            for sp in tr.spans:
                if sp["pass"] == pass_id and sp["parent"] is None and sp["name"] != "pass":
                    sp["parent"] = pid
            rec["layers"] = layer_totals(rec["steps"], self.cores)
            rec["stats"]["io.read_mb"] = sum(s["counters"]["read_mb"] for s in rec["steps"])
            rec["stats"]["io.write_mb"] = sum(s["counters"]["write_mb"] for s in rec["steps"])
        return rec

    def _scan_stats(self, step, x, stats: dict) -> None:
        """Partition counts for the catalog counters (traced passes only)."""
        if isinstance(x, list) and step.layer == "catalog":
            stats["catalog.partitions_listed"] = (
                stats.get("catalog.partitions_listed", 0) + len(x)
            )
        if self.workload != "hive_catalog_scan" or not hasattr(x, "inputFiles"):
            return
        totals = self.ctx.manifest["partitions"]
        seen: dict[str, set] = {t: set() for t in totals}
        for f in x.inputFiles():
            for t, col in (("lineitem", "l_shipday="), ("orders", "o_month=")):
                if f"/{t}/{col}" in f:
                    seen[t].add(f.split(col, 1)[1].split("/", 1)[0])
        read = [t for t in totals if seen[t]]
        stats["_scanned"] = stats.get("_scanned", 0) + sum(len(seen[t]) for t in read)
        stats["_total"] = stats.get("_total", 0) + sum(totals[t] for t in read)


def memory_mb(spark, jvm_pid: int) -> dict:
    """Driver memory at a fixed point of the run (after the cold pass
    and one warm pass). ``retained`` is what the JVM holds after full
    GCs (heap and non-heap in use) plus the Python workers' peak RSS.
    ``peak_rss_jvm`` (VmHWM) follows G1's timing-dependent heap growth
    and varies by up to a quarter between identical runs, so it is
    reported as context, not as a bounded metric."""
    workers = [vm_hwm_mb(p) for p in descendants(jvm_pid)]
    peak = vm_hwm_mb(jvm_pid)
    jvm = spark._jvm
    # Blocks that Spark's ContextCleaner drops only once a GC has found
    # their handles dead survive the first full GC; the second one, after
    # the cleaner has run, frees them. With one GC the scan workload
    # read ~490 or ~600 MB at random.
    jvm.System.gc()
    time.sleep(0.5)
    jvm.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = (mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()) / MB
    return {
        "retained": used + sum(workers), "jvm_retained": used,
        "peak_rss_jvm": peak, "python_workers": workers,
    }


def stored_bytes(workload: str, state: str, warm: list[dict]) -> float:
    """Bytes on disk under the tables a pass writes (the write
    workload) or under the workload's seeded input tables (the others)."""
    if workload == "hive_partitioned_write":
        return statistics.median(p["stored_bytes"] for p in warm)
    live = os.path.join(state, "live")
    if workload == "hive_catalog_scan":
        return sum(dir_bytes(os.path.join(live, t)) for t in ("lineitem", "orders", "customer"))
    return dir_bytes(os.path.join(live, "curation"))


def per_layer_metrics(T, passes: list[dict], pass_s: float, setup_s: float,
                      session_start_s: float) -> dict:
    traced = [p for p in passes[1:] if p["traced"]]

    def med(xs: list[float]) -> float:
        return statistics.median(xs) if xs else 0.0

    def stat(k: str) -> float:
        return med([p["stats"].get(k, 0.0) for p in traced])

    values = {
        f"{L}.{m}": med([p["layers"][f"{L}.{m}"] for p in traced])
        for L in T.LAYERS for m, _ in T.LAYER_METRICS
    }
    values.update({
        "session.wall_s": setup_s,
        "session.start_s": session_start_s,
        "io.read_mb": stat("io.read_mb"),
        "io.write_mb": stat("io.write_mb"),
        "io.files_written": stat("io.files_written"),
        "catalog.partitions_listed": stat("catalog.partitions_listed"),
        "catalog.partitions_scanned_share": med([
            p["stats"]["_scanned"] / p["stats"]["_total"]
            for p in traced if p["stats"].get("_total")
        ]),
        "dedup.planted_recall": stat("dedup.planted_recall"),
        "trace.pass_self_s": med([p["self_s"] for p in traced]),
        "trace.overhead_s": med([p["wall_s"] for p in traced]) - pass_s,
    })
    units = dict((f"{L}.{m}", u) for L in T.LAYERS for m, u in T.LAYER_METRICS)
    units.update(T.EXTRA_METRICS)
    return {k: {"value": values[k], "unit": u} for k, u in units.items()}


def main(argv: list[str]) -> int:
    t_start = time.perf_counter() - process_age()
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "cascading_hive_spark")):
        print(f"hivebench: no cascading_hive_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import cascading_hive_spark

    if not os.path.abspath(cascading_hive_spark.__file__).startswith(ROOT + os.sep):
        print("hivebench: cascading_hive_spark resolves outside the checkout", file=sys.stderr)
        return 2
    import steps as S
    import tracing as T
    from cascading_hive_spark.session import get_session
    from warehouse import hive_conf

    if args.workload not in S.WORKLOADS:
        print(f"hivebench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = S.WORKLOADS[args.workload]
    size = "smoke" if args.smoke else "full"
    state = state_dir(size)
    # Python, PySpark, spark-submit's launcher JVM and child processes
    # keep their temp files in the checkout
    tmp = os.path.join(state, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    cores = len(os.sched_getaffinity(0))
    load0, steal0 = os.getloadavg(), cpu_steal()
    steps_ = S.workload_steps(args.workload, size)

    t_prep = time.perf_counter()
    manifest = prepare_inputs(state, size, args.seed)
    prepare_warehouse(state, size)
    expected = expected_results(state, args.seed, args.workload, steps_)
    prep_s = time.perf_counter() - t_prep

    t_sess = time.perf_counter()
    spark = get_session(
        "hivebench", master=f"local[{cores}]", shuffle_partitions=cores,
        hive_support=True, extra_conf=hive_conf(state),
    )
    session_start_s = time.perf_counter() - t_sess
    for t in wl["tables"]:
        spark.table(t).schema  # resolves the table in the metastore
    setup_s = time.perf_counter() - t_start - prep_s
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    gateway = spark.sparkContext._gateway.proc

    ctx = S.Ctx(
        spark=spark, state=state, live=os.path.join(state, "live"),
        out=os.path.join(state, "out"), size=size, manifest=manifest,
    )
    tracer = T.Tracer(spark, jvm_pid) if args.trace else None
    runner = Runner(spark, args.workload, ctx, steps_, expected, tracer, cores)
    mem = None
    try:
        passes = [runner.run_pass(0, traced=False)]
        t_meas = time.perf_counter()
        while True:
            i = len(passes)
            passes.append(runner.run_pass(i, traced=bool(args.trace) and i % 2 == 0))
            if i == 1 and not args.trace:
                mem = memory_mb(spark, jvm_pid)
            # a traced run brackets each traced pass between untraced
            # ones (U T U ...), so warm-up drift cancels in the overhead
            n_warm = len(passes) - 1
            if args.trace and (n_warm < 3 or n_warm % 2 == 0):
                continue
            if (args.smoke or time.perf_counter() - t_meas >= args.seconds
                    or time.perf_counter() - t_start > RUN_BUDGET_S):
                break
        runner.reset()
        versions = {"java": spark._jvm.System.getProperty("java.version"), "spark": spark.version}
    finally:
        spark.stop()
        gateway.stdin.close()
        try:
            gateway.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.kill()
            gateway.wait()

    import duckdb
    import pyarrow

    warm = [p for p in passes[1:] if not p["traced"]]
    pass_s = statistics.median(p["wall_s"] for p in warm)
    attempted = runner.attempted
    failed = len({(f["pass"], f["step"]) for f in runner.failures})
    context = {
        "workload": args.workload, "seed": args.seed, "size": size, "trace": args.trace,
        "host": {
            "nproc": cores, "loadavg_start": load0, "loadavg_end": os.getloadavg(),
            "cpu_steal_share": cpu_steal_share(steal0, cpu_steal()),
            "other_jvms": other_jvms(jvm_pid),
        },
        "versions": {
            **versions, "pyarrow": pyarrow.__version__, "duckdb": duckdb.__version__,
            "python": sys.version.split()[0],
        },
        "input": {"rows": manifest["rows"], "partitions": manifest["partitions"],
                  "bytes": manifest["input_bytes"]},
        "prep_s": prep_s,
        "session_start_s": session_start_s,
        "pass_s": quantiles([p["wall_s"] for p in warm]),
        "warm_passes_s": [p["wall_s"] for p in passes[1:]],
        "traced_pass_s": [p["wall_s"] for p in passes[1:] if p["traced"]],
        "memory_mb": mem,
        "step_wall_s": {
            s.name: statistics.median(
                x["wall_s"] for p in warm for x in p["steps"] if x["name"] == s.name
            ) for s in steps_
        },
        "cold_step_wall_s": {x["name"]: x["wall_s"] for x in passes[0]["steps"]},
        "layers": {s.name: s.layer for s in steps_},
        "ops_failed_share": failed / attempted,
        "failures": runner.failures[:20],
    }
    print(json.dumps({"context": context}), flush=True)

    if args.trace:
        metrics = per_layer_metrics(T, passes, pass_s, setup_s, session_start_s)
        tracer.write(
            os.path.join(state, "traces", f"{args.workload}-{args.seed}-{int(time.time())}.json"),
            context,
        )
    else:
        inp = wl["input"]
        rows = sum(manifest["rows"][t] for t in S.INPUT_TABLES[inp])
        stored = stored_bytes(args.workload, state, warm)
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "cold_pass_s": {"value": passes[0]["wall_s"], "unit": "s"},
            "pass_s": {"value": pass_s, "unit": "s"},
            "rows_per_s": {"value": rows / pass_s, "unit": "1/s"},
            "retained_mem_mb": {"value": mem["retained"], "unit": "MB"},
            "ops_ok_share": {"value": 1 - failed / attempted, "unit": "share"},
            "stored_bytes_per_input_byte": {
                "value": stored / manifest["input_bytes"][inp], "unit": "B/B",
            },
        }
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
