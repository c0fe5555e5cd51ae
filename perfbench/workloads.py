"""The benchmark's workloads: ``sync`` and ``corpus``.

Each workload is one client in a closed loop: the next operation is
submitted only after the previous one returned. Every operation's output
is checked (DuckDB oracle digests, mock-ES document counts and id
fingerprints, sink row counts) outside its timer; a wrong output counts
as a failed operation under its key.

Each operation is measured twice: wall time, and the CPU time the program
spent on it (this process, which builds plans and collects results, plus
the JVM and its Python workers). CPU time leaves out the time a shared
host's hypervisor gives to other guests (steal), which moves wall time by
tens of percent from one minute to the next.

``Ctx.span`` is a no-op in untraced runs and opens a ``spans.Tracer`` span
in traced runs, so both run the same code.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import urllib.request
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

import gen
from layers import CORPUS_KEYS, tables_of
from mock_es import fingerprint
from sparkstats import tree_cpu_s

# Scale factor of each workload's base dataset (0.1 = the bench fixtures:
# 600k lineitem, 5000 documents) and the part files per table of the
# seeded re-split.
CORPUS_SF, CORPUS_PARTS = 0.01, 8
SYNC_SF, SYNC_PARTS = 0.01, 8
# Corpus has no warm-up: a corpus job is a batch run that pays its cold
# start every time, so its first pass counts. Sync warms up with
# WARM_CYCLES untimed cycles, then runs measured cycles: at least
# MIN_CYCLES, more while the run length allows. A cycle is one full sync
# and INCR_PER_CYCLE incremental syncs. The JVM is still warming up through
# the second full sync of a process (it takes ~50% more CPU than the
# fourth), so measuring starts after two.
WARM_CYCLES, MIN_CYCLES, INCR_PER_CYCLE = 2, 3, 2
INCR_WINDOW_DAYS = 60


@dataclass
class Ctx:
    spark: object
    queries: dict
    seed: int
    seconds: float
    jvm_pid: int = 0
    tracer: object | None = None
    stats: object | None = None
    failures: dict = field(default_factory=dict)
    attempted: int = 0
    record: dict = field(default_factory=dict)

    def span(self, layer: str, name: str, **attrs):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(layer, name, **attrs)

    def cpu_s(self) -> float:
        """CPU seconds the program has used so far."""
        return time.process_time() + tree_cpu_s(self.jvm_pid)

    @contextlib.contextmanager
    def measure(self):
        """Measure a block: yields a dict that gets ``wall`` and ``cpu``
        seconds when the block returns."""
        m = {}
        c0, t0 = self.cpu_s(), time.perf_counter()
        yield m
        m["wall"] = time.perf_counter() - t0
        m["cpu"] = self.cpu_s() - c0

    @property
    def n_failed(self) -> int:
        return sum(len(v) for v in self.failures.values())

    def fail(self, key: str, why: str) -> None:
        self.failures.setdefault(key, []).append(why)
        print(f"[FAIL] {key}: {why}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- oracles

def _digest(frame: pd.DataFrame) -> dict:
    from tools.check import canon

    c = canon(frame)
    h = hashlib.sha256("|".join(c.columns).encode())
    h.update(c.to_csv(index=False).encode())
    return {"rows": len(c), "digest": h.hexdigest()}


def rows_frame(rows, columns) -> pd.DataFrame:
    return pd.DataFrame.from_records([tuple(r) for r in rows], columns=columns)


def oracle_digests(data_dir: str, keys: list[str], cache: str) -> dict:
    """DuckDB oracle digest per key, computed once per dataset and cached
    next to it (row permutation and re-split leave every result as is)."""
    if os.path.isfile(cache):
        with open(cache) as f:
            out = json.load(f)
        if all(k in out for k in keys):
            return out
    from hive_to_es_spark.registry import oracles
    from tools.check import duck_connect

    sql = oracles()
    con = duck_connect(data_dir)
    out = {k: _digest(con.execute(sql[k]).fetchdf()) for k in keys}
    con.close()
    with open(cache, "w") as f:
        json.dump(out, f, sort_keys=True)
    return out


def check_rows(ctx: Ctx, key: str, df, rows, want: dict, data_dir: str) -> bool:
    got = _digest(rows_frame(rows, df.columns))
    if got == want:
        return True
    from hive_to_es_spark.registry import oracles
    from tools.check import compare, duck_connect

    con = duck_connect(data_dir)
    errs = compare(key, rows_frame(rows, df.columns), con.execute(oracles()[key]).fetchdf())
    con.close()
    ctx.fail(key, " | ".join(errs) or "digest differs from the DuckDB oracle")
    return False


def fresh_op(ctx: Ctx, key: str, data_dir: str):
    """Build registry query ``key`` from scratch and collect it, timed as
    one operation. Returns ``(df, rows, {"wall", "cpu"})``, or None when it raised
    (counted as a failed operation). Traced runs split the operation into
    the build (``operators``), forced physical planning and execution
    (``exec``) and record the tables its final plan scans."""
    ctx.attempted += 1
    try:
        with ctx.span("op", key) as sp, ctx.measure() as m:
            with ctx.span("operators", "build", key=key):
                df = ctx.queries[key](ctx.spark, data_dir)
            if sp is not None:
                with ctx.span("exec", "plan"):
                    df._jdf.queryExecution().executedPlan()
            with ctx.span("exec", "run"):
                rows = df.collect()
    except Exception as e:  # noqa: BLE001 - a raising operation is a failed operation
        ctx.fail(key, f"raised {type(e).__name__}: {e}")
        return None
    if sp is not None:
        sp.attrs["tables"] = tables_of(df)
    return df, rows, m


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _layout_record(data_dir: str) -> dict:
    with open(os.path.join(data_dir, "_layout.json")) as f:
        return json.load(f)


def _seeded_dir(work: str, name: str, seed: int, base: str, parts: int) -> str:
    """Write the seeded re-split of ``base`` for this run, dropping older
    seeds of the same workload so the work area stays bounded."""
    out = os.path.join(work, "data", f"{name}-seed{seed}")
    for old in glob.glob(os.path.join(work, "data", f"{name}-seed*")):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    if not os.path.isfile(os.path.join(out, "_layout.json")):
        gen.write_layout(gen.read_base(base), out, seed, parts)
    return out


# ----------------------------------------------------------------- corpus

def prepare_corpus(work: str, seed: int) -> dict:
    base = gen.ensure_base(os.path.join(work, "data"), CORPUS_SF)
    return {"base": base, "data_dir": _seeded_dir(work, "corpus", seed, base, CORPUS_PARTS)}


def run_corpus(ctx: Ctx, prep: dict) -> dict:
    from hive_to_es_spark.functions.lifecycle import release_all_persistent

    base, data_dir = prep["base"], prep["data_dir"]
    want = oracle_digests(base, CORPUS_KEYS, os.path.join(base, "_oracles.json"))
    n_docs = _layout_record(data_dir)["documents"]["rows"]
    per_key = {k: [] for k in CORPUS_KEYS}
    passes, pass_cpus, persisted = [], [], []
    t_start = time.perf_counter()
    ops = 0
    while True:
        p0 = time.perf_counter()
        pass_s, pass_cpu, failed_before = 0.0, 0.0, ctx.n_failed
        for key in CORPUS_KEYS:
            out = fresh_op(ctx, key, data_dir)
            if out is None:
                continue
            ops += 1
            df, rows, m = out
            pass_s += m["wall"]
            pass_cpu += m["cpu"]
            per_key[key].append(m)
            check_rows(ctx, key, df, rows, want[key], base)
            if ctx.tracer is not None:
                persisted.append(ctx.stats.persisted())
        # A pass with a failed key is no sample: a key that raises or
        # answers wrong must never read as a faster pass.
        if ctx.n_failed == failed_before:
            passes.append(pass_s)
            pass_cpus.append(pass_cpu)
        release_all_persistent(ctx.spark)
        p_wall = time.perf_counter() - p0
        if time.perf_counter() - t_start + p_wall > ctx.seconds:
            break
    pass_med, cpu_med = _median(passes), _median(pass_cpus)
    ctx.record["workload_metrics"] = {
        "corpus_run_s": pass_med,
        "corpus_docs_per_s": n_docs / pass_med if passes else 0.0,
        "key_s": per_key, "pass_s": passes, "pass_cpu_s": pass_cpus,
        "passes": len(passes),
    }
    ctx.record["layout"] = _layout_record(data_dir)
    # An op's figure is the pass's per key: the keys differ ~10x in cost,
    # so a median over them would jump whenever the middle key changes.
    return {"pass_s": pass_med, "op_p50_s": pass_med / len(CORPUS_KEYS),
            "items_per_s": n_docs / pass_med if passes else 0.0,
            "pass_cpu_s": cpu_med, "op_cpu_s": cpu_med / len(CORPUS_KEYS),
            "items_per_cpu_s": n_docs / cpu_med if passes else 0.0,
            "ops": ops, "data_dir": data_dir, "persisted": persisted}


# ------------------------------------------------------------------- sync

class MockES:
    """The benchmark's mock Elasticsearch, run as a child process."""

    def __init__(self, seed: int, log_path: str):
        self._log = open(log_path, "w")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "mock_es.py"),
             "--seed", str(seed)],
            stdout=subprocess.PIPE, stderr=self._log, text=True)
        self.url = f"http://127.0.0.1:{int(self.proc.stdout.readline())}"

    def stats(self) -> dict:
        with urllib.request.urlopen(f"{self.url}/_bench/stats", timeout=60) as r:
            return json.loads(r.read())

    def stop(self) -> None:
        self.proc.terminate()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.proc.stdout.close()
        self._log.close()


def _ids_fp(*cols) -> tuple[int, int]:
    ids = [("-".join(map(str, t))).encode() for t in zip(*cols)]
    return len(set(ids)), fingerprint(set(ids))


def prepare_sync(work: str, seed: int) -> dict:
    base = gen.ensure_base(os.path.join(work, "data"), SYNC_SF)
    data_dir = _seeded_dir(work, "sync", seed, base, SYNC_PARTS)
    tabs = gen.read_base(base, ("orders", "lineitem", "customer"))
    o, li = tabs["orders"], tabs["lineitem"]
    okeys = o["o_orderkey"].to_numpy()
    odate = o["o_orderdate"].to_numpy().astype("datetime64[D]")
    n_f = int(np.sum(o["o_orderstatus"].to_numpy(zero_copy_only=False) == "F"))
    rng = np.random.default_rng(seed + 1)
    windows = []
    for _ in range(200):
        lo, hi = gen.date_window(rng, "1995-01-01", "2001-08-01", INCR_WINDOW_DAYS)
        n = int(np.sum((odate >= np.datetime64(lo)) & (odate < np.datetime64(hi))))
        windows.append((lo, hi, n))
    expect = {
        "orders": (o.num_rows,) + _ids_fp(okeys),
        "lineitem": (li.num_rows,) + _ids_fp(li["l_orderkey"].to_numpy(), li["l_linenumber"].to_numpy()),
        "cust_orders": (n_f, n_f, None),
        "lineitem_by_year": (li.num_rows, None, None),
    }
    return {"data_dir": data_dir, "windows": windows, "expect": expect,
            "sink": os.path.join(work, "sink", "lineitem_by_year")}


def _full_jobs(url: str, sink: str):
    from hive_to_es_spark.pipeline import Job

    es = {"sink_format": "es_http", "options": {"es.nodes": url}}
    li_cols = {c: c for c in ("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
                              "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                              "l_returnflag", "l_linestatus", "l_shipdate")}
    return [
        Job(name="orders_es", source_table="orders", id_column="o_orderkey",
            es_index="orders", **es),
        Job(name="lineitem_es", source_table="lineitem",
            columns={**li_cols, "line_id": "concat(l_orderkey, '-', l_linenumber)"},
            id_column="line_id", es_index="lineitem", **es),
        Job(name="cust_orders_es", es_index="cust_orders", source_sql=(
            "SELECT o.o_orderkey, o.o_orderdate, o.o_totalprice, c.c_name, "
            "c.c_mktsegment, n.n_name FROM orders o "
            "JOIN customer c ON o.o_custkey = c.c_custkey "
            "JOIN nation n ON c.c_nationkey = n.n_nationkey "
            "WHERE o.o_orderstatus = 'F'"), **es),
        Job(name="lineitem_by_year", source_table="lineitem", sink_format="parquet",
            sink_path=sink, partition_by=("ship_year",),
            columns={**li_cols, "ship_year": "year(l_shipdate)"}),
    ]


def _incr_job(url: str, lo: str, hi: str):
    from hive_to_es_spark.pipeline import Job

    return Job(name="orders_incr", source_table="orders", id_column="o_orderkey",
               es_index="orders", mode="append", sink_format="es_http",
               options={"es.nodes": url},
               incremental_filter=f"o_orderdate >= '{lo}' AND o_orderdate < '{hi}'")


def _index_delta(before: dict, after: dict, index: str) -> tuple[int, dict]:
    b = before["indices"].get(index, {}).get("accepted", 0)
    a = after["indices"].get(index, {"accepted": 0, "distinct": 0, "fingerprint": 0})
    return a["accepted"] - b, a


def warmup_sync(ctx: Ctx, prep: dict, mock: MockES) -> None:
    """WARM_CYCLES untimed cycles on the measured data, with windows from
    the end of the seeded list; the first measured full sync recreates
    every index and the sink."""
    from hive_to_es_spark.pipeline import run_jobs

    windows = iter(reversed(prep["windows"]))
    for _ in range(WARM_CYCLES):
        run_jobs(ctx.spark, prep["data_dir"], _full_jobs(mock.url, prep["sink"]))
        for _ in range(INCR_PER_CYCLE):
            lo, hi, _n = next(windows)
            run_jobs(ctx.spark, prep["data_dir"], [_incr_job(mock.url, lo, hi)])


def run_sync(ctx: Ctx, prep: dict, mock: MockES) -> dict:
    import pyarrow.dataset as ds

    from hive_to_es_spark.pipeline import run_jobs

    spark, data_dir, expect = ctx.spark, prep["data_dir"], prep["expect"]
    full_jobs = _full_jobs(mock.url, prep["sink"])
    windows = iter(prep["windows"])
    fulls, incrs, rows_acked = [], [], []  # {"wall", "cpu"} per correct op

    def check_summary(key, summary, want):
        got = {r.job_name: r.n_rows for r in summary.collect()}
        for job, n in want.items():
            if got.get(job) != n:
                ctx.fail(key, f"run_jobs reported {got.get(job)} rows for {job}, source has {n}")

    def full():
        ctx.attempted += 1
        before = mock.stats()
        try:
            with ctx.span("op", "full_sync"), ctx.measure() as m:
                summary = run_jobs(spark, data_dir, full_jobs)
        except Exception as e:  # noqa: BLE001 - a raising sync is a failed operation
            ctx.fail("full_sync", f"raised {type(e).__name__}: {e}")
            return
        after = mock.stats()
        failed_before = ctx.n_failed
        acked = 0
        for index in ("orders", "lineitem", "cust_orders"):
            n, distinct, fp = expect[index]
            delta, st = _index_delta(before, after, index)
            acked += delta
            if delta != n or st["distinct"] != distinct or (fp is not None and st["fingerprint"] != fp):
                ctx.fail("full_sync", f"index {index}: accepted {delta}, distinct "
                         f"{st['distinct']}, source rows {n}, distinct {distinct}, "
                         f"id fingerprint match {fp is None or st['fingerprint'] == fp}")
        sunk = ds.dataset(prep["sink"], format="parquet", partitioning="hive").count_rows()
        if sunk != expect["lineitem_by_year"][0]:
            ctx.fail("full_sync", f"parquet sink has {sunk} rows, source {expect['lineitem_by_year'][0]}")
        acked += sunk
        check_summary("full_sync", summary, {j.name: expect[j.name.removesuffix("_es")][0]
                                              for j in full_jobs})
        if ctx.n_failed == failed_before:
            fulls.append(m)
            rows_acked.append(acked)

    def incr():
        lo, hi, n = next(windows)
        key = f"incr_sync[{lo},{hi})"
        ctx.attempted += 1
        before = mock.stats()
        try:
            with ctx.span("op", "incr_sync"), ctx.measure() as m:
                summary = run_jobs(spark, data_dir, [_incr_job(mock.url, lo, hi)])
        except Exception as e:  # noqa: BLE001 - a raising sync is a failed operation
            ctx.fail(key, f"raised {type(e).__name__}: {e}")
            return
        after = mock.stats()
        failed_before = ctx.n_failed
        delta, st = _index_delta(before, after, "orders")
        _, distinct, fp = expect["orders"]
        if delta != n or st["distinct"] != distinct or st["fingerprint"] != fp:
            ctx.fail(key, f"accepted {delta} of {n} window rows; index distinct "
                     f"{st['distinct']} of {distinct}")
        check_summary(key, summary, {"orders_incr": n})
        if ctx.n_failed == failed_before:
            incrs.append(m)

    t_start = time.perf_counter()
    cycles = 0
    while True:
        c0 = time.perf_counter()
        full()
        for _ in range(INCR_PER_CYCLE):
            incr()
        cycles += 1
        now = time.perf_counter()
        if cycles >= MIN_CYCLES and now - t_start + (now - c0) > ctx.seconds:
            break
    full_s, full_cpu = _median([m["wall"] for m in fulls]), _median([m["cpu"] for m in fulls])
    rows = _median(rows_acked)
    ctx.record["workload_metrics"] = {
        "sync_full_rows_per_s": rows / full_s if fulls else 0.0,
        "sync_full_s": full_s,
        "sync_incr_p50_s": _median([m["wall"] for m in incrs]),
        "full_syncs": len(fulls), "incr_syncs": len(incrs), "full": fulls, "incr": incrs,
        "rows_per_full_sync": rows,
    }
    ctx.record["layout"] = _layout_record(data_dir)
    return {"pass_s": full_s, "op_p50_s": ctx.record["workload_metrics"]["sync_incr_p50_s"],
            "items_per_s": rows / full_s if fulls else 0.0,
            "pass_cpu_s": full_cpu, "op_cpu_s": _median([m["cpu"] for m in incrs]),
            "items_per_cpu_s": rows / full_cpu if fulls else 0.0,
            "ops": len(fulls) + len(incrs), "data_dir": data_dir}
