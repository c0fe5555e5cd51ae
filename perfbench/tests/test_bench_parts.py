"""Checks of the benchmark's own measuring parts: the status-store reader,
span attribution by job group, the process-tree CPU clock, the mock ES
bulk endpoint, and the reaping of processes a run leaves behind.

Run: python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import operator
import os
import subprocess
import sys
import urllib.request

import pytest


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[2]").appName("perfbench-tests")
         .config("spark.ui.enabled", "false").getOrCreate())
    yield s
    s.stop()


def _two_stage_job(sc):
    # One job: a 4-task shuffle map stage feeding a 2-task result stage.
    return (sc.parallelize(range(1000), 4).map(lambda x: (x % 7, 1))
            .reduceByKey(operator.add, 2).collect())


def test_status_store_reader_sees_known_stages(spark):
    from sparkstats import StatusStore

    sc = spark.sparkContext
    store = StatusStore(spark)
    since = store.last_job_id()
    sc.setLocalProperty("spark.jobGroup.id", "reader-test")
    try:
        assert sorted(_two_stage_job(sc)) == [(k, len(range(k, 1000, 7))) for k in range(7)]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = [j for j in store.jobs(since) if j.group == "reader-test"]
    assert len(jobs) == 1
    stages = store.stages()
    got = sorted(stages[s]["numTasks"] for s in jobs[0].stage_ids)
    assert got == [2, 4]
    assert all(stages[s]["status"] == "COMPLETE" for s in jobs[0].stage_ids)
    assert sum(stages[s]["shuffleWriteBytes"] for s in jobs[0].stage_ids) > 0
    assert sum(stages[s]["shuffleReadBytes"] for s in jobs[0].stage_ids) > 0
    assert jobs[0].wall_s > 0


def test_span_job_group_attribution(spark):
    import types

    from spans import Tracer
    from sparkstats import StatusStore

    sc = spark.sparkContext
    store = StatusStore(spark)
    since = store.last_job_id()
    tracer = Tracer(spark, "attr-test")
    mod = types.SimpleNamespace(run=lambda: _two_stage_job(sc))
    tracer.wrap(mod, "run", "layer")  # no engine module holds it: only spans
    with tracer.span("op", "outer"):
        with tracer.span("layer", "inner"):
            _two_stage_job(sc)
        _two_stage_job(sc)
    _two_stage_job(sc)  # outside every span: no group
    groups = [j.group for j in store.jobs(since)]
    assert groups == ["attr-test:1", "attr-test:0", None]
    self_t = tracer.self_time()
    assert abs(self_t[0] + self_t[1] - tracer.spans[0].dur) < 1e-9
    assert tracer.subtree(0) == [0, 1]


def test_tree_cpu_counts_live_and_reaped_children():
    from sparkstats import tree_cpu_s

    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass\n"
    before = tree_cpu_s(os.getpid())
    child = subprocess.Popen([sys.executable, "-c", burn + "print(flush=True)\ninput()"],
                             stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    child.stdout.readline()  # the child has burnt its CPU and is still alive
    live = tree_cpu_s(os.getpid()) - before
    child.communicate("\n")
    subprocess.run([sys.executable, "-c", burn], check=True)
    reaped = tree_cpu_s(os.getpid()) - before
    assert 0.4 <= live < 5
    assert live + 0.4 <= reaped < 10


def test_reap_all_stops_orphaned_descendants():
    # The shell exits at once, leaving its background sleep orphaned onto
    # the subreaper, as the Spark JVM is when the benchmark process ends.
    bench_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        f"import ctypes, subprocess, sys\nsys.path.insert(0, {bench_dir!r})\nimport run\n"
        "ctypes.CDLL(None).prctl(run.PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)\n"
        "out = subprocess.run(['sh', '-c', 'sleep 60 >/dev/null 2>&1 & echo $!'], capture_output=True,"
        " text=True, check=True).stdout\n"
        "print(out.strip(), run._descendants(), flush=True)\n"
        "run._reap_all(grace_s=0.2)\n"
        "print(run._descendants(), flush=True)\n"
    )
    out = subprocess.run([sys.executable, "-c", script], capture_output=True, text=True,
                         timeout=30, check=True).stdout.splitlines()
    orphan, before = out[0].split(" ", 1)
    assert before == f"[{orphan}]"
    assert out[1] == "[]"
    assert not os.path.exists(f"/proc/{orphan}")


def test_mock_es_bulk_rejects_and_counts(tmp_path):
    from workloads import MockES
    from mock_es import fingerprint

    mock = MockES(seed=0, log_path=str(tmp_path / "mock.log"))
    try:
        def bulk(ids, doc_extra=""):
            lines = []
            for i in ids:
                lines.append(json.dumps({"index": {"_index": "t", "_id": i}}, separators=(",", ":")))
                lines.append('{"v":1%s}' % doc_extra)
            req = urllib.request.Request(f"{mock.url}/_bulk", data=("\n".join(lines) + "\n").encode(),
                                         method="POST", headers={"Content-Type": "application/x-ndjson"})
            with urllib.request.urlopen(req) as r:
                return json.loads(r.read())

        urllib.request.urlopen(urllib.request.Request(f"{mock.url}/t", data=b"{}", method="PUT"))
        # One of the first four requests to a new index is rejected.
        answers = [bulk(["a", "b", "c", "d"]) for _ in range(50)]
        rejected = [a for a in answers if a["errors"]]
        assert len(rejected) == 1
        statuses = [it["index"]["status"] for it in rejected[0]["items"]]
        assert statuses == [201, 201, 429, 429]
        assert bulk(["x"], ',"_routing":"r"')["items"][0]["index"]["status"] == 400
        st = mock.stats()
        assert st["indices"]["t"]["accepted"] == 50 * 4 - 2
        assert st["indices"]["t"]["distinct"] == 4
        assert st["indices"]["t"]["fingerprint"] == fingerprint([b"a", b"b", b"c", b"d"])
        assert st["rejected_items"] == 2 and st["bad_requests"] == 1
    finally:
        mock.stop()
