"""FAIR-scheduler serving claim, pinned (VERDICT r13 next-step 7).

session.py documents the deployment policy: a resident server opts into
``SPARK_GRAFT_SCHEDULER=FAIR`` so one long scan cannot starve point
reads; plans/serve.py tags every connection with its own scheduler pool
(a no-op under FIFO). Nothing tested it. This test measures the claim:
one long many-task job saturating the session's DEFAULT pool (the
untagged ad-hoc workload — a rebuild, an export) while ``last_value``
point reads arrive over real server connections. Under FAIR the point
reads' pools get a fair share of executor slots and p95 stays near the
unloaded latency; under FIFO the identical wiring queues them behind the
long job's pending-task backlog.

``spark.scheduler.mode`` is a static conf, so each mode runs in its own
subprocess session, built by the program's own ``get_spark`` with
``SPARK_GRAFT_SCHEDULER`` set to the mode: the documented opt-in path.
The worker's task slots are therefore ``SPARK_GRAFT_CPUS`` (default all
cores), as in a deployment, and each leg reports the scheduler mode and
slot count its session actually got; the parent checks the mode, so a
mis-wired opt-in cannot run both legs under FIFO.

The test asserts the RELATIVE gap (FIFO p95 over FAIR p95), which
survives absolute-latency noise, plus a 2.0 s ceiling on FAIR p95. That
ceiling means "interactive" only when slots match cores: FAIR apportions
task slots and never preempts a running task, so with more slots than
cores a point read that holds a slot still runs at a fraction of a core.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

_WORKER = r"""
import json, os, socket, sys, threading, time

sys.path.insert(0, os.environ["REPO"])
from pyspark.sql import functions as F

from metricq_db_hta_spark import get_spark

mode = sys.argv[1]
sf_dir = sys.argv[2]

# the deployment path: slots follow SPARK_GRAFT_CPUS, and the scheduler
# mode is the SPARK_GRAFT_SCHEDULER opt-in the parent sets to ``mode``
spark = get_spark(f"fair-{mode}")
spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warmup

from metricq_db_hta_spark.plans.serve import HistoryServer
from metricq_db_hta_spark.queries.hta_queries import W0, samples
from metricq_db_hta_spark.streaming.ingest_stream import StreamingIngest

store = os.path.join(os.environ["SCRATCH"], f"store_{mode}")
src = samples(spark, sf_dir).limit(400)
StreamingIngest(spark, store, level_widths_ns=(W0,)).backfill(src)
server, port = HistoryServer(spark, store, [W0]).start_background()

# the long scan: ~512 moderate tasks of sha2 hashing in the DEFAULT pool.
# FIFO drains this backlog before any later job's tasks run; FAIR shares
# slots with the server's per-connection pools from the first task on.
long_df = (
    spark.range(0, 240_000_000, 1, 512)
    .select(F.count(F.sha2(F.col("id").cast("string"), 256)).alias("n"))
)
long_done = threading.Event()

def long_job():
    try:
        long_df.collect()
    finally:
        long_done.set()

def rpc(f, s, req):
    s.sendall((json.dumps(req) + "\n").encode())
    return json.loads(f.readline())

s = socket.create_connection(("127.0.0.1", port), timeout=60)
s.settimeout(120)
f = s.makefile("rb")
# warm the point-read plan before loading the scheduler
for _ in range(3):
    assert rpc(f, s, {"type": "last_value", "metric": "click"})["n"] == 1

t = threading.Thread(target=long_job, daemon=True)
t.start()
time.sleep(0.5)  # let the long job's stage occupy the slots

lat = []
# every sample must land while the long job is still saturating: a read
# that STARTED after the backlog drained would measure an unloaded server
while len(lat) < 8 and not long_done.is_set():
    t0 = time.perf_counter()
    got = rpc(f, s, {"type": "last_value", "metric": "click"})
    if long_done.is_set():
        break  # the job finished mid-read; this sample is contaminated
    lat.append(time.perf_counter() - t0)
    assert got.get("n") == 1, got
t.join()
server.shutdown()
lat.sort()
out = {
    "mode": mode,
    "scheduler_mode": spark.sparkContext.getConf().get("spark.scheduler.mode"),
    "slots": spark.sparkContext.defaultParallelism,
    "n": len(lat),
    "p50": lat[len(lat) // 2] if lat else None,
    "p95": lat[round(0.95 * (len(lat) - 1))] if lat else None,
    "max": lat[-1] if lat else None,
}
print("RESULT " + json.dumps(out))
"""


def test_fair_scheduler_protects_point_reads(sf_dir, tmp_path):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "fair_worker.py"
    script.write_text(_WORKER)

    def run(mode: str) -> dict:
        env = dict(
            os.environ, REPO=repo, SCRATCH=str(tmp_path), SPARK_GRAFT_SCHEDULER=mode
        )
        p = subprocess.run(
            [sys.executable, str(script), mode, sf_dir],
            capture_output=True,
            text=True,
            timeout=600,
            env=env,
        )
        for line in p.stdout.splitlines():
            if line.startswith("RESULT "):
                return json.loads(line[len("RESULT "):])
        raise AssertionError(
            f"{mode} worker produced no result:\n{p.stdout[-2000:]}\n"
            f"{p.stderr[-3000:]}"
        )

    fifo = run("FIFO")
    fair = run("FAIR")
    # a string message is printed whole, so a failure shows each leg's
    # slot count (the venue it ran on) next to its latencies
    msg = f"FIFO {fifo} / FAIR {fair}"
    # each leg's session must really run the requested scheduler
    assert fifo["scheduler_mode"] == "FIFO", msg
    assert fair["scheduler_mode"] == "FAIR", msg
    # the long job must actually have been saturating during sampling
    assert fifo["n"] >= 3 and fair["n"] >= 5, msg
    # FIFO queues point reads behind the 512-task backlog; FAIR gives the
    # server pools a fair share. Relative bound (venue-noise-robust) plus
    # a loose absolute ceiling showing FAIR keeps serving interactive.
    assert fair["p95"] * 2 < fifo["p95"], msg
    assert fair["p95"] < 2.0, msg
