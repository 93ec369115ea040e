"""Building a registry query is lazy: once its tables are resolved, the
query function returns a plan without running a Spark job.

The builds run in their own Spark session (this file as a script, in a
subprocess): building the CC, HITS and BFS queries leaves persisted RDDs
behind, which the other tests of the shared session would see.

Run directly, from the repo root, to print each query's build-time job
count as one JSON line: ``python tests/test_lazy_build.py SF_DIR``, where
SF_DIR is the sf0.001 table directory of the ``sf001_dir`` fixture."""

import json
import os
import subprocess
import sys

_CC = (
    "connected components probes convergence with isEmpty() each round "
    "(operators/components.py)"
)
_CKPT = (
    "eager localCheckpoint of the host graph and of each iteration: at "
    "sf0.1 on 4 cores the build plus collect runs about 2x slower without "
    "them, and localCheckpoint(eager=False) still runs jobs under AQE"
)

# query -> why building it runs Spark jobs. Each entry must still run at
# least one job, so the list can only shrink.
BUILD_JOBS_ALLOWED = {
    "dup_clusters": _CC,
    "cluster_keep_best": _CC,
    "hits_hosts": _CKPT,
    "crawl_depth_bfs": _CKPT,
}


def build_jobs(sf_dir: str) -> dict[str, int]:
    """Jobs run while building each registry query over ``sf_dir``, with
    every table read once beforehand."""
    from medical_vector_database_ocr_ner_spark.plans import queries, queries_ext
    from medical_vector_database_ocr_ner_spark.session import get_spark

    spark = get_spark(
        master="local[4]", shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    sc = spark.sparkContext
    names = [f.removesuffix(".parquet") for f in os.listdir(sf_dir)
             if f.endswith(".parquet")]
    tables = {n: queries._t(spark, sf_dir, n) for n in names}
    pages = queries._pages_for_sf(spark, sf_dir)
    queries._t = queries_ext._t = lambda _s, _sf, name: tables[name]
    queries._pages_for_sf = lambda _s, _sf: pages

    for name, spec in queries.QUERIES.items():
        sc.setJobGroup(name, name)
        spec.fn(spark, sf_dir)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    return {n: len(tracker.getJobIdsForGroup(n)) for n in queries.QUERIES}


def test_registry_builds_run_no_jobs(sf001_dir):
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [sys.executable, os.path.abspath(__file__), sf001_dir],
        capture_output=True, text=True, cwd=root, timeout=900,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    jobs = json.loads(r.stdout.strip().splitlines()[-1])

    assert len(jobs) == 135
    eager = {n: j for n, j in jobs.items() if j and n not in BUILD_JOBS_ALLOWED}
    assert eager == {}, "building these ran Spark jobs"
    stale = sorted(n for n in BUILD_JOBS_ALLOWED if not jobs.get(n))
    assert stale == [], "lazy now: drop them from BUILD_JOBS_ALLOWED"


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    print(json.dumps(build_jobs(sys.argv[1])))
