"""Repository benchmark: one command, two workloads, checked outputs.

    python3 perfbench/run.py --workload {extract,search} --seed N \\
        --seconds S --trace {0,1} [--smoke]

Runs on ``local[nproc]`` from this single driver process (``SPARK_GRAFT_CPUS``
overrides nproc). Inputs are generated from ``--seed`` before anything is
timed. With ``--trace 0`` the last stdout line carries the end-to-end
metrics; with ``--trace 1`` it carries the per-layer metrics of a separate
traced run. Either way the output checks run and every failed operation or
check counts in ``failed``. The full record (host context, every metric,
spans) is written to ``.perfbench/results/``. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

END_TO_END = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "latency_p50_ms": "ms",
    "peak_rss_mb": "MB",
}
# printed and recorded, not in the result line: on a shared 4-core host its
# run-to-run spread (IQR/median 0.27-0.55 for search) is wider than any
# bound a regression gate could use
REPORTED_ONLY = {"latency_p90_ms": "ms"}

PER_LAYER = {
    "sources.scan_ms": "ms",
    "sources.bytes_read": "B",
    "functions.shuffle_bytes": "B",
    "functions.shuffle_write_ms": "ms",
    "functions.partition_skew": "ratio",
    "functions.post_compute_ms": "ms",
    "operators.extraction.python_ms": "ms",
    "operators.extraction.arrow_bytes_sent": "B",
    "operators.extraction.arrow_bytes_received": "B",
    "operators.extraction.python_boot_ms": "ms",
    "operators.extraction.python_init_ms": "ms",
    "operators.extraction.quarantined.size_cap": "count",
    "operators.extraction.quarantined.malicious_url": "count",
    "operators.extraction.quarantined.executable": "count",
    "operators.extraction.quarantined.no_content": "count",
    "operators.extraction.quarantined.unsupported_kind": "count",
    "operators.extraction.quarantined.exception": "count",
    "core.html_extract.us_per_doc": "us",
    "core.ner.us_per_doc": "us",
    "core.ocr.us_per_doc": "us",
    "core.ocr.word_conf_us_per_doc": "us",
    "core.embedding.us_per_doc": "us",
    "core.explained_share": "ratio",
    "plans.pipeline.embed_build_ms": "ms",
    "plans.pipeline.embed_python_ms": "ms",
    "plans.pipeline.embed_rows": "count",
    "plans.pipeline.embed_unique_share": "ratio",
    "plans.pipeline.search_plan_ms": "ms",
    "plans.pipeline.search_exec_ms": "ms",
    "plans.lineage.run_ms": "ms",
    "plans.lineage.resume_s": "s",
    "plans.lineage.resume_waste": "ratio",
    "plans.lineage.resume_buckets": "count",
    "plans.lineage.manifest_rows": "count",
    "plans.lineage.documents_bytes": "B",
    "plans.lineage.embeddings_bytes": "B",
    "plans.lineage.bytes_written_per_doc": "B",
    "operators.dedup.exact_dedup_ms": "ms",
    "operators.dedup.exact_dup_groups": "count",
    "operators.dedup.simhash_ms": "ms",
    "operators.dedup.minhash_lsh_ms": "ms",
    "operators.components.duplicate_clusters_ms": "ms",
    "operators.similarity.batch_topk_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "trace.overhead_share": "ratio",
}


def configure_env() -> dict:
    """Pin the session to this host's CPUs and keep every file the run
    writes inside the checkout. Returns the host record."""
    from host import nproc

    from inputs import WORK

    n = nproc()
    cpus = os.environ.setdefault("SPARK_GRAFT_CPUS", str(n))
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ.setdefault("SPARK_LOCAL_DIRS", os.path.join(WORK, "spark-local"))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # every JVM, the launcher's too, would otherwise write /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if p)
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(WORK, "warehouse")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    return {"nproc": n, "SPARK_GRAFT_CPUS": int(cpus)}


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM, and wait until it has exited
    (it exits when its stdin closes)."""
    if spark is None:
        return
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def report(run, host: dict) -> None:
    """Human-readable report on stdout (every line before the JSON one)."""
    print(f"# perfbench {run.workload} seed={run.seed} trace={int(run.traced)} "
          f"nproc={host['nproc']} cpus={host['SPARK_GRAFT_CPUS']} "
          f"burn_M_per_s={host.get('burn_before')}->{host.get('burn_after')}")
    print(f"# attempted={run.attempted} failed={run.failed} "
          f"failed_share={run.failed / max(run.attempted, 1):.4f}")
    for f in run.failures:
        print(f"# FAIL {f}")
    if not run.traced:
        print(f"# samples={run.e2e.get('samples')}")
        for k, unit in {**END_TO_END, **REPORTED_ONLY}.items():
            print(f"  {k:<22} {run.e2e.get(k, float('nan')):>14.4f} {unit}")
        return
    selfs = run.tracer.self_times()
    spans = run.tracer.spans
    wall = max(s["end"] for s in spans) - min(s["start"] for s in spans)
    by_layer: dict[str, float] = {}
    for s in spans:
        by_layer[s["layer"]] = by_layer.get(s["layer"], 0.0) + selfs[s["id"]]
    print(f"# traced wall {wall:.2f} s; self time by layer (spans around calls):")
    for layer, t in sorted(by_layer.items(), key=lambda kv: -kv[1]):
        print(f"  {layer:<26} self {t:9.3f} s  {t / wall:6.1%} of wall")
        for k, unit in PER_LAYER.items():
            if k.startswith(layer + ".") and k in run.layers:
                src = run.layer_source.get(k)
                print(f"      {k:<48} {run.layers[k]:>16.4f} {unit:<6} [{src}]")
    print("# other per-layer metrics:")
    for k, unit in PER_LAYER.items():
        if not any(k.startswith(layer + ".") for layer in by_layer):
            v = run.layers.get(k, float("nan"))
            print(f"  {k:<52} {v:>16.4f} {unit:<6} [{run.layer_source.get(k, 'n/a')}]")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["extract", "search"])
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's own tests")
    args = ap.parse_args(argv)

    # the program under test must be present; without it there is no result
    import medical_vector_database_ocr_ner_spark  # noqa: F401

    host = configure_env()
    from host import burn_rate
    from workloads import WORKLOADS, Run

    import inputs

    t0 = time.perf_counter()
    host["burn_before"] = burn_rate(host["nproc"])
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), args.smoke, T_PROCESS)
    run.excluded_s += time.perf_counter() - t0
    error = None
    try:
        WORKLOADS[args.workload](run)
    except inputs.InputDrift:
        raise
    except Exception:
        error = traceback.format_exc()
        run.failed += 1
        run.attempted += 1
    finally:
        stop_spark(run.spark)
        run.clean()
    host["burn_after"] = burn_rate(host["nproc"])
    if error:
        print(error, file=sys.stderr)

    wanted = PER_LAYER if args.trace else END_TO_END
    missing = [k for k in wanted if k not in (run.layers if args.trace else run.e2e)]
    if missing and not error:
        run.failed += 1
        run.attempted += 1
        run.failures.append(f"metrics not measured: {missing}")
    values = run.layers if args.trace else run.e2e
    metrics = {k: {"value": values.get(k, 0.0), "unit": u} for k, u in wanted.items()}

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "smoke": args.smoke, "host": host,
        "e2e": run.e2e, "layers": run.layers, "layer_source": run.layer_source,
        "failures": run.failures, "timings": run.timings, "spans": run.tracer.spans,
    }
    out_dir = os.path.join(inputs.WORK, "results")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}-{os.getpid()}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(record, f, indent=1, default=str)

    report(run, host)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": max(run.attempted, 1),
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
